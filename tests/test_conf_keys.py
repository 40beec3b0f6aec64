"""Knob inventory: every ``maestro.*`` conf key the engine reads has a row in
README's "Deployment playbook" table, and every key documented there is
still read by the engine."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _code_keys() -> set[str]:
    pat = re.compile(r'conf\.get\(\s*"(maestro\.[^"]+)"')
    return {
        key
        for path in (ROOT / "maestro_spark").rglob("*.py")
        for key in pat.findall(path.read_text())
    }


def _playbook_keys() -> set[str]:
    text = (ROOT / "README.md").read_text()
    section = text[text.index("## Deployment playbook"):]
    table = section[: section.index("\n\n", section.index("\n|"))]
    return {
        m.group(1)
        for line in table.splitlines()
        if (m := re.match(r"\| `(maestro\.[^`]+)` \|", line))
    }


def test_playbook_documents_exactly_the_read_conf_keys():
    code, doc = _code_keys(), _playbook_keys()
    assert code, "no maestro.* conf reads found"
    assert code - doc == set(), "read in code but missing from the playbook"
    assert doc - code == set(), "documented in the playbook but never read"
