"""No source file names the directory it is checked out in: the CLI, the
tools and the tests resolve the repository from ``__file__``, so the package
runs from any checkout."""

from __future__ import annotations

import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_no_hard_coded_checkout_path():
    needle = f'"{ROOT}'
    offenders = [
        str(path.relative_to(ROOT))
        for sub in ("maestro_spark", "tools", "tests")
        for path in (ROOT / sub).rglob("*")
        if path.suffix in (".py", ".sh") and needle in path.read_text()
    ]
    assert offenders == []
