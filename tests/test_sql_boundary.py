"""SQL routing boundary: statement kinds are told apart in
``maestro_spark/sqldml.py`` alone. Outside it, no module calls the
classifier's predicates — the front doors go through ``sqldml.classify``,
``sqldml.run`` and ``sqldml.owner`` — and the time-travel pin refusal is
raised from one place."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent / "maestro_spark"

PREDICATE = re.compile(
    r"^(is_\w+|statement_target|show_create_target|show_derived_target"
    r"|describe_meta|_VERB_RE)$"
)
# every phrasing the pin refusal has had; exactly one raise may carry one
PIN_REFUSAL = re.compile(
    r"cannot target a time.travel pin|time travel is read-only"
    r"|carries its own pin"
)


def _violations(path: pathlib.Path) -> list[str]:
    """Predicate uses outside sqldml.py (attribute access through any
    name bound to the sqldml module, or a from-import of the name)."""
    if path.name == "sqldml.py":
        return []
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases = set()
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "maestro_spark":
            aliases |= {a.asname or a.name for a in node.names if a.name == "sqldml"}
        elif isinstance(node, ast.Import):
            aliases |= {a.asname for a in node.names
                        if a.name == "maestro_spark.sqldml" and a.asname}
        if isinstance(node, ast.ImportFrom) and node.module == "maestro_spark.sqldml":
            out += [f"{path.name}:{node.lineno} imports {a.name}"
                    for a in node.names if PREDICATE.match(a.name)]
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and PREDICATE.match(node.attr)
                and isinstance(node.value, ast.Name) and node.value.id in aliases):
            out.append(f"{path.name}:{node.lineno} uses sqldml.{node.attr}")
    return sorted(out)


def _refusal_sites(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        f"{path.name}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Raise) and any(
            isinstance(c, ast.Constant) and isinstance(c.value, str)
            and PIN_REFUSAL.search(c.value)
            for c in ast.walk(node)
        )
    ]


def test_only_sqldml_calls_the_statement_predicates():
    sources = sorted(ROOT.rglob("*.py"))
    assert any(p.name == "sqldml.py" for p in sources)
    bad = [v for p in sources for v in _violations(p)]
    assert bad == [], "\n".join(bad)


def test_pin_refusal_is_raised_from_one_place():
    sites = [s for p in sorted(ROOT.rglob("*.py")) for s in _refusal_sites(p)]
    assert len(sites) == 1 and sites[0].startswith("sqldml.py:"), sites


def test_guard_sees_planted_violations(tmp_path):
    planted = tmp_path / "door.py"
    planted.write_text(
        "from maestro_spark import sqldml as q\n"
        "from maestro_spark.sqldml import statement_target, classify\n"
        "def route(sql):\n"
        "    if q.is_dml(sql):\n"
        "        raise ValueError('DML cannot target a time-travel pin')\n"
        "    return q.classify(sql), q._VERB_RE\n"
    )
    assert _violations(planted) == [
        "door.py:2 imports statement_target",
        "door.py:4 uses sqldml.is_dml",
        "door.py:6 uses sqldml._VERB_RE",
    ]
    assert _refusal_sites(planted) == ["door.py:5"]
