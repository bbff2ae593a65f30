"""Every top-level name of the program is reached from an entry point.

The engine is one batch dataflow with three user entry points —
``job.py`` (extraction), ``curate.py`` (the operator chain) and
``__spark_entry__.py`` (``queries()``/``oracle_sql()``/``entry()``,
the oracle-checked registry) — plus ``bench.py``, the two required
gates ``tools/check_oracles.py`` and ``tools/explain_audit.py``, and
``tools/build_lsh_index.py`` (it writes curate's ``--base-index``). A
name none of them reaches is code only tests run, so it is deleted
with its tests, or it gets an entry point, or a ``KEEP`` entry that
says why it stays.

Pure AST, no SparkSession. The walk is a transitive name closure:

* roots are every name those files mention, the module-level
  statements of each package module (they run at import) and the
  ``KEEP`` names;
* a reached top-level def or assign of ``solrizer_spark/**`` or
  ``__spark_entry__.py`` reaches every name its body mentions;
* a mention is a ``Name``, an attribute or an ``import ... as``
  alias. Code only: a name inside a string or docstring reaches
  nothing.

Resolution is by bare name, so the closure over-approximates: a miss
is always real dead code.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ROOT_FILES = (
    "job.py",
    "curate.py",
    "bench.py",
    "tools/check_oracles.py",
    "tools/explain_audit.py",
    "tools/build_lsh_index.py",
)
ENTRY = "__spark_entry__.py"
ENTRY_FUNCS = {"queries", "oracle_sql", "entry"}

#: names no entry point calls, each kept for a reason the scan cannot see
KEEP = {
    "edtf_precision": "reference path: tests/test_edtf.py drives the "
    "reference EDTF table through it (edtf_fields is the fused form)",
    "solr_date_range": "reference path: tests/test_edtf.py drives the "
    "reference EDTF table through it (edtf_fields is the fused form)",
    "get_text": "the markup-strip seam the reference byte-identity gate "
    "in tests/test_html_text.py checks",
    "load_psl_file": "deployment hook: loads the full Public Suffix List "
    "in place of the pinned snapshot",
    "parse_robots_rules": "builds the robots dim from robots.txt bodies "
    "fetched outside the engine",
    "parse_crawl_delay": "builds the crawl-delay dim from robots.txt "
    "bodies fetched outside the engine",
    "save_bloom": "writes the filter curate's --bloom-path reads",
    "bloom_index_build": "writes the sharded index curate's --bloom-index reads",
    "hyperplane_bucket": "bit-parity reference for make_band_keys_udf "
    "(tests/test_arrow_simkernels.py)",
}


def _mentions(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _top_level(body: list[ast.stmt]):
    """Module statements, looking through top-level if/try blocks."""
    for s in body:
        if isinstance(s, ast.If):
            yield from _top_level(s.body + s.orelse)
        elif isinstance(s, ast.Try):
            yield from _top_level(
                s.body + [x for h in s.handlers for x in h.body] + s.orelse + s.finalbody
            )
        else:
            yield s


def _defined_names(s: ast.stmt) -> list[str]:
    if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [s.name]
    targets = s.targets if isinstance(s, ast.Assign) else (
        [s.target] if isinstance(s, ast.AnnAssign) else []
    )
    return [t.id for t in targets if isinstance(t, ast.Name)]


@functools.cache
def _scan() -> tuple[dict[str, list[tuple[str, ast.stmt]]], frozenset[str]]:
    """(top-level definitions by name → [(file, statement)], root names)."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    roots: set[str] = set()
    modules = sorted((ROOT / "solrizer_spark").rglob("*.py")) + [ROOT / ENTRY]
    for path in modules:
        rel = str(path.relative_to(ROOT))
        for s in _top_level(ast.parse(path.read_text()).body):
            if isinstance(s, (ast.Import, ast.ImportFrom)):
                roots |= _mentions(s)  # only the ``as`` aliases count
                continue
            names = _defined_names(s)
            if names == ["__all__"]:
                continue  # re-export lists are not uses
            if not names or (rel == ENTRY and names[0] in ENTRY_FUNCS):
                roots |= _mentions(s)
            for name in names:
                defs.setdefault(name, []).append((rel, s))
    for f in ROOT_FILES:
        roots |= _mentions(ast.parse((ROOT / f).read_text()))
    return defs, frozenset(roots)


def _reached(defs, roots) -> set[str]:
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, s in defs.get(name, ()):
            todo.extend(_mentions(s) - reached)
    return reached


def test_every_top_level_name_is_reached():
    defs, roots = _scan()
    reached = _reached(defs, roots | KEEP.keys())
    dead = sorted(
        f"{rel}:{s.lineno} {name}"
        for name, where in defs.items()
        if name not in reached
        and not (name.startswith("__") and name.endswith("__"))
        for rel, s in where
    )
    assert not dead, (
        "no entry point reaches these names; delete them with their "
        "tests, give them an entry point, or a KEEP entry with its "
        "reason:\n" + "\n".join(dead)
    )


def test_keep_list_is_current():
    defs, roots = _scan()
    reached = _reached(defs, roots)
    stale = sorted(n for n in KEEP if n not in defs or n in reached)
    assert not stale, f"KEEP entries that are gone or reached: {stale}"
