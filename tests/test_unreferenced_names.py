"""Lint: every module-level name of the package is used inside the package.

No dead-code linter is a dependency, so this walks every module with
``ast``. A module-level function, class or assigned name fails the test
when nothing in the package refers to it except its own definition and
``__init__`` re-exports. Catalog entries (``@register``) are reached
through ``REGISTRY`` and are exempt. So is each name in ``ALLOWED``, the
entry points that only tests, tools and the driver contract call, each
with the reason it stays. References are matched by bare name (``x`` or
``module.x``), so a name shared by two modules counts as used in both.
"""

from __future__ import annotations

import ast
import pathlib
from collections.abc import Iterator

PKG = pathlib.Path(__file__).resolve().parents[1] / "markt_database_analyzer_spark"

ALLOWED: dict[str, str] = {
    # Entry points of the tests, tools, bench and driver contract.
    "session.py:get_spark": "the session factory of bench.py, tools/ and tests/conftest.py",
    "sources/fixtures.py:fixture_frames": "the reference-shaped fixture rows of tests/conftest.py",
    "sources/fixtures.py:write_sqlite_fixture": "writes the SQLite file test_sqlite_source reads back",
    "sources/readers.py:read_sqlite": "the SQLite ingest edge; test_sqlite_source pins both of its paths",
    "sources/sinks.py:write_bucketed": "bucketed write; test_plan_properties pins the shuffle-free join",
    "sources/sinks.py:write_partitioned": "partitioned write; test_operators pins its layout",
    "plans/analysis_a.py:lifetime_view_rate_curve": "analysis A, pinned row-for-row by test_plans_parity",
    "plans/analysis_b.py:pushes_per_time_bin": "analysis B1, pinned row-for-row by test_plans_parity",
    "plans/analysis_b.py:initial_rate_by_posting_hour": "analysis B2, pinned row-for-row by test_plans_parity",
    "plans/analysis_c.py:views_gained_by_city": "analysis C, pinned row-for-row by test_plans_parity",
    "sources/plots.py:plot_rate_curve": "the reference's figure for analysis A; test_operators renders it",
    "sources/plots.py:plot_dual_axis": "the reference's figure for analysis B; test_operators renders it",
    "sources/plots.py:plot_ranking_barh": "the reference's figure for analysis C; test_operators renders it",
    "streaming/jobs.py:sliding_hourly_avg": "the streaming form of W3; test_streaming checks it against batch",
    # Reference forms that tests compare a production kernel against.
    "datapipe/dedup.py:simhash_signatures_agg": "JVM reference the Arrow simhash kernel is pinned to",
    "datapipe/dedup.py:simhash64": "expression-form SimHash whose bit properties test_datapipe checks",
    "datapipe/similarity.py:pq_encode_reconstruct_exprs": "expression reference of the PQ encode kernel",
    "datapipe/similarity.py:srp_band_codes": "SRP band codes whose balance and plan the tests pin",
    "datapipe/sketches.py:qdigest_merge": "the mergeable-sketch combiner the q-digest docstrings promise",
    "datapipe/text.py:winnow_fingerprints": "single-column winnowing whose guarantee test_datapipe checks",
    "datapipe/text.py:_entropy": "row-local Shannon entropy pinned to known values by test_r3_operators",
    "functions/aggregates.py:_quantized": "decimal-sum reference that exact_long_sum is pinned to",
}


def _defined(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _registered(node: ast.stmt) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "register" or getattr(f, "attr", None) == "register":
            return True
    return False


def _referenced(node: ast.AST, in_init: bool) -> Iterator[str]:
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Store):
            yield sub.id
        elif isinstance(sub, ast.Attribute):
            yield sub.attr
        elif isinstance(sub, ast.ImportFrom) and not in_init:
            yield from (a.name for a in sub.names)


def unreferenced(pkg: pathlib.Path) -> list[str]:
    """``module:name`` for each module-level name of ``pkg`` that nothing
    else in ``pkg`` refers to."""
    defined, used = {}, set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        in_init = path.name == "__init__.py"
        for node in ast.parse(path.read_text()).body:
            own = _defined(node)
            for name in own:
                if not (_registered(node) or name.startswith("__")):
                    defined[f"{rel}:{name}"] = name
            used.update(r for r in _referenced(node, in_init) if r not in own)
    return sorted(k for k, name in defined.items() if name not in used)


def test_every_module_level_name_is_used():
    found = [k for k in unreferenced(PKG) if k not in ALLOWED]
    assert not found, f"module-level names nothing in the package uses: {found}"


def test_allowlist_names_only_unreferenced_names():
    stale = sorted(set(ALLOWED) - set(unreferenced(PKG)))
    assert not stale, f"allowlisted names that are gone or now used: {stale}"


def test_unreferenced_name_detection(tmp_path):
    (tmp_path / "__init__.py").write_text("from .m import dead, used  # re-export only\n")
    (tmp_path / "m.py").write_text(
        "LIMIT = 3\n"
        "DEAD_CONST = 4\n"
        "def used(x):\n"
        "    return min(x, LIMIT)\n"
        "def dead(n):\n"
        "    return dead(n - 1) if n else 0\n"
        "@register('entry')\n"
        "def entry(spark):\n"
        "    return used(1)\n"
        "for _i in range(2):\n"
        "    pass\n"
    )
    (tmp_path / "other.py").write_text("from .m import used\n")
    assert unreferenced(tmp_path) == ["m.py:DEAD_CONST", "m.py:dead"]
