"""Structural guards for the driver contract and the bench suite.

Cheap tests that catch whole classes of bookkeeping mistakes before a
driver round does: a bench suite entry referring to a renamed registry
query (the r10 dedup_incremental shadowing lesson), an oracle SQL
string that no longer parses after an edit (the full sweep would catch
it too, but this runs in seconds inside pytest), a series packed for a
pandas kernel by hand instead of through generators.to_wide, or a query
name registered twice (the later import silently replaces the earlier
entry, so its code never runs).
"""
from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _bench_suite_names() -> list[str]:
    """String constants of the `suite = [...]` literal in bench.py."""
    tree = ast.parse((ROOT / "bench.py").read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "suite" for t in node.targets
        ):
            return [
                c.value
                for c in ast.walk(node.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            ]
    raise AssertionError("no `suite = [...]` assignment found in bench.py")


def test_bench_suite_names_are_registered():
    from tsgen.queries import registry

    reg = registry()
    suite = _bench_suite_names()
    assert len(suite) > 100  # the registry-backed block, not a stub
    missing = [n for n in suite if n not in reg]
    assert not missing, f"bench.py suite names not in registry: {missing}"


def test_all_oracles_parse_in_duckdb():
    # EXPLAIN binds every table and function without executing — a
    # seconds-fast syntax/semantic check over all 398 oracle strings.
    import duckdb

    from tsgen.queries import registry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    bad = []
    for name, q in registry().items():
        if not q.oracle:
            continue
        try:
            con.execute(f"EXPLAIN {q.oracle}")
        except Exception as exc:  # noqa: BLE001 — collect all, report once
            bad.append(f"{name}: {type(exc).__name__}: {str(exc)[:120]}")
    assert not bad, "oracles failed to parse:\n" + "\n".join(bad)


# array_sort(collect_list(F.struct(<order>, <value>))).alias("<name>")
_SORTED_PACK = re.compile(
    r"collect_list\(\s*F\.struct\(.*?\)\s*\)\s*\)\s*\.alias\(\s*\"(?P<name>\w+)\"",
    re.S,
)


def inline_series_packs(pkg: Path) -> list[str]:
    """Sorted-struct packs in `pkg` that project a single `.v`/`.x` field —
    the wide-series idiom generators.to_wide owns. Packs that keep several
    fields (e.g. decompose's `t` and `v`) are a different shape."""
    found = []
    for path in sorted(pkg.glob("*.py")):
        if path.name == "generators.py":
            continue
        text = path.read_text()
        for m in _SORTED_PACK.finditer(text):
            after = text[m.end() : m.end() + 600]
            fields = set(re.findall(rf'"{m.group("name")}\.(\w+)"', after))
            if len(fields) == 1 and fields <= {"v", "x"}:
                line = text.count("\n", 0, m.start()) + 1
                found.append(f"{path.name}:{line}")
    return found


def test_series_packs_go_through_to_wide():
    found = inline_series_packs(ROOT / "tsgen")
    assert not found, f"pack series with generators.to_wide / series_kernel: {found}"


# Query("<name>", ...) and register("<name>", ...): every literal
# registration site in the package
_REGISTRATION = re.compile(r'(?:Query|register)\(\s*"(\w+)"')


def registrations(pkg: Path) -> dict[str, list[str]]:
    """Registered query name -> the `file:line` of each registration."""
    sites: dict[str, list[str]] = {}
    for path in sorted(pkg.glob("*.py")):
        text = path.read_text()
        for m in _REGISTRATION.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            sites.setdefault(m.group(1), []).append(f"{path.name}:{line}")
    return sites


def test_no_query_name_registered_twice():
    sites = registrations(ROOT / "tsgen")
    assert len(sites) > 400  # the scan sees the registry, not a stub
    dups = {name: where for name, where in sites.items() if len(where) > 1}
    assert not dups, f"query names registered more than once: {dups}"
