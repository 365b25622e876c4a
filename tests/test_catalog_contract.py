"""Catalog-wide output-contract guards.

Round 1's only hard correctness failures were CONTRACT failures: six queries
emitted array-typed columns that the verification harness's pandas
canonicalizer cannot sort (`TypeError: unhashable type: 'list'`). These
tests make that class of regression impossible to reintroduce:

- no query output may contain an array/map/struct column (serialize with
  '|' per the convention in ``catalog/__init__.py``);
- no query output may contain a raw timestamp column (cast to date/string
  — cross-engine timestamp canonicalization is not portable);
- the driver-window registration invariants hold (50 names, no dups, all
  resolvable, flagship first);
- every query is either oracle-paired or on the explicit rows-only
  allowlist (seeded simulation, HLL sketch — inherently engine-specific).
"""

from __future__ import annotations

import platform_etl_backend_spark.catalog as catalog_init
from platform_etl_backend_spark.catalog import QUERIES

ROWS_ONLY_ALLOWED = {
    "q_approx_distinct",       # HLL sketch values are engine-specific
    "q_montecarlo_critical",   # seeded simulation, not SQL-expressible
    "q_approx_percentile",     # GK quantile sketch values are engine-specific
    # q_transformer_rerank left this set in round 11: the scorer is now
    # the integer fixed-point transformer, reproduced relationally by a
    # DuckDB oracle.
}

FORBIDDEN_TYPES = {"array", "map", "struct"}
FORBIDDEN_TIME_TYPES = {"timestamp", "timestamp_ntz"}


def _schemas(catalog_sweep):
    """Output schema per query from the session's one catalog sweep; a
    query that cannot be built fails the calling test."""
    broken = {
        name: f"{type(e).__name__}: {e}"
        for name, e in catalog_sweep.items()
        if isinstance(e, Exception)
    }
    assert not broken, f"catalog queries that do not build: {broken}"
    return {name: schema for name, (_, schema) in catalog_sweep.items()}


def test_no_complex_typed_output_columns(catalog_sweep):
    schemas = _schemas(catalog_sweep)
    bad = [
        (name, f.name, f.dataType.typeName())
        for name, schema in schemas.items()
        for f in schema.fields
        if f.dataType.typeName() in FORBIDDEN_TYPES
    ]
    assert not bad, f"complex-typed outputs break the value-hash canonicalizer: {bad}"


def test_no_raw_timestamp_output_columns(catalog_sweep):
    schemas = _schemas(catalog_sweep)
    bad = [
        (name, f.name, f.dataType.typeName())
        for name, schema in schemas.items()
        for f in schema.fields
        if f.dataType.typeName() in FORBIDDEN_TIME_TYPES
    ]
    assert not bad, f"raw timestamp outputs violate the determinism conventions: {bad}"


def test_driver_window_invariants():
    win = catalog_init._DRIVER_WINDOW
    assert len(win) == 50
    assert len(set(win)) == 50
    assert all(n in QUERIES for n in win)
    assert list(QUERIES)[:50] == list(win)
    # q_agg_basic sat the round-5 window out for the first time after 4
    # green rounds; entry() still runs it as the flagship — that path is
    # driver-smoke-checked independently of window position. Rotation
    # discipline (window == never-driver-checked set) is re-derived each
    # round by diffing CORRECTNESS_r0*.json against the registry — see
    # the window comment in catalog/__init__.py; it cannot be a static
    # assertion here because the artifacts land asynchronously.


def test_rows_only_queries_are_the_known_ones():
    rows_only = {n for n, s in QUERIES.items() if s.oracle is None}
    assert rows_only == ROWS_ONLY_ALLOWED


def test_no_hugeint_oracle_result_columns(sf_dir):
    """No oracle SQL may emit a HUGEINT/UHUGEINT column (VERDICT r5 #1).

    DuckDB widens SUM(INTEGER/BIGINT) to HUGEINT; the driver's pandas
    canonicalizer renders HUGEINT as float64 ("241.0" vs Spark's bigint
    "241") and the value hash flips even though rows+schema stay green —
    the round-5 q_tpch_q12 / q_attribution driver fails. The replica
    compares via fetchall() Python ints so it was structurally blind;
    this scan binds every oracle's result types (no execution) and fails
    the class before the driver ever sees it.
    """
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).upper() in ("HUGEINT", "UHUGEINT"):
                bad.append((name, col, str(typ)))
    assert not bad, (
        f"uncast integer SUM()s — wrap in CAST(... AS BIGINT): {bad}"
    )


def test_documented_counts_match_registry():
    """README's query counts are pinned to the registry (VERDICT r03 #7:
    documented counts drifted twice; now they cannot)."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    total = len(QUERIES)
    paired = sum(1 for s in QUERIES.values() if s.oracle is not None)
    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(r"catalog/\s+(\d+) named queries", readme)
    assert m and int(m.group(1)) == total, (m and m.group(1), total)
    m = re.search(r"`queries\(\)` \((\d+) operators\)", readme)
    assert m and int(m.group(1)) == total, (m and m.group(1), total)
    m = re.search(r"`oracle_sql\(\)` \((\d+) ANSI-SQL oracles", readme)
    assert m and int(m.group(1)) == paired, (m and m.group(1), paired)
    coverage = open(os.path.join(root, "COVERAGE.md")).read()
    m = re.search(r"\*\*Oracle gate\*\*: (\d+) of (\d+) queries", coverage)
    assert m and (int(m.group(1)), int(m.group(2))) == (paired, total)
    # the bench headline count drifted in round 4 (README said 47 while
    # bench.py had 91) — pin it too
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    m = re.search(r"`bench\.py` — (\d+) headline queries", readme)
    assert m and int(m.group(1)) == len(bench.HEADLINE), (
        m and m.group(1),
        len(bench.HEADLINE),
    )
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert all(n in QUERIES for n in bench.HEADLINE + bench.TRACKED)
