"""Output checks, run outside the timed region.

- ``digest``: order-insensitive digest of a written step output, read from
  its files without Spark and canonicalized like the golden step snapshots
  (dict keys sorted, every list sorted by its serialized form, floats
  rounded to 9 d.p., schema as sorted pairs).
- ``result_mismatch``: compares a catalog query's result, in full or as
  ``limit`` rows drawn from it, with its DuckDB oracle under the rules of
  ``scripts/check_oracle.py`` (its ``canon`` and ``rows_of_duck``: columns
  sorted by name, rows sorted, floats compared exactly).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import duckdb
import pyarrow.parquet as pq

from scripts.check_oracle import TABLES, canon, rows_of_duck


def _canon_value(v):
    if isinstance(v, dict):
        return {k: _canon_value(v[k]) for k in sorted(v)}
    if isinstance(v, (list, tuple)):
        items = [_canon_value(x) for x in v]
        return sorted(items, key=lambda x: json.dumps(x, sort_keys=True, default=str))
    if isinstance(v, float):
        return round(v, 9)
    return v


def digest(fmt: str, path: str) -> tuple[int, str]:
    """(row count, 16-hex digest) of the schema and rows of the ``parquet``
    or JSON-lines output written under ``path``."""
    if fmt == "parquet":
        table = pq.read_table(path)
        schema = sorted((f.name, str(f.type)) for f in table.schema)
        records = table.to_pylist()
    elif fmt == "json":
        records = []
        for part in sorted(glob.glob(os.path.join(path, "part-*"))):
            with open(part, encoding="utf-8") as fh:
                records.extend(json.loads(line) for line in fh)
        schema = sorted({k for r in records for k in r})
    else:
        raise ValueError(f"no digest for format {fmt!r}")
    rows = sorted(json.dumps(_canon_value(r), sort_keys=True, default=str) for r in records)
    payload = json.dumps(schema) + "\n" + "\n".join(rows)
    return len(rows), hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


def canon_rows(rows, columns) -> list[tuple]:
    cols = sorted(columns)
    return sorted(tuple(canon(r[c]) for c in cols) for r in rows)


def oracle_connection(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def result_mismatch(rows, columns, oracle, limit: int | None) -> str | None:
    """None when Spark's ``rows`` match the oracle's ``(columns, rows)`` from
    ``rows_of_duck``, else a short reason. With ``limit``, the rows must be
    ``limit`` rows (or all, if fewer) drawn from the oracle's result."""
    o_cols, o_rows = oracle
    if columns is not None and sorted(columns) != o_cols:
        return f"columns differ: {sorted(columns)} vs {o_cols}"
    got = canon_rows(rows, columns or [])
    if limit is None:
        if len(got) != len(o_rows):
            return f"row count {len(got)} vs oracle {len(o_rows)}"
        return None if got == sorted(o_rows) else "values differ from oracle"
    if len(got) != min(limit, len(o_rows)):
        return f"{len(got)} rows returned, oracle has {len(o_rows)}"
    if Counter(got) - Counter(o_rows):
        return "rows returned are not in the oracle's result"
    return None
