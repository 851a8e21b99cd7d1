"""The correctness gate: a pipeline's result must equal its DuckDB oracle
(``bigslice_spark.queries.ORACLE[name]``) run on the same parquet files.

Both sides are normalized the way the repository's oracle comparison
does it: columns in sorted name order, floats to 6 decimal places (NaN
as NULL), timestamps as naive ISO strings, rows sorted. Two
differences:

- a float of magnitude 1e5 or more is rounded to 12 significant digits
  instead. At that size 6 decimal places resolve single-ulp
  differences, and DuckDB's DECIMAL-to-DOUBLE conversion can be one ulp
  away from the correctly rounded value Spark returns for the same exact
  decimal sum: a sum near 5e9 read 5042685627.768701 in DuckDB and
  5042685627.7687 in Spark;
- a Decimal is compared by value, whatever its scale.

A result is then reduced to its sorted column names, row count and a
SHA-256 of the normalized rows, so the oracle side can be computed once
per data set and cached.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if math.isinf(v) or v == 0:
            return v
        return round(v, min(6, 11 - math.floor(math.log10(abs(v)))))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v.normalize()))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def digest(cols: list[str], columns: list[list]) -> dict:
    """Digest of a result given column-wise: ``columns[i]`` holds the
    values of ``cols[i]``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(_norm(c[r]) for c in (columns[i] for i in order))
                   for r in range(len(columns[0]) if columns else 0)),
                  key=repr)
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return {"cols": sorted(cols), "rows": len(rows), "sha256": h.hexdigest()}


def arrow_digest(table) -> dict:
    """Digest of a pyarrow Table (a pipeline's collected result)."""
    return digest(list(table.column_names),
                  [table.column(i).to_pylist()
                   for i in range(table.num_columns)])


def _oracle_digest(con, sql: str) -> dict:
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = rel.fetchall()
    return digest(cols, [list(c) for c in zip(*rows)] if rows
                  else [[] for _ in cols])


def oracle_digests(data_dir: str, names: list[str], cache_file: str,
                   data_key: str) -> dict[str, dict]:
    """Oracle digest of every pipeline in ``names`` on ``data_dir``.

    Answers are cached in ``cache_file`` under ``data_key`` (which must
    identify the input files), the oracle SQL text and this module's
    source, so a repeated seed skips DuckDB and a changed oracle or
    normalization is recomputed."""
    import duckdb

    from bigslice_spark.queries import ORACLE

    missing = [n for n in names if n not in ORACLE]
    if missing:
        raise KeyError(f"pipelines without an oracle: {missing}")
    try:
        with open(cache_file) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    with open(__file__, "rb") as f:  # the normalization is part of it
        norm_id = hashlib.sha256(f.read()).hexdigest()
    keys = {n: hashlib.sha256(
        f"{norm_id}\0{data_key}\0{ORACLE[n]}".encode()).hexdigest()
        for n in names}
    todo = [n for n in names if keys[n] not in cache]
    if todo:
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            for n in todo:
                cache[keys[n]] = _oracle_digest(con, ORACLE[n])
        finally:
            con.close()
        tmp = f"{cache_file}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_file)
    return {n: cache[keys[n]] for n in names}
