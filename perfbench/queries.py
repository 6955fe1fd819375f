"""Registry query slices: each query is one operation, timed as a call to
its ``QuerySpec.fn`` plus the collect of its rows, and checked against
the registry's DuckDB oracle."""

from __future__ import annotations

import datetime as _dt
import math
import os

from perfbench.accounting import Ops, Spans

# Query name -> module that defines it (the span name's middle part).
MODULES = {
    "q272_capped_descent_ladder": "vector",
    "q89_streaming_ttl_eviction": "pipeline_ops",
}


def span_name(query: str) -> str:
    return f"plans.{MODULES[query]}.{query}"


def _cell(v) -> str:
    if isinstance(v, (bytes, bytearray)):
        return repr(bytes(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ").replace("+00:00", "")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return repr(v)


def canon(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Order-insensitive canonical form: columns by name, values printed
    at 9 significant digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def run_queries(spark, sf_dir: str, queries: list[str], ops: Ops,
                spans: Spans) -> dict[str, list[tuple] | None]:
    """One pass over ``queries``; returns each query's canonical rows, or
    None for a query that raised."""
    from wetsa_cams_solrad_timeseries_spark.plans.registry import QUERIES

    out: dict[str, list[tuple] | None] = {}
    for q in queries:
        out[q] = None
        with spans.span(span_name(q)), ops.op(q):
            df = QUERIES[q].fn(spark, sf_dir)
            out[q] = canon([tuple(r) for r in df.collect()], df.columns)
    return out


def oracle_rows(sf_dir: str, queries: list[str]) -> dict[str, list[tuple]]:
    """Each query's DuckDB oracle over the same parquet tables, in the
    same canonical form."""
    import duckdb

    from wetsa_cams_solrad_timeseries_spark.catalog import TABLES
    from wetsa_cams_solrad_timeseries_spark.plans.registry import QUERIES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in queries:
            rel = con.sql(QUERIES[q].oracle_for(sf_dir))
            out[q] = canon(rel.fetchall(), list(rel.columns))
        return out
    finally:
        con.close()


def check_queries(sf_dir: str, passes: list[dict]) -> dict[str, str]:
    """{query: problem} for every query whose rows differ from its
    oracle on the first pass, or from the first pass on a later one."""
    bad: dict[str, str] = {}
    if not passes:
        return bad
    queries = list(passes[0])
    expected = oracle_rows(sf_dir, queries)
    for q in queries:
        first = passes[0][q]
        if first is not None and first != expected[q]:
            bad[q] = f"{len(first)} rows differ from the oracle's {len(expected[q])}"
        for i, p in enumerate(passes[1:], start=2):
            if p.get(q) is not None and first is not None and p[q] != first:
                bad.setdefault(q, f"pass {i} rows differ from pass 1")
    return bad
