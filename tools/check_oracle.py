"""Self-gate: emulate the driver's correctness check locally.

Runs every query in ``__spark_entry__.queries()`` on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf dir, then compares
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, (bytes, bytearray)):
            # Spark collects BinaryType as bytearray, DuckDB as bytes —
            # repr() would differ on identical payloads.
            return repr(bytes(v))
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return f"{v:.9g}"
        if hasattr(v, "isoformat"):
            # datetime takes a sep; plain date does not.
            import datetime as _dt

            s = (
                v.isoformat(sep=" ")
                if isinstance(v, _dt.datetime)
                else v.isoformat()
            )
            return s.replace("+00:00", "")
        return repr(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


# Canonical storage-type signatures. The round-1 driver's hasher encodes
# values with their storage type: q15's DuckDB HUGEINT vs Spark BIGINT
# hash-mismatched even though every printed value was identical (it DID
# tolerate i32-vs-i64 on queries it checked, but that leniency is an
# implementation detail) — so the gate enforces EXACT width parity and the
# plans cast both sides to matching types, removing the dependence.
_SPARK_TYPE_MAP = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "f32", "double": "f64", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts", "binary": "bin",
}
_DUCK_TYPE_MAP = {
    "tinyint": "i8", "smallint": "i16", "integer": "i32", "bigint": "i64",
    "hugeint": "i128", "utinyint": "u8", "usmallint": "u16", "uinteger": "u32",
    "ubigint": "u64", "float": "f32", "double": "f64", "varchar": "str",
    "boolean": "bool", "date": "date", "timestamp": "ts",
    "timestamp with time zone": "ts", "blob": "bin",
}


def _norm_spark_type(dt: str) -> str:
    dt = dt.lower()
    if dt.startswith("decimal"):
        return "dec" + dt[len("decimal"):]
    if dt.startswith("array<"):
        return f"list<{_norm_spark_type(dt[6:-1])}>"
    return _SPARK_TYPE_MAP.get(dt, dt)


def _norm_duck_type(dt: str) -> str:
    dt = str(dt).lower()
    if dt.startswith("decimal"):
        return "dec" + dt[len("decimal"):]
    if dt.endswith("[]"):
        return f"list<{_norm_duck_type(dt[:-2])}>"
    return _DUCK_TYPE_MAP.get(dt, dt)


def type_mismatches(
    scols: list[str], sdtypes: list[str], dcols: list[str], ddtypes: list
) -> list[str]:
    """Compare normalized per-column storage types (matched by column name)."""
    duck = {c: _norm_duck_type(t) for c, t in zip(dcols, ddtypes)}
    bad = []
    for c, t in zip(scols, sdtypes):
        st = _norm_spark_type(t)
        ot = duck.get(c)
        if ot is not None and st != ot:
            bad.append(f"type[{c}] spark={st} duck={ot}")
    return bad


def main() -> int:
    import duckdb

    # The value comparison assumes UTC: Spark's non-Arrow collect()
    # converts TimestampType through the driver's LOCAL timezone while
    # DuckDB returns naive-UTC instants — on a non-UTC host every
    # timestamp-bearing query would false-fail. Pin the process TZ.
    os.environ["TZ"] = "UTC"
    import time as _time

    if hasattr(_time, "tzset"):
        _time.tzset()

    import __spark_entry__ as entry
    from wetsa_cams_solrad_timeseries_spark.catalog import TABLES
    from wetsa_cams_solrad_timeseries_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entry.queries(), entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # A typo'd name would otherwise print "0/0 checked OK" and exit
        # 0 — a green gate that verified nothing.
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        return 1
    # sf-aware oracles: queries whose oracle embeds data-derived literals
    # (q56's trained centroids) regenerate for the sf being checked —
    # the static oracle_sql() strings are built for the DRIVER's gate SF.
    from wetsa_cams_solrad_timeseries_spark.plans.registry import QUERIES

    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        if spec.oracle_fn is not None:
            sql = spec.oracle_for(sf_dir)
            if sql is None:
                oracles.pop(name, None)
            else:
                oracles[name] = sql
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # The DRIVER's canonicalizer pandas-sorts result columns and
            # dies on list/map/struct cells (unhashable) — the local gate
            # must therefore REJECT nested output types, or a query can
            # be green here and red there (exactly what happened to q126
            # in round 5). Flatten with posexplode/inline instead.
            nested = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if nested:
                print(
                    f"FAIL  {name}: nested output column(s) {nested} — "
                    "the driver canonicalizer cannot hash list cells; "
                    "flatten (posexplode) per q93's convention"
                )
                failures.append(name)
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if not srows:
                print(f"WARN  {name}: rows-only query returned 0 rows")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        status = []
        if len(srows) != len(drows):
            status.append(f"rowcount {len(srows)} != {len(drows)}")
        if sorted(scols) != sorted(dcols):
            status.append(f"columns {sorted(scols)} != {sorted(dcols)}")
        status.extend(
            type_mismatches(scols, [t for _, t in sdf.dtypes], dcols, dtypes)
        )
        if not status:
            cs, cd = canon(srows, scols), canon(drows, dcols)
            if cs != cd:
                n_bad = sum(1 for a, b in zip(cs, cd) if a != b)
                status.append(f"values differ in {n_bad}/{len(cs)} rows")
                for a, b in list(zip(cs, cd))[:500]:
                    if a != b:
                        status.append(f"    spark={a}")
                        status.append(f"    duck ={b}")
                        break
        if status:
            print(f"FAIL  {name}: " + "; ".join(status[:1]))
            for line in status[1:]:
                print(line)
            failures.append(name)
        else:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    # Count only queries actually run (a name filter may skip most) —
    # "170/170 OK" on a 15-query run would mislead the audits this
    # gate exists to serve.
    print(f"\n{checked - len(failures)}/{checked} checked OK"
          + (f" (of {len(qs)} declared)" if checked != len(qs) else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
