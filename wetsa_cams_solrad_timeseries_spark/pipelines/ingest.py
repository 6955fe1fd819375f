"""Ingest pipeline (EP1 — reference: code/get-cams-solrad-ts.py).

Reference flow per (station × sky_type): HTTP fetch → expert-CSV parse →
1-min → 10-min tumbling mean → CSV out. 70 sequential driver iterations.

Spark-first restructuring:
- the fetch fan-out (O1) becomes a partitioned ``mapInPandas`` over the
  (station × sky_type) task table, with per-task error capture (O2) — a
  cluster downloads in parallel, a failed station yields an error row
  instead of killing the job;
- the aggregation (A1) is ONE Spark plan over every fetched file: the
  shared ``tumbling_mean`` operator keyed by each row's source file, with
  a per-file dense-grid reindex so outputs match pandas ``resample``
  bucket-for-bucket, including empty buckets. It is collected once and
  split per file on the driver — no thread pool, no per-file job chain;
- the CSV sink keeps one file per (station, sky_type) for reference
  compatibility; the scale-native sink is partitioned Parquet
  (``write_parquet_partitioned``), replacing the reference's
  zip-after-the-fact archival (K3) with columnar compression at write.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Sequence
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wetsa_cams_solrad_timeseries_spark.functions.scalar import interval_start
from wetsa_cams_solrad_timeseries_spark.operators.window_agg import (
    time_grid,
    tumbling_mean,
    with_dense_grid,
)
from wetsa_cams_solrad_timeseries_spark.sources.expert_csv import (
    peek_header,
    read_expert_csv,
)

SKY_TYPES = ("clear", "observed_cloud")

# The CAMS dataset the reference downloads (get-cams-solrad-ts.py:17).
CAMS_DATASET = "cams-solar-radiation-timeseries"
_DEFAULT_DATE_RANGE = "2024-01-01/2024-12-31"


def cams_request(
    task: dict,
    date_range: str = _DEFAULT_DATE_RANGE,
    time_step: str = "1minute",
) -> dict:
    """The documented CDS request dict for one (station × sky_type) task —
    field-for-field the reference's request (get-cams-solrad-ts.py:148-156):
    sky type, lat/lon location, altitude as a string, date range, 1-minute
    step, universal-time reference, expert-CSV format."""
    return {
        "sky_type": task["sky_type"],
        "location": {
            "latitude": float(task["latitude"]),
            "longitude": float(task["longitude"]),
        },
        "altitude": str(task["elevation"]),
        "date": date_range,
        "time_step": time_step,
        "time_reference": "universal_time",
        "format": "csv_expert",
    }


def make_cds_fetch_fn(
    out_dir: str,
    date_range: str = _DEFAULT_DATE_RANGE,
    client_factory: Callable[[], object] | None = None,
) -> Callable[[dict], str]:
    """Default EP1 ``fetch_fn``: a cdsapi-backed fetch closing over only
    plain strings, so it ships to executors without dragging session state
    (reference call: ``cdsapi.Client().retrieve(CAMS_DATASET, request,
    raw_file)`` at get-cams-solrad-ts.py:127,159).

    The ``cdsapi`` import is deferred into the task body and guarded —
    the package (public PyPI) and its ``~/.cdsapirc`` credentials must be
    present on the EXECUTORS, and a missing install surfaces as a per-task
    error row, not a job failure. ``client_factory`` injects a mock for
    tests; by default each task builds its own ``cdsapi.Client`` (the
    client is not picklable, so per-task construction is also the only
    shape that fan-outs across executors). Output naming matches the
    reference (``raw_1min_{station}_{sky_type}.csv``) and is idempotent:
    a retried task overwrites its own file.
    """
    from wetsa_cams_solrad_timeseries_spark.functions.scalar import (
        sanitize_filename_str,
    )

    def fetch(task: dict) -> str:
        if client_factory is not None:
            client = client_factory()
        else:
            try:
                import cdsapi
            except ImportError as ex:  # pragma: no cover - env-dependent
                raise RuntimeError(
                    "cdsapi is not installed; `pip install cdsapi` on the "
                    "executors (and configure ~/.cdsapirc) or inject a "
                    "custom fetch_fn"
                ) from ex
            client = cdsapi.Client()
        safe = sanitize_filename_str(task["station"])
        raw_file = os.path.join(
            out_dir, f"raw_1min_{safe}_{task['sky_type']}.csv"
        )
        client.retrieve(CAMS_DATASET, cams_request(task, date_range), raw_file)
        return raw_file

    return fetch

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),
        T.StructField("sky_type", T.StringType()),
        T.StructField("output_path", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


def fetch_tasks(locations: DataFrame, sky_types=SKY_TYPES) -> DataFrame:
    """O1 — the (station × sky_type) task table: an explicit cross join of
    the locations dimension with the sky-type literals (reference loop at
    get-cams-solrad-ts.py:130-140)."""
    sky = locations.sparkSession.createDataFrame(
        [(s,) for s in sky_types], ["sky_type"]
    )
    return locations.crossJoin(sky)


def distributed_fetch(
    tasks: DataFrame,
    fetch_fn: Callable[[dict], str],
    parallelism: int | None = None,
) -> DataFrame:
    """S1 at scale: run ``fetch_fn(task_row_dict) -> output_path`` on the
    executors, one task per row, errors captured per task (O2 —
    reference's ``except: continue`` at get-cams-solrad-ts.py:168-171).

    ``fetch_fn`` performs the external call (CDS API in the reference) and
    must be idempotent on re-run (task retries are Spark-native). The
    repartition spreads tasks so each executor holds a fair share of the
    throttled HTTP work.
    """
    if parallelism:
        tasks = tasks.repartition(parallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.to_dict("records"):
                try:
                    path = fetch_fn(row)
                    out.append(
                        dict(station=row["station"], sky_type=row["sky_type"],
                             output_path=path, ok=True, error=None)
                    )
                except Exception as ex:  # noqa: BLE001 — per-task isolation
                    out.append(
                        dict(station=row["station"], sky_type=row["sky_type"],
                             output_path=None, ok=False, error=str(ex))
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FETCH_RESULT_SCHEMA])

    return tasks.mapInPandas(run, schema=FETCH_RESULT_SCHEMA)


# Column of ``aggregate_files`` naming each row's raw file, as the file
# URI Spark reports (``input_file_name``); ``_local_path`` maps it back.
SOURCE_COL = "source_file"


def _local_path(path_or_uri: str) -> str:
    """The absolute local path behind a path or a percent-encoded
    ``file:`` URI, so the path a ``fetch_fn`` returned and the URI Spark
    reports for the same file compare equal."""
    parsed = urlparse(path_or_uri)
    if parsed.scheme == "file":
        path_or_uri = unquote(parsed.path)
    return os.path.abspath(path_or_uri)


def aggregate_files(spark: SparkSession, raw_paths: Sequence[str]) -> DataFrame:
    """A1 — the reference's core transform (get-cams-solrad-ts.py:47-101)
    for every file in ``raw_paths`` in ONE plan: a multi-path expert-CSV
    scan whose rows are tagged with their source file → bucket-start
    timestamp → numeric projection → 10-minute NaN-skipping means keyed
    by (source file, bucket), reindexed onto each file's own pandas-style
    regular grid from its first to its last bucket, so no bucket is
    borrowed from another file.

    The files must share one header (``read_expert_csv``). Returns
    ``SOURCE_COL`` + time + per-column means, unordered; a file with no
    data rows has no rows here.
    """
    raw = read_expert_csv(spark, raw_paths)
    num_cols = [
        f.name for f in raw.schema.fields if isinstance(f.dataType, T.DoubleType)
    ]
    with_ts = raw.select(
        F.input_file_name().alias(SOURCE_COL),
        interval_start("Observation period").alias("time"),
        *num_cols,
    ).filter(F.col("time").isNotNull())
    agg = tumbling_mean(with_ts, ts_col="time", value_cols=num_cols,
                        width="10 minutes", group_cols=[SOURCE_COL],
                        bucket_col="time")
    # A file's first and last bucket are the min/max bucket of its own
    # aggregate, so the grid needs no bucket arithmetic.
    grid = time_grid(agg, lo=F.min("time"), hi=F.max("time"),
                     width="10 minutes", bucket_col="time",
                     group_cols=[SOURCE_COL])
    return with_dense_grid(agg, grid, bucket_col="time", group_cols=[SOURCE_COL])


def aggregate_to_10min(spark: SparkSession, raw_path: str) -> DataFrame:
    """``aggregate_files`` for one file: time + per-column means, ordered
    by time like the reference CSV output."""
    return aggregate_files(spark, [raw_path]).drop(SOURCE_COL).orderBy("time")


def _write_processed(
    spark: SparkSession, raw_paths: list[str], targets: dict[str, list[str]]
) -> None:
    """Aggregate ``raw_paths`` (one shared header) with one collect and
    write each file's buckets, in time order, to its ``targets`` CSVs. A
    file with no data rows gets a header-only CSV with the full column
    list."""
    pdf = aggregate_files(spark, raw_paths).toPandas()
    parts = {
        _local_path(src): part.drop(columns=SOURCE_COL).sort_values("time")
        for src, part in pdf.groupby(SOURCE_COL, sort=False)
    }
    empty = pdf.drop(columns=SOURCE_COL).iloc[:0]
    for path in raw_paths:
        part = parts.get(_local_path(path), empty)
        for out in targets[path]:
            part.to_csv(out, index=False)


def run_ingest(
    spark: SparkSession,
    locations_path: str,
    fetch_fn: Callable[[dict], str] | None,
    out_dir: str,
    sky_types=SKY_TYPES,
) -> DataFrame:
    """EP1 end-to-end (the reference's ``main()`` —
    get-cams-solrad-ts.py:104-176): read + validate the locations
    dimension, fan the (station × sky_type) fetches out across executors,
    aggregate every fetched raw file to 10-minute means in one Spark plan
    (``aggregate_files``, collected once), and write one reference-shaped
    processed CSV per task. Returns the task-result table (ok/error per
    task) for orchestration.

    O2 parity: the reference's ``try/except: continue`` wraps the WHOLE
    task (download, aggregation, archive — get-cams-solrad-ts.py:140-172),
    so aggregation/write failures here are captured per task too. Each
    file's header is peeked on the driver (a file without one fails only
    its own row), files that share a header are scanned together, and a
    shared scan that raises is split into one scan per file, so a corrupt
    raw file marks its own row failed and the rest proceed.
    """
    from wetsa_cams_solrad_timeseries_spark.functions.scalar import (
        sanitize_filename_str,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.filters import require_columns
    from wetsa_cams_solrad_timeseries_spark.pipelines.compile import read_locations

    if fetch_fn is None:
        fetch_fn = make_cds_fetch_fn(out_dir)
    locations = read_locations(spark, locations_path)
    require_columns(locations, ["latitude", "longitude", "elevation", "station"])
    results = distributed_fetch(fetch_tasks(locations, sky_types), fetch_fn)
    rows = [row.asDict() for row in results.collect()]

    targets: dict[str, list[str]] = {}  # raw file -> its tasks' CSVs
    for row in rows:
        if row["ok"]:
            safe = sanitize_filename_str(row["station"])
            targets.setdefault(row["output_path"], []).append(
                os.path.join(out_dir, f"processed_10min_{safe}_{row['sky_type']}.csv")
            )
    errors: dict[str, str] = {}
    by_header: dict[tuple[str, ...], list[str]] = {}
    for path in targets:
        try:
            by_header.setdefault(tuple(peek_header(path)), []).append(path)
        except (OSError, ValueError) as ex:  # O2: missing file or no header
            errors[path] = str(ex)
    for paths in by_header.values():
        try:
            _write_processed(spark, paths, targets)
        except Exception:  # noqa: BLE001 — O2 per-task isolation
            # One bad file fails the whole shared scan: rescan each file
            # alone, so only the bad one's task is marked failed.
            for path in paths:
                try:
                    _write_processed(spark, [path], targets)
                except Exception as ex:  # noqa: BLE001
                    errors[path] = str(ex)

    final_rows = [
        {**row, "ok": False, "error": f"aggregate: {errors[row['output_path']]}"}
        if row["ok"] and row["output_path"] in errors
        else row
        for row in rows
    ]
    return spark.createDataFrame(final_rows, schema=FETCH_RESULT_SCHEMA)


def write_processed_csv(df: DataFrame, path: str) -> None:
    """K1 — single-file CSV, time first column (reference output shape)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols=("station", "sky_type"),
    compression: str = "zstd",
) -> None:
    """The scale-native sink: zstd-compressed columnar parquet partitioned
    by (station, sky_type) → partition pruning for every downstream read;
    replaces CSV + zip-after-the-fact (K1+K3 — the reference compresses
    raw CSVs into archives post-hoc, get-cams-solrad-ts.py:21-44; columnar
    zstd compresses better AND stays queryable)."""
    present = [c for c in partition_cols if c in df.columns]
    writer = df.write.mode("overwrite").option("compression", compression)
    if present:
        writer = writer.partitionBy(*present)
    writer.parquet(path)
