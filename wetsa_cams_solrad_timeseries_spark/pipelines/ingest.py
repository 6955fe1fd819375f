"""Ingest pipeline (EP1 — reference: code/get-cams-solrad-ts.py).

Reference flow per (station × sky_type): HTTP fetch → expert-CSV parse →
1-min → 10-min tumbling mean → CSV out. 70 sequential driver iterations.

Spark-first restructuring — EP1 is one map-only Spark job:
- the fetch fan-out (O1) becomes a partitioned ``mapInPandas`` over the
  (station × sky_type) task table, with per-task error capture (O2) — a
  cluster downloads in parallel, a failed station yields an error row
  instead of killing the job;
- the aggregation (A1) runs in the task that fetched the file: the
  per-file kernel ``resample_file`` is the reference's pandas
  ``resample('10min').mean()``, so outputs match it bucket-for-bucket,
  empty buckets included. Each task writes its own CSV; no aggregate row
  passes through the driver, and there is no shuffle and no extra scan;
- the CSV sink keeps one file per (station, sky_type) for reference
  compatibility; the scale-native sink is partitioned Parquet
  (``write_parquet_partitioned``), replacing the reference's
  zip-after-the-fact archival (K3) with columnar compression at write.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from wetsa_cams_solrad_timeseries_spark.functions.scalar import (
    sanitize_filename_str,
)
from wetsa_cams_solrad_timeseries_spark.sources.expert_csv import peek_header

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


def resample_file(raw_path: str) -> pd.DataFrame:
    """A1 — the reference's core transform (get-cams-solrad-ts.py:47-101)
    for one raw file, in pandas inside the task that fetched it: peek the
    header → parse the ``;`` rows → bucket start from the text before
    ``/`` → ``resample('10min').mean()``, empty buckets kept as NaN rows.

    Every column but ``Observation period`` is float64, with non-numeric
    cells as NaN (the declared-double, non-ANSI Spark parse of
    ``read_expert_csv``); a row whose time does not parse is dropped.
    Returns ``time`` + per-column means in time order; a file with no
    data rows gives no rows and the full column list.
    """
    raw = pd.read_csv(raw_path, comment="#", sep=";", header=None,
                      names=peek_header(raw_path))
    time = pd.to_datetime(
        raw.pop("Observation period").str.split("/").str[0], errors="coerce"
    )
    keep = time.notna().to_numpy()
    values = raw.apply(pd.to_numeric, errors="coerce").astype("float64")
    return (
        values[keep].set_index(pd.DatetimeIndex(time[keep], name="time"))
        .resample("10min").mean().reset_index()
    )


def run_ingest(
    spark: SparkSession,
    locations_path: str,
    fetch_fn: Callable[[dict], str] | None,
    out_dir: str,
    sky_types=SKY_TYPES,
) -> DataFrame:
    """EP1 end-to-end (the reference's ``main()`` —
    get-cams-solrad-ts.py:104-176): read + validate the locations
    dimension, then one map-only Spark job over the (station × sky_type)
    task table. Each task fetches its raw file (``fetch_fn``), resamples
    it (``resample_file``) and writes its own reference-shaped
    ``processed_10min_{station}_{sky_type}.csv`` from the executor, so
    only the task rows reach the driver; ``out_dir`` must be writable from
    every executor (a shared mount on a cluster). Returns the task-result
    table (ok/error per task) for orchestration.

    O2 parity: the reference's ``try/except: continue`` wraps the WHOLE
    task (download, aggregation, archive — get-cams-solrad-ts.py:140-172),
    so a file that cannot be read or resampled fails only its own row,
    with an error that starts with ``aggregate: ``.
    """
    from wetsa_cams_solrad_timeseries_spark.operators.filters import require_columns
    from wetsa_cams_solrad_timeseries_spark.pipelines.compile import read_locations

    if fetch_fn is None:
        fetch_fn = make_cds_fetch_fn(out_dir)

    def fetch_and_resample(task: dict) -> str:
        raw_path = fetch_fn(task)
        safe = sanitize_filename_str(task["station"])
        out = os.path.join(out_dir, f"processed_10min_{safe}_{task['sky_type']}.csv")
        try:
            resample_file(raw_path).to_csv(out, index=False)
        except Exception as ex:  # noqa: BLE001 — O2 per-task isolation
            raise RuntimeError(f"aggregate: {ex}") from ex
        return raw_path

    locations = read_locations(spark, locations_path)
    require_columns(locations, ["latitude", "longitude", "elevation", "station"])
    rows = distributed_fetch(
        fetch_tasks(locations, sky_types), fetch_and_resample
    ).collect()
    return spark.createDataFrame(rows, schema=FETCH_RESULT_SCHEMA)


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
