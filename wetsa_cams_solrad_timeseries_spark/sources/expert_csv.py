"""CAMS ``csv_expert`` reader (SURVEY.md §1.4, operator S2).

Format quirks (reference: code/get-cams-solrad-ts.py:53-84):
- every metadata line starts with ``#``;
- the LAST ``#`` line is the header: ``;``-separated column names;
- data rows are ``;``-delimited with no header row.

Spark's CSV ``comment`` option would drop the header along with the
metadata, so the reader uses the reference's own two-phase trick,
distributed-friendly: peek the file head driver-side (a bounded read of
one file — cheap at any scale), build an explicit ``StructType``, then
hand the full glob to the executor-parallel CSV scan with
``comment='#'``. Every data column is double except the ISO-interval
``Observation period`` string.
"""

from __future__ import annotations

import glob as _glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STRING_COLS = {"Observation period"}


def peek_header(path: str, max_lines: int = 200) -> list[str]:
    """Return the column names from the last leading ``#`` line.

    Reads only the commented head of ONE file — equivalent cost to the
    reference's line scan (get-cams-solrad-ts.py:62-70), independent of
    file size. For object stores, swap ``open`` for the Hadoop FS API;
    the contract (bounded head read) is unchanged.
    """
    matches = sorted(_glob.glob(path)) if any(ch in path for ch in "*?[") else [path]
    if not matches:
        raise FileNotFoundError(path)
    header: str | None = None
    with open(matches[0], "r", encoding="utf-8", errors="replace") as fh:
        for _ in range(max_lines):
            line = fh.readline()
            if not line:
                break
            if line.startswith("#"):
                stripped = line.lstrip("#").strip()
                if stripped:
                    header = stripped
            else:
                break
    if header is None or ";" not in header:
        raise ValueError(f"no '#'-commented ';'-separated header found in {matches[0]}")
    return [c.strip() for c in header.split(";")]


def expert_csv_schema(columns: list[str]) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                c,
                T.StringType() if c in STRING_COLS else T.DoubleType(),
                True,
            )
            for c in columns
        ]
    )


def read_expert_csv(spark: SparkSession, path: str) -> DataFrame:
    """Full reader: peek header → declared schema → parallel CSV scan.

    The scan keeps Spark's normal file-splitting/parallelism; ``comment``
    rows (including the header line) are dropped by the parser, and bad
    numeric cells coerce to null (non-ANSI), matching pandas'
    ``errors='coerce'`` behavior downstream.
    """
    cols = peek_header(path)
    return (
        spark.read.option("comment", "#")
        .option("sep", ";")
        .option("header", "false")
        .schema(expert_csv_schema(cols))
        .csv(path)
    )
