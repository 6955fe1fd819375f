"""Python DataSource (Spark 4 DataSource V2 extension point) for the
CAMS expert-CSV format: ``spark.read.format("expert_csv")``.

Two Spark readers coexist deliberately (EP1 itself uses neither: each
fetch task parses its own file with pandas, ``pipelines.ingest.resample_file``):

- ``sources/expert_csv.py::read_expert_csv`` — the native-scan reader:
  peek-header + declared schema + Spark's native executor-parallel CSV
  scan (JVM parser, file splitting, predicate pushdown on the parsed
  columns). Use this when the format maps onto a native scan.
- this module — the EXTENSION-POINT pattern for formats that do NOT map
  onto a native scan (station binary formats, NetCDF variants, bespoke
  instrument logs): a ``pyspark.sql.datasource.DataSource`` whose
  reader plans one InputPartition per matched file and parses on the
  executors in Python. Registration is per-session
  (``register_expert_csv_source``), after which the format string is a
  first-class citizen of the reader API.

Scale shape: planning is driver-side glob + one bounded head-read (the
header peek); reading is file-parallel across executors. Python parsing
is the honest cost of the extension point — formats hot enough to
matter should graduate to a native/Arrow parser, which changes this
module, not the query.

Reference parity: the format is get-cams-solrad-ts.py:53-84 (``#``
metadata lines, last ``#`` line is the ``;``-separated header).
"""

from __future__ import annotations

import glob as _glob

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from wetsa_cams_solrad_timeseries_spark.sources.expert_csv import (
    STRING_COLS,
    expert_csv_schema,
    peek_header,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str, string_idx: tuple[int, ...], n_cols: int):
        self.path = path
        self.string_idx = string_idx
        self.n_cols = n_cols


class ExpertCsvReader(DataSourceReader):
    def __init__(self, options, schema):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("expert_csv: 'path' option is required")
        self._schema = schema

    def partitions(self):
        matches = (
            sorted(_glob.glob(self._path))
            if any(ch in self._path for ch in "*?[")
            else [self._path]
        )
        if not matches:
            raise FileNotFoundError(self._path)
        names = [f.name for f in self._schema.fields]
        string_idx = tuple(i for i, n in enumerate(names) if n in STRING_COLS)
        return [_FilePartition(p, string_idx, len(names)) for p in matches]

    def read(self, partition: _FilePartition):
        string_idx = set(partition.string_idx)
        with open(
            partition.path, "r", encoding="utf-8", errors="replace"
        ) as fh:
            for line in fh:
                if line.startswith("#") or not line.strip():
                    continue
                cells = [c.strip() for c in line.rstrip("\n").split(";")]
                cells += [""] * (partition.n_cols - len(cells))
                row = []
                for i in range(partition.n_cols):
                    cell = cells[i]
                    if i in string_idx:
                        row.append(cell if cell else None)
                    else:
                        try:
                            row.append(float(cell))
                        except ValueError:
                            row.append(None)
                yield tuple(row)


class ExpertCsvDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "expert_csv"

    def schema(self):
        path = self.options.get("path")
        if not path:
            # schema() runs before reader(), so the reader's own check
            # is unreachable for this case — without this guard the
            # caller gets an opaque TypeError from peek_header(None).
            raise ValueError("expert_csv: 'path' option is required")
        return expert_csv_schema(peek_header(path))

    def reader(self, schema) -> DataSourceReader:
        return ExpertCsvReader(self.options, schema)


def register_expert_csv_source(spark) -> None:
    """Per-session registration; idempotent."""
    spark.dataSource.register(ExpertCsvDataSource)
