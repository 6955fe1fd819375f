"""Shared QuerySpec constructor (avoids a circular import with registry)
and the structural cross-engine rounding helpers.

Every multi-row float aggregate that reaches a query's output MUST round
via ``round6``/``round6_sql`` — the +1e-9 nudge relocates rounding-grid
ties off values the decimal-resolution data can produce, so Spark and
DuckDB always round the same way (see registry docstring for the
measured flake data). These helpers make the convention code instead of
copy-discipline: use them in every new plan; a nudge-less 6-digit round
in a plans/ file is a bug (tests/test_registry.py enforces this).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def round6(col: Column | str) -> Column:
    """Spark side of the cross-engine rounding convention."""
    if isinstance(col, str):
        col = F.col(col)
    return F.round(col + F.lit(1e-9), 6)


def round6_sql(expr: str) -> str:
    """DuckDB-oracle side of the cross-engine rounding convention."""
    return f"round({expr} + 1e-9, 6)"


# Money sums: the corpus carries 2-decimal money data, so money
# expressions (price, price*(1-disc), price*(1-disc)*(1+tax), …) have ≤6
# exact decimal digits and cast to DECIMAL(27,6) losslessly. Summing the
# decimals is associative-EXACT in both Spark and DuckDB, which makes the
# aggregate independent of partitioning / join order / merge order —
# round6 alone cannot do that once the per-group sum magnitude reaches
# ~1e8 (double sum order variance ~1e-7+ straddles the 1e-6 rounding
# grid; q81's bucketed SMJ reorder turned exactly this into a red driver
# row in round 3). Also the 100-TB-right form: group sums reach 1e13+
# there, where a double sum has NO stable 6th decimal at all.
_MONEY_DEC = "decimal(27,6)"


def exact_sum(col: Column | str) -> Column:
    """Order-independent money sum (Spark side): exact decimal internally,
    double out so result schemas stay unchanged."""
    if isinstance(col, str):
        col = F.col(col)
    return F.sum(col.cast(_MONEY_DEC)).cast("double")


def exact_sum_sql(expr: str) -> str:
    """DuckDB-oracle twin of :func:`exact_sum`."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(27,6))) AS DOUBLE)"


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """Session autoBroadcastJoinThreshold in bytes (-1 disables)."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try:
        return int(raw)
    except (TypeError, ValueError):
        pass
    try:
        return int(spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(raw))
    except Exception:
        return 10 * 1024 * 1024


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Size-gated broadcast hint for SF-scaling tables.

    AQE can *promote* a shuffle join to broadcast at runtime when the
    built side turns out small, but it can never *demote* an explicit
    ``F.broadcast`` hint — so hard-hinting a table that grows with scale
    factor (customer: 150k rows x SF, supplier: 10k x SF, part: 200k x
    SF) is an executor OOM at 100x even though it is fast and green at
    test SFs. This helper consults Catalyst's own size estimate for the
    frame and hints only when it fits the session broadcast threshold;
    above it (or when the threshold is disabled) the frame is returned
    unhinted and the threshold + AQE pick the join strategy at runtime.

    Use ``F.broadcast`` directly only for frames whose cardinality is
    scale-invariant by construction (nation=25, region=5, literal
    frames, 1-row aggregates); use ``maybe_broadcast`` for every hint on
    a table that scales with the corpus.
    """
    spark = df.sparkSession
    threshold = _broadcast_threshold_bytes(spark)
    if threshold <= 0:
        return df
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = int(size if isinstance(size, int) else size.toString())
    except Exception:
        return df
    return F.broadcast(df) if size <= threshold else df


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: tuple[str, ...] = field(default=())
    doc: str = ""
    # Optional sf-aware oracle builder for queries whose oracle embeds
    # data-derived literals (q56's trained centroids): ``oracle`` stays
    # the static string the driver runs at ITS gate SF; local checkers
    # call ``oracle_fn(sf_dir)`` to regenerate for any other SF.
    oracle_fn: Callable[[str], str | None] | None = None

    def oracle_for(self, sf_dir: str) -> str | None:
        return self.oracle_fn(sf_dir) if self.oracle_fn else self.oracle


def make_specs(rows) -> dict[str, QuerySpec]:
    return {
        name: QuerySpec(fn=fn, oracle=oracle, survey_ids=tuple(ids), doc=doc)
        for name, fn, oracle, ids, doc in rows
    }
