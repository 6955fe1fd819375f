"""The whole-inventory plan audit (tools/plan_report.py) must stay
clean: no CartesianProduct, no non-Cross BroadcastNestedLoopJoin, and no
data-sized single-partition Window outside the bounded allow-list. Runs
the report in-process so regressions fail the suite, and leaves
PLANS.json refreshed."""

import sys


def test_global_window_detector_is_structural():
    """The detector must flag a partition-less Window regardless of how
    many chrome lines separate it from its Exchange (the q184
    false-negative of VERDICT r6 #1), and must NOT flag partitioned
    windows — including the partitionBy-without-orderBy shape whose node
    also prints only two bracket groups."""
    from tools.plan_report import _has_global_window

    # q184 shape: global window with >4 lines of Project/Generate chrome
    # above its SinglePartition exchange (defeated the old 4-line scan).
    hidden_global = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=true",
            "+- Window [sum(is_bus#5) windowspecdefinition(day#3 ASC"
            " NULLS FIRST, specifiedwindowframe(RowFrame,"
            " unboundedpreceding$(), currentrow$())) AS idx#9L],"
            " [day#3 ASC NULLS FIRST]",
            "   +- Project [day#3, is_bus#5]",
            "      +- Generate explode(seq#2), false, [day#3]",
            "         +- Project [sequence(lo#0, hi#1) AS seq#2]",
            "            +- Project [lo#0, hi#1]",
            "               +- Sort [day#3 ASC NULLS FIRST], false, 0",
            "                  +- Exchange SinglePartition,"
            " ENSURE_REQUIREMENTS, [plan_id=12]",
            "                     +- Scan parquet [lo#0,hi#1]",
        ]
    )
    assert _has_global_window(hidden_global)

    partitioned = (
        "+- Window [sum(x#1L) windowspecdefinition(g#2L, x#1L ASC NULLS"
        " FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " currentrow$())) AS s#4L], [g#2L], [x#1L ASC NULLS FIRST]"
    )
    assert not _has_global_window(partitioned)

    # partitionBy with no orderBy: two groups, second is a PARTITION spec
    # (no ASC/DESC markers) — must not be flagged.
    part_no_order = (
        "+- Window [sum(x#1L) windowspecdefinition(g#2L,"
        " specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " unboundedfollowing$())) AS s#4L], [g#2L]"
    )
    assert not _has_global_window(part_no_order)

    # Expression chrome that used to fool proximity/regex approaches:
    # array indexing brackets inside the expression list.
    global_with_brackets = (
        "+- Window [first(arr#7[0]) windowspecdefinition(t#3 ASC NULLS"
        " FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(),"
        " currentrow$())) AS f#9], [t#3 ASC NULLS FIRST]"
    )
    assert _has_global_window(global_with_brackets)

    # WindowGroupLimit / other nodes mentioning Window must not match.
    assert not _has_global_window(
        "+- WindowGroupLimit [g#2L], [x#1L ASC NULLS FIRST], rank, 5"
    )


def test_checkpoint_hidden_window_is_captured(spark):
    """A global Window whose frame is eagerly localCheckpoint-ed leaves
    NO trace in the downstream plan (only Scan ExistingRDD) — the audit
    must see it via the capture hook, or any scale-killer could hide
    behind a checkpoint (ADVICE r7, q184)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.plan_report import _has_global_window, capture_checkpoints

    df = spark.range(100)
    with capture_checkpoints() as cap:
        inner = df.withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        ).localCheckpoint(eager=True)
        final = (
            inner.groupBy()
            .agg(F.sum("rn").alias("s"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    # the final plan alone is blind...
    assert not _has_global_window(final)
    # ...but the captured fragment carries the Window.
    assert cap.fragments and any(
        _has_global_window(p) for p in cap.fragments
    )
    # and the hook is gone after the context exits (no capture leak).
    with capture_checkpoints() as cap2:
        pass
    df.localCheckpoint(eager=True)
    assert cap2.fragments == []


def test_exchange_count_is_shuffle_nodes_only(spark):
    """PLANS.json's ``exchanges`` counts shuffle Exchange nodes only: a
    frame with one shuffle aggregate and one broadcast join reads 1, not
    the 2 substring hits of its Exchange and BroadcastExchange."""
    from pyspark.sql import functions as F

    from tools.plan_report import _n_exchanges

    df = (
        spark.range(100)
        .join(F.broadcast(spark.range(10)), "id")
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert _n_exchanges(plan) == 1


def test_plan_report_no_violations(spark, sf_dir):
    import tools.plan_report as pr

    old_argv = sys.argv
    sys.argv = ["plan_report.py", sf_dir]
    try:
        rc = pr.main()
    finally:
        sys.argv = old_argv
    assert rc == 0, "plan audit reported violations — see PLANS.json"
