"""Whole-inventory physical-plan audit.

Builds every declared query's executed plan at a small SF and reports the
plan-quality metrics the 100 TB story depends on:

- exchanges (shuffle count), broadcast vs sort-merge joins,
- scan pushdown (PushedFilters / PartitionFilters present where expected),
- scale-killer patterns: CartesianProduct, BroadcastNestedLoopJoin, and
  data-sized single-partition windows (`Window.orderBy` with no
  partitioning is ONE task — only calendar/dimension-bounded frames may
  use it, and those are allow-listed below).

Output: PLANS.json (per-query metrics) + a summary line. Non-zero exit if
a scale-killer appears outside the allow-lists, so this doubles as a
regression gate (tests/test_plan_report.py runs it).

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Queries allowed to contain a partition-less Window in the PHYSICAL plan:
# every entry must be bounded by something that does NOT grow with the
# corpus (bucket count, calendar, dimension size, cluster partition
# count). Growing this list requires the same justification in the
# query's docstring.
GLOBAL_WINDOW_OK = {
    # partition-count-bounded offsets frames (operators/rank.py) —
    # ≤ nparts rows by construction:
    "q107_quality_deciles",
    "q114_shard_planning",
    "q121_pps_sample",
    "q136_decile_lift",
    "q140_peak_concurrency",
    # bucket-/calendar-/dimension-bounded frames:
    "q108_value_histogram",   # NB=12 buckets
    "q119_rank_functions",    # 25 nations
    "q134_wow_growth",        # weeks per event_type (PARTITION BY type)
    "q139_contribution_shares",  # 25 nations
    "q141_adoption_curve",    # days
    # oracle-exact global orderings documented as verification-scale:
    "q52_scd2_intervals",
    # calendar-bounded frames (rows = days in the orders date range,
    # ~2.5k at any SF — the spine is generated from min/max bounds, not
    # from the fact table, so it does NOT grow with corpus size):
    "q184_calendar_spine",
    # k-bounded rank-of-survivors: the window consumes the output of an
    # orderBy().limit(k) (TakeOrderedAndProject — per-partition top-k +
    # k-row merge), so its input is ≤ k rows (10/20/25) regardless of
    # corpus size. The round-7 structural detector surfaced these three;
    # the old adjacency scan had never seen them because the limit node
    # sits between the Window and its exchange:
    "q21_shipping_priority",   # top-10 revenue orders
    "q65_returned_items",      # top-20 lost-revenue customers
    "q88_bigram_topk",         # top-25 bigrams
    "q194_hybrid_retrieval",   # BM25 rank numbering AFTER orderBy.limit(50)
    "q207_hybrid_from_index",  # same k-bounded rank window as q194
    "q228_hybrid_retrieval_sla",  # q194's rank window at the ladder max
                                  # (orderBy.limit(200) feeds it)
    "q233_hybrid_sla_from_index",  # same ladder-max rank window, index-fed
    # grid-bounded digest frames: the window input is one row per
    # occupied centroid bin of a LITERAL grid (≤ ~103 bins for
    # l_extendedprice / 1024), corpus-size independent:
    "q191_quantile_sketch_merge",
    "q252_streaming_quantile_digest",  # q191's read-off tail verbatim
}


def row_staleness(declared: list[str]) -> dict:
    """Per-round distribution of each declared query's LATEST
    driver-authoritative correctness row, from the repo-root
    CORRECTNESS_r*.json reports. Surfaces the rotation's real freshness
    ("stalest authoritative row: rN (qXX)") instead of leaving it to
    docstring arithmetic — the driver budget covers ~50 of the declared
    queries per round, so the honest staleness bound is the rotation
    cycle length, and this metric makes drift beyond it visible."""
    latest: dict[str, int] = {}
    for fname in sorted(os.listdir(ROOT)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(os.path.join(ROOT, fname)) as f:
                names = json.load(f).keys()
        except (OSError, ValueError):
            continue
        for name in names:
            latest[name] = max(latest.get(name, 0), rnd)
    by_round: dict[str, int] = {}
    stalest_round, stalest_example = None, None
    never = 0
    for name in declared:
        rnd = latest.get(name)
        if rnd is None:
            never += 1
            continue
        key = f"r{rnd}"
        by_round[key] = by_round.get(key, 0) + 1
        if stalest_round is None or rnd < stalest_round:
            stalest_round, stalest_example = rnd, name
    return {
        "rows_by_round": dict(sorted(by_round.items())),
        "never_checked": never,
        "stalest_round": f"r{stalest_round}" if stalest_round else None,
        "stalest_example": stalest_example,
    }


def _has_global_window(plan: str) -> bool:
    """True iff the plan contains a Window node with NO partition spec.

    Structural, not proximity-based: the printed ``Window`` node carries
    its specs as top-level bracket groups after the expression list —
    ``Window [exprs], [partCols], [orderCols]`` when partitioned versus
    ``Window [exprs], [orderCols]`` (or ``Window [exprs]``, unordered)
    when global. A trailing group is an ORDER spec iff its entries carry
    the ``ASC/DESC NULLS`` markers; a 2-group node whose second group is
    an order spec therefore has an empty partition spec. This replaces
    the old 4-line ``Exchange SinglePartition`` adjacency scan, which
    false-negatived whenever >4 lines of Project/Generate chrome sat
    between the Window and its exchange (VERDICT r6 #1, q184)."""
    order_marker = re.compile(r"\b(?:ASC|DESC) NULLS (?:FIRST|LAST)\b")
    for raw in plan.splitlines():
        # Strip tree chrome: "+- ", ":- ", ":  ", "*(3) " prefixes.
        node = re.sub(r"^[\s:+\-*()0-9]*", "", raw)
        if not node.startswith("Window "):
            continue
        # Split the remainder into depth-0 bracket groups ([] at the top
        # level; () and [] inside expressions are tracked so markers like
        # arr#1[0] or windowspecdefinition(...) never fool the split).
        groups: list[str] = []
        depth = 0
        start = -1
        for i, ch in enumerate(node):
            if ch in "([":
                if depth == 0 and ch == "[":
                    start = i
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0 and start >= 0:
                    groups.append(node[start + 1 : i])
                    start = -1
        if len(groups) >= 3:
            continue  # [exprs], [part], [order] — partitioned
        if len(groups) == 2 and not order_marker.search(groups[1]):
            continue  # [exprs], [part] — partitioned, unordered
        return True  # [exprs], [order] or bare [exprs]: no partition
    return False

# BroadcastNestedLoopJoin classification: the engine's ONLY sanctioned
# BNLJ is the scalar-augment pattern — crossJoin(broadcast(<1-row agg>)),
# which Spark plans as 'BroadcastNestedLoopJoin BuildLeft/Right, Cross'.
# That shape is scale-free (the build side is one aggregate row) and is
# how a scalar subquery joins in. Any BNLJ with a NON-Cross join type
# (inner/outer with a non-equi condition) is a real nested loop over
# data-sized sides and is flagged. Queries that legitimately need one go
# here with a justification; the set is empty by design.
BNLJ_OK: set[str] = set()

_BNLJ_CROSS = re.compile(r"BroadcastNestedLoopJoin Build(Left|Right), Cross")
_BNLJ_ANY = re.compile(r"BroadcastNestedLoopJoin Build(Left|Right), (\w+)")

# A shuffle is a tree node whose operator is ``Exchange``: the line's
# tree prefix (spaces, ``:``, ``+-``) followed by that word.
# BroadcastExchange and ReusedExchange nodes are other operators — the
# same nodes tests/test_plan_budgets.py counts in explain("formatted").
_EXCHANGE_NODE = re.compile(r"^[ :|+-]*Exchange\b", re.M)


def _n_exchanges(plan: str) -> int:
    return len(_EXCHANGE_NODE.findall(plan))


class capture_checkpoints:
    """Context manager that records the executed plan of every frame at
    the moment it is localCheckpoint-ed.

    A localCheckpoint TRUNCATES lineage: everything upstream of it shows
    up in the final query plan only as ``Scan ExistingRDD``, so a
    scale-killer pattern placed behind a checkpoint (q184's calendar
    spine: the global Window runs inside an eagerly checkpointed
    intermediate) would pass a final-plan-only audit silently. Hooking
    the checkpoint call itself captures each truncated subplan — the
    audit then scans final plan + all captured fragments. Capture is
    plan-printing only; execution semantics are unchanged (the original
    localCheckpoint still runs). Fragments never double-count: a
    fragment built on an earlier checkpoint sees that earlier stage as
    Scan ExistingRDD too, so each operator appears in exactly one
    fragment."""

    def __init__(self) -> None:
        self.fragments: list[str] = []

    @staticmethod
    def _df_class():
        # PySpark 4: pyspark.sql.DataFrame is the abstract facade; the
        # session hands out classic.dataframe.DataFrame, which OVERRIDES
        # localCheckpoint — patching the facade would never be hit.
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pragma: no cover — older layout
            from pyspark.sql import DataFrame
        return DataFrame

    def __enter__(self) -> "capture_checkpoints":
        cls = self._df_class()
        self._orig = cls.localCheckpoint
        fragments = self.fragments
        orig = self._orig

        def capturing(df, *args, **kwargs):
            # Pass-through signature: PySpark 4's localCheckpoint also
            # takes storageLevel — pinning (eager=True) here would make
            # the audit TypeError on callers the engine accepts.
            try:
                fragments.append(
                    df._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:  # noqa: BLE001 — capture must never break the query
                pass
            return orig(df, *args, **kwargs)

        cls.localCheckpoint = capturing
        return self

    def __exit__(self, *exc) -> None:
        self._df_class().localCheckpoint = self._orig


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from wetsa_cams_solrad_timeseries_spark.plans.registry import QUERIES
    from wetsa_cams_solrad_timeseries_spark.session import get_spark

    spark = get_spark("plan-report")
    report: dict[str, dict] = {}
    violations: list[str] = []
    for name, spec in QUERIES.items():
        try:
            with capture_checkpoints() as cap:
                final_plan = (
                    spec.fn(spark, sf_dir)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
        except Exception as ex:  # noqa: BLE001
            report[name] = {"error": str(ex)[:200]}
            violations.append(f"{name}: plan build failed: {ex}")
            continue
        # Audit final plan PLUS every checkpoint-truncated fragment —
        # a pattern behind a localCheckpoint must not pass silently.
        fragments = [final_plan] + cap.fragments
        plan = "\n".join(fragments)
        single_part_window = any(_has_global_window(p) for p in fragments)
        bnlj_types = [m.group(2) for m in _BNLJ_ANY.finditer(plan)]
        bnlj_noncross = [t for t in bnlj_types if t != "Cross"]
        metrics = {
            "exchanges": _n_exchanges(plan),
            "broadcast_joins": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "shj": plan.count("ShuffledHashJoin"),
            "cartesian": plan.count("CartesianProduct"),
            "bnlj_scalar_cross": len(bnlj_types) - len(bnlj_noncross),
            "bnlj_noncross": len(bnlj_noncross),
            "python_kernels": plan.count("InPandas")
            + plan.count("ArrowEvalPython"),
            "codegen_spans": plan.count("WholeStageCodegen"),
            "checkpoint_fragments": len(cap.fragments),
            "single_partition_window": single_part_window,
            # From the FINAL plan only: "some fragment has an unfiltered
            # scan" is normal (spine generators, state tables) and would
            # mask real pushdown on the main scan if OR-ed across
            # fragments (q184 flipped true->false when this metric first
            # scanned the concatenation).
            "pushed_filters": "PushedFilters: [" in final_plan
            and "PushedFilters: []" not in final_plan,
        }
        report[name] = metrics
        if metrics["cartesian"]:
            violations.append(f"{name}: CartesianProduct in plan")
        if metrics["bnlj_noncross"] and name not in BNLJ_OK:
            violations.append(
                f"{name}: non-Cross BroadcastNestedLoopJoin "
                f"({bnlj_noncross}) in plan"
            )
        if single_part_window and name not in GLOBAL_WINDOW_OK:
            violations.append(
                f"{name}: data-sized single-partition Window (not on the "
                f"bounded allow-list)"
            )

    out = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "violations": violations,
        "row_staleness": row_staleness(list(QUERIES)),
        "queries": report,
    }
    with open("PLANS.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    n_bad = len(violations)
    stale = out["row_staleness"]
    print(
        f"plan report: {len(report)} queries, "
        f"{sum(m.get('exchanges', 0) for m in report.values())} exchanges "
        f"total, {n_bad} violations -> PLANS.json"
    )
    print(
        "row staleness: stalest authoritative row "
        f"{stale['stalest_round']} ({stale['stalest_example']}); "
        f"distribution {stale['rows_by_round']}"
    )
    for v in violations:
        print("VIOLATION:", v)
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
