"""Query registry: every declared engine capability as a named query with a
DuckDB oracle.

Each entry maps a SURVEY.md §2 operator (or an extension operator from the
north star) to:
  - ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
  - ``oracle`` — ANSI SQL for DuckDB over the same tables, or ``None`` for
    genuinely non-SQL-expressible ops (driver then records rows-only).

Determinism rules (the driver hashes sorted values):
  - every computed column is aliased identically in Spark and SQL;
  - multi-row float aggregates are rounded via ``round(x + 1e-9, 6)`` on
    BOTH sides. The nudge matters: decimal-resolution inputs make true
    aggregate values land exactly on rounding-grid boundaries, where
    cross-engine ULP noise (summation order; DuckDB vectorization/FMA vs
    JVM scalar arithmetic — observed even on per-row expressions) flips
    the rounded digit. Adding 1e-9 relocates the tie set to values the
    decimal data cannot produce, and 1e-9 dwarfs the ULP noise at these
    magnitudes, so both engines always round the same way. Empirically:
    2/54 queries flaked single rows at sf0.1 before the nudge, 0 after;
  - any top-k / row_number ordering has a unique tie-break key.
"""

from __future__ import annotations

from wetsa_cams_solrad_timeseries_spark.plans import (
    relational,
    relational2,
    relational3,
    timeseries,
    llm_ops,
    vector,
    pipeline_ops,
    curation,
    analytics,
    advanced,
    deletes,
    scale_ops,
)
from wetsa_cams_solrad_timeseries_spark.plans._spec import QuerySpec


# The driver's correctness pass runs registry order under a ~50-query
# budget, so with >50 declared queries some get no row each round. The
# rotation below front-loads whatever the MOST RECENT correctness report
# did not cover, so coverage rotates through the inventory on a
# ⌈n_queries / 50⌉-round cycle (~4 rounds at ~200 queries) — a query's
# authoritative row can therefore be up to one full cycle old, which is
# why tools/plan_report.py surfaces the stalest row age into PLANS.json
# each round. Queries whose kernels changed since their last driver row
# MUST be pinned ahead of the automatic rotation so their fresh row
# lands on the changed code.
_PIN_FIRST = (
    # Every streaming query drains through streaming/_drain.run_drain
    # (disposable checkpoints, the lowered shuffle-partition conf, start →
    # drain → stop, fed-batch counts), most of them through its
    # memory/parquet wrapper drain_rows. Outputs must be unchanged; the
    # pins put a fresh correctness row on every drained query not pinned
    # below. The ports of hand-written drains first (q99 and q162's
    # memory drains, the foreachBatch drains of q115, q147, q244, q261
    # and q263, and q163's complete-mode drain), then the rest.
    "q99_stream_stream_join",
    "q162_stream_outer_join",
    "q115_streaming_upsert",
    "q147_streaming_scd2",
    "q244_streaming_lsh_neardup",
    "q261_streaming_token_mix",
    "q263_streaming_cdc_index",
    "q163_custom_stream_source",
    "q42_streaming_tumbling",
    "q53_streaming_stateful",
    "q63_streaming_sliding",
    "q82_streaming_dedup",
    "q109_stream_static_enrich",
    "q179_range_offset_stream",
    "q183_stream_dedup_watermark",
    "q186_keyed_offset_stream",
    "q203_streaming_pq_encode",
    "q218_streaming_opq_encode",
    "q231_stream_to_serving",
    "q234_streaming_quality_filter",
    "q236_streaming_decontamination",
    "q249_streaming_pca_encode",
    "q252_streaming_quantile_digest",
    "q283_streaming_bloom_screen",
    "q284_streaming_hll",
    # The graph family walks through shared kernels: every beam and
    # greedy walk runs on vector._walk with one entry pick, scorer and
    # nearest-k tail, over builds from the shared descent kernels
    # (_descent_base, _medoid_bridges, _sym_edges, the exact/capped
    # rounds, _sample_truth, _recall_rungs), and every recall gate ends
    # in the gate kernels (_hit_recall, _gate_agg, _pick_cheapest).
    # Outputs must be unchanged; the pins put a fresh correctness row on
    # every query whose walk, build or gate tail moved onto them. The
    # _q232_setup consumers
    # first, then the descent rounds, then the insert/delete graphs and
    # the stream drains.
    "q232_graph_ann_recall",
    "q235_graph_ann_sla",
    "q240_refined_graph_serving",
    "q250_descent_depth_sla",
    "q258_hnsw_multilayer",
    "q273_hnsw_log_layers",
    "q237_nn_descent_refine",
    "q239_nn_descent_rounds",
    "q266_sampled_nn_descent",
    "q272_capped_descent_ladder",
    "q274_capped_descent_sla",
    "q238_incremental_graph_ann",
    "q255_graph_tombstone_serve",
    "q256_graph_delete_repair",
    "q257_streaming_graph_insert",
    "q264_streaming_graph_cdc",
    "q265_hnsw_level_insert",
    "q278_streaming_capped_descent",
    # The recall gates, SLAs and ladders whose per-query recall, gate
    # aggregate and cheapest-rung pick moved onto vector._hit_recall,
    # _gate_agg and _pick_cheapest (q243's depth ladder is one
    # __rung-tagged frame now).
    "q211_ann_recall_gate",
    "q212_pq_recall_gate",
    "q215_ivfpq_recall_gate",
    "q216_ann_serving_sla",
    "q242_pca_ann_gate",
    "q243_pca_screen_sla",
    "q246_banding_sla",
    "q247_filtered_ann_gate",
    "q251_filter_selectivity_ladder",
    # Other kernels round 14 changed that still have no correctness row
    # on the changed code.
    "q176_kcore_peel",
    "q192_pagerank_converged",
    "q71_streaming_sessions",
    "q77_streaming_multibatch",
    "q89_streaming_ttl_eviction",
)


def _coverage_sets() -> tuple[frozenset[str], frozenset[str], dict]:
    """(ever_covered, latest_covered, last_round) from the
    CORRECTNESS_r*.json reports in the repo root (two levels above this
    package).

    ``ever_covered`` = union across ALL rounds — its complement is the
    never-driver-checked set, which outranks everything but the pins (a
    query with NO authoritative row is a bigger gap than a stale one).
    ``latest_covered`` drives the staleness rotation among ever-checked
    queries; ``last_round`` (name → most recent round with a row) lets
    the rotation order tier 2 OLDEST-FIRST — without it, dict order
    decided which stale rows got refreshed and the r4-era rows could
    sit behind newer ones for rounds (the round-12 staleness audit
    showed exactly that). Missing/unparsable reports → empty."""
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ever: set[str] = set()
    last_round: dict[str, int] = {}
    best_round, best_path = -1, None
    try:
        for fname in os.listdir(root):
            m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
            if not m:
                continue
            rnd = int(m.group(1))
            path = os.path.join(root, fname)
            with open(path) as f:
                names = json.load(f).keys()
            ever.update(names)
            for n in names:
                last_round[n] = max(last_round.get(n, -1), rnd)
            if rnd > best_round:
                best_round, best_path = rnd, path
        if best_path is None:
            return frozenset(), frozenset(), {}
        with open(best_path) as f:
            latest = frozenset(json.load(f).keys())
        return frozenset(ever), latest, last_round
    except (OSError, ValueError):
        return frozenset(), frozenset(), {}


def _collect() -> dict[str, QuerySpec]:
    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        relational2,
        relational3,
        timeseries,
        llm_ops,
        vector,
        pipeline_ops,
        curation,
        analytics,
        advanced,
        deletes,
        scale_ops,
    ):
        merged.update(mod.SPECS)
    ever, latest, last_round = _coverage_sets()
    # Pins must name DECLARED queries. A pin that silently no-ops is how
    # a query ships with no driver-authoritative correctness row (round
    # 7 pinned q192-q194 before they existed; the 'in merged' filter hid
    # it) — fail at import instead.
    unknown = [name for name in _PIN_FIRST if name not in merged]
    if unknown:
        raise AssertionError(
            f"_PIN_FIRST names undeclared queries: {unknown} — declare "
            "them or trim the pins"
        )
    ordered = list(_PIN_FIRST)
    # Tier 1: never driver-checked in ANY round.
    ordered += [n for n in merged if n not in ever and n not in ordered]
    # Tier 2: checked before, but rotated out of the latest round —
    # OLDEST authoritative row first, so the driver's budget always
    # refreshes the stalest rows rather than whatever dict order put
    # ahead.
    tier2 = [n for n in merged if n not in latest and n not in ordered]
    tier2.sort(key=lambda n: (last_round.get(n, -1), n))
    ordered += tier2
    ordered += [n for n in merged if n not in ordered]
    return {name: merged[name] for name in ordered}


QUERIES: dict[str, QuerySpec] = _collect()
