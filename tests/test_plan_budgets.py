"""Shuffle-budget regression net.

Each entry pins the EXCHANGE COUNT budget of a representative declared
query's physical plan (plus required/forbidden operators). A refactor
that silently adds a shuffle — the dominant cost at 100 TB — fails here
long before it shows up as a bench regression. Budgets are upper bounds
(<=), so beneficial re-plans don't break the test; structural
requirements (broadcast joins, TakeOrderedAndProject, no cartesian
product) are exact.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from wetsa_cams_solrad_timeseries_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange", plan))


# (query, max exchanges, required substrings, forbidden substrings)
BUDGETS = [
    # Grouped agg: one shuffle on the group keys, nothing else.
    ("q01_pricing_summary", 1, [], []),
    # Star joins: all dimensions broadcast; fact shuffles only for the agg.
    ("q03_star_join_revenue", 1, ["BroadcastHashJoin"], ["SortMergeJoin"]),
    ("q57_event_enrichment", 2, ["BroadcastHashJoin"], ["SortMergeJoin"]),
    # Global top-k: per-partition top-k + merge, never a global sort.
    ("q21_shipping_priority", 2, ["TakeOrderedAndProject"], []),
    ("q65_returned_items", 2, ["TakeOrderedAndProject"], []),
    ("q88_bigram_topk", 1, ["TakeOrderedAndProject"], []),
    # Selective single-pass aggregate: partial+final over one exchange.
    ("q47_revenue_forecast", 1, [], ["Join"]),
    # Curation funnel: dedup + rollup(+countDistinct expand) shuffles only.
    ("q90_curation_funnel", 3, [], ["Join"]),
    # Stratified sample: map-side prune, one shuffle on the stratum key.
    ("q87_stratified_sample", 1, [], []),
    # Windowed analytics reuse one partitioning.
    ("q43_analytic_windows", 1, [], []),
    # Exact near-dup verification: block-pair explode + one hash
    # partitioning on (ba, bb) — never a cartesian/nested-loop join, never
    # a corpus broadcast (compute is quadratic by problem statement; the
    # PLAN must stay shuffle-linear).
    ("q40_embedding_neardup", 1, ["FlatMapGroupsInPandas"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # Anti/semi joins stay broadcast at dimension scale.
    ("q19_anti_join", 1, ["Broadcast"], ["CartesianProduct"]),
    ("q20_semi_join", 1, ["Broadcast"], ["CartesianProduct"]),
    # Round-5 additions.
    # Regex scrub: pure scan-stage expressions + one rollup shuffle.
    ("q102_pii_scrub", 1, [], ["Join", "Python"]),
    # Both bounded frames share ONE exchange (two local sorts).
    ("q111_rolling_frames", 1, ["Window"], ["Join"]),
    # GROUPING SETS: one Expand, one shuffle — replication = n_sets.
    ("q112_grouping_sets", 1, ["Expand"], ["Join"]),
    # LOCF: window shuffle + rollup shuffle, nothing else.
    ("q118_locf_imputation", 2, ["Window"], ["Join"]),
    # Repetition filter: explode is pipeline-local; 3 keyed agg shuffles.
    ("q103_repetition_score", 3, [], ["Join"]),
    # Round-8 additions.
    # Hybrid retrieval: BM25 candidates cut by distributed top-k (never a
    # global sort), vector side broadcast-query only, fusion join tiny.
    ("q194_hybrid_retrieval", 12, ["TakeOrderedAndProject"],
     ["CartesianProduct"]),
    # Round-9 additions.
    # Hybrid retrieval FROM the index: the lexical side is a bucket-
    # pruned scan of the persisted postings table (SelectedBucketsCount
    # <= |query terms|), never a documents re-tokenize; measured steady
    # state is 4 exchanges (dfreq agg + doc agg + fusion join sides).
    ("q207_hybrid_from_index", 8,
     ["TakeOrderedAndProject", "SelectedBucketsCount"],
     ["CartesianProduct"]),
    # LSH hot-bucket cap: q33's shape + one bucket-keyed window whose
    # WindowGroupLimit pre-prunes map-side; no extra corpus shuffle.
    ("q209_lsh_bucket_cap", 8, ["WindowGroupLimit"],
     ["CartesianProduct"]),
    # pHash near-dup: one Arrow hash pass (checkpointed — consumed by 4
    # branches), band equi-join candidates, popcount verify.
    ("q208_phash_neardup", 6, [], ["CartesianProduct", "SortMergeJoin"]),
    # Incremental pHash probe: bucketed index join + final distinct.
    ("q210_incremental_phash", 4, [], ["CartesianProduct"]),
    # Recall gates: two top-k-bounded lists + the broadcast recall tail
    # (vector._hit_recall); the only cross shapes are the bounded
    # query-broadcast scorers (BNLJ-Cross on a broadcast query set,
    # never cartesian), and no join sort-merges.
    ("q211_ann_recall_gate", 14, [], ["CartesianProduct", "SortMergeJoin"]),
    ("q212_pq_recall_gate", 12, [], ["CartesianProduct", "SortMergeJoin"]),
    # ADC screen + candidate-bounded exact rerank: the corpus pass is
    # codes-only; the rerank joins raw vectors for R*|Q| rows only.
    ("q213_pq_rerank_topk", 10, [], ["CartesianProduct"]),
    # OPQ = one extra scan-stage rotation kernel on q195's ADC plan.
    ("q214_opq_adc_topk", 5, [], ["CartesianProduct", "SortMergeJoin"]),
    # IVF-PQ gate: q205's plan + the bounded exact-L2 baseline + a
    # set-intersect — candidate-sized everywhere past the two lists.
    ("q215_ivfpq_recall_gate", 12, [], ["CartesianProduct", "SortMergeJoin"]),
    # Round-11 additions.
    # Hybrid SLA serve: reads the two CHECKPOINTED rank frames (≤ DMAX
    # rows each); the fusion full-outer + final agg are the only wide
    # ops — the gate's corpus passes happened at checkpoint time under
    # q194's audited shape.
    ("q228_hybrid_retrieval_sla", 4, [], ["CartesianProduct"]),
    # End-to-end curation audit: 7 bounded stage aggregates over
    # checkpointed survivor frames (each stage's own shuffles ran at
    # checkpoint time under its source query's audited shape).
    ("q229_curation_pipeline", 10, [], ["CartesianProduct"]),
    # Semantic contamination: cell equi-join candidates + ONE corpus
    # shuffle on neighbor_id for the exact-cosine verify (the candidate
    # side grows with cell occupancy, so it is NOT broadcast) + the
    # per-source rollup.
    ("q230_semantic_contamination", 6, [],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # Stream-built serving: committed-generation scan ⋈ broadcast LUT +
    # the (query, neighbor) ADC aggregate — q195's serve shape over the
    # streamed index.
    ("q231_stream_to_serving", 4, [], ["CartesianProduct", "SortMergeJoin"]),
    # Graph-ANN beam search: edge table and per-hop candidate sets are
    # CHECKPOINTED (build/traversal shuffles ran at checkpoint time,
    # each over bounded inputs); the final plan is the last bounded-
    # candidate broadcast scoring + the recall aggregate — never a
    # cartesian/unbounded nested loop.
    ("q232_graph_ann_recall", 6, [], ["CartesianProduct"]),
    # SLA serve from the postings index: q228's bounded fusion tail; the
    # index-probed rank pass ran at checkpoint time under q207's
    # bucket-pruned shape.
    ("q233_hybrid_sla_from_index", 4, [], ["CartesianProduct"]),
    # Streaming quality gate: the drained survivor scan + ONE per-source
    # rollup — the filter itself ran scan-stage inside each micro-batch.
    ("q234_streaming_quality_filter", 1, [], ["CartesianProduct", "Join"]),
    # Beam-ladder SLA: the fused walk's checkpointed per-rung recall
    # rows, one gate aggregate over the __rung tag + the pick join —
    # every exchange moves rung-sized data only.
    ("q235_graph_ann_sla", 26, [], ["CartesianProduct"]),
    # Streaming decontamination: drained survivor scan + ONE per-source
    # rollup — the shingle screen ran per micro-batch against the static
    # broadcast eval dictionary.
    ("q236_streaming_decontamination", 1, [], ["CartesianProduct", "Join"]),
    # Streaming LSH near-dup: the drained pair scan — banding and the
    # index probe ran per micro-batch inside the committed generations.
    ("q244_streaming_lsh_neardup", 0, [], ["Join", "Python"]),
    # Incremental curation: five 1-row audit aggregates over the
    # checkpointed stage survivor frames (stage joins ran at checkpoint
    # time under the q193 probe shape) — one exchange per audit row.
    ("q245_incremental_curation", 5, [], ["CartesianProduct", "Join"]),
    # Banding SLA: 3 rungs × (band explode + bucket self-join + audit
    # join) over the shared checkpointed signatures + the pick join —
    # signature and truth passes paid once.
    ("q246_banding_sla", 20, [], ["CartesianProduct"]),
    # Filtered ANN: q56's probe shape + one scan-stage predicate on the
    # inverted lists + the recall tail — never a cartesian or SMJ.
    ("q247_filtered_ann_gate", 7, [], ["CartesianProduct", "SortMergeJoin"]),
    # TF-IDF: tokenize-explode + two keyed aggs + broadcast 1-row corpus
    # count + per-source top-k window — pure JVM, no Python anywhere.
    ("q248_tfidf_top_terms", 6, [], ["CartesianProduct", "Python", "InPandas"]),
    # Streaming PCA encode: the drained projected-generation scan — the
    # fold projection ran scan-stage inside each micro-batch.
    ("q249_streaming_pca_encode", 0, [], ["Join", "Python", "InPandas"]),
    # Descent-depth SLA: q235's tail — one gate aggregate over the
    # fused walk's checkpointed per-depth recall rows + the pick join.
    ("q250_descent_depth_sla", 26, [], ["CartesianProduct"]),
    # Selectivity ladder: every rung in ONE label-max-tagged frame —
    # filtered cell join + serve window + recall tail + gate aggregate
    # over ONE checkpointed assignment + probe pass and the checkpointed
    # tagged truth — never an SMJ or cartesian.
    ("q251_filter_selectivity_ladder", 40, [],
     ["CartesianProduct", "SortMergeJoin"]),
    # Streaming quantile digest: drained generation scan + the grid-
    # bounded merge/read-off tail + the exact-audit aggregate.
    ("q252_streaming_quantile_digest", 6, [], ["CartesianProduct", "Python"]),
    # NN-descent round: one edge self-join (n·deg² candidates), two
    # id-keyed verify joins, per-src rank, sample-bounded audit joins —
    # the NN-descent cost model; no all-pairs stage.
    ("q237_nn_descent_refine", 14, [], ["CartesianProduct"]),
    # Round-11 graph-lifecycle additions.
    # Incremental graph serve: base edges read from the persisted table,
    # insert edges checkpointed — the final plan is ONE bounded-candidate
    # broadcast scoring pass + its rank window.
    ("q238_incremental_graph_ann", 3, [], ["CartesianProduct"]),
    # Round ladder: one recall row per round over checkpointed edge
    # lists — audit joins + tiny crossJoins only.
    ("q239_nn_descent_rounds", 14, [], ["CartesianProduct"]),
    # ρ-sampled vs exact expansion over the shared checkpointed graph:
    # one window (the sample pick), per-variant candidate build + two
    # id-keyed verify joins + 1-row audit crossJoins. The hub-safety is
    # IN the sampled variant's local join (≤ S² per shuffle key).
    ("q266_sampled_nn_descent", 14, ["Window"], ["CartesianProduct"]),
    # Capped ladder: one recall row per round over checkpointed kept
    # lists (rounds themselves run at checkpoint time) — audit joins +
    # 1-row crossJoins, 4 rounds + round 0.
    ("q272_capped_descent_ladder", 22, [], ["CartesianProduct"]),
    # Full log-layer descent: layer builds + walks run at checkpoint
    # time; the final plan is the serve tail + 1-row audit crossJoins.
    ("q273_hnsw_log_layers", 8, [], ["CartesianProduct"]),
    # Capped-descent SLA: rounds run at checkpoint time; the final plan
    # is the 5-row ladder x the 1-row min-met-round broadcast.
    ("q274_capped_descent_sla", 4, [], ["CartesianProduct"]),
    # Base-vs-refined serve: two q232 serve tails over checkpointed
    # graphs + the 1-row aggregate crossJoin.
    ("q240_refined_graph_serving", 10, [], ["CartesianProduct"]),
    # PCA projection: scan → two fold expressions — zero exchanges,
    # zero joins, zero Python (literal loadings, whole-stage codegen).
    ("q241_pca_projection", 0, [], ["Join", "Python", "InPandas"]),
    # PCA-screened ANN: checkpointed projection + broadcast screen +
    # broadcast rerank + top-k windows + recall joins — never a
    # cartesian or a sort-merge join.
    ("q242_pca_ann_gate", 6, [], ["CartesianProduct", "SortMergeJoin"]),
    # Screen-depth SLA: every rung's rank filter over the ONE
    # checkpointed rerank frame, tagged by depth, through one nearest-k
    # window, recall tail and gate aggregate + the pick crossJoin —
    # every exchange moves candidate- or rung-sized data only.
    ("q243_pca_screen_sla", 9, [], ["CartesianProduct", "SortMergeJoin"]),
    # Tuned serving: ADC screen (broadcast LUT) + broadcast candidate
    # rerank + broadcast recall joins — the corpus never shuffles.
    ("q216_ann_serving_sla", 5, [], ["CartesianProduct", "SortMergeJoin"]),
    # Multiprobe LSH: same banded equi-join as q39 — query-side key
    # fan-out must not add exchanges or a cartesian.
    ("q219_multiprobe_lsh", 4, [], ["CartesianProduct"]),
    # SQ8: pure JVM expressions, broadcast query pass, top-k window only.
    ("q220_sq8_topk", 1, [], ["CartesianProduct", "Python", "InPandas"]),
    # Dedup gate: two verified bodies + broadcast threshold fan-out.
    ("q221_dedup_recall_gate", 7, [], ["CartesianProduct"]),
    # Sequence packing: ONE per-shard cumsum window, no joins, no Python.
    ("q222_sequence_packing", 1, ["Window"], ["Join", "Python"]),
    # Packing audit: q222's window + one shard-key aggregation shuffle.
    ("q225_packing_efficiency", 2, ["Window"], ["Join", "Python"]),
    # Token-budget mix: hash projection + one per-source cumsum window.
    ("q226_token_budget_mix", 1, ["Window"], ["Join", "Python"]),
    # IVF-SQ8: one encode kernel pass + broadcast residual-probe join.
    ("q223_ivfsq_topk", 2, [], ["CartesianProduct", "SortMergeJoin"]),
    # Binary sign quantization: JVM-only pack/xor/popcount screen +
    # broadcast candidate rerank; two top-k windows.
    ("q224_binary_hamming_topk", 2, [],
     ["CartesianProduct", "SortMergeJoin", "InPandas"]),
    # Incremental IVF-SQ8: cell-partition-pruned history scan + new-shard
    # encode kernel + broadcast residual-probe join.
    ("q227_incremental_ivfsq_index", 2, ["PartitionFilters"],
     ["CartesianProduct", "SortMergeJoin"]),
    # Quantile digest: one scan-stage groupBy then grid-sized stages.
    ("q191_quantile_sketch_merge", 5, [], ["CartesianProduct", "Python"]),
    # Incremental PQ index: encode kernels are scan-stage; ADC join is
    # broadcast-LUT; no corpus-wide exchange beyond the grouped sum.
    ("q197_incremental_pq_index", 5, [], ["CartesianProduct"]),
    # Incremental OPQ: q197's plan + one scan-stage rotation kernel.
    ("q217_incremental_opq_index", 5, [], ["CartesianProduct"]),
    # Repeated spans: gram agg + semi-join + island windows — bounded.
    ("q198_repeated_spans", 6, [], ["CartesianProduct", "Python"]),
    # Mixture epochs: grouped aggs + 1-row totals + small-dim joins.
    ("q199_mixture_epochs", 12, [], ["Python"]),
    # Hard negatives: query side broadcast, corpus streamed — the only
    # exchanges serve the per-query top-k window.
    ("q200_hard_negatives", 3, [], ["CartesianProduct", "SortMergeJoin"]),
    # Incremental postings: delta-sized aggs + merge join.
    ("q201_incremental_postings", 5, [], ["CartesianProduct", "Python"]),
    # Bigram LM: count-table joins stay hash/broadcast, no cartesian.
    ("q202_bigram_perplexity", 9, [], ["CartesianProduct", "Python"]),
    # CUSUM: daily agg + stats agg + keyed fold — aggregate-sized fold.
    ("q204_cusum_changepoints", 4, ["FlatMapGroupsInPandas"],
     ["CartesianProduct"]),
    # IVF-PQ: scan-stage encode kernels + broadcast-LUT ADC join.
    ("q205_ivfpq_topk", 5, [], ["CartesianProduct", "SortMergeJoin"]),
    # KL drift: ONE conditional-sum token aggregate + 1-row broadcast +
    # TakeOrdered — no join of two count tables, no window, no Python.
    ("q206_vocab_kl_drift", 3, ["TakeOrderedAndProject"],
     ["SortMergeJoin", "Python"]),
    # Round-12 additions: the deletion lifecycle.
    # Tombstone serve / compacted serve share q193's probe+verify tail;
    # the tombstone anti-join must stay broadcast (a takedown list is
    # parameter-sized) and nothing may degrade to a cartesian.
    ("q253_lsh_tombstone_serve", 12, ["BroadcastHashJoin"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    ("q254_lsh_tombstone_compaction", 12, ["BroadcastHashJoin"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # Cell-partitioned serve after cell-local compaction: probes and
    # params broadcast into the pruned scan; the only exchange is the
    # rank window — a SortMergeJoin here would mean the index shuffled.
    ("q259_ivfsq_delete_compaction", 1, ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    # Decremental postings read-off: the maintained stats table serves
    # the top-50 with ZERO exchanges and no join at all — the whole
    # point of keeping the stats table maintained.
    ("q262_decremental_postings", 0, ["TakeOrderedAndProject"], ["Join"]),
    # Round-13 delete-lifecycle additions (q267-q271): every serve is
    # the family's steady-state probe + at most a broadcast tombstone
    # anti-join — bucket-colocated index side, no sort-merge join, no
    # cartesian. pHash: one exchange (the pair distinct); PQ/OPQ: the
    # ADC grouped sum + rank window exchanges only.
    ("q267_phash_tombstone_serve", 1, ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    ("q268_phash_tombstone_compaction", 1, ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    ("q269_pq_tombstone_serve", 2, ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    ("q270_pq_tombstone_compaction", 2, ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    ("q271_opq_tombstone_compaction", 2, ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    # Stream-drained states: the final frames read committed
    # generations; one exchange (distinct / latest-wins) at most.
    ("q261_streaming_token_mix", 1, [], ["SortMergeJoin",
     "CartesianProduct"]),
    ("q263_streaming_cdc_index", 1, ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    # Graph-walk serves on the shared hop kernel: every walk hop runs at
    # checkpoint time, so the final plan is the last bounded-candidate
    # broadcast scoring pass + its rank window (q258: + the recall tail
    # and the 1-row audit crossJoins). Budgets are the final-plan counts
    # before the walks moved onto the kernel.
    ("q255_graph_tombstone_serve", 1, [], ["CartesianProduct"]),
    ("q256_graph_delete_repair", 1, [], ["CartesianProduct"]),
    ("q257_streaming_graph_insert", 1, [], ["CartesianProduct"]),
    ("q258_hnsw_multilayer", 5, [], ["CartesianProduct"]),
    ("q264_streaming_graph_cdc", 1, [], ["CartesianProduct"]),
    ("q265_hnsw_level_insert", 1, [], ["CartesianProduct"]),

]


# --------------------------------------------------------------------------
# Broadcast-hint scale gate: SF-scaling tables (customer / supplier / part)
# must NOT carry an unconditional F.broadcast hint — AQE can promote a
# shuffle join to broadcast at runtime but can never demote a user hint, so
# a hinted customer join OOMs at 100x. maybe_broadcast drops the hint when
# Catalyst's size estimate exceeds the session threshold. Emulate "the
# table outgrew the threshold" by disabling it, then assert the only
# broadcasts left are the scale-invariant dims (nation=25 / region=5).
# --------------------------------------------------------------------------

# (query, expected BroadcastHashJoin count with threshold disabled)
_SCALE_GATED = [
    ("q21_shipping_priority", 0),
    ("q22_local_supplier_volume", 2),   # nation, region
    ("q57_event_enrichment", 2),        # nation, region
    ("q65_returned_items", 0),
    ("q66_nation_trade_volume", 2),     # nation x2
    ("q74_large_volume_customers", 0),
    ("q76_market_share", 3),            # nation x2, region-nation semi
    ("q105_small_qty_revenue", 0),      # part is SF-scaling: size-gated
    ("q106_large_orders", 0),           # HAVING keys + customer: gated
]


@pytest.mark.parametrize("name,n_bhj", _SCALE_GATED)
def test_no_forced_broadcast_of_scaling_tables(spark, name, n_bhj):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(QUERIES[name].fn(spark, SF))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    got = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert got == n_bhj, (
        f"{name}: {got} BroadcastHashJoin (expected {n_bhj} — only "
        f"scale-invariant dims may stay hinted when the size gate trips)\n"
        f"{plan[:2000]}"
    )
    # The large-side joins must have fallen back to a shuffle strategy.
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]


def test_maybe_broadcast_gate(spark):
    """maybe_broadcast hints under the threshold, is identity above it."""
    from wetsa_cams_solrad_timeseries_spark.catalog import table
    from wetsa_cams_solrad_timeseries_spark.plans._spec import maybe_broadcast

    cu = table(spark, SF, "customer")
    assert maybe_broadcast(cu) is not cu  # small at sf0.001 -> hinted
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert maybe_broadcast(cu) is cu  # over threshold -> unhinted
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert maybe_broadcast(cu) is cu  # disabled -> unhinted
    finally:
        if old is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize("name,max_ex,required,forbidden", BUDGETS)
def test_shuffle_budget(spark, name, max_ex, required, forbidden):
    plan = _plan(QUERIES[name].fn(spark, SF))
    n = _n_exchanges(plan)
    assert n <= max_ex, f"{name}: {n} exchanges > budget {max_ex}\n{plan[:2000]}"
    for s in required:
        assert s in plan, f"{name}: expected {s} in plan\n{plan[:2000]}"
    for s in forbidden:
        assert s not in plan, f"{name}: forbidden {s} in plan\n{plan[:2000]}"
    assert "CartesianProduct" not in plan, name
