"""q216 tuned-serving invariants: the (n_probe, R) configuration is
DERIVED from the gate measurements (minimal width/depth meeting the
target, re-checked against an independent recall recomputation), the
decision rules behave (minimality, monotonicity, ladder membership),
and the served pipeline actually meets the SLA it claims."""

import numpy as np
import pytest

from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
    _pq_subdist_matrix,
    hash_bounded_sample_py,
    ivfpq_train,
    pick_n_probe,
    pick_rerank_depth,
)
from wetsa_cams_solrad_timeseries_spark.plans.vector import (
    _Q205_CELLS,
    _Q205_DSUB,
    _Q205_KSUB,
    _Q205_M,
    _Q205_NQ,
    _Q216_K,
    _Q216_TARGET,
    _q216_params_py,
)

SF_DIR = "/root/testdata/sf0.001"
EMB = f"{SF_DIR}/embeddings.parquet"


# ---------------------------------------------------------------- pickers
def test_pick_n_probe_minimal():
    # ranks: recall@p = 0.25, 0.5, 0.75, 1.0 at p = 1..4
    ranks = [1, 2, 3, 4]
    assert pick_n_probe(ranks, 4, 0.5, 16) == 2
    assert pick_n_probe(ranks, 4, 0.51, 16) == 3  # strictly above 0.5
    assert pick_n_probe(ranks, 4, 1.0, 16) == 4


def test_pick_n_probe_monotone_in_target():
    rng = np.random.RandomState(7)
    ranks = list(rng.randint(1, 17, size=100))
    widths = [pick_n_probe(ranks, 100, t, 16) for t in (0.1, 0.5, 0.9, 1.0)]
    assert widths == sorted(widths)


def test_pick_rerank_depth_ladder_and_minimal():
    # 10 pairs, ranks 1..10: recall@k is k/10
    ranks = list(range(1, 11))
    assert pick_rerank_depth(ranks, 10, 0.3, 3) == 3
    assert pick_rerank_depth(ranks, 10, 0.5, 3) == 6
    assert pick_rerank_depth(ranks, 10, 0.9, 3) == 12  # ladder: 3,6,12
    # candidate recall below target (absent pairs) must refuse, not loop
    with pytest.raises(ValueError):
        pick_rerank_depth(ranks[:5], 10, 0.9, 3)


def test_pick_rerank_depth_is_a_ladder_rung():
    rng = np.random.RandomState(11)
    ranks = list(rng.randint(1, 400, size=80))
    r = pick_rerank_depth(ranks, 80, 0.8, 10)
    assert r in {10 * 2**j for j in range(10)}


# ---------------------------------------------------------- gate kernels
@pytest.mark.parametrize(
    "met,picked",
    [
        ((False, False, False), (False, False, False)),  # no rung meets
        ((False, True, True), (False, True, False)),  # two met: smaller dial
    ],
)
def test_pick_cheapest_flags_only_the_smallest_met_dial(spark, met, picked):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _pick_cheapest

    dials = (8, 2, 4)
    rows = spark.createDataFrame(
        list(zip(dials, met)), "dial long, met boolean"
    )
    got = {
        r["dial"]: (r["met"], r["picked"])
        for r in _pick_cheapest(rows, "dial").collect()
    }
    assert got == {d: (m, p) for d, m, p in zip(dials, met, picked)}


def test_hit_recall_scores_missed_queries_and_keeps_rungs_apart(spark):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _gate_agg,
        _hit_recall,
    )

    exact = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 12), (1, 13)], "query_id long, neighbor_id long"
    )
    # Untagged: query 1 has no served row at all, so it scores 0 and
    # still counts as a query.
    served = spark.createDataFrame(
        [(0, 10, 1), (0, 99, 2)], "query_id long, neighbor_id long, rank long"
    )
    perq = _hit_recall(exact, served, 2)
    assert sorted(map(tuple, perq.collect())) == [(0, 1, 0.5), (1, 0, 0.0)]
    (gate,) = _gate_agg(perq).collect()
    assert tuple(gate) == (2, 0.25, 0.0)

    # Two rungs in one frame: rung 1 serves both of query 0's true
    # neighbors and none of query 1's, rung 2 one of each. A hit that
    # crossed rungs would give rung 1's query 1 a hit.
    served = spark.createDataFrame(
        [(1, 0, 10), (1, 0, 11), (1, 1, 98), (2, 0, 10), (2, 1, 12)],
        "__rung int, query_id long, neighbor_id long",
    )
    qids = spark.createDataFrame(
        [(r, q) for r in (1, 2) for q in (0, 1)], "__rung int, query_id long"
    )
    perq = _hit_recall(exact, served, 2, qids)
    assert sorted(map(tuple, perq.collect())) == [
        (1, 0, 2, 1.0), (1, 1, 0, 0.0), (2, 0, 1, 0.5), (2, 1, 1, 0.5)
    ]
    assert sorted(map(tuple, _gate_agg(perq, "__rung").collect())) == [
        (1, 2, 0.5, 0.0), (2, 2, 0.5, 0.5)
    ]


# ------------------------------------------------- derived-not-hand-picked
def _independent_recalls():
    """Recompute candidate recall per width and serving recall per depth
    from scratch (fresh counting code over the same trained artifacts),
    so the derivation's choices can be checked for minimality against an
    implementation that shares only the index definition with it."""
    import duckdb

    rows = duckdb.sql(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        f"FROM read_parquet('{EMB}') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    coarse, books = ivfpq_train(
        hash_bounded_sample_py(list(ids), mat),
        cells=_Q205_CELLS, m=_Q205_M, ksub=_Q205_KSUB,
    )
    ca = np.array(coarse)
    cents = [np.array(b) for b in books]
    assign = np.argmin(_pq_subdist_matrix(mat, ca), axis=1)
    resid = mat - ca[assign]
    codes = np.stack(
        [
            np.argmin(
                _pq_subdist_matrix(
                    resid[:, s * _Q205_DSUB : (s + 1) * _Q205_DSUB], cents[s]
                ),
                axis=1,
            )
            for s in range(_Q205_M)
        ],
        axis=1,
    )

    qmask = ids < _Q205_NQ
    qids, qmat = ids[qmask], mat[qmask]
    dc = _pq_subdist_matrix(qmat, ca)
    order = np.lexsort(
        (np.broadcast_to(np.arange(_Q205_CELLS), dc.shape), dc), axis=1
    )
    dall = _pq_subdist_matrix(qmat, mat)

    def exact_topk(qi, qid):
        mask = ids != qid
        nb, nd = ids[mask], dall[qi][mask]
        return [int(nb[j]) for j in np.lexsort((nb, nd))[:_Q216_K]]

    def candidate_recall(p):
        hit = tot = 0
        for qi, qid in enumerate(qids):
            probed = set(int(c) for c in order[qi, :p])
            for nid in exact_topk(qi, int(qid)):
                tot += 1
                hit += int(assign[np.searchsorted(ids, nid)]) in probed
        return hit / tot

    def serving_recall(p, depth):
        hit = tot = 0
        for qi, qid in enumerate(qids):
            probed = set(int(c) for c in order[qi, :p])
            luts = {
                c: [
                    _pq_subdist_matrix(
                        (qmat[qi] - ca[c])[None, s * _Q205_DSUB : (s + 1) * _Q205_DSUB],
                        cents[s],
                    )[0]
                    for s in range(_Q205_M)
                ]
                for c in probed
            }
            scored = sorted(
                (
                    round(
                        sum(float(luts[int(assign[i])][s][codes[i, s]])
                            for s in range(_Q205_M)) + 1e-9, 6,
                    ),
                    int(nid),
                )
                for i, nid in enumerate(ids)
                if int(nid) != int(qid) and int(assign[i]) in probed
            )
            survivors = {nid for _, nid in scored[:depth]}
            for nid in exact_topk(qi, int(qid)):
                tot += 1
                hit += nid in survivors
        return hit / tot

    return candidate_recall, serving_recall


def test_q216_params_minimal_against_independent_recall():
    params = _q216_params_py(EMB)
    assert params is not None
    n_probe, rerank_r = params
    candidate_recall, serving_recall = _independent_recalls()
    # the derived width meets the target; one narrower does not
    assert candidate_recall(n_probe) >= _Q216_TARGET
    assert n_probe == 1 or candidate_recall(n_probe - 1) < _Q216_TARGET
    # the derived depth meets the target at that width; the previous
    # ladder rung does not
    assert serving_recall(n_probe, rerank_r) >= _Q216_TARGET
    if rerank_r > _Q216_K:
        assert serving_recall(n_probe, rerank_r // 2) < _Q216_TARGET


# --------------------------------------------------------------- e2e SLA
def test_q216_meets_sla_and_matches_numpy_twin(spark):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q216_ann_serving_sla,
    )

    row = q216_ann_serving_sla(spark, SF_DIR).collect()[0]
    assert row["met"] is True
    assert row["avg_recall"] >= _Q216_TARGET
    assert row["n_queries"] == _Q205_NQ
    assert (row["n_probe"], row["rerank_r"]) == _q216_params_py(EMB)


# ------------------------------------------- hybrid-retrieval SLA (q228)
def _independent_hybrid_recall(bm_ranks, vec_ranks, db, dv, topk, rrf_k):
    """Fresh fuse+recall counting code sharing only the scoring
    DEFINITION with fused_topk_from_ranks — list-comprehension build,
    truth recomputed inline — so the picker's minimality can be checked
    against an implementation that cannot share its bugs."""
    def fuse(d1, d2):
        docs = {d for d, r in bm_ranks.items() if r <= d1} | {
            d for d, r in vec_ranks.items() if r <= d2
        }
        pairs = [
            (
                -round(
                    (1.0 / (rrf_k + bm_ranks[d]) if bm_ranks.get(d, 10**9) <= d1 else 0.0)
                    + (1.0 / (rrf_k + vec_ranks[d]) if vec_ranks.get(d, 10**9) <= d2 else 0.0)
                    + 1e-9,
                    6,
                ),
                d,
            )
            for d in docs
        ]
        return [d for _, d in sorted(pairs)[:topk]]

    dmax = max(max(bm_ranks.values(), default=1), max(vec_ranks.values(), default=1))
    truth = set(fuse(dmax, dmax))
    got = fuse(db, dv)
    return sum(1 for d in got if d in truth) / max(len(truth), 1)


def test_pick_hybrid_depths_minimal_on_synthetic_ranks():
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        pick_hybrid_depths,
    )

    rng = np.random.RandomState(5)
    docs = rng.permutation(500)
    bm_ranks = {int(d): r + 1 for r, d in enumerate(docs[:200])}
    vec_ranks = {int(d): r + 1 for r, d in enumerate(rng.permutation(500)[:200])}
    ladder = (5, 10, 20, 50, 100, 200)
    db, dv = pick_hybrid_depths(bm_ranks, vec_ranks, ladder, 0.9, 10, 60)
    assert db in ladder and dv in ladder
    # picked pair meets the target per the INDEPENDENT recall
    assert _independent_hybrid_recall(bm_ranks, vec_ranks, db, dv, 10, 60) >= 0.9
    # every strictly cheaper ladder pair fails it (cost = total volume,
    # then max, then bm side — the picker's documented order)
    key = (db + dv, max(db, dv), db)
    for b in ladder:
        for v in ladder:
            if (b + v, max(b, v), b) < key:
                assert (
                    _independent_hybrid_recall(bm_ranks, vec_ranks, b, v, 10, 60)
                    < 0.9
                )


def test_pick_hybrid_depths_max_pair_is_truth():
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        fused_topk_from_ranks,
        pick_hybrid_depths,
    )

    bm = {i: i for i in range(1, 21)}
    vec = {i + 100: i for i in range(1, 21)}
    # target 1.0 must be met at SOME rung (the max rung IS the truth)
    db, dv = pick_hybrid_depths(bm, vec, (5, 20), 1.0, 10, 60)
    truth = fused_topk_from_ranks(bm, vec, 20, 20, 10, 60)
    served = fused_topk_from_ranks(bm, vec, db, dv, 10, 60)
    assert set(served) == set(truth)


def test_q228_meets_sla_and_matches_twin(spark):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q228_TARGET,
        _q228_params_py,
        q228_hybrid_retrieval_sla,
    )

    row = q228_hybrid_retrieval_sla(spark, SF_DIR).collect()[0]
    assert row["met"] is True
    assert row["recall"] >= _Q228_TARGET
    params = _q228_params_py(
        f"{SF_DIR}/documents.parquet", f"{SF_DIR}/embeddings.parquet"
    )
    assert params is not None
    assert (row["bm_depth"], row["vec_depth"]) == params[:2]
    # minimality against the independent recall, on the REAL ranks
    _, _, bm_ranks, vec_ranks = params
    ladder = (5, 10, 20, 50, 100, 200)
    key = (row["bm_depth"] + row["vec_depth"],
           max(row["bm_depth"], row["vec_depth"]), row["bm_depth"])
    for b in ladder:
        for v in ladder:
            if (b + v, max(b, v), b) < key:
                assert (
                    _independent_hybrid_recall(
                        bm_ranks, vec_ranks, b, v, 10, 60
                    )
                    < _Q228_TARGET
                )


# ----------------------------------------------------- multiprobe LSH (q219)
def test_multiprobe_is_probe_superset_and_lifts_recall(spark, sf_dir):
    # q219's two claims: (a) the multiprobe key set per query strictly
    # CONTAINS the single-probe keys (so candidates can only grow — the
    # corpus index is untouched), (b) recall@3 vs the exact baseline
    # strictly improves at identical index cost.
    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.catalog import table
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        ann_topk_lsh,
        ann_topk_lsh_multiprobe,
        brute_force_topk,
        hyperplane_buckets,
        multiprobe_query_buckets,
    )

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)

    single_keys = {
        (r["vec_id"], r["bucket"])
        for r in hyperplane_buckets(q).collect()
    }
    multi_keys = {
        (r["vec_id"], r["bucket"])
        for r in multiprobe_query_buckets(q).collect()
    }
    assert single_keys < multi_keys  # strict superset
    # per band: 1 original + bits/band flips
    assert len(multi_keys) <= len(single_keys) * (1 + 16 // 2)

    def pairs(df):
        return {
            (r["query_id"], r["neighbor_id"])
            for r in df.select("query_id", "neighbor_id").collect()
        }

    pred = lambda c: c < 50  # noqa: E731
    exact = pairs(brute_force_topk(emb, q, k=3))
    r_single = len(exact & pairs(ann_topk_lsh(emb, pred, k=3))) / len(exact)
    r_multi = len(
        exact & pairs(ann_topk_lsh_multiprobe(emb, pred, k=3))
    ) / len(exact)
    assert r_multi > r_single


# ------------------------------------------------------- graph ANN (q232)
def test_graph_ann_edges_and_medoids(spark, sf_dir):
    # Structural invariants of the q232 graph: the edge set is
    # symmetric; within-cell kNN endpoints share a cell; every cell's
    # medoid is a member of that cell and maximizes the SAME round6'd
    # centroid cosine ivf_assign's kernel computes (BLAS vs JVM-fold
    # parity through the shared nudge).
    from pyspark.sql import functions as F

    from wetsa_cams_solrad_timeseries_spark.catalog import table
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        cell_cosine_sims,
        cell_knn_edges,
        cell_medoids,
        ivf_assign,
        ivf_train_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    cents = ivf_train_centroids(emb, k=16, n_iter=2)

    knn = {(r["src"], r["dst"]) for r in cell_knn_edges(emb, cents, m=6).collect()}
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, cents, n_probe=1).collect()
    }
    assert knn, "empty kNN edge set"
    assert all(cell_of[s] == cell_of[d] for s, d in knn)

    med = {r["cell"]: r["medoid"] for r in cell_medoids(emb, cents).collect()}
    sims = {
        (r["vec_id"], r["cell"]): r["sim"]
        for r in cell_cosine_sims(emb, cents).collect()
    }
    for cell, m in med.items():
        assert cell_of[m] == cell
        # max (sim desc, id asc) among the cell's members
        best = min(
            ((-(sims[(v, cell)]), v) for v, c in cell_of.items() if c == cell)
        )
        assert best[1] == m


def test_graph_ann_recall_beats_unbridged(spark, sf_dir):
    # The medoid bridges + coarse-layer entry are what make the graph
    # navigable: the full q232 row must meet a sane recall floor on this
    # corpus (measured 0.958 at sf0.001) — a regression to cell-trapped
    # traversal would crater it.
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q232_graph_ann_recall,
    )

    row = q232_graph_ann_recall(spark, sf_dir).collect()[0]
    assert row["n_queries"] > 0
    assert row["avg_recall"] >= 0.7


def test_fused_walk_matches_each_rung_walked_alone(spark, sf_dir, monkeypatch):
    # The fused ladders (q235/q240/q250) walk every rung in ONE per-hop
    # job, tagged by __rung. Each rung's candidate set and per-query
    # recall must equal that rung walked alone (q232's form): no row may
    # cross rungs, and the per-rung width must bind per rung.
    from wetsa_cams_solrad_timeseries_spark.plans import vector

    s = vector._q232_setup(spark, sf_dir)
    walks = []
    walk = vector._walk

    def recording_walk(*args):
        walks.append(walk(*args))
        return walks[-1]

    monkeypatch.setattr(vector, "_walk", recording_walk)
    fused_perq = vector._q232_perq_recall_multi(
        s, [(4, s.edges, 4), (8, s.edges, 8)]
    ).collect()
    monkeypatch.undo()
    (fused,) = walks
    fused_cand = fused.collect()

    solo_cands = {}
    for beam in (4, 8):
        solo = walk(s.va, s.qv, s.entry, s.edges, beam, vector._Q232_HOPS)
        solo_cands[beam] = sorted(
            (r["query_id"], r["node"]) for r in solo.collect()
        )
        assert sorted(
            (r["query_id"], r["node"]) for r in fused_cand if r["__rung"] == beam
        ) == solo_cands[beam]
        solo_perq = sorted(
            (r["query_id"], r["recall"])
            for r in vector._perq_recall(s, solo, s.qids).collect()
        )
        assert len(solo_perq) == vector._Q232_NQ
        assert sorted(
            (r["query_id"], r["recall"]) for r in fused_perq if r["__rung"] == beam
        ) == solo_perq
    # The two widths reach different candidate sets, so a fused walk that
    # applied one width to both rungs would fail above.
    assert solo_cands[4] != solo_cands[8]


# q258's Spark jobs at sf0.001: the highest of three runs (93, 93, 93)
# before its greedy and beam walks moved onto the shared hop kernel. The
# kernel must not add a job per hop.
_Q258_MAX_JOBS = 93


def test_q258_job_count_pinned(spark, sf_dir, count_jobs):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q258_hnsw_multilayer,
    )

    rows = []
    jobs = count_jobs(
        lambda: rows.extend(q258_hnsw_multilayer(spark, sf_dir).collect())
    )
    assert len(rows) == 1 and rows[0]["avg_recall"] >= 0.7
    assert jobs <= _Q258_MAX_JOBS, f"q258 submitted {jobs} jobs"


def test_q235_ladder_pick_is_minimal_met_rung(spark, sf_dir):
    # q235's structural contract: one audit row per ladder rung; at most
    # one row is picked; the picked rung IS the cheapest met one; and
    # every recall lies in [0, 1]. (On this corpus the ladder saturates
    # — documented in the docstring — so the pick must land on the
    # narrowest rung.)
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q235_LADDER,
        _Q235_TARGET,
        q235_graph_ann_sla,
    )

    rows = sorted(
        q235_graph_ann_sla(spark, sf_dir).collect(), key=lambda r: r["beam"]
    )
    assert [r["beam"] for r in rows] == list(_Q235_LADDER)
    assert all(0.0 <= r["avg_recall"] <= 1.0 + 1e-9 for r in rows)
    met = [r for r in rows if r["met"]]
    picked = [r for r in rows if r["picked"]]
    if met:
        assert len(picked) == 1
        assert picked[0]["beam"] == min(r["beam"] for r in met)
        assert picked[0]["avg_recall"] >= _Q235_TARGET
    else:
        assert not picked


def test_q237_refinement_dominates_base_graph(spark, sf_dir):
    # q237's structural contract: the refined neighbor list's candidate
    # set CONTAINS the base edges, so refined edge recall can never be
    # below the base's — and on this corpus the cross-cell 2-hop reach
    # lifts it substantially (measured 0.31 -> 0.94 at sf0.001).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q237_nn_descent_refine,
    )

    row = q237_nn_descent_refine(spark, sf_dir).collect()[0]
    assert row["improved"] is True
    assert row["recall_after"] >= row["recall_before"]
    assert row["n_true"] > 0 and row["n_sampled"] > 0
    assert 0.0 <= row["recall_before"] <= row["recall_after"] <= 1.0 + 1e-9


# q243's Spark jobs at sf0.001: the highest of three runs (21, 21, 21)
# once its depth ladder became one __rung-tagged frame (32 with one
# recall tail and aggregate per rung). The ladder must not slip back to
# a job per rung.
_Q243_MAX_JOBS = 21


def test_q243_ladder_pick_is_minimal_met_rung(spark, sf_dir, count_jobs):
    # q243's structural contract, q235's shape on the PCA screen: one
    # audit row per depth rung; recall is MONOTONE in depth (the rung
    # candidate sets are prefixes of one ranking, so a deeper screen can
    # only add candidates and the exact rerank can only improve); at
    # most one row picked = the cheapest met rung.
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q243_LADDER,
        _Q243_TARGET,
        q243_pca_screen_sla,
    )

    rows = []
    jobs = count_jobs(
        lambda: rows.extend(q243_pca_screen_sla(spark, sf_dir).collect())
    )
    assert jobs <= _Q243_MAX_JOBS, f"q243 submitted {jobs} jobs"
    rows.sort(key=lambda r: r["screen_r"])
    assert [r["screen_r"] for r in rows] == list(_Q243_LADDER)
    recalls = [r["avg_recall"] for r in rows]
    assert recalls == sorted(recalls), f"screen recall not monotone: {recalls}"
    assert all(0.0 <= x <= 1.0 + 1e-9 for x in recalls)
    met = [r for r in rows if r["met"]]
    picked = [r for r in rows if r["picked"]]
    if met:
        assert len(picked) == 1
        assert picked[0]["screen_r"] == min(r["screen_r"] for r in met)
        assert picked[0]["avg_recall"] >= _Q243_TARGET
    else:
        assert not picked


def test_q250_depth_ladder_pick_is_minimal_met_rung(spark, sf_dir):
    # q250's structural contract: one row per descent depth; at most one
    # picked = the cheapest met depth; depth 0 equals q232's serving
    # recall (same beam over the same base graph).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q239_ROUNDS,
        _Q250_TARGET,
        q232_graph_ann_recall,
        q250_descent_depth_sla,
    )

    rows = sorted(
        q250_descent_depth_sla(spark, sf_dir).collect(),
        key=lambda r: r["rounds"],
    )
    assert [r["rounds"] for r in rows] == list(range(_Q239_ROUNDS + 1))
    assert all(0.0 <= r["avg_recall"] <= 1.0 + 1e-9 for r in rows)
    met = [r for r in rows if r["met"]]
    picked = [r for r in rows if r["picked"]]
    if met:
        assert len(picked) == 1
        assert picked[0]["rounds"] == min(r["rounds"] for r in met)
        assert picked[0]["avg_recall"] >= _Q250_TARGET
    else:
        assert not picked
    base = q232_graph_ann_recall(spark, sf_dir).collect()[0]
    assert rows[0]["avg_recall"] == pytest.approx(
        base["avg_recall"], abs=1e-9
    )


def test_q251_selectivity_ladder_shape_and_q247_consistency(spark, sf_dir):
    # q251's structural contract: one row per predicate over the shared
    # index, recalls in [0,1]; and the label<3 rung must agree exactly
    # with q247's standalone gate (same predicate, queries, k, n_probe —
    # two spellings of the same measurement may not drift apart).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q251_LABEL_MAXES,
        q247_filtered_ann_gate,
        q251_filter_selectivity_ladder,
    )

    rows = sorted(
        q251_filter_selectivity_ladder(spark, sf_dir).collect(),
        key=lambda r: r["label_max"],
    )
    assert [r["label_max"] for r in rows] == list(_Q251_LABEL_MAXES)
    sels = [r["selectivity"] for r in rows]
    assert sels == sorted(sels) and all(0 < s < 1 for s in sels)
    assert all(
        0.0 <= r["min_recall"] <= r["avg_recall"] <= 1.0 + 1e-9 for r in rows
    )
    g = q247_filtered_ann_gate(spark, sf_dir).collect()[0]
    r3 = next(r for r in rows if r["label_max"] == 3)
    assert r3["avg_recall"] == pytest.approx(g["avg_recall"], abs=1e-9)
    assert r3["min_recall"] == pytest.approx(g["min_recall"], abs=1e-9)
    assert r3["selectivity"] == pytest.approx(g["selectivity"], abs=1e-9)
