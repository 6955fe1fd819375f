"""q266 — ρ-sampled NN-descent: the bounds and orderings that make the
sampled build the safe 100 TB form of the exact round.

What must hold (and is structural, not statistical):
- the per-node sample really is ≤ S neighbors;
- the local join emits ≤ S² rows per center node (the shuffle key), so
  a hub partition can never do indeg² work;
- a node RECEIVES ≤ S·deg = ρ·m·deg candidates from the expansion;
- the sampled candidate set is a SUBSET of the exact one, hence (by the
  every-true-candidate-survives-top-m argument) sampled recall ≤ exact
  recall on the query's own output.
"""

from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.plans.vector import (
    _Q266_S,
    _local_join,
    _q266_graph,
    _sampled_neighbors,
    _two_hop,
    q266_sampled_nn_descent,
)


def test_sampled_neighbor_lists_bounded(spark, sf_dir):
    graph = _q266_graph(spark, sf_dir)
    samp = _sampled_neighbors(graph, _Q266_S)
    worst = (
        samp.groupBy("src").count().agg(F.max("count").alias("m")).collect()
    )[0]["m"]
    assert worst <= _Q266_S
    # Sampling a list shorter than S keeps the whole list: the sample is
    # a restriction, never a drop-to-zero.
    n_nodes = graph.select("src").distinct().count()
    assert samp.select("src").distinct().count() == n_nodes


def test_local_join_per_center_and_per_receiver_bounds(spark, sf_dir):
    graph = _q266_graph(spark, sf_dir)
    samp = _sampled_neighbors(graph, _Q266_S).localCheckpoint(eager=True)
    # Per-CENTER bound (the shuffle key): each node's sampled list of
    # size k contributes exactly k·(k-1) ordered pairs ≤ S².
    per_center = (
        samp.select(F.col("src").alias("__v"), F.col("dst").alias("src"))
        .join(samp.select(F.col("src").alias("__v"), "dst"), on="__v")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("__v")
        .count()
    )
    worst_center = per_center.agg(F.max("count").alias("m")).collect()[0]["m"]
    assert worst_center <= _Q266_S * (_Q266_S - 1)
    # Per-RECEIVER bound: a node appears in ≤ deg(v) sampled lists (one
    # per neighbor), each pairing it with ≤ S-1 others → ≤ deg·(S-1)
    # candidate rows before dedup — the verdict's ρ·deg·m bound.
    deg = graph.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    recv = _local_join(samp).groupBy("src").agg(
        F.count(F.lit(1)).alias("got")
    )
    viol = (
        recv.join(deg, on="src")
        .filter(F.col("got") > F.col("deg") * (_Q266_S - 1))
        .count()
    )
    assert viol == 0


def test_sampled_candidates_subset_of_exact(spark, sf_dir):
    graph = _q266_graph(spark, sf_dir)
    samp = _sampled_neighbors(graph, _Q266_S)
    exact = graph.unionByName(_two_hop(graph)).distinct()
    sampled = graph.unionByName(_local_join(samp)).distinct()
    outside = sampled.join(exact, on=["src", "dst"], how="left_anti").count()
    assert outside == 0


def test_sampled_recall_bounded_by_exact(spark, sf_dir):
    rows = {
        r["variant"]: r for r in q266_sampled_nn_descent(spark, sf_dir).collect()
    }
    assert set(rows) == {"exact", "sampled"}
    assert rows["sampled"]["edge_recall"] <= rows["exact"]["edge_recall"]
    assert rows["sampled"]["cand_pairs"] <= rows["exact"]["cand_pairs"]
    # The sample is deterministic (hash-pick, no RNG): a second run
    # reproduces the identical audit row.
    again = {
        r["variant"]: r for r in q266_sampled_nn_descent(spark, sf_dir).collect()
    }
    assert tuple(rows["sampled"]) == tuple(again["sampled"])


def test_capped_forward_lists_bounded(spark, sf_dir):
    # The hub-safety bound: each mid FORWARDS at most C neighbors, so
    # the expansion's per-join-key output is indeg*C, never indeg^2.
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q272_C,
        _q266_graph,
        _sampled_neighbors,
    )

    graph = _q266_graph(spark, sf_dir)
    capped = _sampled_neighbors(graph, _Q272_C, salt=1)
    worst = (
        capped.groupBy("src").count().agg(F.max("count").alias("m")).collect()
    )[0]["m"]
    assert worst <= _Q272_C
    # And the cap BINDS on this topology (there is a genuine hub).
    maxdeg = (
        graph.groupBy("src").count().agg(F.max("count").alias("m")).collect()
    )[0]["m"]
    assert maxdeg > _Q272_C


def test_round_salt_rotates_the_sample(spark, sf_dir):
    # Per-iteration resampling is what lets later rounds explore new
    # hub targets: different salts must pick different subsets of a
    # hub's list (derandomized Dong et al. resample).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q272_C,
        _q266_graph,
        _sampled_neighbors,
    )

    graph = _q266_graph(spark, sf_dir)
    s1 = {tuple(r) for r in _sampled_neighbors(graph, _Q272_C, salt=1).collect()}
    s2 = {tuple(r) for r in _sampled_neighbors(graph, _Q272_C, salt=2).collect()}
    assert s1 != s2


def test_hnsw_log_layers_nested_and_comparable(spark, sf_dir):
    # The geometric stack's structural invariants: L2 ⊆ L1 (nested
    # deterministic memberships — HNSW's level(v) >= l semantics), both
    # layers hold every medoid, and the full descent's gate row serves
    # at the family's recall level (>= q258's one-upper-layer form —
    # identical entries at test SFs is the honest 'pricing' outcome).
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q258_L1_MOD,
        _Q273_RES,
        q273_hnsw_log_layers,
    )

    # Layer l holds the ids with vec_id % 7**l == _Q273_RES[l]: over an id
    # range, every L2 id is an L1 id, and L2 is a strict subset.
    ids = range(20 * _Q258_L1_MOD**2)
    layer = {
        lvl: {v for v in ids if v % _Q258_L1_MOD**lvl == _Q273_RES[lvl]}
        for lvl in (1, 2)
    }
    assert layer[2] and layer[2] < layer[1]
    row = q273_hnsw_log_layers(spark, sf_dir).collect()[0]
    assert row["n_l2"] < row["n_l1"]
    assert row["avg_recall"] > 0.5


# q272's Spark jobs at sf0.001: the highest of three runs (67, 67, 68)
# before the descent family moved onto its shared kernels. The shared
# build must not submit more.
_Q272_MAX_JOBS = 68


# q272's sorted rows per sf_dir, kept by the ladder test so the SLA test
# can compare q274 against them without a second q272 run.
_Q272_ROWS = {}


def _q272_rows(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q272_capped_descent_ladder,
    )

    if sf_dir not in _Q272_ROWS:
        _Q272_ROWS[sf_dir] = sorted(
            q272_capped_descent_ladder(spark, sf_dir).collect(),
            key=lambda r: r["round"],
        )
    return _Q272_ROWS[sf_dir]


def test_capped_ladder_monotone_and_converging(spark, sf_dir, count_jobs):
    _Q272_ROWS.pop(sf_dir, None)
    out = []
    jobs = count_jobs(lambda: out.extend(_q272_rows(spark, sf_dir)))
    recalls = [r["edge_recall"] for r in out]
    # Monotone by the exchange argument (candidates always contain the
    # current kept list), and the capped rounds must actually CLIMB —
    # this ladder exists because the uniform-sampled one plateaued.
    assert all(b >= a for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] > recalls[0]
    assert jobs <= _Q272_MAX_JOBS


def test_capped_sla_pick_is_minimal_met_round(spark, sf_dir):
    """q274 runs the same rounds with the same salts as q272, so its
    recall columns must equal q272's rows exactly."""
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q274_FLOOR,
        q274_capped_descent_sla,
    )

    rows = sorted(
        q274_capped_descent_sla(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    cols = ("round", "m", "c", "n_true", "edge_recall")
    assert [tuple(r[c] for c in cols) for r in rows] == [
        tuple(r[c] for c in cols) for r in _q272_rows(spark, sf_dir)
    ]
    met = [r["round"] for r in rows if r["met"]]
    picked = [r["round"] for r in rows if r["picked"]]
    assert all(r["met"] == (r["edge_recall"] >= _Q274_FLOOR) for r in rows)
    assert picked == ([min(met)] if met else [])
    # The pick must be NON-trivial on this corpus: the floor binds
    # (some early round fails) — otherwise the SLA measures nothing.
    assert rows[0]["met"] is False
    # Cost axis sanity: every capped round's candidate volume is a
    # fraction of the exact expansion's (~212k pairs measured in q266).
    assert all(r["cand_pairs"] < 100_000 for r in rows)
