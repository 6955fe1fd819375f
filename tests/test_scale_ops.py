"""Round-13 second wave (plans/scale_ops.py + q278): structural and
Python-twin locks.

- q275: the bloom bitmap can never false-NEGATIVE (a qualified key's
  bits are all set by construction) and the engine's pass count equals
  an independent Python replay of the same MD5 positions;
- q276: the served list IS the greedy MMR optimum — replayed pick by
  pick in numpy from the same rounded similarity tables;
- q277: grouped AUC equals an independent tie-corrected rank
  computation on pandas;
- q279: DSIR integer micro-nat scores equal a pure-Python recount;
- q278: one capped refine round on the stream-built graph never loses
  edge recall (candidates ⊇ kept lists — the q239/q272 exchange
  argument, asserted on the query's own output);
- session.warm_collation: idempotent per session, never raises.
"""

import math

import duckdb
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.functions.hashing import (
    hash32_py,
)
from wetsa_cams_solrad_timeseries_spark.plans.scale_ops import (
    _AUC_POS,
    _BLOOM_K,
    _BLOOM_M,
    _DSIR_N,
    _DSIR_TARGET,
    _DSIR_V,
    _MMR_CAND,
    _MMR_LAMBDA,
    _MMR_N,
    q275_bloom_semijoin,
    q276_mmr_rerank,
    q277_group_auc,
    q279_dsir_selection,
)


def _duck(sf_dir, table_name):
    con = duckdb.connect()
    return con.execute(
        f"SELECT * FROM '{sf_dir}/{table_name}.parquet'"
    ).fetch_df()


def _bloom_positions(key: int) -> list[int]:
    return [hash32_py(f"{i}:{key}") % _BLOOM_M for i in range(_BLOOM_K)]


def test_bloom_no_false_negatives_and_python_parity(spark, sf_dir):
    row = q275_bloom_semijoin(spark, sf_dir).collect()[0]
    # Structural sanity: bloom passes everything that truly matches.
    assert row["n_true"] <= row["n_bloom_pass"] <= row["n_fact"]

    # Independent Python replay of the same MD5 bit positions.
    sup = _duck(sf_dir, "supplier")
    nat = _duck(sf_dir, "nation")
    reg = _duck(sf_dir, "region")
    li = _duck(sf_dir, "lineitem")
    nk = set(
        nat.merge(reg, left_on="n_regionkey", right_on="r_regionkey")
        .query("r_name == 'EUROPE'")["n_nationkey"]
    )
    qual = set(sup[sup["s_nationkey"].isin(nk)]["s_suppkey"])
    bits = set()
    for k in qual:
        bits.update(_bloom_positions(int(k)))
    n_pass = n_true = 0
    for k in li["l_suppkey"]:
        k = int(k)
        if all(p in bits for p in _bloom_positions(k)):
            n_pass += 1
        if k in qual:
            n_true += 1
    assert row["n_fact"] == len(li)
    assert row["n_bloom_pass"] == n_pass
    assert row["n_true"] == n_true
    # No false negatives, bit-level: every qualified key passes.
    for k in qual:
        assert all(p in bits for p in _bloom_positions(int(k)))


def test_mmr_is_the_greedy_optimum(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.catalog import table
    from wetsa_cams_solrad_timeseries_spark.functions.arrays import (
        cosine_similarity,
        to_double_array,
    )
    from wetsa_cams_solrad_timeseries_spark.operators.similarity import (
        brute_force_topk,
    )

    out = q276_mmr_rerank(spark, sf_dir).collect()
    by_query: dict[int, list] = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    # 8 queries x positions 1..N, all neighbors distinct per query.
    assert len(by_query) == 8
    for q, rows in by_query.items():
        assert sorted(r["pos"] for r in rows) == list(range(1, _MMR_N + 1))
        assert len({r["neighbor_id"] for r in rows}) == _MMR_N

    emb = table(spark, sf_dir, "embeddings")
    cand = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=_MMR_CAND
    ).collect()
    vecs = emb.select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    a = vecs.select(F.col("vec_id").alias("i"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("j"), F.col("v").alias("vb"))
    cand_ids = {r["query_id"] for r in cand} | {r["neighbor_id"] for r in cand}
    sims = (
        a.join(b, F.col("i") < F.col("j"))
        .filter(F.col("i").isin(list(cand_ids)) & F.col("j").isin(list(cand_ids)))
        .select(
            "i",
            "j",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")) + F.lit(1e-9), 6
            ).alias("s"),
        )
        .collect()
    )
    sim = {}
    for r in sims:
        sim[(r["i"], r["j"])] = r["s"]
        sim[(r["j"], r["i"])] = r["s"]

    for q, rows in by_query.items():
        cl = sorted(
            [r for r in cand if r["query_id"] == q],
            key=lambda r: (-r["cosine"], r["neighbor_id"]),
        )
        rel = {r["neighbor_id"]: r["cosine"] for r in cl}
        selected = []
        for pos in range(1, _MMR_N + 1):
            best = None
            for d in sorted(rel):
                if d in selected:
                    continue
                ms = max((sim[(d, s)] for s in selected), default=0.0)
                score = _MMR_LAMBDA * rel[d] - (1 - _MMR_LAMBDA) * ms
                if best is None or score > best[0] + 1e-12:
                    best = (score, d)
            selected.append(best[1])
            got = next(r for r in rows if r["pos"] == pos)
            assert got["neighbor_id"] == best[1], (q, pos)
            assert abs(got["mmr_score"] - round(best[0] + 1e-9, 6)) < 2e-6


def test_group_auc_matches_rank_method(spark, sf_dir):
    out = {r["grp"]: r for r in q277_group_auc(spark, sf_dir).collect()}
    o = _duck(sf_dir, "orders")
    o["label"] = o["o_orderpriority"].isin(list(_AUC_POS))
    for grp, g in o.groupby("o_orderstatus"):
        ranks = g["o_totalprice"].rank(method="average")
        n_pos = int(g["label"].sum())
        n_neg = len(g) - n_pos
        u = ranks[g["label"]].sum() - n_pos * (n_pos + 1) / 2
        auc = u / (n_pos * n_neg)
        row = out[grp]
        assert row["n_pos"] == n_pos and row["n_neg"] == n_neg
        assert abs(row["auc"] - auc) < 1e-6


def test_dsir_scores_match_python_recount(spark, sf_dir):
    out = q279_dsir_selection(spark, sf_dir).collect()
    assert len(out) == _DSIR_N
    docs = _duck(sf_dir, "documents")
    from collections import Counter

    cnt_t: Counter = Counter()
    cnt_r: Counter = Counter()
    doc_buckets: dict[int, Counter] = {}
    for _, d in docs.iterrows():
        toks = [t for t in d["text"].split() if t]
        bc = Counter(hash32_py(t) % _DSIR_V for t in toks)
        if d["source"] == _DSIR_TARGET:
            cnt_t.update(bc)
        else:
            cnt_r.update(bc)
            doc_buckets[int(d["doc_id"])] = bc
    tt, tr = sum(cnt_t.values()), sum(cnt_r.values())
    lr = {
        b: round(
            math.log(
                ((cnt_t.get(b, 0) + 1) / (tt + _DSIR_V))
                / ((cnt_r.get(b, 0) + 1) / (tr + _DSIR_V))
            )
            * 1e6
            + 1e-9
        )
        for b in set(cnt_t) | set(cnt_r)
    }
    scores = {
        did: sum(c * lr[b] for b, c in bc.items())
        for did, bc in doc_buckets.items()
    }
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_DSIR_N]
    got = [(r["doc_id"], r["score_unats"]) for r in out]
    assert got == expect


def test_streaming_capped_descent_monotone(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        q278_streaming_capped_descent,
    )

    rows = {r["round"]: r for r in
            q278_streaming_capped_descent(spark, sf_dir).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n_true"] == rows[1]["n_true"] > 0
    # The capped round's candidates contain the kept lists, so a true
    # edge is only ever displaced by a closer (hence true) edge.
    assert rows[1]["edge_recall"] >= rows[0]["edge_recall"]


def test_warm_collation_idempotent(spark):
    from wetsa_cams_solrad_timeseries_spark.session import (
        _WARMED_SESSIONS,
        warm_collation,
    )

    warm_collation(spark)
    warm_collation(spark)
    assert spark.sparkContext.applicationId in _WARMED_SESSIONS
    # The session still evaluates case mapping fine after the warmup.
    assert (
        spark.range(1).select(F.lower(F.lit("ABC")).alias("x")).collect()[0]["x"]
        == "abc"
    )


def _py_shingles(text: str) -> set[int]:
    words = text.strip().lower().split()
    if len(words) >= 2:
        shs = {f"{a} {b}" for a, b in zip(words, words[1:])}
    else:
        shs = {" ".join(words)}
    return {hash32_py(s) for s in shs}


def test_hll_registers_match_python(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.scale_ops import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_TAIL,
        q280_hll_cardinality,
    )

    out = {r["scope"]: r for r in q280_hll_cardinality(spark, sf_dir).collect()}
    ev = _duck(sf_dir, "events")

    def rank_of(h: int) -> tuple[int, int]:
        idx, w = h >> _HLL_TAIL, h & ((1 << _HLL_TAIL) - 1)
        if w == 0:
            return idx, _HLL_TAIL + 1
        return idx, _HLL_TAIL - w.bit_length() + 1

    regs: dict[str, dict[int, int]] = {}
    for _, r in ev.iterrows():
        idx, rk = rank_of(hash32_py(str(int(r["user_id"]))))
        d = regs.setdefault(r["event_type"], {})
        d[idx] = max(d.get(idx, 0), rk)
    merged: dict[int, int] = {}
    for d in regs.values():
        for i, rk in d.items():
            merged[i] = max(merged.get(i, 0), rk)
    regs["__merged__"] = merged

    for scope, d in regs.items():
        z = (_HLL_M - len(d)) + sum(2.0 ** -rk for rk in d.values())
        v = _HLL_M - len(d)
        raw = _HLL_ALPHA * _HLL_M * _HLL_M / z
        est = _HLL_M * math.log(_HLL_M / v) if (raw <= 2.5 * _HLL_M and v > 0) else raw
        assert abs(out[scope]["hll_est"] - est) < 2e-6, scope
    exact_all = ev["user_id"].nunique()
    assert out["__merged__"]["exact_users"] == exact_all
    # The register estimate is in the right ballpark for HLL at this m.
    assert 0.5 * exact_all <= out["__merged__"]["hll_est"] <= 2.0 * exact_all


def test_cms_overestimates_only_and_matches_python(spark, sf_dir):
    from collections import Counter

    from wetsa_cams_solrad_timeseries_spark.plans.scale_ops import (
        _CMS_D,
        _CMS_W,
        q281_cms_heavy_hitters,
    )

    out = q281_cms_heavy_hitters(spark, sf_dir).collect()
    docs = _duck(sf_dir, "documents")
    cnt: Counter = Counter()
    for t in docs["text"]:
        cnt.update(w for w in t.split() if w)
    cells = [Counter() for _ in range(_CMS_D)]
    for tok, c in cnt.items():
        for i in range(_CMS_D):
            cells[i][hash32_py(f"{i}:{tok}") % _CMS_W] += c
    for r in out:
        assert r["cms_cnt"] >= r["exact_cnt"] >= 1
        assert r["overcount"] == r["cms_cnt"] - r["exact_cnt"]
        est = min(
            cells[i][hash32_py(f"{i}:{r['tok']}") % _CMS_W]
            for i in range(_CMS_D)
        )
        assert r["cms_cnt"] == est and r["exact_cnt"] == cnt[r["tok"]]


def test_knn_label_gate_support_sums_to_corpus(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.scale_ops import (
        _KNN_SAMPLE_MOD,
        q282_knn_label_gate,
    )

    out = q282_knn_label_gate(spark, sf_dir).collect()
    emb = _duck(sf_dir, "embeddings")
    emb = emb[emb["vec_id"] % _KNN_SAMPLE_MOD == 0]
    assert sum(r["n"] for r in out) == len(emb)
    by_label = emb.groupby("label").size().to_dict()
    for r in out:
        assert r["n"] == by_label[r["label"]]
        assert 0 <= r["n_correct"] <= r["n"]
        assert abs(r["acc"] - round(r["n_correct"] / r["n"] + 1e-9, 6)) < 1e-9


def test_streaming_bloom_no_false_negatives_python_parity(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.scale_ops import (
        _SBLOOM_K,
        _SBLOOM_M,
        q283_streaming_bloom_screen,
    )

    out = q283_streaming_bloom_screen(spark, sf_dir).collect()
    docs = _duck(sf_dir, "documents")
    hist = set()
    for _, d in docs[docs["doc_id"] % 10 != 7].iterrows():
        hist |= _py_shingles(d["text"])
    bits = set()
    for h in hist:
        for i in range(_SBLOOM_K):
            bits.add(hash32_py(f"{i}:{h}") % _SBLOOM_M)
    got = {r["doc_id"]: r for r in out}
    new = docs[docs["doc_id"] % 10 == 7]
    assert len(got) == len(new)
    for _, d in new.iterrows():
        shs = _py_shingles(d["text"])
        n_maybe = sum(
            1
            for h in shs
            if all(
                hash32_py(f"{i}:{h}") % _SBLOOM_M in bits
                for i in range(_SBLOOM_K)
            )
        )
        n_exact = len(shs & hist)
        r = got[int(d["doc_id"])]
        # OR-semilattice drained state == batch bitmap, so the counts
        # replay exactly; a bloom can never false-negative.
        assert r["n_sh"] == len(shs)
        assert r["n_maybe"] == n_maybe >= n_exact == r["n_exact"]


def test_streaming_hll_equals_batch_registers(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.scale_ops import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_TAIL,
        q284_streaming_hll,
    )

    row = q284_streaming_hll(spark, sf_dir).collect()[0]
    ev = _duck(sf_dir, "events")
    regs: dict[int, int] = {}
    for u in ev["user_id"]:
        h = hash32_py(str(int(u)))
        idx, w = h >> _HLL_TAIL, h & ((1 << _HLL_TAIL) - 1)
        rk = _HLL_TAIL + 1 if w == 0 else _HLL_TAIL - w.bit_length() + 1
        regs[idx] = max(regs.get(idx, 0), rk)
    z = (_HLL_M - len(regs)) + sum(2.0 ** -rk for rk in regs.values())
    v = _HLL_M - len(regs)
    raw = _HLL_ALPHA * _HLL_M * _HLL_M / z
    est = _HLL_M * math.log(_HLL_M / v) if (raw <= 2.5 * _HLL_M and v > 0) else raw
    # MAX-semilattice: the drained stream state equals the batch build,
    # so the estimate replays exactly.
    assert abs(row["hll_est"] - est) < 2e-6
    assert row["exact_users"] == ev["user_id"].nunique()


def test_serving_ir_metrics_consistency(spark, sf_dir):
    from wetsa_cams_solrad_timeseries_spark.plans.vector import (
        _Q285_IDCG,
        _Q285_K,
        q285_serving_ir_metrics,
    )

    rows = q285_serving_ir_metrics(spark, sf_dir).collect()
    assert len(rows) == 50  # one row per query
    for r in rows:
        assert 0 <= r["first_hit"] <= _Q285_K
        if r["first_hit"] == 0:
            assert r["rr"] == 0.0 and r["dcg"] == 0.0 and r["ndcg"] == 0.0
        else:
            assert abs(r["rr"] - round(1.0 / r["first_hit"] + 1e-9, 6)) < 1e-9
            # binary relevance: dcg is bounded by the ideal
            assert 0 < r["dcg"] <= _Q285_IDCG + 1e-6
            assert abs(r["ndcg"] - round(r["dcg"] / _Q285_IDCG + 1e-9, 6)) < 2e-6
            assert r["ndcg"] <= 1.0 + 1e-9
