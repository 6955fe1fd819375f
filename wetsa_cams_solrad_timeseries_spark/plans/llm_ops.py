"""LLM-data-pipeline query inventory: deduplication, text analysis,
similarity search, multimodal plumbing (the north-star extension surface).

Cross-engine determinism: all hashing goes through the portable
``hash32``/md5 primitives (functions/hashing.py) so Spark, DuckDB, and the
Python test oracles agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wetsa_cams_solrad_timeseries_spark.catalog import table


# --------------------------------------------------------------------------
# q31 — exact deduplication (hash-groupBy)
# --------------------------------------------------------------------------
def q31_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: group by content hash, keep the lowest doc_id as
    the canonical survivor. One hash-aggregate on md5(text) — the 100 TB
    plan groups on the digest (16 bytes) rather than the full text so the
    shuffle carries fixed-width keys."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


Q31_ORACLE = """
SELECT md5(text) AS text_md5,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# q36 — token counting + text quality scoring
# --------------------------------------------------------------------------
_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")


def quality_score_expr(text: F.Column) -> F.Column:
    """The composite quality score as a single JVM-side expression —
    shared by q36 (per-doc metrics) and the q90 curation funnel so the
    scoring rule has exactly one definition per engine (SQL twin:
    :func:`quality_score_sql`). Unrounded; callers round for output."""
    words = F.split(F.trim(text), r"\s+")
    n_tokens = F.size(words).cast("long")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))).cast("long")
    n_chars = F.length(text).cast("long")
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    stop_ratio = n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)).cast("double")
    alpha_ratio = n_alpha.cast("double") / F.nullif(n_chars, F.lit(0)).cast("double")
    return (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + alpha_ratio * 0.3
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.2
    )


def quality_score_sql(text: str = "text") -> str:
    """DuckDB twin of :func:`quality_score_expr` (unrounded)."""
    n_tokens = f"len(string_split_regex(trim({text}), '\\s+'))"
    n_stop = (
        f"len(list_filter(string_split_regex(trim({text}), '\\s+'),"
        f" w -> w IN {_STOP_SQL}))"
    )
    n_alpha = f"length(regexp_replace({text}, '[^a-zA-Z]', '', 'g'))"
    return (
        f"(least({n_tokens} / 100.0, 1.0) * 0.5"
        f" + (CAST({n_alpha} AS DOUBLE) / nullif(length({text}), 0)) * 0.3"
        f" + least((CAST({n_stop} AS DOUBLE) / nullif({n_tokens}, 0)) * 5.0, 1.0) * 0.2)"
    )


def q36_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: whitespace token count, BPE-ish regex
    token count, char stats, stopword ratio, and a composite quality score.
    Pure JVM-side expressions — per-row, no shuffle, scan-parallel at any
    scale."""
    docs = table(spark, sf_dir, "documents")
    text = F.col("text")
    words = F.split(F.trim(text), r"\s+")
    n_tokens = F.size(words).cast("long")
    n_bpeish = F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")).cast("long")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))).cast("long")
    n_chars = F.length(text).cast("long")
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    stop_ratio = n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)).cast("double")
    alpha_ratio = n_alpha.cast("double") / F.nullif(n_chars, F.lit(0)).cast("double")
    return docs.select(
        "doc_id",
        "lang",
        n_chars.alias("n_chars_computed"),
        n_tokens.alias("n_tokens"),
        n_bpeish.alias("n_bpeish_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(stop_ratio + F.lit(1e-9), 6).alias("stopword_ratio"),
        F.round(alpha_ratio + F.lit(1e-9), 6).alias("alpha_ratio"),
        F.round(quality_score_expr(text) + F.lit(1e-9), 6).alias("quality_score"),
    )


_STOP_SQL = "('the','a','an','and','or','of','to','in','is','on')"

Q36_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, text,
         length(text) AS n_chars_computed,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpeish_tokens,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w IN {_STOP_SQL})) AS n_stopwords,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
  FROM documents
)
SELECT doc_id, lang, n_chars_computed, n_tokens, n_bpeish_tokens, n_stopwords,
       round(CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0) + 1e-9, 6) AS stopword_ratio,
       round(CAST(n_alpha AS DOUBLE) / nullif(n_chars_computed, 0) + 1e-9, 6) AS alpha_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.5
             + (CAST(n_alpha AS DOUBLE) / nullif(n_chars_computed, 0)) * 0.3
             + least((CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0)) * 5.0, 1.0) * 0.2 + 1e-9, 6) AS quality_score
FROM base
"""


# --------------------------------------------------------------------------
# Shared oracle SQL fragments (cross-engine hash + shingling; see
# functions/hashing.py for the Spark/Python twins)
# --------------------------------------------------------------------------
def _h32(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


# Distinct hashed word-bigram shingles per doc (documents with <2 words
# contribute their whole normalized text) — twin of dedup.word_shingles(n=2).
_SHINGLES_SQL = f"""
w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
),
sh0 AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 2
              THEN list_distinct([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))])
              ELSE [array_to_string(ws, ' ')] END AS shs
  FROM w
),
sh AS (
  SELECT DISTINCT doc_id, {_h32('s')} AS h
  FROM (SELECT doc_id, unnest(shs) AS s FROM sh0)
)
"""


def shingles_sql_from(src: str) -> str:
    """``_SHINGLES_SQL`` re-pointed at an arbitrary CTE/table — the
    dedup shingle chain is stage-composable (q229 runs it over the
    quality+exact-dedup survivor set, not the raw corpus)."""
    return _SHINGLES_SQL.replace("FROM documents", f"FROM {src}")


# --------------------------------------------------------------------------
# q32 — n-gram Jaccard near-dup pairs (verification-stage all-pairs)
# --------------------------------------------------------------------------
def q32_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard similarity pairs ≥ 0.3. This corpus is
    dense-vocabulary (≈900 distinct bigrams over 5k docs), so the blocked
    bitmap-matmul kernel applies (operators/dedup.py:jaccard_pairs_dense —
    block-pair applyInPandas, no driver materialization of the corpus;
    only the small vocab is collected). The kernel's built-in regime
    guard (bounded vocabulary probe, default 65536) falls back to the
    sparse self-join ``jaccard_pairs`` when the vocabulary exceeds the
    dense precondition, so this declared query is safe on ANY corpus
    shape; both regimes compute the identical measure."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        jaccard_pairs_dense,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=2)
    return jaccard_pairs_dense(sh, "doc_id", threshold=0.3)


Q32_ORACLE = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common * 1.0 / (sa.sz + sb.sz - n_common) + 1e-9, 6) AS jaccard
FROM co
JOIN sizes sa ON co.id_a = sa.doc_id
JOIN sizes sb ON co.id_b = sb.doc_id
WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common) + 1e-9, 6) >= 0.3
"""


# --------------------------------------------------------------------------
# q33 — MinHash + LSH candidate pairs (the scale path for dedup)
# --------------------------------------------------------------------------
_N_PERM, _BANDS = 16, 4

def q33_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingle → MinHash signature (16 perms) → 4-band LSH bucketing →
    distinct candidate pairs. Linear in corpus size; the only pairwise
    work is within buckets."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=2)
    sigs = minhash_signatures(sh, "doc_id", n_perm=_N_PERM)
    return lsh_candidate_pairs(sigs, "doc_id", n_perm=_N_PERM, bands=_BANDS)


def _minhash_cols() -> str:
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_perm_coeffs,
    )

    return ",\n         ".join(
        f"min((h * {a} + {b}) % {MINHASH_PRIME}) AS mh{p}"
        for p, (a, b) in enumerate(minhash_perm_coeffs(_N_PERM))
    )


_MINHASH_COLS = _minhash_cols()
_BAND_ROWS = _N_PERM // _BANDS
_BAND_LIST = ", ".join(
    "md5(concat_ws('_', '{b}', {cols}))".format(
        b=b,
        cols=", ".join(
            f"CAST(mh{b * _BAND_ROWS + i} AS VARCHAR)" for i in range(_BAND_ROWS)
        ),
    )
    for b in range(_BANDS)
)

Q33_ORACLE = f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q244_streaming_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q33's MinHash-LSH near-dup discovery riding the ingest stream —
    the CROSS-BATCH member the streaming curation family was missing
    (q234's quality gate and q236's decontamination are per-batch
    screens against static sides; near-dup needs STATE, because a
    duplicate's partner may have arrived hours earlier): each
    micro-batch appends its band rows to the accumulated band index
    (batchId-gated generations, pairs-write-last commit gate) and probes
    the index with its own bands, emitting canonicalized candidate
    pairs. A pair surfaces exactly once — in the batch where its
    later-arriving member lands — so the drained set is independent of
    batch boundaries and arrival order, and the oracle is q33's batch
    SQL VERBATIM (the q207 index ≡ recompute discipline applied to the
    stream): stream-built near-dup ≡ one-pass batch LSH, proven at the
    pair-set surface.

    Scale shape: per batch one shingle→signature pass over the NEW
    shard only (history text never re-read) + one band equi-join of
    delta-sized new bands against the index — q193's probe shape on a
    stream; at 100 TB the generation dirs become the bucketed band
    table and the hot-bucket cap (q209) bounds probe fan-out."""
    from wetsa_cams_solrad_timeseries_spark.plans.curation import (
        _split_documents,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.lsh_stream import (
        streaming_lsh_pairs,
    )

    split_dir = _split_documents(spark, sf_dir, n_files=3)
    return streaming_lsh_pairs(
        spark, split_dir, n_perm=_N_PERM, bands=_BANDS
    )


# --------------------------------------------------------------------------
# q209 — LSH candidate pairs under a hot-bucket occupancy cap
# --------------------------------------------------------------------------

_Q209_CAP = 2


def q209_lsh_bucket_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q33's LSH candidate generation with the HOT-BUCKET CAP applied —
    the boilerplate-skew lever for web-scale corpora: buckets holding
    millions of near-identical boilerplate pages make the within-bucket
    pair join quadratic in occupancy, so the index keeps only the
    ``cap`` lowest-id rows per bucket (deterministic retention,
    operators/dedup.py:cap_bucket_occupancy) before pairing. cap=2 here
    so the cap BINDS on this corpus (its occupancy histogram tops out at
    3–4); production sets it orders of magnitude higher. The recall
    trade-off is closed-form (bucket_cap_pair_retention, pytest-verified)
    and capped pairs remain a SUBSET of q33's — a dropped pair can still
    surface via any other band the two documents share.

    Scale shape: identical to q33 plus one row_number window partitioned
    by the SAME bucket key the join shuffles on — under the corpus-scale
    sort-merge join the capped plan's Exchange count EQUALS the uncapped
    q33 plan's (7 = 7, pytest-locked with broadcast disabled), and the
    cap itself executes mostly map-side via WindowGroupLimit pre-shuffle
    pruning (a hot bucket ships ≤ cap rows per map partition, never its
    full occupancy). The oracle replays the cap as a QUALIFY over the
    identical banding SQL."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        cap_bucket_occupancy,
        lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=2)
    sigs = minhash_signatures(sh, "doc_id", n_perm=_N_PERM)
    banded = lsh_band_rows(sigs, "doc_id", n_perm=_N_PERM, bands=_BANDS)
    capped = cap_bucket_occupancy(banded, "doc_id", cap=_Q209_CAP)
    # Band id is hashed into the bucket digest (lsh_band_rows), so the
    # bucket alone is the complete join key — q193's probe convention.
    a = capped.select(F.col("doc_id").alias("id_a"), "bucket")
    b_ = capped.select(F.col("doc_id").alias("id_b"), "bucket")
    return (
        a.join(b_, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


Q209_ORACLE = f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
),
capped AS (
  SELECT doc_id, bucket FROM (
    SELECT doc_id, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= {_Q209_CAP}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------------------------
# q62 — full MinHash-LSH dedup pipeline: candidates → exact verify
# --------------------------------------------------------------------------
def q62_minhash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete scale-path dedup: shingle → MinHash → LSH candidate
    pairs (corpus-linear) → exact Jaccard computed ONLY on candidates →
    threshold → canonical survivor choice (min doc_id per duplicate
    pair). This is q33 ∘ q32's verify stage with the quadratic part
    confined to bucket-mates — the composition that actually runs at
    100 TB."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    # localCheckpoint, not persist: three consumers reuse sh, and a
    # persist() here is never unpersisted (q72 re-invokes this fn and
    # would pin a SECOND copy for the process lifetime); checkpointed
    # blocks are released by the ContextCleaner once unreferenced.
    sh = word_shingles(docs, "doc_id", "text", n=2).localCheckpoint(eager=True)
    sigs = minhash_signatures(sh, "doc_id", n_perm=_N_PERM)
    cand = lsh_candidate_pairs(sigs, "doc_id", n_perm=_N_PERM, bands=_BANDS)

    # Exact Jaccard restricted to candidate pairs: join each side's
    # shingle set sizes + the pairwise common count over candidates only.
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingle_hash").alias("h"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingle_hash").alias("h"))
    common = (
        cand.join(a, on="id_a").join(b, on=["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        common.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")), on="id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")), on="id_b")
        .select(
            "id_a", "id_b",
            F.round(jac + F.lit(1e-9), 6).alias("jaccard"),
            F.least("id_a", "id_b").alias("keep_doc_id"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


Q62_ORACLE = f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       round(n_common * 1.0 / (za.sz + zb.sz - n_common) + 1e-9, 6) AS jaccard,
       least(id_a, id_b) AS keep_doc_id
FROM common
JOIN sizes za ON za.doc_id = id_a
JOIN sizes zb ON zb.doc_id = id_b
WHERE round(n_common * 1.0 / (za.sz + zb.sz - n_common) + 1e-9, 6) >= 0.5
"""


# --------------------------------------------------------------------------
# q72 — duplicate CLUSTERS: connected components over verified dup pairs
# --------------------------------------------------------------------------
def q72_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate-group resolution: the q62 verified pairs are a
    graph; A~B, B~C must collapse into ONE cluster even though (A, C) was
    never emitted. Min-label propagation (operators/graph.py) finds each
    node's component; output is (doc_id, cluster_rep = min id in the
    cluster — the canonical survivor, cluster_size)."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.operators.graph import (
        connected_components,
    )

    pairs = q62_minhash_dedup_verified(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs)
    w = Window.partitionBy("cluster_rep")
    return (
        comp.select(
            F.col("node").alias("doc_id"), F.col("comp").alias("cluster_rep")
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


def _q72_oracle() -> str:
    # Reuses q62's verified-pair chain, then computes components with a
    # recursive CTE (reachability closure; min reachable id = component).
    return f"""
WITH RECURSIVE {_SHINGLES_SQL.lstrip()},
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY c.id_a, c.id_b
),
dup AS (
  SELECT id_a, id_b FROM common
  JOIN sizes za ON za.doc_id = id_a
  JOIN sizes zb ON zb.doc_id = id_b
  WHERE round(n_common * 1.0 / (za.sz + zb.sz - n_common) + 1e-9, 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM dup
  UNION
  SELECT id_b AS src, id_a AS dst FROM dup
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.node = e.dst
),
comps AS (SELECT node AS doc_id, min(comp) AS cluster_rep FROM walk GROUP BY node)
SELECT doc_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM comps
"""


# --------------------------------------------------------------------------
# q34 — SimHash signatures
# --------------------------------------------------------------------------
def q34_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (bit-majority over hashed word
    occurrences) — the shuffle-free dedup signature."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import simhash

    docs = table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=32)


_VOTE_COLS = ",\n         ".join(
    f"sum(((h >> {b}) & 1) * 2 - 1) AS v{b}" for b in range(32)
)
_SIG_SUM = " + ".join(
    f"(CASE WHEN v{b} >= 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)" for b in range(32)
)

Q34_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
),
words AS (
  SELECT doc_id, {_h32('word')} AS h
  FROM (SELECT doc_id, unnest(ws) AS word FROM w)
),
votes AS (
  SELECT doc_id,
         {_VOTE_COLS}
  FROM words GROUP BY doc_id
)
SELECT doc_id, {_SIG_SUM} AS simhash FROM votes
"""


# --------------------------------------------------------------------------
# q35 — document fingerprints (rolling-hash / winnowing family)
# --------------------------------------------------------------------------
def q35_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-content MD5 + min/max 32-bit hashes of rolling word 5-grams
    (edit-stable fingerprints; see operators/text.py)."""
    from wetsa_cams_solrad_timeseries_spark.operators.text import fingerprints

    docs = table(spark, sf_dir, "documents")
    return fingerprints(docs, "doc_id", "text", shingle_words=5)


Q35_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
),
base AS (
  SELECT doc_id, array_to_string(ws, ' ') AS norm,
         CASE WHEN len(ws) >= 5
              THEN [array_to_string(ws[i:i+4], ' ') FOR i IN range(1, len(ws) - 3)]
              ELSE [array_to_string(ws, ' ')] END AS shs
  FROM w
),
hashed AS (
  SELECT doc_id, norm, [{_h32('s')} FOR s IN shs] AS hs FROM base
)
SELECT doc_id,
       md5(norm) AS fp_md5,
       list_min(hs) AS fp_min_shingle,
       list_max(hs) AS fp_max_shingle,
       len(hs) AS n_shingles
FROM hashed
"""


# --------------------------------------------------------------------------
# q64 — TF-IDF (long form, DataFrame-native)
# --------------------------------------------------------------------------
def q64_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF over the corpus, restricted to terms in ≥5 docs
    (operators/text.py:tfidf — real terms, no feature hashing, so the
    DuckDB oracle can reproduce it exactly)."""
    from wetsa_cams_solrad_timeseries_spark.operators.text import tfidf

    docs = table(spark, sf_dir, "documents")
    return tfidf(docs, "doc_id", "text", min_df=5)


Q64_ORACLE = """
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) >= 5
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       round(ln((n_docs + 1.0) / (df + 1.0)) + 1.0 + 1e-9, 6) AS idf,
       round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) + 1e-9, 6) AS tfidf
FROM tf JOIN dfreq USING (term) CROSS JOIN n
"""


# --------------------------------------------------------------------------
# q37 — language identification (marker-word heuristic)
# --------------------------------------------------------------------------
def q37_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap n-gram/function-word language ID with a deterministic
    tie-broken argmax (operators/text.py)."""
    from wetsa_cams_solrad_timeseries_spark.operators.text import lang_scores

    docs = table(spark, sf_dir, "documents")
    return lang_scores(docs, "doc_id", "text")


def _langid_oracle() -> str:
    from wetsa_cams_solrad_timeseries_spark.operators.text import LANG_MARKERS

    langs = list(LANG_MARKERS)
    score_defs = ",\n         ".join(
        "len(list_filter(ws, x -> x IN ({vals}))) AS score_{lang}".format(
            vals=", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang=lang
        )
        for lang in langs
    )
    cases = []
    for lang in langs:
        conds = [f"score_{lang} > 0"]
        for other in langs:
            if langs.index(other) < langs.index(lang):
                conds.append(f"score_{lang} > score_{other}")
            elif other != lang:
                conds.append(f"score_{lang} >= score_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS lang_label,
         {score_defs}
  FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents)
)
SELECT doc_id, lang_label, {', '.join(f'score_{lang}' for lang in langs)},
       {case_sql} AS lang_pred
FROM scored
"""


# --------------------------------------------------------------------------
# q97 — tokenizer statistics (whitespace vs BPE-ish regex segmentation)
# --------------------------------------------------------------------------
# ASCII-explicit classes so the Java (Spark) and RE2 (DuckDB) engines
# segment identically; the corpus is ASCII (verified for q41).
_Q97_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\r]"


def q97_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count statistics per (lang, source): whitespace tokens vs a
    BPE-ish pre-tokenization (word runs + single punctuation marks — the
    split every byte-pair tokenizer starts from), plus chars-per-token,
    the standard budget/quality diagnostic for training-data curation.
    Pure JVM expressions (regexp_extract_all + size), scan-parallel, one
    aggregation shuffle on the tiny (lang, source) key space."""
    docs = table(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )
    bpe_tokens = F.size(
        F.expr(f"regexp_extract_all(text, '{_Q97_TOKEN_RE}', 0)")
    )
    per_doc = docs.select(
        "lang",
        "source",
        ws_tokens.alias("ws_tokens"),
        bpe_tokens.alias("bpe_tokens"),
        F.col("n_chars"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("sum_ws_tokens"),
        F.sum("bpe_tokens").alias("sum_bpe_tokens"),
        F.round(F.avg("bpe_tokens") + F.lit(1e-9), 6).alias("avg_bpe_tokens"),
        F.round(
            F.sum("n_chars") / F.sum("bpe_tokens") + F.lit(1e-9), 6
        ).alias("chars_per_token"),
    )


Q97_ORACLE = f"""
WITH per_doc AS (
  SELECT lang, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r]+'))
         END AS ws_tokens,
         len(regexp_extract_all(text, '{_Q97_TOKEN_RE}')) AS bpe_tokens,
         n_chars
  FROM documents
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS sum_ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
       round(avg(bpe_tokens) + 1e-9, 6) AS avg_bpe_tokens,
       round(CAST(sum(n_chars) AS DOUBLE) / sum(bpe_tokens) + 1e-9, 6)
           AS chars_per_token
FROM per_doc
GROUP BY lang, source
"""


# --------------------------------------------------------------------------
# q221 — dedup candidate-quality gate: LSH S-curve measured, not assumed
# --------------------------------------------------------------------------

_Q221_TAUS = (0.3, 0.5, 0.7)


def q221_dedup_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q211 "measure, don't guess" discipline applied to the DEDUP
    family: how good are q33's MinHash-LSH candidates against exact
    n-gram-Jaccard truth, per similarity threshold? For each τ in
    {0.3, 0.5, 0.7}: n_true (exact pairs with Jaccard ≥ τ), hits (of
    those, how many the banded index surfaced), recall, and precision
    of the fixed candidate set against τ-truth. This is the measured
    version of the LSH S-curve P(collide) = 1 − (1 − s^r)^b (r=4 rows,
    b=4 bands here) — the number a production dedup pipeline checks
    BEFORE trusting banding parameters at a new similarity bar, exactly
    as q211/q212/q215 gate the ANN indexes before serving. On this
    synthetic corpus every true pair is a near-exact duplicate, so the
    gate reads 1.0 across the ladder — itself a useful audit result
    ("banding is not the bottleneck here"); the S-curve's bend, where
    recall decays at lower τ, is exercised on a constructed
    mid-similarity corpus in
    tests/test_dedup_text.py::test_dedup_gate_scurve_bends.

    Both inputs are verified operators (q32's exact dense-bitmap kernel,
    q33's banded candidates); the gate composes them through one
    left-join + a 3-row threshold fan-out, and the oracle composes the
    SAME two verified SQL bodies — recall arithmetic cross-checked end
    to end.

    Scale shape: the exact side is the gate's cost and runs on a BOUNDED
    audit sample in production (here the corpus is the sample); the
    candidate side and the join are pair-sized; thresholds are a 3-row
    broadcast."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        jaccard_pairs_dense,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=2)
    exact = jaccard_pairs_dense(sh, "doc_id", threshold=min(_Q221_TAUS))
    cand = lsh_candidate_pairs(
        minhash_signatures(sh, "doc_id", n_perm=_N_PERM),
        "doc_id", n_perm=_N_PERM, bands=_BANDS,
    ).localCheckpoint(eager=True)
    marked = exact.join(
        F.broadcast(cand.withColumn("is_cand", F.lit(1))),
        on=["id_a", "id_b"],
        how="left",
    ).select(
        "jaccard", F.coalesce("is_cand", F.lit(0)).alias("is_cand")
    )
    taus = spark.createDataFrame([(t,) for t in _Q221_TAUS], "tau double")
    # Threshold fan-out as a Cross broadcast of the 3-row ladder +
    # conditional aggregation (a >= range join would plan as a non-Cross
    # BroadcastNestedLoopJoin, which the plan audit rightly flags).
    per = (
        marked.crossJoin(F.broadcast(taus))
        .groupBy("tau")
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("tau"), 1).otherwise(0)
            ).alias("n_true"),
            F.sum(
                F.when(
                    F.col("jaccard") >= F.col("tau"), F.col("is_cand")
                ).otherwise(0)
            ).alias("hits"),
        )
    )
    ncand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    return per.crossJoin(F.broadcast(ncand)).select(
        "tau",
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_cand").cast("long").alias("n_cand"),
        F.col("hits").cast("long").alias("hits"),
        F.round(
            F.col("hits").cast("double")
            / F.nullif(F.col("n_true").cast("double"), F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("recall"),
        F.round(
            F.col("hits").cast("double") / F.col("n_cand") + F.lit(1e-9), 6
        ).alias("precision"),
    )


Q221_ORACLE = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b,
         round(n_common * 1.0 / (sa.sz + sb.sz - n_common) + 1e-9, 6)
           AS jaccard
  FROM co
  JOIN sizes sa ON co.id_a = sa.doc_id
  JOIN sizes sb ON co.id_b = sb.doc_id
  WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common) + 1e-9, 6)
          >= {min(_Q221_TAUS)}
),
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST}]) AS bucket
  FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
ncand AS (SELECT count(*) AS n_cand FROM cand),
marked AS (
  SELECT e.jaccard,
         CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
  FROM exact e
  LEFT JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b
),
taus(tau) AS (VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in _Q221_TAUS)}),
per AS (
  SELECT t.tau,
         sum(CASE WHEN m.jaccard >= t.tau THEN 1 ELSE 0 END) AS n_true,
         sum(CASE WHEN m.jaccard >= t.tau THEN m.is_cand ELSE 0 END) AS hits
  FROM marked m CROSS JOIN taus t
  GROUP BY 1
)
SELECT tau,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_cand AS BIGINT) AS n_cand,
       CAST(hits AS BIGINT) AS hits,
       round(CAST(hits AS DOUBLE) / nullif(CAST(n_true AS DOUBLE), 0) + 1e-9, 6)
         AS recall,
       round(CAST(hits AS DOUBLE) / n_cand + 1e-9, 6) AS precision
FROM per CROSS JOIN ncand
"""


# --------------------------------------------------------------------------
# q246 — LSH banding SLA: minimal band count meeting candidate recall
# --------------------------------------------------------------------------

_Q246_BANDINGS = (2, 4, 8)
_Q246_TAU = 0.5
_Q246_TARGET = 0.9


def q246_banding_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate→derive tuning discipline (q216 IVF / q228 hybrid / q235
    graph / q243 PCA) applied to the DEDUP family: q33's banding (b=4,
    r=4) is a hand-picked point on the LSH S-curve — here the whole
    banding ladder over the SAME 16-permutation signatures is measured
    against exact Jaccard-τ truth and the minimal band count meeting
    candidate recall ≥ 0.9 is flagged. Cost is the band count itself:
    b IS the index rows per document and the probe fan-out, so the
    cheapest met rung is what a production dedup index should persist.

    Structural monotonicity (pytest-locked): a banding's bands are
    concatenations of the next-finer banding's — equality of an r=4
    minhash block implies equality of both r=2 halves — so the
    candidate sets NEST (cand(b=2) ⊆ cand(b=4) ⊆ cand(b=8)) and recall
    is non-decreasing in b; the ladder shows where it saturates (the
    q221 flat-S-curve convention applies on this near-exact-dup
    corpus).

    Scale shape: ONE shingle pass and ONE signature pass shared by all
    rungs (checkpointed); each rung is a band explode (b× signature
    rows) + one bucket self-join + a pair-sized audit join; the exact
    truth side is the gate's cost and runs on a bounded audit sample in
    production (here the corpus is the sample). Oracle: the shared
    shingle/signature SQL + one banding CTE per rung + the pick as a
    scalar subquery."""
    from wetsa_cams_solrad_timeseries_spark.operators.dedup import (
        jaccard_pairs_dense,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from wetsa_cams_solrad_timeseries_spark.plans.vector import _pick_cheapest

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=2).localCheckpoint(
        eager=True  # consumed by the exact truth AND the signatures
    )
    exact = (
        jaccard_pairs_dense(sh, "doc_id", threshold=_Q246_TAU)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)  # one audit join per rung
    )
    sigs = minhash_signatures(sh, "doc_id", n_perm=_N_PERM).localCheckpoint(
        eager=True  # one banding per rung
    )
    nt = exact.agg(F.count(F.lit(1)).alias("nt"))
    rows = None
    for b in _Q246_BANDINGS:
        cand = lsh_candidate_pairs(sigs, "doc_id", n_perm=_N_PERM, bands=b)
        h = exact.join(cand, on=["id_a", "id_b"]).agg(
            F.count(F.lit(1)).alias("h")
        )
        r = (
            nt.crossJoin(F.broadcast(h))
            .select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(_N_PERM // b).cast("long").alias("rows_per_band"),
                F.lit(_Q246_TAU).alias("tau"),
                F.col("nt").cast("long").alias("n_true"),
                F.col("h").cast("long").alias("hits"),
                F.round(
                    F.col("h").cast("double")
                    / F.nullif(F.col("nt").cast("double"), F.lit(0.0))
                    + F.lit(1e-9),
                    6,
                ).alias("recall"),
            )
            .withColumn(
                "met",
                F.coalesce(
                    F.col("recall") >= F.lit(float(_Q246_TARGET)), F.lit(False)
                ),
            )
        )
        rows = r if rows is None else rows.unionByName(r)
    return _pick_cheapest(rows, "bands")


def _band_list_sql(bands: int) -> str:
    rows_per_band = _N_PERM // bands
    return ", ".join(
        "md5(concat_ws('_', '{b}', {cols}))".format(
            b=b,
            cols=", ".join(
                f"CAST(mh{b * rows_per_band + i} AS VARCHAR)"
                for i in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )


def _q246_rung_sql(bands: int) -> str:
    return f"""banded_{bands} AS (
  SELECT doc_id, unnest([{_band_list_sql(bands)}]) AS bucket
  FROM sigs
),
cand_{bands} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded_{bands} a
  JOIN banded_{bands} b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
row_{bands} AS (
  SELECT CAST({bands} AS BIGINT) AS bands,
         CAST({_N_PERM // bands} AS BIGINT) AS rows_per_band,
         CAST({_Q246_TAU} AS DOUBLE) AS tau,
         (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_true,
         (SELECT CAST(count(*) AS BIGINT)
          FROM exact e JOIN cand_{bands} c
            ON c.id_a = e.id_a AND c.id_b = e.id_b) AS hits,
         round((SELECT count(*) FROM exact e JOIN cand_{bands} c
                  ON c.id_a = e.id_a AND c.id_b = e.id_b) * 1.0
               / nullif((SELECT count(*) FROM exact), 0) + 1e-9, 6)
           AS recall
)"""


Q246_ORACLE = (
    f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b
  FROM co
  JOIN sizes sa ON co.id_a = sa.doc_id
  JOIN sizes sb ON co.id_b = sb.doc_id
  WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common) + 1e-9, 6)
          >= {_Q246_TAU}
),
sigs AS (
  SELECT doc_id,
         {_MINHASH_COLS}
  FROM sh GROUP BY doc_id
),
"""
    + ",\n".join(_q246_rung_sql(b) for b in _Q246_BANDINGS)
    + f""",
ladder AS (
"""
    + "\nUNION ALL\n".join(
        f"SELECT *, coalesce(recall >= {_Q246_TARGET}, FALSE) AS met "
        f"FROM row_{b}"
        for b in _Q246_BANDINGS
    )
    + """
)
SELECT bands, rows_per_band, tau, n_true, hits, recall, met,
       coalesce(met AND bands = (SELECT min(bands) FROM ladder WHERE met),
                FALSE) AS picked
FROM ladder
"""
)


# --------------------------------------------------------------------------
# q248 — per-source TF-IDF top terms: the corpus-characterization op
# --------------------------------------------------------------------------

_Q248_TOPK = 5


def q248_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF keyword extraction — the corpus-characterization
    member of the text family (q35 lang-id says what LANGUAGE a slice
    is, q36 how CLEAN, q97 how many TOKENS; this says what it's ABOUT):
    for every source, the top-5 terms by tf·idf with the smoothed
    sklearn-convention idf = ln((N+1)/(df+1)) + 1 — the weighting a
    mixture designer reads before assigning domain weights (q101) and
    the same statistic the BM25 retrieval path (q194) builds on.

    Determinism: scores round6 BEFORE the per-source rank (a libm ulp
    in ln() must not flip an ordering the oracle replays), ties break
    on the term string. Scale shape: one tokenize-explode (scan-stage,
    doc-length-bounded), two keyed aggregations (term×source tf,
    term df), a 1-row corpus count broadcast into the scoring join,
    and a per-source top-k window — corpus-linear, no all-pairs stage;
    at 100 TB the (term, source) aggregate is the only wide state and
    its keys are Zipf-skewed exactly where AQE skew handling applies."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .localCheckpoint(eager=True)  # consumed by the tf AND df aggs
    )
    tfs = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfs = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tfs.join(dfs, on="term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("__n") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                )
                + F.lit(1e-9),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= _Q248_TOPK)


Q248_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tok2 AS (SELECT * FROM tok WHERE term <> ''),
tfs AS (SELECT source, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tfs.source, tfs.term,
         CAST(tfs.tf AS BIGINT) AS tf,
         CAST(dfs.df AS BIGINT) AS df,
         round(tfs.tf * (ln((n.n + 1.0) / (dfs.df + 1.0)) + 1.0) + 1e-9, 6)
           AS score
  FROM tfs JOIN dfs USING (term) CROSS JOIN n
)
SELECT source, term, tf, df, score, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, term) AS rank
  FROM scored
) WHERE rank <= {_Q248_TOPK}
"""


# --------------------------------------------------------------------------
# q222 — sequence packing: concat-then-chunk layout for LM training shards
# --------------------------------------------------------------------------

_Q222_CAP = 256  # tokens per training sequence (bin capacity)


def q222_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the layout step between a curated corpus and an
    LM training run: documents are concatenated per input shard and
    chunked into fixed-capacity training sequences (the GPT-style
    "concat then chunk" packer, where a document may straddle a bin
    boundary; zero padding waste by construction). Per document:
    its whitespace-token count (q97's exact semantics), its running
    START OFFSET within the shard's token stream (cumulative sum over
    the deterministic doc_id order), and the first/last training
    sequence it lands in (integer division by the capacity). Downstream
    consumers read this as the doc→sequence index: which documents a
    given training sequence mixes, and which docs straddle boundaries
    (the attention-masking bookkeeping packers emit in practice).

    Scale shape: ONE window (cumulative sum) partitioned by the input
    shard — packing is per-shard by design, exactly as production
    packers run per input file, so the window parallelizes with shard
    count and no global ordering exists anywhere. Everything else is
    scan-stage JVM arithmetic; integer division keeps bin ids exact at
    any stream length (no float precision cliff at 100 TB offsets).

    Oracle: the same cumsum + integer-division algebra in SQL — window
    frame, zero-token edge case, and bin spans replayed."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )
    per_doc = docs.select(
        "doc_id", "source", ws_tokens.cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = per_doc.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    start_bin = F.expr(f"CAST(off DIV {_Q222_CAP} AS BIGINT)")
    end_bin = F.when(
        F.col("n_tokens") == 0, start_bin
    ).otherwise(
        F.expr(f"CAST((off + n_tokens - 1) DIV {_Q222_CAP} AS BIGINT)")
    )
    return off.select(
        "doc_id",
        "source",
        "n_tokens",
        "off",
        start_bin.alias("start_bin"),
        end_bin.alias("end_bin"),
        (end_bin > start_bin).alias("straddles"),
    )


Q222_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r]+'))
         END AS BIGINT) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS off
  FROM per_doc
)
SELECT doc_id, source, n_tokens, off,
       CAST(off // {_Q222_CAP} AS BIGINT) AS start_bin,
       CAST(CASE WHEN n_tokens = 0 THEN off // {_Q222_CAP}
            ELSE (off + n_tokens - 1) // {_Q222_CAP} END AS BIGINT)
         AS end_bin,
       (CASE WHEN n_tokens = 0 THEN off // {_Q222_CAP}
        ELSE (off + n_tokens - 1) // {_Q222_CAP} END)
         > (off // {_Q222_CAP}) AS straddles
FROM offs
"""


# --------------------------------------------------------------------------
# q225 — packing efficiency: the shard-level audit of q222's layout
# --------------------------------------------------------------------------


def q225_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-level audit of the q222 packing layout — the numbers a
    training-data owner actually reviews before a run: per input shard,
    document count, total tokens, training-sequence count
    (⌈total/capacity⌉ — concat-then-chunk pads only the final partial
    sequence), padding tokens, fill ratio, and how many documents
    straddle a sequence boundary (each straddler is an attention-mask
    seam). Composes DIRECTLY on q222's per-doc frame, so the audit and
    the layout cannot disagree; one extra aggregation shuffle on the
    shard key.

    Oracle: q222's verified SQL body nested as a CTE + the same ceiling
    division / conditional-count algebra."""
    packed = q222_sequence_packing(spark, sf_dir)
    total = F.sum("n_tokens")
    n_bins = F.expr(
        f"CAST((sum(n_tokens) + {_Q222_CAP} - 1) DIV {_Q222_CAP} AS BIGINT)"
    )
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        total.cast("long").alias("total_tokens"),
        n_bins.alias("n_bins"),
        (n_bins * _Q222_CAP - total).cast("long").alias("padding_tokens"),
        F.round(
            total.cast("double")
            / F.nullif((n_bins * _Q222_CAP).cast("double"), F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("fill_ratio"),
        F.sum(F.when(F.col("straddles"), 1).otherwise(0))
        .cast("long")
        .alias("straddlers"),
    )


Q225_ORACLE = f"""
WITH packed AS ({{Q222}})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST((sum(n_tokens) + {_Q222_CAP} - 1) // {_Q222_CAP} AS BIGINT)
         AS n_bins,
       CAST((sum(n_tokens) + {_Q222_CAP} - 1) // {_Q222_CAP}
            * {_Q222_CAP} - sum(n_tokens) AS BIGINT) AS padding_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE)
             / nullif(CAST((sum(n_tokens) + {_Q222_CAP} - 1) // {_Q222_CAP}
                           * {_Q222_CAP} AS DOUBLE), 0) + 1e-9, 6)
         AS fill_ratio,
       CAST(sum(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT)
         AS straddlers
FROM packed
GROUP BY source
""".format(Q222=Q222_ORACLE)


# --------------------------------------------------------------------------
# q226 — token-budget mixture sampling: fill per-source quotas, not row counts
# --------------------------------------------------------------------------

_Q226_BUDGET = 3000  # token quota per source


def q226_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling — how a pretraining mix is actually
    drawn: each source gets a TOKEN quota (not a row count — q87's
    stratified sampler is the row-count twin), documents are taken in a
    deterministic pseudo-shuffle order (the cross-engine hash32 of the
    doc id — reproducible data ordering is a training requirement, not
    a nicety), and a document is selected iff the source's running
    token total THROUGH it stays within the quota (greedy prefix fill,
    the standard quota semantics). Output: every document with its
    shuffle key, running total, and the selected flag — the audit view;
    the training run consumes ``WHERE selected``.

    Scale shape: one hash projection + ONE cumulative-sum window
    partitioned by source (parallel in source count, the q222
    discipline) + a scan-stage flag — no joins, no Python, no global
    order.

    Oracle: identical hash (shared MD5 primitive), identical window
    frame and comparison in SQL."""
    from pyspark.sql import Window

    from wetsa_cams_solrad_timeseries_spark.functions.hashing import hash32

    docs = table(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    ws_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"[ \t\n\r]+"))
    )
    per_doc = docs.select(
        "doc_id",
        "source",
        ws_tokens.cast("long").alias("n_tokens"),
        hash32(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w).cast("long")
    return per_doc.select(
        "doc_id",
        "source",
        "n_tokens",
        "shuffle_key",
        cum.alias("cum_tokens"),
        (cum <= _Q226_BUDGET).alias("selected"),
    )


_Q261_BUDGET = 300  # tighter than q226's 3000 so the quota BINDS (and
# with it the rejection/displacement path) at the 500-doc gate SFs too


def q261_streaming_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q226's token-budget quota riding the ingest stream — the mixer
    member of the streaming curation family (q234 quality, q236
    decontamination, q244 near-dup, q245 incremental curation): shards
    arrive as micro-batches and the per-source greedy quota is
    maintained as CROSS-BATCH STATE holding only the currently-selected
    rows (bounded by budget/min-doc-tokens per source, never
    corpus-sized). Correctness is a monotonicity theorem, not a
    scheduling accident: with non-negative token counts the batch
    rule's selected set is a PREFIX of the per-source shuffle order and
    adding documents only grows the running total, so selected(S ∪ N) ⊆
    selected(S) ∪ N — a rejected doc can never come back, merging new
    docs into the selected state and re-taking the prefix is EXACT, and
    the drained state equals the one-pass batch selection independent
    of batch boundaries and arrival order
    (streaming/mix_stream.py docstring carries the proof).

    Scale shape: per batch one scan-stage projection of the new shard +
    one cumsum window over (touched-source state ∪ batch) — state
    rows, not corpus rows; generations are _SUCCESS-gated with
    latest-wins per source for at-least-once re-execution.

    Oracle: q226's batch SQL restricted to the selected rows —
    stream ≡ batch at the selection surface, plus a Spark-side
    set-equality pytest against q226 itself."""
    from wetsa_cams_solrad_timeseries_spark.plans.curation import (
        _split_documents,
    )
    from wetsa_cams_solrad_timeseries_spark.streaming.mix_stream import (
        streaming_token_mix,
    )

    split_dir = _split_documents(spark, sf_dir, n_files=3)
    return streaming_token_mix(spark, split_dir, budget=_Q261_BUDGET)


Q226_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r]+'))
         END AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS shuffle_key
  FROM documents
)
SELECT doc_id, source, n_tokens, shuffle_key,
       CAST(sum(n_tokens) OVER (
         PARTITION BY source ORDER BY shuffle_key, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       sum(n_tokens) OVER (
         PARTITION BY source ORDER BY shuffle_key, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         <= {_Q226_BUDGET} AS selected
FROM per_doc
"""

Q261_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r]+'))
         END AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS shuffle_key
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens, shuffle_key,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY shuffle_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM per_doc
)
SELECT doc_id, source, n_tokens, shuffle_key, cum_tokens
FROM cum WHERE cum_tokens <= {_Q261_BUDGET}
"""



from wetsa_cams_solrad_timeseries_spark.plans._spec import make_specs

SPECS = make_specs(
    [
        ("q31_dedup_exact", q31_dedup_exact, Q31_ORACLE, (), "exact hash dedup"),
        ("q32_ngram_jaccard", q32_ngram_jaccard, Q32_ORACLE, (), "n-gram Jaccard near-dup pairs"),
        ("q33_minhash_lsh", q33_minhash_lsh, Q33_ORACLE, (), "MinHash+LSH candidate pairs"),
        ("q244_streaming_lsh_neardup", q244_streaming_lsh_neardup,
         Q33_ORACLE, (),
         "streaming MinHash-LSH near-dup: band index as cross-batch "
         "state, exactly-once pairs (oracle = q33's batch SQL verbatim)"),
        ("q246_banding_sla", q246_banding_sla, Q246_ORACLE, (),
         "LSH banding SLA: the (b, r) ladder over shared signatures vs "
         "exact Jaccard truth, minimal band count meeting recall picked "
         "in-plan"),
        ("q248_tfidf_top_terms", q248_tfidf_top_terms, Q248_ORACLE, (),
         "per-source TF-IDF top terms: smoothed idf, round6-before-rank "
         "determinism, per-source top-k window"),
        ("q209_lsh_bucket_cap", q209_lsh_bucket_cap, Q209_ORACLE, (),
         "LSH candidates under a hot-bucket occupancy cap (boilerplate-"
         "skew lever; deterministic lowest-id retention)"),
        ("q62_minhash_dedup_verified", q62_minhash_dedup_verified, Q62_ORACLE, (), "LSH candidates + exact verify"),
        ("q221_dedup_recall_gate", q221_dedup_recall_gate, Q221_ORACLE, (),
         "dedup candidate-quality gate: LSH recall/precision vs exact "
         "Jaccard per threshold (the measured S-curve)"),
        ("q222_sequence_packing", q222_sequence_packing, Q222_ORACLE, (),
         "sequence packing: concat-then-chunk doc->training-sequence "
         "index per shard"),
        ("q225_packing_efficiency", q225_packing_efficiency, Q225_ORACLE,
         (), "packing audit: per-shard bins, padding, fill ratio, "
         "straddlers"),
        ("q226_token_budget_mix", q226_token_budget_mix, Q226_ORACLE, (),
         "pretraining mix: per-source TOKEN quotas filled in "
         "deterministic shuffle order"),
        ("q261_streaming_token_mix", q261_streaming_token_mix,
         Q261_ORACLE, (),
         "streaming token-budget mixer: bounded selected-state quota, "
         "stream == batch selection"),
        ("q72_dedup_clusters", q72_dedup_clusters, _q72_oracle(), (), "connected-component dup clusters"),
        ("q34_simhash", q34_simhash, Q34_ORACLE, (), "SimHash signatures"),
        ("q35_fingerprints", q35_fingerprints, Q35_ORACLE, (), "rolling-hash fingerprints"),
        ("q36_text_quality", q36_text_quality, Q36_ORACLE, (), "token counts + quality score"),
        ("q37_langid", q37_langid, _langid_oracle(), (), "marker-word language ID"),
        ("q64_tfidf", q64_tfidf, Q64_ORACLE, (), "DataFrame-native TF-IDF"),
        ("q97_token_stats", q97_token_stats, Q97_ORACLE, (), "whitespace vs BPE-ish token stats"),
    ]
)
