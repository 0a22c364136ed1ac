"""Training-data-pipeline query surface: dedup, similarity search, text
analysis, and the external-enrichment UDF — over ``documents`` and
``embeddings`` (BASELINE.json north star; operators in
``operators/{dedup,similarity,text}.py``).

Every spec here is oracle-checked: the hashing primitives are md5-based and
engine-portable (functions/hashing.py), float similarity is rounded at 1e-6
before any ranking/thresholding, and ratio arithmetic mirrors operand order
exactly so IEEE doubles agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.operators import dedup, similarity
from projet_data_infrastructure_spark.operators.text import (
    LANG_MARKERS,
    bpe_ish_tokens,
    fingerprint,
    predict_lang,
    tokens,
)
from projet_data_infrastructure_spark.plans._portable import fdiv, pround, pround_sql
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import read_table, read_table_balanced

# DuckDB-side token expression (mirror of operators.text.tokens)
_TOKS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"

# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


_DEDUP_GROUPS_SQL = """
SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS keeper_id
FROM documents GROUP BY md5(text)
"""


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    return dedup.exact_dedup_keep(docs)


_DEDUP_KEEP_SQL = """
SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (
               PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
    FROM documents
) WHERE rn = 1
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs)


def _minhash_sig_sql(n_hashes: int = dedup.MINHASH_HASHES) -> str:
    mins = ",\n           ".join(
        f"min({hash64_sql('shingle', seed=j)}) AS m{j}" for j in range(n_hashes)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), sh AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 2),
                                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks WHERE len(t) >= 3
)
SELECT doc_id, {mins}
FROM sh GROUP BY doc_id
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    return dedup.lsh_candidate_pairs(sig)


def _minhash_pairs_sql() -> str:
    sig = _minhash_sig_sql()
    n_bands = dedup.MINHASH_HASHES // dedup.MINHASH_BAND_ROWS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"CAST(m{b * dedup.MINHASH_BAND_ROWS} AS VARCHAR) || '_' || "
        f"CAST(m{b * dedup.MINHASH_BAND_ROWS + 1} AS VARCHAR) AS key FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH sig AS ({sig}),
bands AS ({band_selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    return dedup.simhash_hamming_pairs(docs, max_distance=3)


def _simhash_hamming_sql() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"CAST(floor(simhash / {256**b}.0) AS BIGINT) % 256 AS byte FROM sig"
        for b in range(4)
    )
    return f"""
WITH sig AS ({_SIMHASH_SQL}),
bands AS ({band_selects}),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sig_a, b.simhash AS sig_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


def q_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MinHash production chain in one plan: signatures → LSH band
    join → exact Jaccard verification on candidates only (linear in
    candidates, never all-pairs)."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    verified = dedup.jaccard_on_candidates(docs, pairs, threshold=0.5)
    return verified.select(
        "doc_a", "doc_b", pround(F.col("jaccard_raw"), 4).alias("jaccard")
    )


def _lsh_verified_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_pairs_sql()}),
tsets AS (SELECT doc_id, list_distinct({_TOKS_SQL}) AS tset FROM documents),
j AS (
    SELECT p.doc_a, p.doc_b,
           len(list_intersect(a.tset, b.tset))
             / CAST(greatest(len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset)), 1)
                    AS DOUBLE) AS jaccard_raw
    FROM pairs p
    JOIN tsets a ON a.doc_id = p.doc_a
    JOIN tsets b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b, {pround_sql('jaccard_raw', 4)} AS jaccard
FROM j WHERE jaccard_raw >= 0.5
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters = connected components over the LSH candidate
    graph (iterative min-label propagation; oracle is a recursive CTE)."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    return dedup.duplicate_clusters(pairs)


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
)
SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
"""


def q_dedup_clusters_starstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-cluster output through the O(log² n)-round
    large-star/small-star CC (operators/dedup.py:duplicate_clusters_starstar)
    — the extreme-scale formulation; shares the recursive-CTE oracle with
    ``dedup_clusters``, so both algorithms are pinned to identical labels."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    return dedup.duplicate_clusters_starstar(pairs)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents must land
    in the SAME split, or eval metrics are contaminated by memorized
    training twins (the standard reason naive per-doc hashing is wrong for
    pretraining corpora). Group key = the doc's LSH duplicate-cluster
    component (min reachable doc_id) when it has one, else its own doc_id;
    the 80/10/10 assignment hashes the GROUP key, so a whole cluster moves
    atomically. Composition of the CC operator (bounded rounds, lineage
    cuts) + the shuffle-free hash-split projection; the only added exchange
    over ``corpus_split_assign`` is the doc_id equi-join back to the
    (duplicates-only, ≪N-row) component map. Same-split-per-pair is pinned
    by test."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    comp = dedup.duplicate_clusters(pairs)
    keyed = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(comp, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("group_key"),
        )
    )
    bucket = F.pmod(hash64(F.col("group_key")), F.lit(100))
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return keyed.select(
        "doc_id", "group_key", bucket.alias("bucket"), split.alias("split")
    )


def _leakage_safe_split_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS group_key,
       {hash64_sql('coalesce(c.component, d.doc_id)')} % 100 AS bucket,
       CASE WHEN {hash64_sql('coalesce(c.component, d.doc_id)')} % 100 < 80 THEN 'train'
            WHEN {hash64_sql('coalesce(c.component, d.doc_id)')} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health telemetry over the duplicate graph: how many clusters
    exist at each size (pairs, triples, …). A curation run watches this
    histogram drift — a sudden fat tail means a boilerplate source started
    flooding the corpus. One extra two-level agg on the component labels."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    comp = dedup.duplicate_clusters(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


def _dedup_cluster_sizes_sql() -> str:
    return f"""
WITH comp AS ({_dedup_clusters_sql()}),
sizes AS (
    SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    return dedup.simhash32(docs)


_SIMHASH_SQL = f"""
WITH toks AS (
    SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), tok AS (
    SELECT doc_id, unnest(t) AS token FROM toks
), bits AS (
    SELECT doc_id, ({hash64_sql('token')}) % 4294967296 AS h32,
           unnest(generate_series(0, 31)) AS bit
    FROM tok
), votes AS (
    SELECT doc_id, bit,
           sum(CAST(floor(h32 / power(2.0, bit)) AS BIGINT) % 2 * 2 - 1) AS vote
    FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN CAST(power(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS simhash
FROM votes GROUP BY doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, max_id=60)
    return pairs.select("doc_a", "doc_b", pround(F.col("jaccard_raw"), 4).alias("jaccard"))


_JACCARD_SQL = f"""
WITH toks AS (
    SELECT doc_id, list_distinct({_TOKS_SQL}) AS t FROM documents WHERE doc_id < 60
), tok AS (
    SELECT doc_id, unnest(t) AS token FROM toks
), sizes AS (
    SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       {pround_sql('inter / CAST(sa.sz + sb.sz - inter AS DOUBLE)', 4)} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""

# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return similarity.brute_force_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       {pround_sql('list_cosine_similarity(embedding::DOUBLE[], qv)', 6)} AS sim
FROM embeddings, q
WHERE vec_id != 0
ORDER BY sim DESC, vec_id LIMIT 10
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return similarity.neardup_pairs(emb, threshold=0.3)


_NEARDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {pround_sql('list_cosine_similarity(a.v, b.v)', 6)} AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {pround_sql('list_cosine_similarity(a.v, b.v)', 6)} >= 0.3
"""


def q_embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary near-dup query: IVF-bucketed candidates, full table, no
    nested-loop join (plan shape asserted in tests/test_plans_quality.py).

    ``n_centroids`` is derived from the table size (≈√N, floor 8) so the
    registered query keeps the 100 TB shape at any scale factor: per-bucket
    pair work is Σ|bucket|² ≈ N²/C, so C must grow with N — with C ≈ √N the
    expected total pair comparisons stay ≈ N^1.5 instead of N²."""
    # Balanced read for the heavy argmin/norm map stage (the single
    # row-group file would serialize it on one core); the row count and the
    # ≤C centroid rows come from the PLAIN scan, where count() resolves from
    # parquet metadata and the id filter pushes down — neither should pay
    # the balance shuffle.
    plain = read_table(spark, sf_dir, "embeddings")
    emb = read_table_balanced(spark, sf_dir, "embeddings")
    c = similarity.derived_n_centroids(plain.count())
    return similarity.neardup_pairs_bucketed(
        emb, threshold=0.3, n_centroids=c, centroid_src=plain
    )


# The oracle derives the SAME √N centroid count via a scalar subquery, so
# both engines pick identical seed centroids at every scale factor.
_DERIVED_C_SQL = (
    "(SELECT greatest(8, CAST(floor(sqrt(count(*)::DOUBLE)) AS INT)) FROM embeddings)"
)

_NEARDUP_BUCKETED_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < {_DERIVED_C_SQL}
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists
    ) WHERE rn = 1
), bucketed AS (
    SELECT e.vec_id, a.centroid_id, e.embedding::DOUBLE[] AS v
    FROM embeddings e JOIN assign a USING (vec_id)
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} AS sim
FROM bucketed x JOIN bucketed y
  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
WHERE {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} >= 0.3
"""


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: IVF-cluster the embeddings, call same-cluster
    cosine ≥ 0.3 pairs semantic duplicates, keep the member farthest from the
    shared centroid (deterministic domination rule — see
    ``operators.similarity.semdedup_prune``). Same √N-derived centroid count
    and balanced-scan discipline as ``embedding_neardup_bucketed``."""
    plain = read_table(spark, sf_dir, "embeddings")
    emb = read_table_balanced(spark, sf_dir, "embeddings")
    c = similarity.derived_n_centroids(plain.count())
    return similarity.semdedup_prune(
        emb, threshold=0.3, n_centroids=c, centroid_src=plain
    )


_SEMDEDUP_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < {_DERIVED_C_SQL}
), cdists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id, dist FROM (
        SELECT vec_id, centroid_id, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM cdists
    ) WHERE rn = 1
), bucketed AS (
    SELECT e.vec_id, a.centroid_id, a.dist AS cdist, e.embedding::DOUBLE[] AS v
    FROM embeddings e JOIN assign a USING (vec_id)
), pairs AS (
    SELECT x.vec_id AS vec_a, x.centroid_id, x.cdist AS da,
           y.vec_id AS vec_b, y.cdist AS db
    FROM bucketed x JOIN bucketed y
      ON x.centroid_id = y.centroid_id AND x.vec_id != y.vec_id
    WHERE {pround_sql('list_cosine_similarity(x.v, y.v)', 6)} >= 0.3
)
SELECT vec_a AS vec_id, centroid_id, count(*) AS n_dups,
       CASE WHEN max(CASE WHEN db > da OR (db = da AND vec_b < vec_a)
                          THEN 1 ELSE 0 END) = 1
            THEN 0 ELSE 1 END AS keep
FROM pairs
GROUP BY vec_a, centroid_id
"""


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_assign(emb)


_IVF_ASSIGN_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), ranked AS (
    SELECT vec_id, centroid_id, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
    FROM dists
)
SELECT vec_id, centroid_id, dist FROM ranked WHERE rn = 1
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_id=0, k=5)


_IVF_TOPK_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists
    ) WHERE rn = 1
), qbucket AS (SELECT centroid_id FROM assign WHERE vec_id = 0),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       {pround_sql('list_cosine_similarity(e.embedding::DOUBLE[], qv)', 6)} AS sim
FROM embeddings e
JOIN assign a ON a.vec_id = e.vec_id
JOIN qbucket ON a.centroid_id = qbucket.centroid_id, q
WHERE e.vec_id != 0
ORDER BY sim DESC, e.vec_id LIMIT 5
"""

def q_ivf_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_id=0, k=5, n_centroids=8, nprobe=3)


_IVF_MULTIPROBE_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists
    ) WHERE rn = 1
), qbuckets AS (
    SELECT centroid_id FROM (
        SELECT centroid_id,
               row_number() OVER (ORDER BY dist, centroid_id) AS rn
        FROM dists WHERE vec_id = 0
    ) WHERE rn <= 3
), q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       {pround_sql('list_cosine_similarity(e.embedding::DOUBLE[], qv)', 6)} AS sim
FROM embeddings e
JOIN assign a ON a.vec_id = e.vec_id
JOIN qbuckets qb ON a.centroid_id = qb.centroid_id, q
WHERE e.vec_id != 0
ORDER BY sim DESC, e.vec_id LIMIT 5
"""


_IVF_BATCH_QIDS = (3, 17, 33, 77, 91)
_IVF_BATCH_K = 5
_IVF_BATCH_NPROBE = 2


def q_ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN retrieval: 5 queries probed through the IVF buckets in
    ONE plan (`operators/similarity.py:ivf_topk_batch`) — corpus bucket/norm
    map-side, probe rows broadcast, one bucket equi-join, per-query top-k
    via WindowGroupLimit."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_batch(
        emb, list(_IVF_BATCH_QIDS), k=_IVF_BATCH_K, nprobe=_IVF_BATCH_NPROBE
    )


_IVF_BATCH_IDS_SQL = ", ".join(str(q) for q in _IVF_BATCH_QIDS)
_IVF_BATCH_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8
), dists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
), assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists
    ) WHERE rn = 1
), qbuckets AS (
    SELECT vec_id AS query_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM dists WHERE vec_id IN ({_IVF_BATCH_IDS_SQL})
    ) WHERE rn <= {_IVF_BATCH_NPROBE}
), q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id IN ({_IVF_BATCH_IDS_SQL})
), cand AS (
    SELECT qb.query_id, e.vec_id,
           {pround_sql('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 6)} AS sim
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN qbuckets qb ON a.centroid_id = qb.centroid_id
    JOIN q ON q.query_id = qb.query_id
    WHERE e.vec_id <> qb.query_id
)
SELECT query_id, rank, vec_id, sim FROM (
    SELECT query_id, vec_id, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
    FROM cand
) WHERE rank <= {_IVF_BATCH_K}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# Data selection / tokenizer prep (round-5 additions)
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_SEED = 29


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", public): score every
    document by the log-likelihood ratio of a TARGET distribution (here
    the ``lang='en'`` slice) vs the raw corpus, over hashed word-unigram
    features — the standard recipe for selecting web data that "looks
    like" a curated target set.

    Determinism discipline: the per-bucket log-ratio (Laplace-smoothed,
    the only transcendental) is computed ONCE per bucket and immediately
    quantized to integer micro-nats with the portable-round formula; every
    per-document sum is then an exact INTEGER dot product — order-free, so
    the spec hash-checks cross-engine (the `weighted_sample_topk` ln
    treatment, moved from the cut to the weights).

    Scale shape: tokens reduce to per-(doc, bucket) counts in one
    map-side-combined shuffle; the corpus/target bucket tables derive from
    THAT aggregate (≤ B rows — never a second corpus pass, checkpointed
    once); scoring joins the B-row broadcast weight table and aggregates
    ≤ B rows per doc; top-50 is TakeOrderedAndProject."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w"))
    db = (
        toks.withColumn(
            "bkt", F.pmod(hash64(F.col("w"), seed=_DSIR_SEED), F.lit(_DSIR_BUCKETS))
        )
        .groupBy("doc_id", "lang", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # reused by the stats AND the scoring pass
    )
    bc = db.groupBy("bkt").agg(
        F.sum("c").alias("cs"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(F.lit(0))).alias("ct"),
    )
    tot = bc.agg(F.sum("cs").alias("ts"), F.sum("ct").alias("tt"))
    B = float(_DSIR_BUCKETS)
    lr = F.log(
        ((F.col("ct") + 1).cast("double") / (F.col("tt") + B))
        / ((F.col("cs") + 1).cast("double") / (F.col("ts") + B))
    )
    weights = bc.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.floor(lr * F.lit(1_000_000.0) + F.lit(0.50001)).cast("long").alias("lrq"),
    )
    return (
        db.join(F.broadcast(weights), "bkt")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lrq")).alias("score_unats"))
        .orderBy(F.desc("score_unats"), F.asc("doc_id"))
        .limit(50)
    )


def _dsir_sql() -> str:
    h = hash64_sql("w", seed=_DSIR_SEED)
    return f"""
WITH toks AS (
    SELECT doc_id, lang, unnest({_TOKS_SQL}) AS w FROM documents
),
db AS (
    SELECT doc_id, lang, ({h}) % {_DSIR_BUCKETS} AS bkt, count(*) AS c
    FROM toks GROUP BY 1, 2, 3
),
bc AS (
    SELECT bkt, sum(c) AS cs,
           sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
    FROM db GROUP BY bkt
),
tot AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM bc),
weights AS (
    SELECT bkt,
           CAST(floor(ln((CAST(ct + 1 AS DOUBLE) / (tt + {_DSIR_BUCKETS}.0))
                       / (CAST(cs + 1 AS DOUBLE) / (ts + {_DSIR_BUCKETS}.0)))
                     * 1000000.0 + 0.50001) AS BIGINT) AS lrq
    FROM bc, tot
)
SELECT db.doc_id, CAST(sum(db.c * w.lrq) AS BIGINT) AS score_unats
FROM db JOIN weights w USING (bkt)
GROUP BY db.doc_id
ORDER BY score_unats DESC, db.doc_id
LIMIT 50
"""


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE/WordPiece merge step at corpus scale: the top-20 adjacent
    character pairs by corpus frequency (Sennrich et al. 2016, public) —
    what a tokenizer trainer computes before every merge.

    The WordPiece scale trick: pair statistics are computed over the WORD
    FREQUENCY TABLE, not the token stream — stage 1 is one map-side-
    combined word count (the only corpus-sized shuffle), stage 2 explodes
    adjacent pairs over DISTINCT words only (corpus-size-independent) and
    aggregates weighted by the word count. All integer → hash-exact."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # length guard BEFORE sequence(): Spark's sequence(1, 0) counts DOWN
    # ([1, 0]), it is not empty — 1-char words must never reach it.
    pairs = words.filter(F.length("w") >= 2).select(
        "c",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(20)
    )


_BPE_MERGE_SQL = f"""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')) AS w
    FROM documents
),
words AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
pairs AS (
    SELECT c, unnest(list_transform(generate_series(1, length(w) - 1),
                                    i -> substr(w, i, 2))) AS pair
    FROM words
    WHERE length(w) >= 2
)
SELECT pair, CAST(sum(c) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
"""


def q_wordpiece_merge_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 merge candidates by the WORDPIECE criterion (Schuster &
    Nakajima 2012; used by BERT): score(a,b) = count(ab) / (count(a)·
    count(b)) — likelihood gain rather than BPE's raw pair count, so rare-
    but-strongly-associated pairs win over frequent-by-chance ones.

    Integer discipline: score_pico = count(ab)·10¹² DIV (count(a)·
    count(b)) — one exact positive floor division per pair, computed in
    DECIMAL(38,0) on the Spark side and HUGEINT on the DuckDB side so the
    numerator stays exact for any int64 count (BIGINT alone wraps silently
    in non-ANSI Spark once count(ab) > ~9.2·10⁶ — ADVICE r5). Ties break
    on the pair text.

    Scale shape: the dsir/bpe discipline — ONE corpus tokenize → word-
    frequency aggregate; pair counts AND single-char marginals both derive
    from that vocabulary-bounded table, never a second corpus pass."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # pairs + marginals read this twice
    )
    chars = (
        words.select(
            "c",
            F.explode(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            ).alias("ch"),
        )
        .groupBy("ch")
        .agg(F.sum("c").alias("n_ch"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            "c",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> struct(substring(w, i, 1) AS a, substring(w, i+1, 1) AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("c").alias("n_pair"))
    )
    return (
        pairs.join(F.broadcast(chars.withColumnRenamed("ch", "a")), "a")
        .withColumnRenamed("n_ch", "n_a")
        .join(F.broadcast(chars.withColumnRenamed("ch", "b")), "b")
        .withColumnRenamed("n_ch", "n_b")
        .select(
            "a",
            "b",
            "n_pair",
            # DECIMAL(19,0) operands: the 10¹² blow-up then stays exact to
            # 38 digits (int64 count = 19 digits + 12 < 38); bare BIGINT
            # wraps silently past n_pair ≈ 9.2e6 while DuckDB would error.
            F.expr(
                "CAST((CAST(n_pair AS DECIMAL(19,0)) * 1000000000000)"
                " DIV (CAST(n_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)))"
                " AS BIGINT)"
            ).alias("score_pico"),
        )
        .orderBy(F.desc("score_pico"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


_WORDPIECE_SQL = """
WITH wtab AS (
    SELECT w, count(*) AS c FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  t -> t != '')) AS w
        FROM documents
    ) GROUP BY w
),
chars AS (
    SELECT ch, CAST(sum(c) AS BIGINT) AS n_ch FROM (
        SELECT c, unnest(list_transform(generate_series(1, length(w)),
                                        i -> substr(w, i, 1))) AS ch
        FROM wtab
    ) GROUP BY ch
),
pairs AS (
    SELECT p.a AS a, p.b AS b, CAST(sum(c) AS BIGINT) AS n_pair FROM (
        SELECT c, unnest(list_transform(generate_series(1, length(w) - 1),
                   i -> struct_pack(a := substr(w, i, 1), b := substr(w, i+1, 1)))) AS p
        FROM wtab WHERE length(w) >= 2
    ) GROUP BY p.a, p.b
)
SELECT pairs.a, pairs.b, pairs.n_pair,
       CAST(CAST(pairs.n_pair AS HUGEINT) * 1000000000000
            // (CAST(ca.n_ch AS HUGEINT) * cb.n_ch) AS BIGINT)
           AS score_pico
FROM pairs
JOIN chars ca ON pairs.a = ca.ch
JOIN chars cb ON pairs.b = cb.ch
ORDER BY score_pico DESC, pairs.a, pairs.b
LIMIT 20
"""


_BPE_ROUNDS = 3


def _bpe_pair_top1(words: DataFrame) -> DataFrame:
    """Top adjacent-token pair (count desc, pair asc) over the wrapped-token
    ``seq`` column, weighted by word frequency ``c``."""
    toks = "filter(split(seq, '\\\\|'), x -> x != '')"
    return (
        words.select(
            "c",
            F.explode(
                F.expr(
                    f"CASE WHEN size({toks}) >= 2 THEN "
                    f"transform(sequence(1, size({toks}) - 1),"
                    f" i -> struct({toks}[i-1] AS a, {toks}[i] AS b)) "
                    "ELSE array() END"
                )
            ).alias("p"),
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "c")
        .groupBy("a", "b")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
    )


def q_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE unrolled rounds of actual BPE training (Sennrich et al. 2016):
    pick the most frequent adjacent token pair, merge every non-overlapping
    occurrence left-to-right across the vocabulary, recount, repeat — the
    real tokenizer-training loop, not just the first candidate scan
    (``bpe_merge_candidates``).

    Canonical merge application without per-word Python: each token is
    wrapped in its OWN delimiters (``the`` → ``|t||h||e|``), so the string
    pattern ``|a||b|`` → ``|ab|`` never shares boundary characters between
    adjacent matches and plain ``replace()`` (leftmost non-overlapping in
    both engines) applies the merge exactly as the BPE training sweep does
    — run-of-same-char words included (a shared-delimiter encoding silently
    skips every second merge in ``aaaa``; the doubled form doesn't).

    Scale shape: stage 1 is ONE corpus tokenize → word-frequency aggregate,
    ``localCheckpoint``ed; every round after is vocabulary-bounded (pair
    explode over distinct words, a 1-row top pair broadcast back, a
    map-side replace). Corpus size never re-enters the loop — the
    WordPiece trick that makes tokenizer training feasible at 100 TB."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "c",
            F.expr(
                "array_join(transform(sequence(1, length(w)),"
                " i -> concat('|', substring(w, i, 1), '|')), '')"
            ).alias("seq"),
        )
        .localCheckpoint(eager=True)  # corpus pass runs once, rounds are lazy
    )
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        top = _bpe_pair_top1(words)
        merges.append(
            top.select(
                F.lit(r).alias("round"),
                F.col("a").alias("token_a"),
                F.col("b").alias("token_b"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").alias("n_occurrences"),
            )
        )
        words = words.crossJoin(F.broadcast(top)).select(
            "c",
            F.expr(
                "replace(seq, concat('|', a, '||', b, '|'),"
                " concat('|', a, b, '|'))"
            ).alias("seq"),
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("round")


def _bpe_train_sql() -> str:
    toks = "list_filter(string_split(seq, '|'), x -> x != '')"
    pair_cte = (
        "SELECT p.a AS a, p.b AS b, CAST(sum(c) AS BIGINT) AS cnt FROM (\n"
        "    SELECT c, unnest(CASE WHEN len({t}) >= 2 THEN\n"
        "        list_transform(generate_series(1, len({t}) - 1),\n"
        "                       i -> struct_pack(a := {t}[i], b := {t}[i+1]))\n"
        "        ELSE [] END) AS p\n"
        "    FROM {src}\n"
        ") GROUP BY p.a, p.b ORDER BY cnt DESC, a, b LIMIT 1"
    )
    parts = [
        f"""
WITH wtab AS (
    SELECT w, count(*) AS c FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  t -> t != '')) AS w
        FROM documents
    ) GROUP BY w
),
s0 AS (
    SELECT c, array_to_string(list_transform(generate_series(1, length(w)),
               i -> '|' || substr(w, i, 1) || '|'), '') AS seq
    FROM wtab
)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
p{r} AS (
    {pair_cte.format(t=toks, src=f's{r - 1}')}
),
s{r} AS (
    SELECT c, replace(seq, '|' || a || '||' || b || '|',
                      '|' || a || b || '|') AS seq
    FROM s{r - 1}, p{r}
)"""
        )
    rounds = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS token_a, b AS token_b,"
        f" a || b AS merged, cnt AS n_occurrences FROM p{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return "".join(parts) + f"\nSELECT * FROM ({rounds}) ORDER BY round"


def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode the whole corpus with the 3-round BPE
    just trained by :func:`q_bpe_train_rounds` — the deploy half of the
    tokenizer lifecycle (train once, encode every shard forever), reported
    as per-document token counts + the chars-per-token compression the
    merges bought.

    Scale shape: training stays vocabulary-bounded exactly as in
    ``bpe_train_rounds`` (the corpus enters ONCE for the checkpointed word
    frequencies); encoding touches each distinct WORD once (map-side
    replaces over |V| rows), and the corpus re-enters only as (doc_id,
    word) pairs joined against the broadcast |V|-row encode table — one
    explode, one broadcast join, one per-doc aggregate. At 100 TB this is
    the standard pre-tokenized-shard writer plan.
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "w",
            "c",
            F.expr(
                "array_join(transform(sequence(1, length(w)),"
                " i -> concat('|', substring(w, i, 1), '|')), '')"
            ).alias("seq"),
        )
        .localCheckpoint(eager=True)  # corpus pass runs once, rounds are lazy
    )
    for _ in range(_BPE_ROUNDS):
        top = _bpe_pair_top1(vocab)
        vocab = vocab.crossJoin(F.broadcast(top)).select(
            "w",
            "c",
            F.expr(
                "replace(seq, concat('|', a, '||', b, '|'),"
                " concat('|', a, b, '|'))"
            ).alias("seq"),
        )
    enc = vocab.select(
        "w",
        F.expr("size(filter(split(seq, '\\\\|'), x -> x != ''))")
        .cast("long")
        .alias("n_tok"),
        F.length("w").cast("long").alias("n_chars_w"),
    )
    doc_words = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    return (
        doc_words.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars_w").alias("n_word_chars"),
        )
        .orderBy("doc_id")
    )


def _bpe_encode_sql() -> str:
    toks = "list_filter(string_split(seq, '|'), x -> x != '')"
    pair_cte = (
        "SELECT p.a AS a, p.b AS b, CAST(sum(c) AS BIGINT) AS cnt FROM (\n"
        "    SELECT c, unnest(CASE WHEN len({t}) >= 2 THEN\n"
        "        list_transform(generate_series(1, len({t}) - 1),\n"
        "                       i -> struct_pack(a := {t}[i], b := {t}[i+1]))\n"
        "        ELSE [] END) AS p\n"
        "    FROM {src}\n"
        ") GROUP BY p.a, p.b ORDER BY cnt DESC, a, b LIMIT 1"
    )
    parts = [
        """
WITH wtab AS (
    SELECT w, count(*) AS c FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  t -> t != '')) AS w
        FROM documents
    ) GROUP BY w
),
s0 AS (
    SELECT w, c, array_to_string(list_transform(generate_series(1, length(w)),
               i -> '|' || substr(w, i, 1) || '|'), '') AS seq
    FROM wtab
)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
p{r} AS (
    {pair_cte.format(t=toks, src=f's{r - 1}')}
),
s{r} AS (
    SELECT w, c, replace(seq, '|' || a || '||' || b || '|',
                         '|' || a || b || '|') AS seq
    FROM s{r - 1}, p{r}
)"""
        )
    return "".join(parts) + f""",
enc AS (
    SELECT w, CAST(len({toks}) AS BIGINT) AS n_tok,
           CAST(length(w) AS BIGINT) AS n_chars_w
    FROM s{_BPE_ROUNDS}
),
doc_words AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t != '')) AS w
    FROM documents
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars_w) AS BIGINT) AS n_word_chars
FROM doc_words JOIN enc USING (w)
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    t = F.col("text")
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    punct = F.length(F.regexp_replace(F.lower(t), "[a-z0-9\\s]", ""))
    stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"])))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_measured"),
        pround(
            F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
            / F.greatest(n_tokens, F.lit(1)).cast("double"),
            4,
        ).alias("avg_token_len"),
        pround(punct / F.greatest(n_chars, F.lit(1)).cast("double"), 4).alias("punct_ratio"),
        pround(stop / F.greatest(n_tokens, F.lit(1)).cast("double"), 4).alias("stopword_ratio"),
    )


_EN = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
_PUNCT_SQL = "length(regexp_replace(lower(text), '[a-z0-9" + "\\" + "s]', '', 'g'))"
_AVG_TOK_LEN = pround_sql(
    "coalesce(list_sum(list_transform(t, x -> length(x))), 0) / CAST(greatest(len(t), 1) AS DOUBLE)", 4
)
_PUNCT_RATIO = pround_sql(f"{_PUNCT_SQL} / CAST(greatest(length(text), 1) AS DOUBLE)", 4)
_STOP_RATIO = pround_sql(
    f"len(list_filter(t, x -> x IN ({_EN}))) / CAST(greatest(len(t), 1) AS DOUBLE)", 4
)
_TEXT_STATS_SQL = f"""
WITH base AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_measured,
       {_AVG_TOK_LEN} AS avg_token_len,
       {_PUNCT_RATIO} AS punct_ratio,
       {_STOP_RATIO} AS stopword_ratio
FROM base
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select("doc_id", F.col("lang").alias("lang_labeled"), predict_lang(toks).alias("lang_pred"))


def _lang_id_sql() -> str:
    hits = ",\n       ".join(
        f"len(list_filter(t, x -> x IN ({', '.join(chr(39) + w + chr(39) for w in words)}))) AS s_{lang}"
        for lang, words in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN s_{lg} = g THEN '{lg}'" for lg in langs)
    return f"""
WITH base AS (SELECT doc_id, lang, {_TOKS_SQL} AS t FROM documents),
scored AS (SELECT doc_id, lang, {hits} FROM base),
g AS (SELECT *, {greatest} AS g FROM scored)
SELECT doc_id, lang AS lang_labeled,
       CASE WHEN g = 0 THEN 'und' {case} ELSE 'und' END AS lang_pred
FROM g
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    t = F.col("text")
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    punct = F.length(F.regexp_replace(F.lower(t), "[a-z0-9\\s]", "")) / F.greatest(
        n_chars, F.lit(1)
    ).cast("double")
    stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))) / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct)
        + F.lit(0.3) * stop
    )
    return docs.select(
        "doc_id",
        pround(score, 4).alias("quality"),
        F.when(score >= 0.6, F.lit("high"))
        .when(score >= 0.4, F.lit("medium"))
        .otherwise(F.lit("low"))
        .alias("quality_bucket"),
    )


_QUALITY_SQL = f"""
WITH base AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),
m AS (
    SELECT doc_id,
           0.4 * least(len(t) / 100.0, 1.0)
         + 0.3 * (1.0 - {_PUNCT_SQL} / CAST(greatest(length(text), 1) AS DOUBLE))
         + 0.3 * (len(list_filter(t, x -> x IN ({_EN}))) / CAST(greatest(len(t), 1) AS DOUBLE)) AS score
    FROM base
)
SELECT doc_id, {pround_sql('score', 4)} AS quality,
       CASE WHEN score >= 0.6 THEN 'high' WHEN score >= 0.4 THEN 'medium' ELSE 'low' END
           AS quality_bucket
FROM m
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


_FINGERPRINT_SQL = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    return docs.select("doc_id", F.size(bpe_ish_tokens(F.col("text"))).alias("n_bpe_tokens"))


_BPE_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER)
           AS n_bpe_tokens
FROM documents
"""

def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).

    Two keyed aggregations + a broadcast scalar + one window — the shuffle
    carries (doc_id, term) counts, never the documents. Score is rounded
    BEFORE ranking so ties cut identically cross-engine."""
    from pyspark.sql.window import Window

    docs = read_table_balanced(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = tf.join(dfreq, "term").join(F.broadcast(n_docs))
    tfidf = pround(
        F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")), 4
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select("doc_id", "term", tfidf.alias("tfidf"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


_TFIDF_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, tf.term AS term,
           {pround_sql('tf * ln((n_docs + 1) / CAST(df + 1 AS DOUBLE))', 4)} AS tfidf
    FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
    FROM scored
)
SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM ranked WHERE rnk <= 3
"""


#: Fixed retrieval query for the BM25 spec — mid-frequency corpus terms so
#: the idf actually discriminates (the vocabulary is synthetic and stable).
_BM25_QUERY = ("spark", "join", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed query — the retrieval scorer
    TF-IDF (``tfidf_top_terms``) is not: saturating tf and length
    normalization (k1=1.2, b=0.75, Lucene idf = ln(1 + (N−df+0.5)/(df+0.5))).

    Scale shape: ONE token explode feeds ONE per-doc aggregate that
    produces both the doc length and the per-query-term tf as conditional
    counts (the query is fixed, so terms become columns, not join rows) —
    the corpus is tokenized exactly once and the only data-sized shuffle is
    the doc_id aggregate. df and the corpus stats fold out of the same
    per-doc frame into a one-row broadcast. Per-term contributions are
    added left-to-right in fixed query order so float addition order is
    identical in both engines — a bare sum over exploded rows would be
    partition-order-dependent at the ULP level. (The previous form
    aggregated tokens twice — per-doc length and (doc, term) tf separately
    — and joined them back: same numbers, 2× the tokenize work and two
    extra shuffles.)"""
    docs = read_table_balanced(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    nq = len(_BM25_QUERY)
    # localCheckpoint: per_doc feeds BOTH the corpus-stats fold and the
    # scoring projection, and their column pruning differs enough that
    # Catalyst plans two separate subtrees (no ReusedExchange) — without the
    # checkpoint the corpus is tokenized twice (verified in the executed
    # plan; the plan gate asserts one Generate). per_doc is |docs| × 4 ints.
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("term") == t).cast("long")).alias(f"tf{i}")
            for i, t in enumerate(_BM25_QUERY)
        ],
    ).localCheckpoint()
    stats = per_doc.agg(
        F.sum("dl").alias("sum_dl"),
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(nq)
        ],
    )
    matched = per_doc.filter(
        sum((F.col(f"tf{i}") for i in range(1, nq)), F.col("tf0")) > 0
    )
    base = matched.join(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def contrib(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(
            (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
        )
        tfn = (tf * F.lit(_BM25_K1 + 1.0)) / (
            tf
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl)
        )
        return F.when(tf > 0, idf * tfn).otherwise(F.lit(0.0))

    score = contrib(0)
    for i in range(1, nq):
        score = score + contrib(i)
    return (
        base.select("doc_id", pround(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


_BM25_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl, count(*) AS n_docs FROM dl),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM tok
    WHERE term IN ('spark', 'join', 'scan') GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
base AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl, stats.sum_dl, stats.n_docs
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
per_term AS (
    SELECT doc_id, term,
           ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))
              + CAST(1.0 AS DOUBLE))
           * ((tf * CAST({_BM25_K1 + 1.0!r} AS DOUBLE))
              / (tf + CAST({_BM25_K1!r} AS DOUBLE)
                     * (CAST({1.0 - _BM25_B!r} AS DOUBLE)
                        + CAST({_BM25_B!r} AS DOUBLE) * dl
                          / (CAST(sum_dl AS DOUBLE) / n_docs)))) AS c
    FROM base
),
scored AS (
    SELECT doc_id,
           {pround_sql(
               "coalesce(sum(CASE WHEN term = 'spark' THEN c END), 0.0)"
               " + coalesce(sum(CASE WHEN term = 'join' THEN c END), 0.0)"
               " + coalesce(sum(CASE WHEN term = 'scan' THEN c END), 0.0)", 4)} AS bm25
    FROM per_term GROUP BY doc_id
)
SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
"""


_FH_DIM = 512  # feature-hash buckets (Weinberger et al. 2009 hashing trick)
_FH_TOK_SEED = 19  # token → bucket hash seed
_FH_W_SEED = 17  # bucket → weight hash seed ("pretrained" deterministic model)


def q_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE over the corpus —
    the model-apply stage every CCNet-style curation pipeline runs at full
    corpus scale (Joulin et al. 2016 classifier shape; Weinberger et al.
    2009 feature hashing).

    The "pretrained model" is a deterministic weight table w(b) ∈ [-1000,
    1000] milli-units derived from the seeded portable hash of the bucket
    id, so BOTH engines materialize identical weights from pure expression
    text — no stored artifact, no join: each token maps to its bucket and
    the bucket maps to its weight inline. Score = Σ_tokens w(bucket(tok)),
    all BIGINT exact; keep = score > 0.

    Scale shape: tokenize-explode is map-only; the ONE exchange is the
    per-doc aggregate (map-side combined). At 100 TB a real weight vector
    would broadcast (D·8 bytes); the inline-hash form here has the same
    plan minus even that broadcast.
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    bucket = hash64(F.col("tok"), _FH_TOK_SEED) % _FH_DIM
    w_milli = hash64(bucket.cast("string"), _FH_W_SEED) % 2001 - 1000
    return (
        toks.select("doc_id", w_milli.alias("w_milli"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_milli").alias("score_milli"),
        )
        .withColumn("keep", F.col("score_milli") > 0)
        .orderBy("doc_id")
    )


_HASHED_LINEAR_SQL = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t != '')) AS tok
    FROM documents
),
wtd AS (
    SELECT doc_id,
           {hash64_sql(f"({hash64_sql('tok', _FH_TOK_SEED)} % {_FH_DIM})", _FH_W_SEED)}
               % 2001 - 1000 AS w_milli
    FROM toks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w_milli) AS BIGINT) AS score_milli,
       CAST(sum(w_milli) AS BIGINT) > 0 AS keep
FROM wtd GROUP BY doc_id ORDER BY doc_id
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents salted with synthetic PII (email/IP/SSN/
    phone derived from doc_id), so the redaction path is exercised on every
    row, not just on whatever the corpus happens to contain."""
    from projet_data_infrastructure_spark.operators.text import redact_pii

    docs = read_table_balanced(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789 tel +1 555 000 1234"),
    )
    red = redact_pii(salted)
    # was_redacted compares against the SALTED input — comparing against the
    # original text would be vacuously true (the salt itself differs).
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        (red != salted).alias("was_redacted"),
    )


_PII_SQL = r"""
WITH salted AS (
    SELECT doc_id, text,
           text || ' contact user' || doc_id || '@example.com at 10.0.'
                || (doc_id % 256) || '.7 ssn 123-45-6789 tel +1 555 000 1234' AS s
    FROM documents
),
red AS (
    SELECT doc_id, s,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\+?\d[\d \-]{7,}\d', '<PHONE>', 'g') AS redacted
    FROM salted
)
SELECT doc_id, redacted, redacted != s AS was_redacted FROM red
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced corpus downsampling with a deterministic hash draw:
    keep all minority-language docs, downsample English to 30%."""
    from projet_data_infrastructure_spark.operators.text import stratified_sample_hash

    docs = read_table(spark, sf_dir, "documents")
    rates = {"en": 0.3, "fr": 1.0, "de": 1.0, "es": 1.0, "zh": 1.0}
    return stratified_sample_hash(docs, "lang", rates).select("doc_id", "lang")


def _stratified_sql() -> str:
    u = f"({hash64_sql('doc_id', seed=7)}) % 1000000 / 1000000.0"
    return f"""
SELECT doc_id, lang FROM documents
WHERE {u} < CASE lang WHEN 'en' THEN 0.3
                      WHEN 'fr' THEN 1.0 WHEN 'de' THEN 1.0
                      WHEN 'es' THEN 1.0 WHEN 'zh' THEN 1.0
                      ELSE 0.0 END
"""


def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: drop every cluster member except the
    component representative (min doc id); singletons untouched. One
    left-anti join against the (small) cluster assignment."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    clusters = dedup.duplicate_clusters(dedup.lsh_candidate_pairs(sig))
    drop = clusters.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id")


def _dedup_cluster_keep_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_pairs_sql()}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
),
cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
SELECT d.doc_id FROM documents d
LEFT JOIN cc ON d.doc_id = cc.node AND cc.node != cc.component
WHERE cc.node IS NULL
"""


def q_token_length_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing histogram: docs bucketed by BPE-ish token count into
    power-of-two context bins, with mean fill ratio per bin — the planning
    input for length-grouped batch packing. Fixed when-chain (no float log2)
    so the bin edges are engine-exact."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    n = F.size(bpe_ish_tokens(F.col("text")))
    bucket = (
        F.when(n <= 64, 64)
        .when(n <= 128, 128)
        .when(n <= 256, 256)
        .when(n <= 512, 512)
        .when(n <= 1024, 1024)
        .otherwise(2048)
    )
    return (
        docs.select(bucket.cast("int").alias("ctx_bin"), n.alias("n_tok"))
        .groupBy("ctx_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            pround(F.avg(F.col("n_tok") / F.col("ctx_bin").cast("double")), 4).alias(
                "mean_fill"
            ),
        )
    )


_TOKEN_BINS_SQL = r"""
WITH n AS (
    SELECT CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
               AS n_tok
    FROM documents
), b AS (
    SELECT n_tok,
           CASE WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
                WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END AS ctx_bin
    FROM n
)
SELECT CAST(ctx_bin AS INTEGER) AS ctx_bin, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       {MEAN_FILL} AS mean_fill
FROM b GROUP BY ctx_bin
""".replace("{MEAN_FILL}", pround_sql("avg(n_tok / CAST(ctx_bin AS DOUBLE))", 4))


# --------------------------------------------------------------------------
# §2.9 external-enrichment UDF surface: the commute-distance call
# (commute_validation.py:20-61) with a deterministic md5 stub (SURVEY §7.3) —
# the only Python UDF in the engine, Arrow-batched, and still oracle-checked
# because the stub is the portable hash.
# --------------------------------------------------------------------------


def _stub_distance_series(address):
    # Deterministic stand-in for the Distance Matrix API: portable md5-based
    # hash of the address → metres in [0, 30000). Vectorized over an Arrow
    # batch (pandas Series in, Series out).
    import hashlib

    return address.map(lambda a: int(hashlib.md5(str(a).encode()).hexdigest()[:15], 16) % 30000)


def q_commute_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    # No type annotations on purpose: `from __future__ import annotations`
    # turns them into strings pandas_udf can't resolve; the explicit
    # returnType + single-arg form selects the scalar pandas UDF path.
    stub_distance_m = pandas_udf(_stub_distance_series, "long")

    cust = read_table(spark, sf_dir, "customer")
    mode = (
        F.when(F.col("c_custkey") % 3 == 0, F.lit("walking"))
        .when(F.col("c_custkey") % 3 == 1, F.lit("bicycling"))
        .otherwise(F.lit("other"))
    )
    dist = stub_distance_m(F.col("c_name"))
    limit = F.when(mode == "walking", F.lit(15000)).when(mode == "bicycling", F.lit(25000))
    return cust.select(
        "c_custkey",
        mode.alias("transport_mode"),
        F.when(limit.isNotNull(), dist).alias("calculed_distance"),
        F.when(limit.isNotNull(), dist <= limit).alias("is_valid"),
        F.when(limit.isNull(), F.lit("unsupported transport mode")).alias("error_message"),
    )


_COMMUTE_SQL = f"""
WITH base AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 3 = 0 THEN 'walking'
                WHEN c_custkey % 3 = 1 THEN 'bicycling'
                ELSE 'other' END AS transport_mode,
           {hash64_sql('c_name')} % 30000 AS dist
    FROM customer
)
SELECT c_custkey, transport_mode,
       CASE WHEN transport_mode IN ('walking', 'bicycling') THEN dist END AS calculed_distance,
       CASE WHEN transport_mode = 'walking' THEN dist <= 15000
            WHEN transport_mode = 'bicycling' THEN dist <= 25000 END AS is_valid,
       CASE WHEN transport_mode NOT IN ('walking', 'bicycling')
            THEN 'unsupported transport mode' END AS error_message
FROM base
"""


# --------------------------------------------------------------------------
# Composed corpus-curation pipeline — the operators above chained the way a
# training-data pipeline actually runs them: quality score → language gate →
# near-dup removal (minhash-LSH losers dropped) → curated doc set. One plan,
# still whole-stage-codegen end to end, still oracle-checked.
# --------------------------------------------------------------------------


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_balanced(spark, sf_dir, "documents")
    t = F.col("text")
    toks = tokens(t)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(F.lower(t), "[a-z0-9\\s]", "")) / F.greatest(
        F.length(t), F.lit(1)
    ).cast("double")
    stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))) / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct)
        + F.lit(0.3) * stop
    )
    scored = docs.select("doc_id", "lang", "text", score.alias("q"))
    # Persist the gated corpus: three consumers below (signature build, join
    # back, final projection) would otherwise re-run the scoring scan each.
    # At lake scale this intermediate is a checkpointed table.
    kept = scored.filter((F.col("q") >= 0.3) & F.col("lang").isin("en", "fr", "de", "es")).persist()

    # near-dup removal: drop the higher doc_id of every LSH candidate pair
    sig = dedup.minhash_signatures(kept)
    pairs = dedup.lsh_candidate_pairs(sig)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    curated = kept.join(losers, "doc_id", "left_anti")
    return curated.select("doc_id", "lang", pround(F.col("q"), 4).alias("quality"))


def _curation_sql() -> str:
    pairs = _minhash_pairs_sql().replace("FROM documents", "FROM kept_docs")
    return f"""
WITH scored AS (
    SELECT doc_id, lang, text,
           0.4 * least(len({_TOKS_SQL}) / 100.0, 1.0)
         + 0.3 * (1.0 - {_PUNCT_SQL} / CAST(greatest(length(text), 1) AS DOUBLE))
         + 0.3 * (len(list_filter({_TOKS_SQL}, x -> x IN ({_EN})))
                  / CAST(greatest(len({_TOKS_SQL}), 1) AS DOUBLE)) AS q
    FROM documents
), kept_docs AS (
    SELECT * FROM scored WHERE q >= 0.3 AND lang IN ('en', 'fr', 'de', 'es')
), losers AS (
    SELECT DISTINCT doc_b AS doc_id FROM ({pairs})
)
SELECT k.doc_id, k.lang, {pround_sql('k.q', 4)} AS quality
FROM kept_docs k LEFT JOIN losers l ON k.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projet_data_infrastructure_spark.operators.text import rolling_min_fingerprint

    docs = read_table_balanced(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_min_fingerprint(F.col("text")).alias("sketch"))


_NORM_SQL = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_ROLLING_SQL = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
SELECT doc_id,
       list_min(list_transform(generate_series(1, greatest(length(norm) - 7, 1), 4),
                               i -> {hash64_sql('substr(norm, i, 8)')})) AS sketch
FROM n
"""


def q_salted_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projet_data_infrastructure_spark.operators.scale import salted_count_avg

    orders = read_table(spark, sf_dir, "orders")
    out = salted_count_avg(orders, "o_custkey", "o_totalprice", n_salts=16)
    return out.select(
        "o_custkey", "count_activity", pround(F.col("mean_duration"), 2).alias("mean_duration")
    )


_SALTED_SQL = f"""
SELECT o_custkey, count(*) AS count_activity,
       {pround_sql('avg(o_totalprice)', 2)} AS mean_duration
FROM orders GROUP BY o_custkey
"""


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact⋈dim JOIN via key salting (the join-side companion of
    ``salted_groupby_skew``): a synthetic hot key (a third of orders
    rerouted to customer 1) would funnel through one sort-merge task; the
    salted form joins on (key, salt) with the dim replicated, spreading the
    hot key across 8 tasks. The ``merge`` hint pins the shuffle join (a
    broadcast would hide the pattern at test SF), and the oracle is the
    PLAIN join — salting must not change a single row."""
    from projet_data_infrastructure_spark.operators.scale import salted_join

    orders = read_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .cast("long")
        .alias("skew_key"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).hint("merge")
    joined = salted_join(orders, cust, "skew_key", "c_custkey", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )


_SALTED_JOIN_SQL = """
WITH f AS (
    SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE o_custkey END AS skew_key,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
)
SELECT c.c_mktsegment, count(*) AS n_orders,
       CAST(sum(f.cents) AS BIGINT) AS sum_cents
FROM f JOIN customer c ON f.skew_key = c.c_custkey
GROUP BY c.c_mktsegment
"""


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    5-gram with the held-out eval split (doc_id % 10 == 0 — the benchmark
    set stand-in). The eval gram set is tiny relative to the corpus (eval
    suites are KBs, corpora are TBs), so it broadcasts; the train side is
    one linear gram pass + a broadcast hash join — no all-pairs, no
    fact-fact shuffle at 100 TB."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 5
    )
    grams = toks.select(
        "doc_id", F.explode(dedup.shingles_from_tokens("t", 5)).alias("g")
    ).distinct()
    eval_grams = grams.filter(F.col("doc_id") % 10 == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % 10 != 0)
    return (
        train.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


_DECONTAMINATION_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
    FROM toks, unnest(generate_series(1, len(t) - 4)) AS g_(i)
    WHERE len(t) >= 5
),
eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
SELECT doc_id, count(*) AS n_shared_grams
FROM grams JOIN eval_grams USING (g)
WHERE doc_id % 10 <> 0
GROUP BY doc_id
ORDER BY doc_id
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (Gopher-style quality filter):
    fraction of word 3-grams that are duplicates of an earlier 3-gram in the
    same doc. Pure per-doc aggregation — partial aggregates map-side, one
    shuffle on doc_id; no cross-document state, so it scales linearly."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 3
    )
    grams = toks.select(
        "doc_id", F.explode(dedup.shingles_from_tokens("t", 3)).alias("g")
    )
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.countDistinct("g").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_distinct",
            pround(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_ngrams").cast("double"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 ``@udtf``) driven through a correlated
    LATERAL join: one (pos, token) row per token per document.

    This is deliberately the *API* demonstration, not the hot path — the
    engine's production tokenization is the JVM ``tokens()`` family
    (`operators/text.py`, asserted Python-free by
    ``test_no_python_in_hot_paths``). A UDTF is the right tool when a Python
    library must emit a VARIABLE number of rows per input (parsers,
    chunkers); rows stream back via Arrow batches like any Python source."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string")
    class Tokenize:
        def eval(self, text):
            if text:
                for i, tok in enumerate(text.split()):
                    yield i, tok

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM docs_for_udtf d, LATERAL tokenize_udtf(d.text) t"
    )


_UDTF_TOKENIZE_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
SELECT doc_id, i - 1 AS pos, t[i] AS token
FROM toks, unnest(generate_series(1, len(t))) AS g_(i)
"""


def q_corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by portable doc_id hash
    (80/10/10). Hash-based splits are reproducible across runs, engines and
    cluster sizes — no sampling state, no shuffle at all: the assignment is
    a per-row projection, and downstream consumers filter on it with
    predicate pushdown."""
    docs = read_table(spark, sf_dir, "documents")
    from projet_data_infrastructure_spark.functions.hashing import hash64

    bucket = F.pmod(hash64(F.col("doc_id")), F.lit(100))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", bucket.alias("bucket"), split.alias("split"))


_CORPUS_SPLIT_SQL = f"""
SELECT doc_id,
       {hash64_sql('doc_id')} % 100 AS bucket,
       CASE WHEN {hash64_sql('doc_id')} % 100 < 80 THEN 'train'
            WHEN {hash64_sql('doc_id')} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length gate: keep docs between the p5 and p95
    nearest-rank percentiles of token count (a standard pretraining-corpus
    trim of truncated/run-on outliers). Nearest-rank (ceil(p·n)-th order
    statistic with a deterministic doc_id tie-break) is integer-exact, so
    both engines select the identical doc set — no interpolation ulps.
    One shuffle: rank and count share the per-lang window sort."""
    from pyspark.sql.window import Window

    docs = read_table_balanced(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens"))
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    wall = Window.partitionBy("lang")
    ranked = base.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    lo = F.ceil(F.lit(0.05) * F.col("n"))
    hi = F.ceil(F.lit(0.95) * F.col("n"))
    return ranked.filter((F.col("rn") >= lo) & (F.col("rn") <= hi)).select(
        "doc_id", "lang", "n_tokens"
    )


_LENGTH_PCTL_SQL = f"""
WITH base AS (
    SELECT doc_id, lang, len({_TOKS_SQL}) AS n_tokens FROM documents
), ranked AS (
    SELECT doc_id, lang, n_tokens,
           row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM base
)
SELECT doc_id, lang, n_tokens
FROM ranked
WHERE rn >= ceil(0.05 * n) AND rn <= ceil(0.95 * n)
"""


def q_crossdoc_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span signal (ExactSubstr-dedup-style, Lee et
    al. 2022 scaled to n-gram granularity): per doc, the fraction of its
    distinct word 8-grams that also occur in at least one OTHER document.

    Plan shape (3 keyed exchanges, verified): distinct on (doc_id, hash),
    then the sharing count as a window over the hash alone (one digest-keyed
    exchange — a count, never a self-join), then the per-doc aggregate.
    Every shuffle key includes the 60-bit portable hash, never the shingle
    string, so at 100 TB the exchanges carry 8-byte digests; the window's
    per-key state is a count, so skewed boilerplate shingles stream instead
    of buffering."""
    from projet_data_infrastructure_spark.functions.hashing import hash64
    from pyspark.sql.window import Window

    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(F.size("t") >= 8)
    sh = toks.select(
        "doc_id", F.explode(dedup.shingles_from_tokens("t", 8)).alias("g")
    ).select("doc_id", hash64(F.col("g")).alias("h")).distinct()
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        sh.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            pround(F.col("n_shared") / F.col("n_shingles").cast("double"), 6).alias(
                "shared_ratio"
            ),
        )
    )


_CROSSDOC_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (
    SELECT DISTINCT doc_id, {hash64_sql("array_to_string(t[i:i+7], ' ')")} AS h
    FROM toks, unnest(generate_series(1, len(t) - 7)) AS g_(i)
    WHERE len(t) >= 8
), counted AS (
    SELECT doc_id, count(*) OVER (PARTITION BY h) AS nd FROM sh
)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       {pround_sql('sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)', 6)}
           AS shared_ratio
FROM counted
GROUP BY doc_id
"""


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022, §4.1 —
    public): rewrite each document by deleting every word position covered
    by a 5-gram that occurs in ≥2 DISTINCT documents, then reassemble the
    surviving words in order. The complement of ``crossdoc_dup_ngrams``,
    which only *reports* the shared ratio — this produces the cleaned text
    the training pipeline actually feeds downstream.

    Plan shape: see :func:`operators.dedup.remove_duplicated_spans`."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(docs, n=5, min_docs=2)


_DUP_SPAN_REMOVAL_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
grams AS (
    SELECT doc_id, i, {hash64_sql("array_to_string(t[i:i+4], ' ')")} AS h
    FROM toks, unnest(generate_series(1, len(t) - 4)) AS g_(i)
    WHERE len(t) >= 5
), shared AS (
    SELECT h FROM (
        SELECT h, count(*) AS nd FROM (SELECT DISTINCT doc_id, h FROM grams)
        GROUP BY h
    ) WHERE nd >= 2
), covered AS (
    SELECT DISTINCT g.doc_id, g.i + off AS pos
    FROM grams g JOIN shared USING (h), unnest(generate_series(0, 4)) AS o_(off)
), words AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM toks, unnest(generate_series(1, len(t))) AS w_(i)
)
SELECT w.doc_id,
       count(*) AS n_words,
       CAST(sum(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       coalesce(
           string_agg(CASE WHEN c.doc_id IS NULL THEN w.w END, ' ' ORDER BY w.pos),
           '') AS kept_text
FROM words w LEFT JOIN covered c ON w.doc_id = c.doc_id AND w.pos = c.pos
GROUP BY w.doc_id
"""


_REPETITION_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
grams AS (
    SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
    FROM toks, unnest(generate_series(1, len(t) - 2)) AS g_(i)
    WHERE len(t) >= 3
)
SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT g) AS n_distinct,
       {pround_sql('1.0 - count(DISTINCT g) / CAST(count(*) AS DOUBLE)', 6)} AS dup_ratio
FROM grams
GROUP BY doc_id
ORDER BY doc_id
"""


def q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source sampling weight that
    equalizes TOKEN contribution across sources (doc counts are uniform in
    this corpus; token mass is not). One groupBy to per-source totals, then
    empty-frame window functions over the ≤|sources| aggregate rows — the
    global pass runs on the tiny aggregate, never the corpus. All shares
    derive from exact integer token counts, so the doubles are identical
    cross-engine."""
    from pyspark.sql.window import Window

    docs = read_table_balanced(spark, sf_dir, "documents")
    per_src = docs.select("source", F.size(tokens(F.col("text"))).alias("n_toks")).groupBy(
        "source"
    ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("total_tokens"))
    w = Window.partitionBy()
    share = F.col("total_tokens") / F.sum("total_tokens").over(w)
    out = per_src.withColumn("token_share", share).withColumn(
        "sample_weight", F.min(F.col("token_share")).over(w) / F.col("token_share")
    )
    return out.select(
        "source",
        "n_docs",
        "total_tokens",
        pround(F.col("token_share"), 6).alias("token_share"),
        pround(F.col("sample_weight"), 6).alias("sample_weight"),
    ).orderBy("source")


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual/multi-source sampling weights
    (mT5 / XLM-R recipe, α = 0.3 — public): sample source i with
    probability p_i^α / Σ_j p_j^α where p_i is its exact token share.
    α < 1 flattens the mixture — low-resource sources are up-sampled,
    the head is down-sampled; ``boost`` is the resulting up/down-sampling
    factor vs natural sampling.

    Cross-engine float discipline: p_i derives from exact BIGINT token
    sums; the Σ p^α denominator is a FOLD over the per-source powers in
    source order (array_sort → sequential ``aggregate`` here,
    ``list_reduce(list(... ORDER BY source))`` in the oracle), so float
    addition order is pinned on both engines — a bare SUM() over an
    unordered tiny frame would be nondeterministic in the last ulp. The
    global pass runs over the ≤|sources| aggregate rows, never the corpus."""
    from pyspark.sql.window import Window

    docs = read_table_balanced(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("n_toks"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("total_tokens"))
    )
    w = Window.partitionBy()
    p = F.col("total_tokens") / F.sum("total_tokens").over(w)
    q = F.pow(p, F.lit(0.3))
    ordered_q = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("source"), q.alias("q"))).over(w)),
        lambda s: s["q"],
    )
    denom = F.aggregate(ordered_q, F.lit(0.0), lambda a, b: a + b)
    out = per_src.withColumn("token_share", p).withColumn(
        "temp_weight", q / denom
    )
    return out.select(
        "source",
        "n_docs",
        "total_tokens",
        pround(F.col("token_share"), 6).alias("token_share"),
        pround(F.col("temp_weight"), 6).alias("temp_weight"),
        pround(F.col("temp_weight") / F.col("token_share"), 6).alias("boost"),
    ).orderBy("source")


_TEMPERATURE_SQL = f"""
WITH per_src AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source
), shared AS (
    SELECT source, n_docs, total_tokens,
           total_tokens / CAST(sum(total_tokens) OVER () AS DOUBLE) AS p
    FROM per_src
), denom AS (
    SELECT list_reduce(list(pow(p, 0.3) ORDER BY source), (a, b) -> a + b) AS d
    FROM shared
)
SELECT source, n_docs, total_tokens,
       {pround_sql('p', 6)} AS token_share,
       {pround_sql('pow(p, 0.3) / d', 6)} AS temp_weight,
       {pround_sql('(pow(p, 0.3) / d) / p', 6)} AS boost
FROM shared, denom
ORDER BY source
"""


_MIXTURE_SQL = f"""
WITH per_src AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source
), shared AS (
    SELECT source, n_docs, total_tokens,
           total_tokens / CAST(sum(total_tokens) OVER () AS DOUBLE) AS token_share
    FROM per_src
)
SELECT source, n_docs, total_tokens,
       {pround_sql('token_share', 6)} AS token_share,
       {pround_sql('min(token_share) OVER () / token_share', 6)} AS sample_weight
FROM shared
ORDER BY source
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy quality signal (the cheap perplexity
    proxy: gibberish and boilerplate sit at the entropy extremes). Explode
    to (doc, char) → count → one windowed normalize + agg — two shuffles on
    doc-sized keys, linear in corpus bytes."""
    from pyspark.sql.window import Window

    docs = read_table_balanced(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    cnt = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c") / n.cast("double")
    return (
        cnt.withColumn("term", -p * F.log2(p))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars_total"),
            pround(F.sum("term"), 6).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


_CHAR_ENTROPY_SQL = f"""
WITH chars AS (
    SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents
), cnt AS (
    SELECT doc_id, ch, count(*) AS c FROM chars WHERE ch != '' GROUP BY doc_id, ch
), normed AS (
    SELECT doc_id, c,
           c / CAST(sum(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS p
    FROM cnt
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_total,
       {pround_sql('-sum(p * log2(p))', 6)} AS entropy_bits
FROM normed
GROUP BY doc_id
ORDER BY doc_id
"""


def q_hyperplane_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane SimHash (cosine LSH): 16
    seeded ±1 hyperplanes → 16-bit signature → 4-bit band equi-join →
    hamming ≤ 2 filter (pigeonhole-exact at ≤ 3 collisions). The third
    near-dup modality next to token MinHash-LSH and IVF-bucketed cosine.
    Balanced read: the projection stage is CPU-bound and the single
    row-group file would pin it to one core."""
    emb = read_table_balanced(spark, sf_dir, "embeddings")
    return similarity.hyperplane_simhash_pairs(
        emb, n_planes=16, n_bands=4, max_hamming=2, dim=64
    )


def _hyperplane_simhash_sql() -> str:
    # Identical ±1 literals and identically-shaped left-associated sums as
    # the Spark plan (operators/similarity.py:hyperplane_signature) — the
    # projection arithmetic is bit-for-bit the same, so the sign of a
    # projection can never differ between engines. DuckDB lists are
    # 1-indexed, Spark arrays 0-indexed.
    bits = []
    for j, plane in enumerate(similarity.hyperplanes(16, 64)):
        expr = " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * {w}" for d, w in enumerate(plane)
        )
        bits.append(f"CASE WHEN {expr} >= 0 THEN {1 << j} ELSE 0 END")
    sig = "\n         + ".join(bits)
    return f"""
WITH sig AS (SELECT vec_id, {sig} AS sig FROM embeddings),
bands AS (
    SELECT vec_id, sig, b.b AS band_idx, (sig >> (4 * b.b)) & 15 AS band_val
    FROM sig, unnest(generate_series(0, 3)) AS b(b)
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 2
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Product quantization: pq_encode (32x vector compression) + ADC top-k over
# the codes — operators/similarity.py PQ section. Codebooks are seeded from
# vec_id < 16 (8 subspaces x 8 dims over the 64-dim embeddings), so every
# stage is reproducible in DuckDB list algebra.
# --------------------------------------------------------------------------


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample packing for training: hash-shard the corpus, then greedily
    fill 256-token windows per shard in doc_id order
    (operators/text.py:greedy_pack — the sequential fold is the one
    legitimate applyInPandas boundary; token counts are JVM-side). Oracle
    is a per-shard recursive CTE running the identical fold."""
    from projet_data_infrastructure_spark.functions.hashing import hash64
    from projet_data_infrastructure_spark.operators.text import greedy_pack

    docs = read_table(spark, sf_dir, "documents")
    with_n = docs.select(
        F.pmod(hash64(F.col("doc_id"), seed=5), F.lit(8)).alias("shard"),
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return greedy_pack(with_n, cap=256)


_SEQ_PACK_SQL = f"""
WITH RECURSIVE d AS (
    SELECT ({hash64_sql('doc_id', seed=5)}) % 8 AS shard, doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           row_number() OVER (
               PARTITION BY ({hash64_sql('doc_id', seed=5)}) % 8
               ORDER BY doc_id
           ) AS rn
    FROM documents
),
packed AS (
    SELECT shard, doc_id, n_tokens, rn,
           0::BIGINT AS pack_id, n_tokens::BIGINT AS cum
    FROM d WHERE rn = 1
    UNION ALL
    SELECT d.shard, d.doc_id, d.n_tokens, d.rn,
           CASE WHEN p.cum + d.n_tokens > 256 AND p.cum > 0 THEN p.pack_id + 1
                ELSE p.pack_id END,
           CASE WHEN p.cum + d.n_tokens > 256 AND p.cum > 0 THEN d.n_tokens::BIGINT
                ELSE p.cum + d.n_tokens END
    FROM d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1
)
SELECT shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, pack_id
FROM packed
"""


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate clusters — the embedding modality's end-to-end
    composition, mirroring the token-LSH ``dedup_clusters``: IVF-bucketed
    cosine near-dup pairs (equi-join, √N centroids, no nested loop) feed
    the same iterative min-label connected-components operator. The oracle
    nests the bucketed-pairs SQL inside the recursive-CTE reachability
    closure, so the whole two-stage pipeline is hash-checked."""
    plain = read_table(spark, sf_dir, "embeddings")
    emb = read_table_balanced(spark, sf_dir, "embeddings")
    c = similarity.derived_n_centroids(plain.count())
    pairs = similarity.neardup_pairs_bucketed(
        emb, threshold=0.3, n_centroids=c, centroid_src=plain
    )
    comp = dedup.duplicate_clusters(pairs, a_col="vec_a", b_col="vec_b")
    return comp.select(F.col("doc_id").alias("vec_id"), "component")


def _embedding_dup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_NEARDUP_BUCKETED_SQL}),
edges AS (
    SELECT vec_a AS src, vec_b AS dst FROM pairs
    UNION
    SELECT vec_b AS src, vec_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
)
SELECT node AS vec_id, min(label) AS component FROM reach GROUP BY node
"""


def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM log-probability per document — the actual
    perplexity-style quality signal (``char_entropy`` is the cheap proxy):
    docs whose word transitions are improbable under the corpus's own
    bigram statistics score low (gibberish, boilerplate, wrong-language).

    Two passes, both linear: (1) global bigram + prefix counts (map-side
    partial aggregation; the bigram table is the only big intermediate and
    shuffles once on (w1, w2)); (2) per-doc average of ln(c(w1,w2)/c(w1·))
    over the doc's bigrams — the score join keys on the same (w1, w2), so
    Catalyst reuses the partitioning. Unsmoothed is total here because the
    model is trained on the scored corpus itself (every doc bigram was
    counted). ln noise across engines is ≤1 ulp — invisible at pround-6."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    return _bigram_doc_scores(docs).orderBy("doc_id")


def _bigram_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) under the corpus's own bigram LM —
    the one scoring pass shared by ``lm_bigram_score`` and the CCNet
    bucketing spec (one definition, two consumers)."""
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    big = t.select(
        "doc_id",
        F.expr(
            "explode(transform(sequence(1, size(toks)-1),"
            " i -> struct(toks[i-1] AS w1, toks[i] AS w2)))"
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    # cw(w1) = Σ_w2 cb(w1, w2): derive the unigram context counts from the
    # bigram table instead of re-scanning big — identical counts, one fewer
    # tokenize+explode subtree evaluation and the aggregate runs over the
    # vocab²-bounded cb rows, not the corpus-sized bigram stream (r14,
    # guide §2.3 "aggregate before you shuffle").
    cw = cb.groupBy("w1").agg(F.sum("cb").alias("cw"))
    lp = cb.join(cw, "w1").select(
        "w1", "w2", F.log(F.col("cb").cast("double") / F.col("cw").cast("double")).alias("logp")
    )
    # BROADCAST the logp table into the scoring join (r15, guide §3.1): the
    # corpus vocabulary is generator-bounded (31 words at every SF), so lp is
    # ≤ |V|² ≈ 961 rows at ANY scale — the same domain-bound argument as the
    # kendall cell grid. Without the hint the planner shuffles the
    # corpus-sized bigram stream by (w1, w2) into a sort-merge join; with it
    # the stream is scored map-side where it was exploded, and the per-doc
    # aggregate partial-aggregates in place (a doc's bigrams stay in its scan
    # partition), so NO corpus-sized bytes ever cross an exchange. Local A/B
    # is within noise (3.9 → 3.6 s median, interleaved) — the win is the
    # 100 TB shuffle shape, not sf0.1 seconds.
    return (
        big.join(F.broadcast(lp), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            pround(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )


_LM_CTES = f"""toks AS (
    SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), big AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg
    FROM toks WHERE len(t) >= 2
), pairs AS (
    SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big
), cb AS (
    SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY w1, w2
), cw AS (
    SELECT w1, count(*) AS cw FROM pairs GROUP BY w1
), lp AS (
    SELECT cb.w1, cb.w2, ln(cb.cb::DOUBLE / cw.cw::DOUBLE) AS logp
    FROM cb JOIN cw USING (w1)
), lm_scores AS (
    SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           {pround_sql('avg(lp.logp)', 6)} AS avg_logprob
    FROM pairs p JOIN lp ON p.w1 = lp.w1 AND p.w2 = lp.w2
    GROUP BY p.doc_id
)"""

_LM_BIGRAM_SQL = f"""
WITH {_LM_CTES}
SELECT doc_id, n_bigrams, avg_logprob FROM lm_scores ORDER BY doc_id
"""


def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality terciles (Wenzek et al. 2020, §4.3:
    split each language's crawl into head/middle/tail by LM perplexity;
    public method). The corpus bigram LM (:func:`_bigram_doc_scores`, one
    shared definition with ``lm_bigram_score``) scores every doc; each
    language is then cut into ntile(3) buckets by score, best first.

    Scale design: the per-language ntile is NOT a ``PARTITION BY lang``
    window — one task per language would sort that language's entire corpus
    at 100 TB. :func:`operators.ranks.grouped_rank` range-buckets the score
    globally (one approx_percentile, bounds as literals), runs |lang|·P
    parallel bounded row_numbers, and rebuilds the exact per-language rank
    from |lang|·P broadcast prefix offsets; the tercile is then a pure
    integer formula of (rank, per-lang total) — no corpus-sized window
    partition anywhere, hash-identical to the SQL ntile."""
    from projet_data_infrastructure_spark.operators.ranks import (
        grouped_rank,
        ntile_from_rank_cols,
    )

    docs = read_table_balanced(spark, sf_dir, "documents")
    scored = _bigram_doc_scores(docs).join(docs.select("doc_id", "lang"), "doc_id")
    ranked = grouped_rank(
        scored,
        "lang",
        "avg_logprob",
        ties=("doc_id",),
        descending=True,
        rank_col="_lr",
        total_col="_lt",
    )
    bucket = ntile_from_rank_cols(F.col("_lr"), F.col("_lt"), 3)
    return ranked.select(
        "doc_id", "lang", "avg_logprob", bucket.alias("bucket")
    ).orderBy("doc_id")


_CCNET_SQL = f"""
WITH {_LM_CTES}
SELECT s.doc_id, d.lang, s.avg_logprob,
       CAST(ntile(3) OVER (PARTITION BY d.lang
                           ORDER BY s.avg_logprob DESC, s.doc_id) AS INTEGER) AS bucket
FROM lm_scores s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.doc_id
"""


def q_curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel: raw → exact-dedup survivors → Gopher
    quality survivors, one row per (source, stage) with the survivor count
    and an order-free doc-id checksum — the audit table a production corpus
    build publishes so every downstream consumer can see where each
    source's documents died (reuses the registry's own gate definitions:
    ``dedup.fingerprint_col`` for the digest, ``text.gopher_metrics`` for
    the quality gate — the funnel reports the same pipeline it audits).

    Scale: two linear scans plus one digest groupBy (the only wide
    shuffle); the keeper→document join keys on doc_id; per-stage reports
    are map-side-combined aggregates down to |sources|·|stages| rows."""
    from projet_data_infrastructure_spark.operators.text import gopher_keep, gopher_metrics

    docs = read_table_balanced(spark, sf_dir, "documents")
    keepers = (
        docs.select("doc_id", "source", dedup.fingerprint_col("text").alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.expr("min_by(source, doc_id)").alias("source"),
        )
    )
    m = gopher_metrics(tokens(F.col("text")))
    quality = (
        docs.join(keepers.select("doc_id"), "doc_id")
        .filter(gopher_keep(m))
        .select("doc_id", "source")
    )

    def stage_report(df: DataFrame, stage: str) -> DataFrame:
        return df.groupBy("source").agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )

    out = (
        stage_report(docs, "raw")
        .unionByName(stage_report(keepers, "exact_dedup"))
        .unionByName(stage_report(quality, "quality"))
    )
    return out.select("source", "stage", "n_docs", "id_checksum").orderBy(
        "source", "stage"
    )


_FUNNEL_SQL = f"""
WITH k AS (
    SELECT min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
    FROM documents
    GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
),
gm AS (
    SELECT doc_id, len(t) AS n_words,
           coalesce(list_sum(list_transform(t, x -> length(x))), 0)
               / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_len,
           len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
               / CAST(greatest(len(t), 1) AS DOUBLE) AS alpha_ratio,
           len(list_filter(t, x -> x IN ({_EN}))) AS stop_hits
    FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
),
q AS (
    SELECT d.doc_id, d.source
    FROM documents d JOIN k ON d.doc_id = k.doc_id JOIN gm ON d.doc_id = gm.doc_id
    WHERE gm.n_words >= 50 AND gm.n_words <= 100000
      AND gm.mean_len >= 3.0 AND gm.mean_len <= 10.0
      AND gm.alpha_ratio >= 0.8 AND gm.stop_hits >= 2
)
SELECT * FROM (
    SELECT source, 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents GROUP BY source
    UNION ALL
    SELECT source, 'exact_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(doc_id) AS BIGINT) FROM k GROUP BY source
    UNION ALL
    SELECT source, 'quality', CAST(count(*) AS BIGINT),
           CAST(sum(doc_id) AS BIGINT) FROM q GROUP BY source
)
ORDER BY source, stage
"""


_MMR_K = 8
_MMR_TOPN = 3


def q_mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998,
    public) of the query-0 top-8 cosine candidates: 3 greedy picks of
    argmax(0.7·relevance − 0.3·max-sim-to-selected) — the standard RAG
    diversity pass after dense retrieval, deterministic because every
    similarity is rounded at 1e-6 BEFORE the argmax and ties break on
    vec_id (the registry's ranking discipline).

    Scale: retrieval bounds the candidate set to k rows, which are
    ``localCheckpoint``ed once (model-parameter-class materialization — the
    100 TB scan happens exactly once); everything after is k²-bounded pair
    similarity plus per-round 1-row TakeOrdered argmaxes. The greedy
    recurrence is inherently sequential in the number of PICKS, not in
    corpus size — 3 unrolled rounds, like the BPE/PageRank fixed points."""
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    rel = pround(similarity.cosine("embedding", "qvec"), 6)
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvec))
        .select("vec_id", "embedding", rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_K)
        .localCheckpoint(eager=True)
    )
    pair_sim = pround(similarity.cosine("va", "vb"), 6)
    pairs = (
        cand.select(F.col("vec_id").alias("ai"), F.col("embedding").alias("va"))
        .crossJoin(cand.select(F.col("vec_id").alias("bi"), F.col("embedding").alias("vb")))
        .filter(F.col("ai") != F.col("bi"))
        .select("ai", "bi", pair_sim.alias("s"))
    )

    sel1 = (
        cand.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(F.col("vec_id").alias("s1"), F.col("rel").alias("score1"))
    )
    mmr2 = pround(F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("s"), 6)
    m2 = (
        cand.crossJoin(F.broadcast(sel1))
        .filter(F.col("vec_id") != F.col("s1"))
        .join(F.broadcast(pairs), (F.col("ai") == F.col("vec_id")) & (F.col("bi") == F.col("s1")))
        .select("vec_id", mmr2.alias("mmr"))
    )
    sel2 = (
        m2.orderBy(F.desc("mmr"), F.asc("vec_id"))
        .limit(1)
        .select(F.col("vec_id").alias("s2"), F.col("mmr").alias("score2"))
    )
    p1 = pairs.select(F.col("ai").alias("a1"), F.col("bi").alias("b1"), F.col("s").alias("sim1"))
    p2 = pairs.select(F.col("ai").alias("a2"), F.col("bi").alias("b2"), F.col("s").alias("sim2"))
    mmr3 = pround(
        F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.greatest("sim1", "sim2"), 6
    )
    m3 = (
        cand.crossJoin(F.broadcast(sel1))
        .crossJoin(F.broadcast(sel2))
        .filter((F.col("vec_id") != F.col("s1")) & (F.col("vec_id") != F.col("s2")))
        .join(F.broadcast(p1), (F.col("a1") == F.col("vec_id")) & (F.col("b1") == F.col("s1")))
        .join(F.broadcast(p2), (F.col("a2") == F.col("vec_id")) & (F.col("b2") == F.col("s2")))
        .select("vec_id", mmr3.alias("mmr"))
    )
    sel3 = (
        m3.orderBy(F.desc("mmr"), F.asc("vec_id"))
        .limit(1)
        .select(F.col("vec_id").alias("s3"), F.col("mmr").alias("score3"))
    )

    r1 = sel1.select(
        F.lit(1).cast("int").alias("rank"),
        F.col("s1").alias("vec_id"),
        F.col("score1").alias("mmr_score"),
    )
    r2 = sel2.select(
        F.lit(2).cast("int").alias("rank"),
        F.col("s2").alias("vec_id"),
        F.col("score2").alias("mmr_score"),
    )
    r3 = sel3.select(
        F.lit(3).cast("int").alias("rank"),
        F.col("s3").alias("vec_id"),
        F.col("score3").alias("mmr_score"),
    )
    return r1.unionByName(r2).unionByName(r3).orderBy("rank")


_MMR_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {pround_sql('list_cosine_similarity(embedding::DOUBLE[], qv)', 6)} AS rel
    FROM embeddings, q WHERE vec_id != 0
    ORDER BY rel DESC, vec_id LIMIT {_MMR_K}
),
p AS (
    SELECT a.vec_id AS ai, b.vec_id AS bi,
           {pround_sql('list_cosine_similarity(a.v, b.v)', 6)} AS s
    FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
m2 AS (
    SELECT c.vec_id, {pround_sql('0.7 * c.rel - 0.3 * p.s', 6)} AS mmr
    FROM cand c JOIN s1 ON c.vec_id <> s1.vec_id
    JOIN p ON p.ai = c.vec_id AND p.bi = s1.vec_id
),
s2 AS (SELECT vec_id, mmr FROM m2 ORDER BY mmr DESC, vec_id LIMIT 1),
m3 AS (
    SELECT c.vec_id, {pround_sql('0.7 * c.rel - 0.3 * greatest(p1.s, p2.s)', 6)} AS mmr
    FROM cand c JOIN s1 ON c.vec_id <> s1.vec_id JOIN s2 ON c.vec_id <> s2.vec_id
    JOIN p p1 ON p1.ai = c.vec_id AND p1.bi = s1.vec_id
    JOIN p p2 ON p2.ai = c.vec_id AND p2.bi = s2.vec_id
)
SELECT * FROM (
    SELECT CAST(1 AS INTEGER) AS rank, vec_id, rel AS mmr_score FROM s1
    UNION ALL
    SELECT CAST(2 AS INTEGER), vec_id, mmr FROM s2
    UNION ALL
    SELECT CAST(3 AS INTEGER), vec_id, mmr
    FROM (SELECT vec_id, mmr FROM m3 ORDER BY mmr DESC, vec_id LIMIT 1)
)
ORDER BY rank
"""


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.pq_encode(emb)


_PQ_CODEBOOK_CTES = f"""
subspaces AS (SELECT unnest(generate_series(0, 7)) AS m),
codebook AS (
    SELECT s.m, e.vec_id AS code,
           (e.embedding::DOUBLE[])[s.m*8+1 : s.m*8+8] AS cw
    FROM subspaces s, embeddings e WHERE e.vec_id < 16
),
subdists AS (
    SELECT e.vec_id, c.m, c.code,
           {pround_sql('list_sum(list_transform(generate_series(1, 8), i -> (e.embedding[c.m*8+i]::DOUBLE - c.cw[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, codebook c
),
codes AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
        FROM subdists
    ) WHERE rn = 1
)"""

_PQ_ENCODE_SQL = f"""
WITH {_PQ_CODEBOOK_CTES}
SELECT vec_id, string_agg(code::VARCHAR, ',' ORDER BY m) AS pq_code
FROM codes GROUP BY vec_id
"""


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(emb, query_id=0, k=10)


_PQ_ADC_SQL = f"""
WITH {_PQ_CODEBOOK_CTES},
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qd AS (
    SELECT c.m, c.code,
           {pround_sql('list_sum(list_transform(generate_series(1, 8), i -> (qv[c.m*8+i] - c.cw[i]) ^ 2))', 6)} AS d
    FROM codebook c, q
),
adc AS (
    SELECT cs.vec_id, {pround_sql('sum(qd.d)', 6)} AS adc_dist
    FROM codes cs JOIN qd ON qd.m = cs.m AND qd.code = cs.code
    WHERE cs.vec_id <> 0
    GROUP BY cs.vec_id
)
SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
"""


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(emb, query_id=0, k=5, n_centroids=8, nprobe=2, shortlist=40)


_IVFPQ_SQL = f"""
WITH {_PQ_CODEBOOK_CTES},
cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < 8
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qcd AS (
    SELECT c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(qv)), i -> (qv[i] - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM cents c, q
),
qbuckets AS (
    SELECT centroid_id FROM (
        SELECT centroid_id, row_number() OVER (ORDER BY dist, centroid_id) AS rn FROM qcd
    ) WHERE rn <= 2
),
vdists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM vdists
    ) WHERE rn = 1
),
cand AS (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v
    FROM embeddings e
    JOIN assign a USING (vec_id)
    JOIN qbuckets b ON a.centroid_id = b.centroid_id
    WHERE e.vec_id <> 0
),
qd AS (
    SELECT c.m, c.code,
           {pround_sql('list_sum(list_transform(generate_series(1, 8), i -> (qv[c.m*8+i] - c.cw[i]) ^ 2))', 6)} AS d
    FROM codebook c, q
),
adc AS (
    SELECT cs.vec_id, {pround_sql('sum(qd.d)', 6)} AS adc_dist
    FROM codes cs
    JOIN qd ON qd.m = cs.m AND qd.code = cs.code
    WHERE cs.vec_id IN (SELECT vec_id FROM cand)
    GROUP BY cs.vec_id
),
short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 40)
SELECT c.vec_id, {pround_sql('list_cosine_similarity(c.v, qv)', 6)} AS sim
FROM cand c JOIN short s USING (vec_id), q
ORDER BY sim DESC, c.vec_id LIMIT 5
"""


def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVFADC (the full FAISS IVFPQ architecture): codes
    describe v − centroid(v), ADC tables are per probed cell. See
    operators/similarity.py:ivfpq_residual_topk."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_residual_topk(
        emb, query_id=0, k=5, n_centroids=8, nprobe=2, shortlist=40
    )


# Residual-PQ CTE chain: assign each vector to its coarse cell, subtract the
# cell centroid, build the 16-seed codebook FROM RESIDUALS, encode residuals,
# and run per-cell query-residual ADC — mirroring the plan's rounded-argmin
# discipline term for term.
_IVFPQ_RESIDUAL_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < 8
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
vdists AS (
    SELECT e.vec_id, c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (e.embedding[i]::DOUBLE - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM embeddings e, cents c
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
        FROM vdists
    ) WHERE rn = 1
),
resid AS (
    SELECT e.vec_id, a.centroid_id,
           list_transform(generate_series(1, len(e.embedding)),
                          i -> e.embedding[i]::DOUBLE - c.cvec[i]) AS rv,
           e.embedding::DOUBLE[] AS v
    FROM embeddings e
    JOIN assign a USING (vec_id)
    JOIN cents c ON a.centroid_id = c.centroid_id
),
subspaces AS (SELECT unnest(generate_series(0, 7)) AS m),
codebook AS (
    SELECT s.m, r.vec_id AS code, r.rv[s.m*8+1 : s.m*8+8] AS cw
    FROM subspaces s, resid r WHERE r.vec_id < 16
),
subdists AS (
    SELECT r.vec_id, c.m, c.code,
           {pround_sql('list_sum(list_transform(generate_series(1, 8), i -> (r.rv[c.m*8+i] - c.cw[i]) ^ 2))', 6)} AS dist
    FROM resid r, codebook c
),
codes AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
        FROM subdists
    ) WHERE rn = 1
),
qcd AS (
    SELECT c.centroid_id,
           {pround_sql('list_sum(list_transform(generate_series(1, len(qv)), i -> (qv[i] - c.cvec[i]) ^ 2))', 6)} AS dist
    FROM cents c, q
),
qbuckets AS (
    SELECT centroid_id FROM (
        SELECT centroid_id, row_number() OVER (ORDER BY dist, centroid_id) AS rn FROM qcd
    ) WHERE rn <= 2
),
qres AS (
    SELECT b.centroid_id,
           list_transform(generate_series(1, len(qv)), i -> qv[i] - c.cvec[i]) AS qrv
    FROM qbuckets b JOIN cents c USING (centroid_id), q
),
qd AS (
    SELECT qr.centroid_id, c.m, c.code,
           {pround_sql('list_sum(list_transform(generate_series(1, 8), i -> (qr.qrv[c.m*8+i] - c.cw[i]) ^ 2))', 6)} AS d
    FROM qres qr, codebook c
),
cand AS (
    SELECT r.vec_id, r.centroid_id, r.v
    FROM resid r
    JOIN qbuckets b USING (centroid_id)
    WHERE r.vec_id <> 0
),
adc AS (
    SELECT cand.vec_id, {pround_sql('sum(qd.d)', 6)} AS adc_dist
    FROM cand
    JOIN codes cs ON cs.vec_id = cand.vec_id
    JOIN qd ON qd.centroid_id = cand.centroid_id
            AND qd.m = cs.m AND qd.code = cs.code
    GROUP BY cand.vec_id
),
short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 40)
SELECT c.vec_id, {pround_sql('list_cosine_similarity(c.v, qv)', 6)} AS sim
FROM cand c JOIN short s USING (vec_id), q
ORDER BY sim DESC, c.vec_id LIMIT 5
"""


_PQ_TR_ROUNDS = 2
_PQ_TR_SAMPLE = 256  # bounded ordered training sample (vec_id < 256)
_PQ_TR_CODES = 16
_PQ_TR_SUB = 8
_PQ_TR_SCALE = 1000  # milli-units: per-subspace dists ≤ ~3.2e7, exact
#                      through pround's ×1e6 (< 2^53)


def q_pq_trained_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook PQ encode — now fully oracled (verdict r4 item 4).

    Training follows production PQ practice (FAISS-style: fit codebooks on
    ONE bounded ordered sample, never the corpus) but in the
    ``kmeans_fixed_point`` determinism discipline: coordinates floored to
    integer milli-units, per-subspace Lloyd's (init = the first 16 sample
    subvectors, 2 rounds of exact integer floor-mean updates, empty codes
    keep their previous centroid) run driver-side on the 256-row sample —
    integer arithmetic, so bit-identical to the DuckDB oracle's unrolled
    training rounds. The learned books drop into the identical
    literal-inline encode algebra (`operators/similarity.py:pq_encode`);
    encode distances over milli-unit integers stay exact through the
    portable round, so codes AND training are hash-checked cross-engine.
    The FP/numpy trainer (`pq_train_codebooks`) remains the
    quality-comparison path (trained-vs-seed quantization-error test).

    Scale shape: one 256-row scan-job collect sorted on the driver
    (model-parameter class), then a map-side 8×16-literal argmin per
    vector — zero shuffle."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_PQ_TR_SCALE}) AS BIGINT))"
        ).alias("q"),
    )
    # Milli-unit integers are far below 2^53: exact through the float list.
    sample = similarity.seed_vectors(emb, _PQ_TR_SAMPLE, vec_col="q")
    assert len(sample) >= _PQ_TR_CODES, f"pq training sample too small: {len(sample)}"
    assert [vid for vid, _ in sample[: _PQ_TR_CODES]] == list(
        range(_PQ_TR_CODES)
    ), "pq init: sample must contain vec_ids 0..15 (code ids are positional)"
    X = [[int(v) for v in q] for _, q in sample]
    dim = len(X[0])
    d = dim // _PQ_TR_SUB
    books: list[list[tuple[int, list[float]]]] = []
    for m in range(_PQ_TR_SUB):
        sub = [x[m * d : (m + 1) * d] for x in X]
        cents = [sub[j][:] for j in range(_PQ_TR_CODES)]
        for _ in range(_PQ_TR_ROUNDS):
            sums = [[0] * d for _ in range(_PQ_TR_CODES)]
            cnt = [0] * _PQ_TR_CODES
            for x in sub:
                _, j = min(
                    (sum((xi - ci) * (xi - ci) for xi, ci in zip(x, c)), jj)
                    for jj, c in enumerate(cents)
                )
                cnt[j] += 1
                for t in range(d):
                    sums[j][t] += x[t]
            # Python // floors like DuckDB's // and the _portable.fdiv Spark
            # form — exact integer floor-means, empty codes unchanged.
            cents = [
                [sums[j][t] // cnt[j] if cnt[j] else cents[j][t] for t in range(d)]
                for j in range(_PQ_TR_CODES)
            ]
        books.append([(j, [float(v) for v in cents[j]]) for j in range(_PQ_TR_CODES)])
    return similarity.pq_encode(emb, books=books, vec_col="q").orderBy("vec_id")


def _pq_trained_oracle() -> str:
    fd = fdiv("sum(t.qv)", "count(*)", "//")
    head = f"""
WITH pts AS (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings
),
e AS (
    SELECT vec_id, dim,
           CAST(floor(CAST(x AS DOUBLE) * {_PQ_TR_SCALE}) AS BIGINT) AS qv
    FROM pts
),
t0 AS (SELECT * FROM e WHERE vec_id < {_PQ_TR_SAMPLE}),
c0 AS (
    SELECT vec_id AS cl, dim, qv AS cv FROM t0 WHERE vec_id < {_PQ_TR_CODES}
)"""
    steps = []
    for r in range(_PQ_TR_ROUNDS):
        steps.append(
            f""",
d{r} AS (
    SELECT t.vec_id, (t.dim // {_PQ_TR_SUB}) AS sub, c.cl,
           sum((t.qv - c.cv) * (t.qv - c.cv)) AS dist
    FROM t0 t JOIN c{r} c ON t.dim = c.dim
    GROUP BY 1, 2, 3
),
a{r} AS (
    SELECT vec_id, sub, cl,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cl) AS rn
    FROM d{r}
),
u{r} AS (
    SELECT a.cl, t.dim, {fd} AS cv
    FROM a{r} a JOIN t0 t
      ON a.vec_id = t.vec_id AND a.sub = t.dim // {_PQ_TR_SUB}
    WHERE a.rn = 1
    GROUP BY a.cl, t.dim
),
c{r + 1} AS (
    SELECT p.cl, p.dim, COALESCE(u.cv, p.cv) AS cv
    FROM c{r} p LEFT JOIN u{r} u ON p.cl = u.cl AND p.dim = u.dim
)"""
        )
    r = _PQ_TR_ROUNDS
    return (
        head
        + "".join(steps)
        + f""",
dfin AS (
    SELECT e.vec_id, (e.dim // {_PQ_TR_SUB}) AS sub, c.cl,
           sum((e.qv - c.cv) * (e.qv - c.cv)) AS dist
    FROM e JOIN c{r} c ON e.dim = c.dim
    GROUP BY 1, 2, 3
),
afin AS (
    SELECT vec_id, sub, cl,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cl) AS rn
    FROM dfin
)
SELECT vec_id,
       string_agg(CAST(cl AS VARCHAR), ',' ORDER BY sub) AS pq_code
FROM afin WHERE rn = 1
GROUP BY vec_id ORDER BY vec_id"""
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance resampling toward a uniform source mixture
    (operators/text.py:mixture_resample_hash) — rates derived from the
    per-source counts, accept draw = portable hash of doc_id."""
    from projet_data_infrastructure_spark.operators.text import mixture_resample_hash

    docs = read_table(spark, sf_dir, "documents")
    return mixture_resample_hash(docs, "source", seed=11).select("doc_id", "source")


_MIXTURE_RESAMPLE_SQL = f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tot AS (SELECT sum(n)::DOUBLE AS total, count(*)::DOUBLE AS k FROM counts),
rates AS (
    SELECT source, {pround_sql('least(1.0, total / (k * n::DOUBLE))', 6)} AS rate
    FROM counts, tot
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE ({hash64_sql('d.doc_id', seed=11)}) % 1000000 / 1000000.0 < r.rate
"""


def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    A-Res reservoir keys: each doc draws key = ln(u)/w (u uniform, w =
    n_chars) and the k largest keys form an exact weighted
    without-replacement sample. The uniform is the portable hash64 of
    doc_id — reproducible across engines, cluster sizes, and partitionings
    (engine RNG is neither). Map-only key computation + a
    TakeOrderedAndProject top-k: the distributed-reservoir shape (each
    partition keeps its k best, the driver merges heaps). Keys are rounded
    to 1e-6 BEFORE ranking so cross-libm ln noise at the cut is impossible;
    ties (identical rounded keys) break on doc_id."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    u = (F.pmod(hash64(F.col("doc_id"), seed=13), F.lit(1_000_000)) + 1) / F.lit(
        1_000_001.0
    )
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").alias("w"),
            pround(key, 6).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(20)
    )


_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id, n_chars AS w,
           (({hash64_sql('doc_id', seed=13)}) % 1000000 + 1) / 1000001.0 AS u
    FROM documents
)
SELECT doc_id, w, {pround_sql('ln(u) / CAST(w AS DOUBLE)', 6)} AS es_key
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT 20
"""


def q_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED A-Res: the top-3 weighted-sample docs from EVERY language
    in one pass — the per-stratum reservoir a mixture builder draws when
    each language needs its own quota. Same Efraimidis–Spirakis keys as
    ``weighted_sample_topk``; the global TakeOrdered becomes a
    rank-per-group window, which Spark executes as Partial+Final
    WindowGroupLimit — each task keeps only 3 rows per language before the
    exchange, so the shuffle carries O(3·|langs|·P) rows, never the corpus.
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    u = (F.pmod(hash64(F.col("doc_id"), seed=13), F.lit(1_000_000)) + 1) / F.lit(
        1_000_001.0
    )
    key = F.log(u) / F.col("n_chars").cast("double")
    keyed = docs.select(
        "lang", "doc_id", F.col("n_chars").alias("w"), pround(key, 6).alias("es_key")
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("es_key"), F.asc("doc_id"))
    )
    return (
        keyed.withColumn("rnk", rn)
        .filter(F.col("rnk") <= 3)
        .orderBy("lang", "rnk")
    )


_WEIGHTED_PER_LANG_SQL = f"""
WITH keyed AS (
    SELECT lang, doc_id, n_chars AS w,
           {pround_sql(f"ln((({hash64_sql('doc_id', seed=13)}) % 1000000 + 1) / 1000001.0) / CAST(n_chars AS DOUBLE)", 6)} AS es_key
    FROM documents
)
SELECT lang, doc_id, w, es_key, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rnk
    FROM keyed)
WHERE rnk <= 3
ORDER BY lang, rnk
"""


_RECALL_MAX_ID = 200
_RECALL_THRESHOLD = 0.5


def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the dedup subsystem: on a bounded doc subset,
    compare the LSH candidate stage against the exact-Jaccard ground truth
    (the same unigram Jaccard `lsh_verified_pairs` verifies with) and
    report recall + candidate efficiency. This is the tuning report a
    pipeline owner reads before changing (n_hashes, band_rows) — recall is
    the probability a true near-dup pair survives banding, efficiency is
    the fraction of candidates worth verifying. Everything is
    deterministic (hash minhashes, integer set sizes), so the evaluation
    itself is hash-checked: the oracle recomputes both pair sets and the
    FULL-OUTER reconciliation. Bounded all-pairs truth is the documented
    verification-only shape (`ngram_jaccard_pairs`); at 100 TB you run
    this report on a sampled shard exactly like this."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    docs_sub = docs.filter(F.col("doc_id") < _RECALL_MAX_ID)
    truth = (
        dedup.ngram_jaccard_pairs(docs, max_id=_RECALL_MAX_ID)
        .filter(F.col("jaccard_raw") >= _RECALL_THRESHOLD)
        .select("doc_a", "doc_b", F.lit(1).alias("it"))
    )
    cands = (
        dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs_sub))
        .select("doc_a", "doc_b", F.lit(1).alias("ic"))
    )
    full = truth.join(cands, ["doc_a", "doc_b"], "full")
    agg = full.agg(
        F.count("it").alias("n_truth"),
        F.count("ic").alias("n_candidates"),
        F.count(F.when(F.col("it").isNotNull() & F.col("ic").isNotNull(), 1)).alias(
            "n_hits"
        ),
    )
    recall = F.when(
        F.col("n_truth") > 0,
        pround(F.col("n_hits").cast("double") / F.col("n_truth").cast("double"), 6),
    )
    eff = F.when(
        F.col("n_candidates") > 0,
        pround(
            F.col("n_hits").cast("double") / F.col("n_candidates").cast("double"), 6
        ),
    )
    return agg.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        recall.alias("recall"),
        eff.alias("candidate_efficiency"),
    )


def _lsh_recall_sql() -> str:
    cands = _minhash_pairs_sql().replace(
        "FROM documents", f"FROM (SELECT * FROM documents WHERE doc_id < {_RECALL_MAX_ID})"
    )
    return f"""
WITH tok0 AS (
    SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS token
    FROM documents WHERE doc_id < {_RECALL_MAX_ID}
), sizes AS (
    SELECT doc_id, count(*) AS sz FROM tok0 GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM tok0 a JOIN tok0 b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), truth AS (
    SELECT doc_a, doc_b, 1 AS it
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= {_RECALL_THRESHOLD}
), cands AS (
    SELECT doc_a, doc_b, 1 AS ic FROM ({cands})
), rec AS (
    SELECT count(t.it) AS n_truth, count(c.ic) AS n_candidates,
           count(CASE WHEN t.it IS NOT NULL AND c.ic IS NOT NULL THEN 1 END) AS n_hits
    FROM truth t FULL JOIN cands c USING (doc_a, doc_b)
)
SELECT CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       CASE WHEN n_truth > 0
            THEN {pround_sql('CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE)', 6)} END
           AS recall,
       CASE WHEN n_candidates > 0
            THEN {pround_sql('CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE)', 6)} END
           AS candidate_efficiency
FROM rec
"""


def q_lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between language slices — the corpus-mix
    diagnostic that catches mislabeled languages (two 'different' languages
    sharing most of their vocabulary) before training mixes are weighted.
    Shape: distinct (lang, token) — one hash aggregate over the exploded
    tokens — then a token-keyed self-join counts intersections; per-lang
    vocabulary sizes broadcast back in. The join key is the token, so at
    100 TB the shuffle carries the DISTINCT vocabulary (≪ corpus tokens),
    and |langs|² output rows are trivially bounded."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    vocab = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("token")
    ).distinct()
    sizes = vocab.groupBy("lang").agg(F.count(F.lit(1)).alias("v"))
    vb = vocab.select(F.col("lang").alias("lang_b"), F.col("token").alias("tb"))
    inter = (
        vocab.join(vb, (vocab.token == vb.tb) & (vocab.lang < vb.lang_b))
        .groupBy(F.col("lang").alias("lang_a"), "lang_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("v").alias("v_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("v").alias("v_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("v_a") + F.col("v_b") - F.col("n_common")
    ).cast("double")
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a", "lang_b", "v_a", "v_b", "n_common",
            pround(jac, 6).alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


_LANG_VOCAB_SQL = f"""
WITH vocab AS (
    SELECT DISTINCT lang, unnest({_TOKS_SQL}) AS token FROM documents
),
sizes AS (SELECT lang, count(*) AS v FROM vocab GROUP BY lang),
inter AS (
    SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_common
    FROM vocab a JOIN vocab b ON a.token = b.token AND a.lang < b.lang
    GROUP BY 1, 2
)
SELECT i.lang_a, i.lang_b, sa.v AS v_a, sb.v AS v_b, i.n_common,
       {pround_sql('CAST(i.n_common AS DOUBLE) / CAST(sa.v + sb.v - i.n_common AS DOUBLE)', 6)} AS jaccard
FROM inter i
JOIN sizes sa ON i.lang_a = sa.lang
JOIN sizes sb ON i.lang_b = sb.lang
ORDER BY i.lang_a, i.lang_b
"""


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document quality gates (Rae et al. 2021, MassiveText
    filtering, §A1.1): word-count bounds, mean-word-length band, fraction of
    words containing an alphabetic character, and a minimum stopword-hit
    count. Pure Column expressions over one tokenization — linear scan,
    whole-stage codegen, no shuffle; at 100 TB this is a map-only gate in
    front of dedup. Flags compare the RAW doubles (both engines compute
    bit-identical values from identical integer counts), display values are
    portable-rounded."""
    from projet_data_infrastructure_spark.operators.text import gopher_keep, gopher_metrics

    docs = read_table_balanced(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    m = gopher_metrics(F.col("t"))
    ok_wc = (m["n_words"] >= 50) & (m["n_words"] <= 100000)
    ok_ml = (m["mean_len"] >= 3.0) & (m["mean_len"] <= 10.0)
    ok_al = m["alpha_ratio"] >= 0.8
    ok_st = m["stop_hits"] >= 2
    return base.select(
        "doc_id",
        m["n_words"].alias("n_words"),
        pround(m["mean_len"], 4).alias("mean_word_len"),
        pround(m["alpha_ratio"], 4).alias("alpha_word_ratio"),
        m["stop_hits"].alias("stop_hits"),
        ok_wc.cast("int").alias("ok_word_count"),
        ok_ml.cast("int").alias("ok_mean_len"),
        ok_al.cast("int").alias("ok_alpha"),
        ok_st.cast("int").alias("ok_stopwords"),
        gopher_keep(m).cast("int").alias("keep"),
    )


_GOPHER_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
m AS (
    SELECT doc_id, len(t) AS n_words,
           coalesce(list_sum(list_transform(t, x -> length(x))), 0) / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_len,
           len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) / CAST(greatest(len(t), 1) AS DOUBLE) AS alpha_ratio,
           len(list_filter(t, x -> x IN ({_EN}))) AS stop_hits
    FROM base)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       {pround_sql('mean_len', 4)} AS mean_word_len,
       {pround_sql('alpha_ratio', 4)} AS alpha_word_ratio,
       CAST(stop_hits AS INTEGER) AS stop_hits,
       CAST(n_words >= 50 AND n_words <= 100000 AS INTEGER) AS ok_word_count,
       CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS INTEGER) AS ok_mean_len,
       CAST(alpha_ratio >= 0.8 AS INTEGER) AS ok_alpha,
       CAST(stop_hits >= 2 AS INTEGER) AS ok_stopwords,
       CAST(n_words >= 50 AND n_words <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
            AND alpha_ratio >= 0.8 AND stop_hits >= 2 AS INTEGER) AS keep
FROM m
"""


def q_stream_quality_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Structured Streaming corpus curation: the documents table
    replayed through a file-source stream (availableNow), the Gopher gates
    applied as a map-only projection (one shared definition with the batch
    spec — ``operators.text.gopher_metrics``), then STATEFUL exact dedup
    (``dropDuplicates`` on the text digest — a global signature store, the
    same state shape as ``stream_minhash_dedup``) emitting each surviving
    digest once. Output is the deterministic SET of kept digests (duplicate
    texts share flags, so which copy wins never shows), which is why this
    streaming pipeline can be hash-matched against a batch DISTINCT oracle.
    At scale: the gate drops rows before they ever reach the dedup state
    store, and the store holds one 32-char digest per unique kept doc."""
    from projet_data_infrastructure_spark.operators.text import gopher_keep, gopher_metrics
    from projet_data_infrastructure_spark.plans.events_queries import _run_stream

    raw = (
        spark.readStream.schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        )
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    m = gopher_metrics(tokens(F.col("text")))
    kept = raw.filter(gopher_keep(m)).select(F.md5("text").alias("digest"))
    out = kept.dropDuplicates(["digest"])
    return _run_stream(
        out.writeStream.outputMode("append"), spark, "stream_quality_curation_sink", sf_dir)


_STREAM_CURATION_SQL = f"""
WITH base AS (SELECT text, {_TOKS_SQL} AS t FROM documents),
m AS (
    SELECT text, len(t) AS n_words,
           coalesce(list_sum(list_transform(t, x -> length(x))), 0) / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_len,
           len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) / CAST(greatest(len(t), 1) AS DOUBLE) AS alpha_ratio,
           len(list_filter(t, x -> x IN ({_EN}))) AS stop_hits
    FROM base)
SELECT DISTINCT md5(text) AS digest
FROM m
WHERE n_words >= 50 AND n_words <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
  AND alpha_ratio >= 0.8 AND stop_hits >= 2
"""


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity repetition gates (the MassiveText 'fraction of
    unique words' family): type-token ratio and the duplicated-bigram
    fraction per document. Both are per-row array expressions — no shuffle,
    no Python; the 100 TB shape is a map-only column append feeding the
    quality gate. Bigrams guard ``size(t) >= 2`` because Spark's
    ``sequence(1, 0)`` counts DOWN (would fabricate a phantom pair)."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    ttr = F.size(F.array_distinct("t")) / F.greatest(n, F.lit(1)).cast("double")
    bg = F.expr(
        "CASE WHEN size(t) >= 2 THEN"
        " transform(sequence(1, size(t)-1), i -> concat(t[i-1], ' ', t[i]))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    nb = F.size(bg)
    dup_frac = F.when(nb == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bg)) / nb.cast("double")
    )
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        pround(ttr, 4).alias("ttr"),
        pround(dup_frac, 4).alias("dup_bigram_frac"),
    )


_TOKEN_DIVERSITY_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
m AS (
    SELECT doc_id, t,
           CASE WHEN len(t) >= 2 THEN
               list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
           ELSE [] END AS bg
    FROM base)
SELECT doc_id,
       CAST(len(t) AS INTEGER) AS n_tokens,
       {pround_sql('len(list_distinct(t)) / CAST(greatest(len(t), 1) AS DOUBLE)', 4)} AS ttr,
       {pround_sql('CASE WHEN len(bg) = 0 THEN 0.0 ELSE 1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE) END', 4)} AS dup_bigram_frac
FROM m
"""


def q_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: LSH-verified near-duplicate pairs
    whose two documents live in DIFFERENT sources, rolled up to an unordered
    (source_a, source_b) matrix with pair counts and mean Jaccard — the
    dataset-level view a training pipeline needs before mixing corpora
    (eval-set leakage shows up as a hot row). Reuses the production MinHash
    chain (signatures → banded LSH equi-join → Jaccard on candidates only),
    then joins the tiny verified-pair set back to doc sources and aggregates:
    at 100 TB the matrix is |sources|² rows — driver-safe by construction."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    verified = dedup.jaccard_on_candidates(docs, pairs, threshold=0.5).select(
        "doc_a", "doc_b", pround(F.col("jaccard_raw"), 4).alias("jaccard")
    )
    src = docs.select("doc_id", "source")
    labeled = verified.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a"
    ).join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
    cross = labeled.filter(F.col("sa") != F.col("sb")).select(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
        "jaccard",
    )
    return (
        cross.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            pround(F.avg("jaccard"), 4).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def _cross_source_sql() -> str:
    return f"""
WITH v AS ({_lsh_verified_sql()}),
lab AS (
    SELECT v.doc_a, v.doc_b, v.jaccard, a.source AS sa, b.source AS sb
    FROM v JOIN documents a ON a.doc_id = v.doc_a
           JOIN documents b ON b.doc_id = v.doc_b
)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {pround_sql('avg(jaccard)', 4)} AS avg_jaccard
FROM lab WHERE sa <> sb
GROUP BY least(sa, sb), greatest(sa, sb)
ORDER BY source_a, source_b
"""


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (context-window prep): each doc is
    split into 32-token chunks with stride 24 (8-token overlap), the
    standard long-document treatment before tokenized training or embedding
    indexing. Pure array expressions — ``transform`` over a chunk-index
    sequence + ``slice`` + ``explode``, all JVM-side; the explode multiplies
    rows by ~n/stride map-side with no shuffle at all, so at 100 TB this is
    a linear re-scan. Chunk text is emitted as an md5 digest (constant-width
    output; the driver canonicalizer never sees long strings)."""
    chunk, stride = 32, 24
    docs = read_table_balanced(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(t) / {stride}.0) as int) - 1),"
        f" i -> struct(i AS chunk_idx,"
        f"            slice(t, i * {stride} + 1, {chunk}) AS ct))"
    )
    ex = base.select("doc_id", F.explode(chunks).alias("c")).filter(
        F.size("c.ct") > 0
    )
    return ex.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size("c.ct").alias("n_chunk_tokens"),
        F.md5(F.array_join("c.ct", " ")).alias("chunk_digest"),
    )


_DOC_CHUNK_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
ex AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(0, CAST(ceil(len(t) / 24.0) AS INTEGER) - 1),
                                 i -> struct_pack(chunk_idx := i,
                                                  ct := t[i * 24 + 1 : i * 24 + 32]))) AS c
    FROM base)
SELECT doc_id, c.chunk_idx AS chunk_idx,
       CAST(len(c.ct) AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(c.ct, ' ')) AS chunk_digest
FROM ex WHERE len(c.ct) > 0
"""


def q_sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.sq8_encode(emb)


_SQ8_CTES = """
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (SELECT unnest(generate_series(1, 64)) AS i),
bounds AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx FROM v, dims GROUP BY i),
barr AS (SELECT list(mn ORDER BY i) AS mins, list(mx - mn ORDER BY i) AS sps FROM bounds),
codes AS (
    SELECT vec_id, v,
           list_transform(generate_series(1, 64),
               i -> CASE WHEN sps[i] = 0 THEN 0
                         ELSE CAST(floor((v[i] - mins[i]) / sps[i] * 255.0 + 0.5) AS INTEGER) END) AS c
    FROM v, barr)"""

_SQ8_ENCODE_SQL = f"""
WITH {_SQ8_CTES}
SELECT vec_id, array_to_string(c, ',') AS sq8_code FROM codes
"""


def q_sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.sq8_adc_topk(emb, query_id=0, k=10)


_SQ8_ADC_SQL = f"""
WITH {_SQ8_CTES},
q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
SELECT vec_id,
       {pround_sql("list_sum(list_transform(generate_series(1, 64), i -> (qv[i] - (mins[i] + c[i] * sps[i] / 255.0)) ^ 2))", 6)} AS adc_dist
FROM codes, q, barr
WHERE vec_id <> 0
ORDER BY adc_dist, vec_id
LIMIT 10
"""


# --------------------------------------------------------------------------
# C4-style line-level curation (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning", §2.2). C4 deduplicates LINES globally across the whole
# corpus, keeping exactly one occurrence of each, and drops lines below a
# word-count floor. The test corpus has no newline/sentence delimiters, so
# the line boundary rule is substituted with a deterministic fixed-width
# segmenter (10-token windows); the dedup algorithm itself — global
# keep-first by (doc_id, line_idx), then per-document text rebuild — is
# C4's, unchanged. Scale shape: the segmenter is a map-side explode (rows
# x ~n_tokens/10, no shuffle), the keep-first decision is ONE hash shuffle
# on the line digest (window min-struct, no join-back needed), and the
# rebuild is one shuffle on doc_id. At 100 TB that is the canonical
# two-shuffle C4 pass; nothing is ever collected to the driver.
# --------------------------------------------------------------------------

_C4_LINE_WORDS = 10


def _c4_lines(docs: DataFrame, min_words: int) -> DataFrame:
    """Explode documents into fixed-width token 'lines' (map-side only)."""
    w = _C4_LINE_WORDS
    base = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    lines_expr = F.expr(
        f"transform(sequence(0, cast(ceil(size(t) / {w}.0) as int) - 1),"
        f" i -> struct(i AS line_idx, slice(t, i * {w} + 1, {w}) AS lt))"
    )
    return (
        base.select("doc_id", F.explode(lines_expr).alias("c"))
        .filter(F.size("c.lt") >= min_words)
        .select(
            "doc_id",
            F.col("c.line_idx").alias("line_idx"),
            F.array_join("c.lt", " ").alias("line_text"),
        )
    )


def _c4_lines_sql(min_words: int) -> str:
    w = _C4_LINE_WORDS
    return f"""
base AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
ln AS (
    SELECT doc_id, c.line_idx AS line_idx, array_to_string(c.lt, ' ') AS line_text
    FROM (SELECT doc_id,
                 unnest(list_transform(generate_series(0, CAST(ceil(len(t) / {w}.0) AS INTEGER) - 1),
                        i -> struct_pack(line_idx := i, lt := t[i * {w} + 1 : i * {w} + {w}]))) AS c
          FROM base)
    WHERE len(c.lt) >= {min_words})"""


def q_c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 global line dedup: every distinct line survives exactly once
    corpus-wide (first occurrence by (doc_id, line_idx)); lines under 3
    words are dropped first (C4's word-count line filter). Emits per-doc
    retention stats and the md5 of the rebuilt (deduplicated) text."""
    from pyspark.sql.window import Window

    docs = read_table_balanced(spark, sf_dir, "documents")
    keyed = _c4_lines(docs, min_words=3).withColumn("lk", F.md5("line_text"))
    first = F.min(F.struct("doc_id", "line_idx")).over(Window.partitionBy("lk"))
    kept = (
        keyed.withColumn("first", first)
        .filter(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("line_idx") == F.col("first.line_idx"))
        )
        .drop("first", "lk")
    )
    per_doc = keyed.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("line_idx", "line_text"))),
            lambda s: s["line_text"],
        ),
        " ",
    )
    kept_doc = kept.groupBy("doc_id").agg(
        F.count("*").alias("k"), F.md5(rebuilt).alias("kd")
    )
    n_kept = F.coalesce(F.col("k"), F.lit(0).cast("long"))
    return (
        per_doc.join(kept_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            n_kept.alias("n_kept"),
            pround(n_kept / F.col("n_lines"), 6).alias("kept_ratio"),
            F.coalesce(F.col("kd"), F.md5(F.lit(""))).alias("kept_digest"),
        )
    )


_C4_LINE_DEDUP_SQL = f"""
WITH {_c4_lines_sql(3)},
keyed AS (SELECT doc_id, line_idx, line_text, md5(line_text) AS lk FROM ln),
kept AS (
    SELECT doc_id, line_idx, line_text FROM (
        SELECT *, row_number() OVER (PARTITION BY lk ORDER BY doc_id, line_idx) AS rn
        FROM keyed)
    WHERE rn = 1),
per_doc AS (SELECT doc_id, count(*) AS n_lines FROM keyed GROUP BY doc_id),
kd AS (SELECT doc_id, count(*) AS k,
              md5(string_agg(line_text, ' ' ORDER BY line_idx)) AS kd
       FROM kept GROUP BY doc_id)
SELECT p.doc_id AS doc_id, p.n_lines AS n_lines,
       coalesce(kd.k, 0) AS n_kept,
       {pround_sql('coalesce(kd.k, 0) * 1.0 / p.n_lines', 6)} AS kept_ratio,
       coalesce(kd.kd, md5('')) AS kept_digest
FROM per_doc p LEFT JOIN kd ON p.doc_id = kd.doc_id
"""


def q_dup_line_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher within-document repetition signals (Rae et al. 2021, Table A1):
    fraction of duplicate lines and fraction of characters sitting in the
    duplicate occurrences (beyond each line's first). Same fixed-width line
    segmenter as ``c4_line_dedup``; all lines participate (no word floor).
    Two shuffles, both keyed by doc: (doc_id, line_text) count, then the
    per-doc fold — partial aggregation makes both map-side combining."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    g = (
        _c4_lines(docs, min_words=1)
        .groupBy("doc_id", "line_text")
        .agg(F.count("*").alias("c"))
    )
    chars = F.length("line_text")
    stats = g.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.count("*").alias("n_distinct"),
        F.sum((F.col("c") - F.lit(1)) * chars).alias("dup_chars"),
        F.sum(F.col("c") * chars).alias("tot_chars"),
    )
    return stats.select(
        "doc_id",
        "n_lines",
        pround(
            (F.col("n_lines") - F.col("n_distinct")) / F.col("n_lines"), 6
        ).alias("dup_line_frac"),
        pround(F.col("dup_chars") / F.col("tot_chars"), 6).alias("dup_char_frac"),
    )


_DUP_LINE_FRACTION_SQL = f"""
WITH {_c4_lines_sql(1)},
g AS (SELECT doc_id, line_text, count(*) AS c FROM ln GROUP BY doc_id, line_text)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_lines,
       {pround_sql('(sum(c) - count(*)) * 1.0 / sum(c)', 6)} AS dup_line_frac,
       {pround_sql('sum((c - 1) * length(line_text)) * 1.0 / sum(c * length(line_text))', 6)} AS dup_char_frac
FROM g GROUP BY doc_id
"""


SPECS: list[QuerySpec] = [
    QuerySpec("dedup_exact_groups", q_dedup_exact_groups, _DEDUP_GROUPS_SQL, ("dedup", "bench")),
    QuerySpec("dedup_exact_keep", q_dedup_exact_keep, _DEDUP_KEEP_SQL, ("dedup",)),
    QuerySpec("minhash_signatures", q_minhash_signatures, _minhash_sig_sql(), ("dedup", "bench")),
    QuerySpec("minhash_lsh_pairs", q_minhash_lsh_pairs, _minhash_pairs_sql(), ("dedup",)),
    QuerySpec("simhash_32bit", q_simhash, _SIMHASH_SQL, ("dedup",)),
    QuerySpec("lsh_verified_pairs", q_lsh_verified_pairs, _lsh_verified_sql(), ("dedup",)),
    QuerySpec("dedup_clusters", q_dedup_clusters, _dedup_clusters_sql(), ("dedup", "iterative")),
    QuerySpec(
        "leakage_safe_split",
        q_leakage_safe_split,
        _leakage_safe_split_sql(),
        ("dedup", "sampling"),
        doc="Cluster-atomic 80/10/10 split: near-dup clusters hash as one unit",
    ),
    QuerySpec(
        "dedup_clusters_starstar",
        q_dedup_clusters_starstar,
        _dedup_clusters_sql(),
        ("dedup", "iterative", "scale"),
        doc="Large-star/small-star connected components (Kiveris et al.) — "
        "same labels as min-label CC, O(log^2 n) rounds, edge-rewrite form",
    ),
    QuerySpec(
        "dedup_cluster_sizes",
        q_dedup_cluster_sizes,
        _dedup_cluster_sizes_sql(),
        ("dedup", "quality"),
        doc="Cluster-size histogram over the duplicate graph (corpus health)",
    ),
    QuerySpec(
        "simhash_hamming_pairs", q_simhash_hamming, _simhash_hamming_sql(), ("dedup",)
    ),
    QuerySpec(
        "dedup_cluster_keep", q_dedup_cluster_keep, _dedup_cluster_keep_sql(), ("dedup",)
    ),
    QuerySpec("tfidf_top_terms", q_tfidf_top_terms, _TFIDF_SQL, ("text",)),
    QuerySpec(
        "bm25_topk",
        q_bm25_topk,
        _BM25_SQL,
        ("text", "retrieval", "bench"),
        doc="Okapi BM25 top-20 for a fixed query; fixed-order per-term sums "
        "keep float addition engine-identical",
    ),
    QuerySpec("pii_redaction", q_pii_redaction, _PII_SQL, ("text", "governance")),
    QuerySpec(
        "hashed_linear_score",
        q_hashed_linear_score,
        _HASHED_LINEAR_SQL,
        ("llm", "curation", "ml"),
        doc="fastText-style hashed linear classifier inference: deterministic "
        "weight table from the seeded portable hash, exact BIGINT scores, "
        "map-only + one per-doc aggregate",
    ),
    QuerySpec("stratified_sample_lang", q_stratified_sample, _stratified_sql(), ("sampling",)),
    QuerySpec("token_length_bins", q_token_length_bins, _TOKEN_BINS_SQL, ("text", "stats")),
    QuerySpec("ngram_jaccard_pairs", q_ngram_jaccard, _JACCARD_SQL, ("dedup",)),
    QuerySpec("cosine_topk_bruteforce", q_cosine_topk, _COSINE_TOPK_SQL, ("similarity", "bench")),
    QuerySpec("embedding_neardup_pairs", q_embedding_neardup, _NEARDUP_SQL, ("similarity",)),
    QuerySpec(
        "embedding_neardup_bucketed",
        q_embedding_neardup_bucketed,
        _NEARDUP_BUCKETED_SQL,
        ("similarity", "scale", "bench"),
    ),
    QuerySpec(
        "semdedup_prune",
        q_semdedup_prune,
        _SEMDEDUP_SQL,
        ("similarity", "dedup", "scale"),
        doc="SemDeDup semantic dedup: keep the duplicate farthest from its IVF centroid",
    ),
    QuerySpec("ivf_assign", q_ivf_assign, _IVF_ASSIGN_SQL, ("similarity",)),
    QuerySpec("ivf_topk_ann", q_ivf_topk, _IVF_TOPK_SQL, ("similarity",)),
    QuerySpec(
        "dsir_importance_weights",
        q_dsir_importance,
        _dsir_sql(),
        ("llm", "selection"),
        doc="DSIR importance weighting (hashed-unigram log-likelihood ratio "
        "target-vs-corpus, Xie et al. 2023) — per-bucket log-ratio quantized "
        "to integer micro-nats once, per-doc scores are exact integer dot "
        "products; top-50 selection",
    ),
    QuerySpec(
        "bpe_merge_candidates",
        q_bpe_merge_candidates,
        _BPE_MERGE_SQL,
        ("llm", "tokenizer"),
        doc="First BPE merge step at corpus scale: adjacent char-pair counts "
        "over the word-frequency table (distinct words only — corpus-size-"
        "independent stage 2), top-20 merges, integer-exact",
    ),
    QuerySpec(
        "bpe_train_rounds",
        q_bpe_train_rounds,
        _bpe_train_sql(),
        ("llm", "tokenizer", "iterative"),
        doc="3 unrolled BPE TRAINING rounds: top pair → canonical left-to-"
        "right non-overlapping merge across the vocabulary (own-delimiter "
        "token encoding) → recount; corpus enters only the first aggregate",
    ),
    QuerySpec(
        "bpe_encode_corpus",
        q_bpe_encode_corpus,
        _bpe_encode_sql(),
        ("llm", "tokenizer"),
        doc="Tokenizer APPLICATION: encode every document with the trained "
        "3-round BPE — per-word encode over the broadcast |V|-row table, "
        "per-doc token counts; the deploy half of bpe_train_rounds",
    ),
    QuerySpec(
        "wordpiece_merge_scores",
        q_wordpiece_merge_scores,
        _WORDPIECE_SQL,
        ("llm", "tokenizer"),
        doc="WordPiece likelihood-scored merge ranking: count(ab)/(count(a)"
        "·count(b)) in exact pico-units — pair counts and marginals both "
        "off the one word-frequency aggregate",
    ),
    QuerySpec(
        "ivf_topk_batch",
        q_ivf_topk_batch,
        _IVF_BATCH_SQL,
        ("similarity", "batch-retrieval", "bench"),
        doc="Batched multi-query ANN: queries table -> map-side probe "
        "buckets (broadcast) -> one bucket equi-join -> per-query top-k "
        "via WindowGroupLimit; no cartesian (plan-gated)",
    ),
    QuerySpec(
        "ivf_topk_multiprobe",
        q_ivf_topk_multiprobe,
        _IVF_MULTIPROBE_SQL,
        ("similarity",),
        doc="Multi-probe IVF ANN (nprobe=3 of 8 buckets) — the recall lever",
    ),
    QuerySpec("text_stats", q_text_stats, _TEXT_STATS_SQL, ("text", "bench")),
    QuerySpec("lang_id_heuristic", q_lang_id, _lang_id_sql(), ("text",)),
    QuerySpec("quality_score", q_quality_score, _QUALITY_SQL, ("text",)),
    QuerySpec("doc_fingerprint", q_fingerprint, _FINGERPRINT_SQL, ("text",)),
    QuerySpec("token_count_bpe", q_token_count_bpe, _BPE_SQL, ("text",)),
    QuerySpec("commute_enrichment_udf", q_commute_enrichment, _COMMUTE_SQL, ("udf",)),
    QuerySpec(
        "corpus_curation_pipeline", q_corpus_curation, _curation_sql(), ("text", "dedup", "bench")
    ),
    QuerySpec("salted_groupby_skew", q_salted_groupby, _SALTED_SQL, ("agg", "scale")),
    QuerySpec(
        "salted_skew_join",
        q_salted_skew_join,
        _SALTED_JOIN_SQL,
        ("join", "scale"),
        doc="Hot-key fact-dim join salted across 8 tasks; oracle is the plain "
        "join (salting is result-invariant)",
    ),
    QuerySpec("rolling_hash_fingerprint", q_rolling_fingerprint, _ROLLING_SQL, ("text", "dedup")),
    QuerySpec(
        "benchmark_decontamination",
        q_decontamination,
        _DECONTAMINATION_SQL,
        ("text", "dedup", "bench"),
    ),
    QuerySpec("repetition_ngram_ratio", q_repetition_ratio, _REPETITION_SQL, ("text",)),
    QuerySpec(
        "crossdoc_dup_ngrams", q_crossdoc_dup_ngrams, _CROSSDOC_SQL, ("dedup", "text", "bench")
    ),
    QuerySpec(
        "dup_span_removal",
        q_dup_span_removal,
        _DUP_SPAN_REMOVAL_SQL,
        ("dedup", "text"),
        doc="ExactSubstr-style duplicated-span removal: rewrite docs minus cross-doc 5-gram spans",
    ),
    QuerySpec(
        "udtf_tokenize_positions",
        q_udtf_tokenize,
        _UDTF_TOKENIZE_SQL,
        ("udf", "text"),
        doc="Python UDTF via correlated LATERAL join (API demo; JVM path is the hot path)",
    ),
    QuerySpec(
        "corpus_split_assign",
        q_corpus_split_assign,
        _CORPUS_SPLIT_SQL,
        ("text",),
        doc="Hash-deterministic 80/10/10 train/val/test assignment, shuffle-free",
    ),
    QuerySpec(
        "length_percentile_filter",
        q_length_percentile_filter,
        _LENGTH_PCTL_SQL,
        ("text", "window"),
        doc="p5-p95 nearest-rank token-length gate per language, integer-exact",
    ),
    QuerySpec(
        "embedding_simhash_pairs",
        q_hyperplane_simhash,
        _hyperplane_simhash_sql(),
        ("similarity", "dedup", "bench"),
    ),
    QuerySpec("domain_mixture_weights", q_domain_mixture_weights, _MIXTURE_SQL, ("text", "sampling")),
    QuerySpec(
        "temperature_mixture",
        q_temperature_mixture,
        _TEMPERATURE_SQL,
        ("text", "sampling"),
        doc="mT5/XLM-R temperature sampling weights (alpha=0.3) with order-pinned float folds",
    ),
    QuerySpec("char_entropy", q_char_entropy, _CHAR_ENTROPY_SQL, ("text",)),
    QuerySpec(
        "pq_encode",
        q_pq_encode,
        _PQ_ENCODE_SQL,
        ("similarity", "compression", "bench"),
        doc="Product-quantization codes: 32x embedding compression, map-side argmin per subspace",
    ),
    QuerySpec(
        "pq_adc_topk",
        q_pq_adc_topk,
        _PQ_ADC_SQL,
        ("similarity", "compression"),
        doc="Asymmetric-distance top-k over PQ codes (scan 8-byte codes, not 256-byte vectors)",
    ),
    QuerySpec(
        "sequence_packing",
        q_sequence_packing,
        _SEQ_PACK_SQL,
        ("text", "packing"),
        doc="Greedy sample packing into 256-token windows per hash shard (applyInPandas fold)",
    ),
    QuerySpec(
        "embedding_dup_clusters",
        q_embedding_dup_clusters,
        _embedding_dup_clusters_sql(),
        ("dedup", "similarity", "iterative"),
        doc="Semantic dup clusters: IVF-bucketed cosine pairs -> connected components, end to end",
    ),
    QuerySpec(
        "lm_bigram_score",
        q_lm_bigram_score,
        _LM_BIGRAM_SQL,
        ("text", "quality"),
        doc="Corpus-trained bigram-LM avg log-probability per doc (perplexity-style quality)",
    ),
    QuerySpec(
        "ccnet_perplexity_buckets",
        q_ccnet_perplexity_buckets,
        _CCNET_SQL,
        ("llm", "text", "quality", "scale", "bench"),
        doc="CCNet head/middle/tail per-language LM-score terciles via "
        "grouped_rank — per-language ntile with no corpus-sized window "
        "partition (range-bucketed rank + |lang|·P broadcast offsets)",
    ),
    QuerySpec(
        "curation_funnel_report",
        q_curation_funnel_report,
        _FUNNEL_SQL,
        ("llm", "governance", "pipeline"),
        doc="Per-source curation funnel audit (raw → exact-dedup → Gopher "
        "quality): survivor counts + id checksums off the registry's own "
        "gate definitions",
    ),
    QuerySpec(
        "mmr_diverse_rerank",
        q_mmr_diverse_rerank,
        _MMR_SQL,
        ("similarity", "llm"),
        doc="Maximal-marginal-relevance re-rank of the top-8 cosine "
        "candidates, 3 unrolled greedy picks (λ=0.7), k²-bounded pair "
        "work off one checkpointed candidate set",
    ),
    QuerySpec(
        "ivfpq_topk",
        q_ivfpq_topk,
        _IVFPQ_SQL,
        ("similarity", "compression"),
        doc="IVF+PQ (IVFADC): probe nprobe buckets -> ADC shortlist over codes -> exact rerank",
    ),
    QuerySpec(
        "ivfpq_residual_topk",
        q_ivfpq_residual_topk,
        _IVFPQ_RESIDUAL_SQL,
        ("similarity", "compression", "bench"),
        doc="Residual-encoded IVFADC (FAISS IVFPQ): codes describe v - centroid(v), "
        "per-probed-cell query-residual ADC tables",
    ),
    QuerySpec(
        "pq_trained_encode",
        q_pq_trained_encode,
        _pq_trained_oracle(),
        ("similarity", "compression", "ml"),
        doc="PQ encode under integer fixed-point-TRAINED sub-codebooks "
        "(bounded 256-row sample, 2-round per-subspace Lloyd's) — training "
        "AND codes hash-checked vs the unrolled DuckDB oracle",
    ),
    QuerySpec(
        "mixture_resample",
        q_mixture_resample,
        _MIXTURE_RESAMPLE_SQL,
        ("text", "sampling"),
        doc="Deterministic importance resampling toward a uniform source mixture",
    ),
    QuerySpec(
        "weighted_sample_topk",
        q_weighted_sample_topk,
        _WEIGHTED_SAMPLE_SQL,
        ("text", "sampling"),
        doc="Efraimidis-Spirakis A-Res weighted sampling without replacement "
        "(deterministic hash uniforms, reservoir top-k)",
    ),
    QuerySpec(
        "lsh_recall_report",
        q_lsh_recall_report,
        _lsh_recall_sql(),
        ("dedup", "quality"),
        doc="Dedup self-evaluation: LSH candidate recall + efficiency vs the "
        "exact-Jaccard ground truth on a bounded shard, hash-checked",
    ),
    QuerySpec(
        "lang_vocab_overlap",
        q_lang_vocab_overlap,
        _LANG_VOCAB_SQL,
        ("text", "quality"),
        doc="Pairwise language vocabulary Jaccard — mislabeled-language "
        "diagnostic; token-keyed join over the distinct vocabulary",
    ),
    QuerySpec(
        "weighted_sample_per_lang",
        q_weighted_sample_per_lang,
        _WEIGHTED_PER_LANG_SQL,
        ("text", "sampling", "window"),
        doc="Stratified A-Res: per-language top-3 reservoir in one pass via "
        "WindowGroupLimit — per-stratum quotas without per-stratum jobs",
    ),
    QuerySpec(
        "gopher_quality_flags",
        q_gopher_quality_flags,
        _GOPHER_SQL,
        ("text", "quality", "bench"),
        doc="Gopher/MassiveText quality gates: word count, mean word length, "
        "alpha-word fraction, stopword hits — map-only flags",
    ),
    QuerySpec(
        "token_diversity",
        q_token_diversity,
        _TOKEN_DIVERSITY_SQL,
        ("text", "quality"),
        doc="Type-token ratio + duplicated-bigram fraction (repetition gate)",
    ),
    QuerySpec(
        "stream_quality_curation",
        q_stream_quality_curation,
        _STREAM_CURATION_SQL,
        ("text", "quality", "streaming"),
        doc="LIVE streaming curation: Gopher gate -> stateful exact dedup, "
        "hash-matched against the batch DISTINCT oracle",
    ),
    QuerySpec(
        "cross_source_contamination",
        q_cross_source_contamination,
        _cross_source_sql(),
        ("dedup", "quality"),
        doc="Cross-source near-dup contamination matrix over LSH-verified pairs",
    ),
    QuerySpec(
        "doc_chunking",
        q_doc_chunking,
        _DOC_CHUNK_SQL,
        ("text",),
        doc="Sliding-window 32-token chunks with stride 24 (context-window prep), "
        "map-side explode",
    ),
    QuerySpec(
        "sq8_encode",
        q_sq8_encode,
        _SQ8_ENCODE_SQL,
        ("similarity", "compression"),
        doc="SQ8 scalar quantization: per-dim [min,max] affine 8-bit codes, "
        "bounds from one agg pass, map-side encode",
    ),
    QuerySpec(
        "sq8_adc_topk",
        q_sq8_adc_topk,
        _SQ8_ADC_SQL,
        ("similarity", "compression", "bench"),
        doc="Asymmetric-distance top-k over SQ8 codes (FAISS IndexScalarQuantizer shape)",
    ),
    QuerySpec(
        "c4_line_dedup",
        q_c4_line_dedup,
        _C4_LINE_DEDUP_SQL,
        ("dedup", "text", "bench"),
        doc="C4 global line dedup (keep-first occurrence corpus-wide, <3-word "
        "lines dropped) with per-doc retention stats and rebuilt-text digest; "
        "one line-key shuffle + one doc-id shuffle",
    ),
    QuerySpec(
        "dup_line_fraction",
        q_dup_line_fraction,
        _DUP_LINE_FRACTION_SQL,
        ("text", "quality"),
        doc="Gopher within-doc repetition: duplicate-line fraction and "
        "duplicate-char fraction over fixed-width line segments",
    ),
]
