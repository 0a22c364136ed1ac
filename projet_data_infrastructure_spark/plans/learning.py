"""Classic-ML / evaluation operators over the training-data tables — each an
iterative-or-transcendental algorithm re-derived in the repo's deterministic
integer discipline so it hash-checks against a DuckDB oracle.

* ``naive_bayes_lang`` — multinomial Naive Bayes language classifier
  (train + score + confusion matrix) with Laplace-smoothed log-probs
  quantized ONCE to integer micro-nats (the ``dsir_importance_weights``
  treatment), so per-doc scores are order-free integer dot products.
* ``decision_stump_quantity`` — exact best-split search (weighted Gini) over
  every threshold of a numeric feature; impurity in integer micro-units via
  cross-multiplied counts — the inner loop of every tree ensemble.
* ``retrieval_eval_metrics`` — P@10 / MRR / NDCG@10 of the exact-cosine
  ranking against label relevance, with the 1/log2(rank+1) discount table
  quantized to integer micro-nats — the IR-eval triple for embedding
  retrieval, hash-exact.
* ``brand_cf_cosine`` — item-item collaborative-filtering cosine over binary
  customer×brand incidence; cosine² in integer micro-units (one integer
  division) so no sqrt ever runs.
* ``winnowing_fingerprint`` — MOSS winnowing (Schleimer et al. 2003,
  SIGMOD): per-window minimum k-gram hash with the rightmost tie rule,
  distinct selected fingerprints per document.
* ``twa_event_value`` — per-user time-weighted average event value
  (piecewise-constant hold between events), second-resolution integer
  weights.
* ``l_diversity_audit`` — the l-diversity companion to the k-anonymity
  audit: distinct-sensitive-value counts per quasi-identifier group.

Scale notes are on each builder. Reference parity: the reference repo
(yanggautier/Projet_Data_Infrastructure) has no ML surface — this module is
part of the charter's training-data-pipeline extension family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.operators.ranks import bounded_order
from projet_data_infrastructure_spark.operators.text import tokens
from projet_data_infrastructure_spark.plans._portable import fdiv, pround, pround_sql
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.session import default_parallelism
from projet_data_infrastructure_spark.sources.readers import read_table, read_table_balanced

_TOKS_LOWER_SQL = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"
)

# Micro-nat quantization bias — same constant as dsir_importance_weights:
# floor(x * 1e6 + 0.50001) rounds half-up with the boundary nudged off the
# exact .5 grid so a 1-ulp cross-engine ln() difference cannot flip a bucket.
_QBIAS = 0.50001


# --------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier
# --------------------------------------------------------------------------


def nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc predictions of a multinomial NB language classifier trained on
    the corpus's own (lang, word) counts — the classic supervised baseline
    a data pipeline runs to audit its language labels.

    Determinism: the two transcendentals (Laplace-smoothed class-
    conditional log-prob, class prior) are computed once per (lang, word) /
    per lang and immediately quantized to integer micro-nats; scoring is
    then an exact integer dot product (order-free) and argmax ties break on
    the smaller lang label — hash-exact cross-engine.

    Scale shape: one corpus tokenize reduces to per-(doc, word) counts in a
    single map-side-combined shuffle; the (lang, word) weight table derives
    from THAT aggregate (vocabulary-bounded, never a second corpus pass).
    Scoring joins doc-word counts × L langs (L=5 here; the lang list is a
    broadcast) against the weight table on (lang, word) — an equi-join that
    shuffles at most |doc words| × L rows with map-side partial aggregation
    down to |docs| × L. The argmax is a row_number over the L-row per-doc
    frame (bounded window)."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    dwc = (
        docs.select("doc_id", "lang", F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # reused by the stats AND the scoring pass
    )
    # class-conditional word counts + per-class totals, off the aggregate
    wc = dwc.groupBy("lang", "w").agg(F.sum("c").alias("cw"))
    tot = wc.groupBy("lang").agg(F.sum("cw").alias("tot"))
    vocab = wc.select("w").distinct().agg(F.count(F.lit(1)).alias("v"))
    prior = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))

    def _q(col):  # micro-nat quantization (dsir discipline)
        return F.floor(col * F.lit(1_000_000.0) + F.lit(_QBIAS)).cast("long")

    # per-(lang, word) smoothed log-prob + per-lang unseen-word default
    weights = (
        wc.join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "w",
            _q(
                F.log(
                    (F.col("cw") + 1).cast("double")
                    / (F.col("tot") + F.col("v")).cast("double")
                )
            ).alias("lw_unats"),
        )
    )
    cls = (
        prior.join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            _q(F.log(F.col("nd").cast("double") / F.col("n").cast("double"))).alias(
                "prior_unats"
            ),
            _q(
                F.log(F.lit(1.0) / (F.col("tot") + F.col("v")).cast("double"))
            ).alias("default_unats"),
        )
    )
    scored = (
        dwc.withColumnRenamed("lang", "true_lang")
        .join(F.broadcast(cls.select(F.col("lang").alias("cand"), "prior_unats", "default_unats")))
        .join(
            weights,
            (F.col("cand") == weights.lang) & (dwc.w == weights.w),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand", "prior_unats")
        .agg(
            F.sum(
                F.col("c") * F.coalesce(F.col("lw_unats"), F.col("default_unats"))
            ).alias("ll")
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("prior_unats") + F.col("ll")).alias("score_unats"),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("score_unats"), F.asc("cand"))
    return scored.withColumn("rn", F.row_number().over(w_doc)).filter(
        F.col("rn") == 1
    ).select("doc_id", "true_lang", F.col("cand").alias("pred"))


def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix spec over :func:`nb_predictions` (the per-doc
    prediction frame is factored out so paired-classifier audits —
    ``stats_inference.q_mcnemar_lang_classifiers`` — reuse the exact scorer)."""
    pred = nb_predictions(spark, sf_dir)
    return bounded_order(
        pred.groupBy(F.col("true_lang").alias("lang"), F.col("pred").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs")),
        "lang", "pred_lang",
    )


#: Reusable CTE chain producing per-doc NB predictions (`pred` with
#: doc_id/true_lang/cand/rn) — shared with the McNemar paired audit.
_NB_PRED_CTES = f"""toks AS (
    SELECT doc_id, lang, unnest({_TOKS_LOWER_SQL}) AS w FROM documents
),
dwc AS (
    SELECT doc_id, lang AS true_lang, w, count(*) AS c FROM toks GROUP BY 1, 2, 3
),
wc AS (SELECT true_lang AS lang, w, CAST(sum(c) AS BIGINT) AS cw FROM dwc GROUP BY 1, 2),
tot AS (SELECT lang, CAST(sum(cw) AS BIGINT) AS tot FROM wc GROUP BY lang),
vocab AS (SELECT count(DISTINCT w) AS v FROM wc),
prior AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
ndocs AS (SELECT count(*) AS n FROM documents),
weights AS (
    SELECT wc.lang, wc.w,
           CAST(floor(ln(CAST(cw + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE))
                      * 1000000.0 + {_QBIAS}) AS BIGINT) AS lw_unats
    FROM wc JOIN tot USING (lang), vocab
),
cls AS (
    SELECT p.lang,
           CAST(floor(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE))
                      * 1000000.0 + {_QBIAS}) AS BIGINT) AS prior_unats,
           CAST(floor(ln(1.0 / CAST(tot + v AS DOUBLE))
                      * 1000000.0 + {_QBIAS}) AS BIGINT) AS default_unats
    FROM prior p JOIN tot USING (lang), vocab, ndocs
),
scored AS (
    SELECT d.doc_id, d.true_lang, c.lang AS cand,
           c.prior_unats
           + CAST(sum(d.c * COALESCE(wt.lw_unats, c.default_unats)) AS BIGINT)
             AS score_unats
    FROM dwc d
    CROSS JOIN cls c
    LEFT JOIN weights wt ON wt.lang = c.lang AND wt.w = d.w
    GROUP BY d.doc_id, d.true_lang, c.lang, c.prior_unats, c.default_unats
),
pred AS (
    SELECT doc_id, true_lang, cand,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_unats DESC, cand) AS rn
    FROM scored
)"""

_NB_SQL = f"""
WITH {_NB_PRED_CTES}
SELECT true_lang AS lang, cand AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2
ORDER BY lang, pred_lang
"""


# --------------------------------------------------------------------------
# Decision-stump exact split search (weighted Gini)
# --------------------------------------------------------------------------


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 split thresholds on l_quantity for predicting l_returnflag='R'
    by exact weighted Gini impurity — the inner loop of tree induction,
    run over EVERY candidate threshold at once.

    Integer discipline: per-branch weighted Gini ``2·a·b/n`` is kept in
    micro-units via ``(2000000·a·b) DIV n`` — one integer division per
    branch, exact in both engines for non-negative operands. At sf0.1 the
    products stay < 2e17 (int64-safe); a 100 TB run would lift the moment
    products to DECIMAL(25,0) exactly as ``ols_two_feature_nation`` does.

    Scale shape: one map-side-combined aggregate reduces the fact table to
    ≤ |distinct feature values| rows (50 here); the cumulative scan, split
    scoring and top-5 all run on that bounded frame — window over 50 rows,
    TakeOrdered 5. One corpus-sized shuffle total."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    per_q = li.groupBy("q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("pos")
    )
    w_cum = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_q.select(
        "q",
        F.sum("n").over(w_cum).alias("nl"),
        F.sum("pos").over(w_cum).alias("al"),
        F.sum("n").over(w_all).alias("nt"),
        F.sum("pos").over(w_all).alias("pt"),
    ).filter(F.col("nl") < F.col("nt"))
    scored = cum.select(
        F.col("q").alias("threshold"),
        F.col("nl").alias("n_left"),
        (F.col("nt") - F.col("nl")).alias("n_right"),
        (
            F.expr("(2000000 * al * (nl - al)) DIV nl")
            + F.expr("(2000000 * (pt - al) * ((nt - nl) - (pt - al))) DIV (nt - nl)")
        ).alias("impurity_micro"),
    )
    return scored.orderBy(F.asc("impurity_micro"), F.asc("threshold")).limit(5)


_STUMP_SQL = """
WITH li AS (
    SELECT CAST(l_quantity AS BIGINT) AS q,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
    FROM lineitem
),
per_q AS (SELECT q, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos FROM li GROUP BY q),
cum AS (
    SELECT q,
           CAST(sum(n) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
           CAST(sum(pos) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS al,
           CAST(sum(n) OVER () AS BIGINT) AS nt,
           CAST(sum(pos) OVER () AS BIGINT) AS pt
    FROM per_q
)
SELECT q AS threshold, nl AS n_left, nt - nl AS n_right,
       CAST((2000000 * al * (nl - al)) // nl
            + (2000000 * (pt - al) * ((nt - nl) - (pt - al))) // (nt - nl)
            AS BIGINT) AS impurity_micro
FROM cum WHERE nl < nt
ORDER BY impurity_micro, threshold
LIMIT 5
"""


# --------------------------------------------------------------------------
# Embedding-retrieval evaluation: P@10 / MRR / NDCG@10
# --------------------------------------------------------------------------


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P@10, MRR and NDCG@10 of the exact-cosine top-10 for query vector 0,
    with relevance = label match — the retrieval-eval triple every
    embedding pipeline reports, in pure integers.

    The only transcendental (the 1/log2(rank+1) NDCG discount) is
    quantized per rank to integer micro-nats, so DCG/IDCG are integer dot
    products and NDCG is one integer division; MRR is ``1e6 DIV rank``.

    Scale shape: the ranking is the brute-force cosine scan (one map pass +
    TakeOrderedAndProject top-10 — the `cosine_topk_bruteforce` plan); all
    metric arithmetic runs on the bounded 10-row frame."""
    emb = read_table(spark, sf_dir, "embeddings")
    qrow = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"), F.col("label").alias("qlabel")
        )
    )
    sims = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(qrow)
        .select(
            "vec_id",
            "label",
            "qlabel",
            F.floor(
                F.expr(
                    "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>),"
                    " CAST(qv AS ARRAY<DOUBLE>), (x, y) -> x * y),"
                    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                    " / (sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>),"
                    "   CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))"
                    " * sqrt(aggregate(CAST(qv AS ARRAY<DOUBLE>),"
                    "   CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v)))"
                    " * 1000000.0 + 0.50001"
                )
            ).alias("sim_q")
        )
        .orderBy(F.desc("sim_q"), F.asc("vec_id"))
        .limit(10)
    )
    w10 = Window.orderBy(F.desc("sim_q"), F.asc("vec_id"))
    ranked = sims.select(
        F.row_number().over(w10).alias("rank"),
        F.when(F.col("label") == F.col("qlabel"), F.lit(1)).otherwise(F.lit(0)).alias("rel"),
    ).select(
        "rank",
        "rel",
        # rank-discount table, quantized micro-nats (rank+1 ≥ 2 → log2 > 0)
        F.floor(
            F.lit(1_000_000.0) / F.log2(F.col("rank").cast("double") + F.lit(1.0))
            + F.lit(_QBIAS)
        )
        .cast("long")
        .alias("wq"),
    )
    n_rel = ranked.agg(F.sum("rel").cast("long").alias("n_rel"))
    return (
        ranked.crossJoin(F.broadcast(n_rel))
        .groupBy("n_rel")
        .agg(
            (F.sum("rel").cast("long") * F.lit(100_000)).alias("p_at_10_micro"),
            F.coalesce(
                F.expr("1000000 DIV min(CASE WHEN rel = 1 THEN rank END)"),
                F.lit(0).cast("long"),
            ).alias("mrr_micro"),
            F.coalesce(
                F.expr(
                    "CASE WHEN sum(CASE WHEN rank <= n_rel THEN wq ELSE 0 END) > 0"
                    " THEN (sum(rel * wq) * 1000000)"
                    " DIV sum(CASE WHEN rank <= n_rel THEN wq ELSE 0 END)"
                    " ELSE CAST(0 AS BIGINT) END"
                ),
                F.lit(0).cast("long"),
            ).alias("ndcg_micro"),
        )
    )


_RETRIEVAL_EVAL_SQL = f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qv, label AS qlabel FROM embeddings WHERE vec_id = 0
),
sims AS (
    SELECT vec_id, label, qlabel,
           CAST(floor(list_cosine_similarity(embedding::DOUBLE[], qv)
                      * 1000000.0 + 0.50001) AS BIGINT) AS sim_q
    FROM embeddings, q
    WHERE vec_id != 0
    ORDER BY sim_q DESC, vec_id
    LIMIT 10
),
ranked AS (
    SELECT row_number() OVER (ORDER BY sim_q DESC, vec_id) AS rank,
           CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
    FROM sims
),
wtab AS (
    SELECT rank, rel,
           CAST(floor(1000000.0 / log2(CAST(rank AS DOUBLE) + 1.0)
                      + {_QBIAS}) AS BIGINT) AS wq
    FROM ranked
),
nrel AS (SELECT CAST(sum(rel) AS BIGINT) AS n_rel FROM wtab)
SELECT n_rel,
       CAST(sum(rel) * 100000 AS BIGINT) AS p_at_10_micro,
       CAST(COALESCE(1000000 // min(CASE WHEN rel = 1 THEN rank END), 0) AS BIGINT)
           AS mrr_micro,
       CAST(COALESCE(
           CASE WHEN sum(CASE WHEN rank <= n_rel THEN wq ELSE 0 END) > 0
                THEN (sum(rel * wq) * 1000000)
                     // sum(CASE WHEN rank <= n_rel THEN wq ELSE 0 END)
                ELSE 0 END, 0) AS BIGINT) AS ndcg_micro
FROM wtab, nrel
GROUP BY n_rel
"""


# --------------------------------------------------------------------------
# Item-item collaborative-filtering cosine (binary incidence)
# --------------------------------------------------------------------------


def q_brand_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 brand pairs by item-item cosine over binary customer×brand
    incidence — the classic neighborhood CF similarity, sqrt-free:
    cos²(a,b) = |A∩B|² / (|A|·|B|) is emitted in integer micro-units via
    one integer division per pair, so the ranking is hash-exact.

    Scale shape: the incidence list is DISTINCT (customer, brand) — one
    corpus shuffle; pair generation is the A-Priori bounded-basket
    self-join on customer (≤ C(|brands|,2) = 300 pairs per customer —
    bounded by the item vocabulary, not the fact table); the pair aggregate
    map-side-combines. The item-count frame is broadcast back. No
    all-pairs scan anywhere."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    line = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r14 (guide §2.4): per-customer sorted brand arrays — ONE groupBy
    # shuffle — feed both the item counts (explode) and the map-side
    # ordered pair explode; the customer-keyed self-join (two more
    # shuffles of the incidence list) is gone. Same counts: the arrays ARE
    # the distinct (customer, brand) rows.
    ub = (
        line.join(F.broadcast(part), line.l_partkey == part.p_partkey)
        .join(orders, line.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "p_brand")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .repartition(default_parallelism())
    ).localCheckpoint()  # reused: item counts + pair explode
    na = (
        ub.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inter = (
        ub.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)), y ->"
                    " struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        inter.join(
            F.broadcast(na.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(na.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))),
            "brand_b",
        )
        .select(
            "brand_a",
            "brand_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr("(n_both * n_both * 1000000) DIV (n_a * n_b)").alias("cos2_micro"),
        )
        .orderBy(F.desc("cos2_micro"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(15)
    )


_BRAND_CF_SQL = """
WITH ub AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
),
na AS (SELECT brand, count(*) AS n FROM ub GROUP BY brand),
inter AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_both
    FROM ub a JOIN ub b ON a.ck = b.ck AND a.brand < b.brand
    GROUP BY 1, 2
)
SELECT i.brand_a, i.brand_b,
       CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
       CAST(i.n_both AS BIGINT) AS n_both,
       CAST((i.n_both * i.n_both * 1000000) // (x.n * y.n) AS BIGINT) AS cos2_micro
FROM inter i
JOIN na x ON x.brand = i.brand_a
JOIN na y ON y.brand = i.brand_b
ORDER BY cos2_micro DESC, brand_a, brand_b
LIMIT 15
"""


# --------------------------------------------------------------------------
# MOSS winnowing document fingerprints
# --------------------------------------------------------------------------

_WIN_K = 3  # k-gram size (words)
_WIN_W = 4  # winnowing window (k-grams)


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    public): per document, hash every word 3-gram, slide a 4-gram window,
    select the window MINIMUM hash with the rightmost-position tie rule,
    and keep the distinct selected (position, hash) fingerprints — the
    guarantee-bearing sampling that powers MOSS-style plagiarism / overlap
    detection. Output per doc: fingerprint count + an order-free checksum.

    Scale shape: all map-side until one (doc, window) shuffle. The window
    membership is expanded as an EQUI-join key (start = pos − j, j ∈
    0..w−1) instead of a pos BETWEEN range join — 4× linear row expansion,
    never a nested loop. Window frames are per-doc-bounded; the winner per
    window is a row_number over ≤4 rows; everything integer."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks")).filter(
        F.size("toks") >= _WIN_K
    )
    grams = t.select(
        "doc_id",
        (F.size("toks") - F.lit(_WIN_K - 1)).alias("m"),  # number of k-grams
        F.expr(
            f"explode(transform(sequence(1, size(toks) - {_WIN_K - 1}),"
            f" i -> struct(i AS pos,"
            f" concat_ws(' ', slice(toks, i, {_WIN_K})) AS g)))"
        ).alias("kg"),
    ).select("doc_id", "m", F.col("kg.pos").alias("pos"), hash64(F.col("kg.g")).alias("h"))
    # window starts via equi-expansion: gram at pos belongs to windows
    # start ∈ {pos-3 .. pos}, clamped to [1, max(1, m-3)]
    expanded = grams.select(
        "doc_id",
        "pos",
        "h",
        F.explode(
            F.expr(
                f"filter(transform(sequence(0, {_WIN_W - 1}), j -> pos - j),"
                f" s -> s >= 1 AND s <= greatest(1, m - {_WIN_W - 1}))"
            )
        ).alias("s"),
    )
    w_win = Window.partitionBy("doc_id", "s").orderBy(F.asc("h"), F.desc("pos"))
    chosen = (
        expanded.withColumn("rn", F.row_number().over(w_win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "pos", "h")
        .distinct()
    )
    return (
        chosen.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(F.pmod(F.col("h"), F.lit(1_000_000_007))).alias("fp_checksum"),
        )
        .orderBy("doc_id")
    )


_WINNOW_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKS_LOWER_SQL} AS toks FROM documents
),
grams AS (
    SELECT doc_id, len(toks) - {_WIN_K - 1} AS m, i AS pos,
           {hash64_sql(f"array_to_string(toks[i : i + {_WIN_K - 1}], ' ')")} AS h
    FROM t, unnest(generate_series(1, len(toks) - {_WIN_K - 1})) AS u(i)
    WHERE len(toks) >= {_WIN_K}
),
expanded AS (
    SELECT doc_id, pos, h, pos - j AS s
    FROM grams, unnest(generate_series(0, {_WIN_W - 1})) AS v(j)
    WHERE pos - j >= 1 AND pos - j <= greatest(1, m - {_WIN_W - 1})
),
chosen AS (
    SELECT DISTINCT doc_id, pos, h FROM (
        SELECT doc_id, pos, h,
               row_number() OVER (PARTITION BY doc_id, s
                                  ORDER BY h, pos DESC) AS rn
        FROM expanded
    ) WHERE rn = 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(sum(h % 1000000007) AS BIGINT) AS fp_checksum
FROM chosen GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Time-weighted average event value per user
# --------------------------------------------------------------------------


def q_twa_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of ``value`` with piecewise-constant
    hold between consecutive events (the metering/billing aggregate — a
    plain AVG over-weights bursts). Weights are integer SECONDS between
    events (the last observation carries no weight); the value is
    quantized to integer micro-units once, so the weighted average is one
    integer division — hash-exact.

    Scale shape: one user-keyed window sort (the sessionize exchange),
    then a map-side-combined per-user aggregate. Sub-second gaps weigh 0
    by design (second-resolution billing grid)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(_QBIAS))
        .cast("long")
        .alias("v_micro"),
    )
    w_u = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = ev.select(
        "user_id",
        "v_micro",
        (F.lead("ts_us").over(w_u) - F.col("ts_us")).alias("gap_us"),
    ).select("user_id", "v_micro", F.expr("gap_us DIV 1000000").alias("gap_s"))
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("gap_s").alias("span_s"),
        F.sum(F.col("v_micro") * F.col("gap_s")).alias("num"),
    )
    return (
        agg.filter(F.col("span_s") > 0)
        .select(
            "user_id",
            "n_events",
            "span_s",
            F.expr("num DIV span_s").alias("twa_micro"),
        )
        .orderBy("user_id")
    )


_TWA_SQL = f"""
WITH ev AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CAST(floor(value * 1000000.0 + {_QBIAS}) AS BIGINT) AS v_micro
    FROM events
),
gaps AS (
    SELECT user_id, v_micro,
           (lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
            - ts_us) // 1000000 AS gap_s
    FROM ev
),
agg AS (
    SELECT user_id, count(*) AS n_events,
           CAST(sum(gap_s) AS BIGINT) AS span_s,
           CAST(sum(v_micro * gap_s) AS BIGINT) AS num
    FROM gaps GROUP BY user_id
)
SELECT user_id, n_events, span_s, CAST(num // span_s AS BIGINT) AS twa_micro
FROM agg WHERE span_s > 0
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# l-diversity audit (governance)
# --------------------------------------------------------------------------


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the customer quasi-identifier grouping
    (nation × market segment): a group can be k-anonymous yet leak its
    sensitive attribute if every member shares one value — l counts the
    DISTINCT sensitive values (account-balance kilobucket) per group;
    groups with l < 3 are flagged. One aggregation pass; the companion to
    ``k_anonymity_audit``."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("bal_band"),
    )
    return bounded_order(
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("k_count"),
            F.countDistinct("bal_band").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "k_count",
            "l_distinct",
            (F.col("l_distinct") < 3).alias("risky"),
        ),
        "c_nationkey", "c_mktsegment",
    )


_LDIV_SQL = """
SELECT c_nationkey, c_mktsegment,
       count(*) AS k_count,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT)
           AS l_distinct,
       count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) < 3 AS risky
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


# --------------------------------------------------------------------------
# Seasonal-naive forecast error (MASE)
# --------------------------------------------------------------------------


def q_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the seasonal-naive forecaster (ŷ_t = y_{t−24h}) on the dense
    hourly revenue series — the scale-free forecast-accuracy baseline
    (Hyndman & Koehler 2006, public) every demand-forecasting pipeline
    reports before trying anything fancier.

    Integer discipline: hourly revenue is exact integer cents; both MAE
    numerators are integer sums over the dense grid; each MAE is one
    integer division to micro-cents and MASE is one more to milli-units —
    deterministic, no float summation anywhere.

    Scale shape: the corpus reduces to per-hour cents in ONE map-side-
    combined aggregate; the dense calendar grid derives from the 1-row
    min/max via sequence explode and left-joins the hourly aggregate —
    every window after that runs on the |hours| frame (time-span-bounded,
    ~constant per deployment, NOT data-sized), the `ks_drift_statistic`
    bounded-frame discipline."""
    ev = read_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias("hour"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(_QBIAS)).cast("long").alias("cents"),
    )
    hourly = ev.groupBy("hour").agg(F.sum("cents").alias("y"))
    bounds = hourly.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = bounds.select(F.explode(F.expr("sequence(h0, h1)")).alias("hour"))
    dense = grid.join(hourly, "hour", "left").select(
        "hour", F.coalesce(F.col("y"), F.lit(0).cast("long")).alias("y")
    )
    w = Window.orderBy("hour")
    lagged = dense.select(
        "y",
        (F.col("y") - F.lag("y", 1).over(w)).alias("e1"),
        (F.col("y") - F.lag("y", 24).over(w)).alias("es"),
    )
    agg = lagged.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.count("e1").alias("n1"),
        F.sum(F.abs("e1")).alias("s1"),
        F.count("es").alias("ns"),
        F.sum(F.abs("es")).alias("ss"),
    )
    return agg.select(
        "n_hours",
        F.expr("(s1 * 1000000) DIV n1").alias("mae1_micro"),
        F.expr("(ss * 1000000) DIV ns").alias("maes_micro"),
        F.expr(
            "CASE WHEN (s1 * 1000000) DIV n1 > 0"
            " THEN (((ss * 1000000) DIV ns) * 1000) DIV ((s1 * 1000000) DIV n1)"
            " ELSE NULL END"
        ).alias("mase_milli"),
    )


_MASE_SQL = f"""
WITH ev AS (
    SELECT epoch_us(ts) // 3600000000 AS hour,
           CAST(floor(value * 100.0 + {_QBIAS}) AS BIGINT) AS cents
    FROM events
),
hourly AS (SELECT hour, CAST(sum(cents) AS BIGINT) AS y FROM ev GROUP BY hour),
bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM hourly),
grid AS (SELECT unnest(generate_series(h0, h1)) AS hour FROM bounds),
dense AS (
    SELECT g.hour, COALESCE(h.y, 0) AS y FROM grid g LEFT JOIN hourly h USING (hour)
),
lagged AS (
    SELECT y,
           y - lag(y, 1) OVER (ORDER BY hour) AS e1,
           y - lag(y, 24) OVER (ORDER BY hour) AS es
    FROM dense
),
agg AS (
    SELECT count(*) AS n_hours,
           count(e1) AS n1, CAST(sum(abs(e1)) AS BIGINT) AS s1,
           count(es) AS ns, CAST(sum(abs(es)) AS BIGINT) AS ss
    FROM lagged
)
SELECT n_hours,
       CAST((s1 * 1000000) // n1 AS BIGINT) AS mae1_micro,
       CAST((ss * 1000000) // ns AS BIGINT) AS maes_micro,
       CAST(CASE WHEN (s1 * 1000000) // n1 > 0
                 THEN (((ss * 1000000) // ns) * 1000) // ((s1 * 1000000) // n1)
                 ELSE NULL END AS BIGINT) AS mase_milli
FROM agg
"""


# --------------------------------------------------------------------------
# Two-step Markov reachability (matrix multiply as a relational join)
# --------------------------------------------------------------------------


def q_markov_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P²: two-step transition probabilities between event types — the
    matrix square of ``event_transition_matrix``'s P, computed as a
    RELATIONAL JOIN on the shared middle state (matrix multiplication in
    SQL): P²(a,c) = Σ_b P(a,b)·P(b,c). Probabilities live in integer
    micro-units (count·1e6 DIV row-total), the product-sum divides back
    once — hash-exact.

    Scale shape: the corpus-sized work is ONE lag-window pass (shared
    (user, ts) sort) + one map-side-combined count aggregate; everything
    after runs on the ≤|types|² matrix (tiny, broadcast self-join)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("a"), F.col("event_type").alias("b")
    ).filter(F.col("a").isNotNull())
    # checkpoint the ≤|types|² matrix: row totals, p1 and p2 all read it —
    # without the cut the corpus lag-window subtree is embedded (and
    # re-executed) once per consumer (plan-gated to ONE Window below)
    counts = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    rowtot = counts.groupBy("a").agg(F.sum("n").alias("tot"))
    p = counts.join(F.broadcast(rowtot), "a").select(
        "a", "b", F.expr("(n * 1000000) DIV tot").alias("p_micro")
    )
    p1 = p.select(F.col("a"), F.col("b").alias("mid"), F.col("p_micro").alias("pab"))
    p2 = p.select(F.col("a").alias("mid"), F.col("b").alias("c"), F.col("p_micro").alias("pbc"))
    return bounded_order(
        p1.join(F.broadcast(p2), "mid")
        .groupBy("a", "c")
        .agg(F.expr("sum(pab * pbc) DIV 1000000").alias("p2_micro"))
        .select(
            F.col("a").alias("from_type"), F.col("c").alias("to_type"), "p2_micro"
        ),
        "from_type", "to_type",
    )


_MARKOV2_SQL = """
WITH pairs AS (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS a,
           event_type AS b
    FROM events
),
counts AS (
    SELECT a, b, count(*) AS n FROM pairs WHERE a IS NOT NULL GROUP BY a, b
),
rowtot AS (SELECT a, CAST(sum(n) AS BIGINT) AS tot FROM counts GROUP BY a),
p AS (
    SELECT c.a, c.b, (c.n * 1000000) // r.tot AS p_micro
    FROM counts c JOIN rowtot r USING (a)
)
SELECT p1.a AS from_type, p2.b AS to_type,
       CAST(sum(p1.p_micro * p2.p_micro) // 1000000 AS BIGINT) AS p2_micro
FROM p p1 JOIN p p2 ON p1.b = p2.a
GROUP BY p1.a, p2.b
ORDER BY from_type, to_type
"""


# --------------------------------------------------------------------------
# PMI collocation mining
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over corpus
    bigrams (count ≥ 5) — the classic collocation-extraction statistic
    (Church & Hanks 1990, public): PMI = ln(c_ab·N / (c_a·c_b)) with
    marginals over the bigram stream, quantized to integer micro-nats so
    the ranking is hash-exact (ties break on the bigram text).

    Scale shape: one tokenize → bigram explode → (w1, w2) map-side-
    combined count (the only corpus shuffle, checkpointed); both marginals
    and the total derive from THAT aggregate, never a second corpus pass —
    the dsir/bpe discipline."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    t = docs.select(tokens(F.lower(F.col("text"))).alias("toks")).filter(
        F.size("toks") >= 2
    )
    cb = (
        t.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks)-1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cab"))
        .localCheckpoint()  # marginals + total + scoring all read this
    )
    ca = cb.groupBy("w1").agg(F.sum("cab").alias("ca"))
    cbm = cb.groupBy("w2").agg(F.sum("cab").alias("cbm"))
    n = cb.agg(F.sum("cab").alias("nb"))
    return (
        cb.filter(F.col("cab") >= _PMI_MIN_COUNT)
        .join(ca, "w1")
        .join(cbm, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("cab").alias("n_pair"),
            F.floor(
                F.log(
                    (F.col("cab").cast("double") * F.col("nb").cast("double"))
                    / (F.col("ca").cast("double") * F.col("cbm").cast("double"))
                )
                * F.lit(1_000_000.0)
                + F.lit(_QBIAS)
            )
            .cast("long")
            .alias("pmi_unats"),
        )
        .orderBy(F.desc("pmi_unats"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


_PMI_SQL = f"""
WITH t AS (
    SELECT {_TOKS_LOWER_SQL} AS toks FROM documents
),
big AS (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
    FROM t WHERE len(toks) >= 2
),
cb AS (
    SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS cab FROM big GROUP BY 1, 2
),
ca AS (SELECT w1, CAST(sum(cab) AS BIGINT) AS ca FROM cb GROUP BY w1),
cbm AS (SELECT w2, CAST(sum(cab) AS BIGINT) AS cbm FROM cb GROUP BY w2),
n AS (SELECT CAST(sum(cab) AS BIGINT) AS nb FROM cb)
SELECT cb.w1, cb.w2, CAST(cb.cab AS BIGINT) AS n_pair,
       CAST(floor(ln((CAST(cb.cab AS DOUBLE) * CAST(n.nb AS DOUBLE))
                     / (CAST(ca.ca AS DOUBLE) * CAST(cbm.cbm AS DOUBLE)))
                  * 1000000.0 + {_QBIAS}) AS BIGINT) AS pmi_unats
FROM cb JOIN ca USING (w1) JOIN cbm USING (w2), n
WHERE cb.cab >= {_PMI_MIN_COUNT}
ORDER BY pmi_unats DESC, w1, w2
LIMIT 20
"""


# --------------------------------------------------------------------------
# Rendezvous (highest-random-weight) shard assignment
# --------------------------------------------------------------------------

_HRW_SHARDS = 16


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW shard assignment (Thaler & Ravishankar 1998, public):
    each document goes to the shard with the highest seeded hash — the
    consistent-sharding scheme where removing one shard reassigns ONLY that
    shard's keys (1/S of the data moves, vs nearly all for mod-S). Output
    is the per-shard occupancy profile (count + id checksum).

    Scale shape: the argmax over the S=16 seeded hashes is one map-side
    array expression per row (``array_max`` over (hash, shard) structs —
    lexicographic max picks max hash, ties on the larger shard id, mirrored
    in the oracle's ORDER BY h DESC, s DESC); then ONE 16-group aggregate.
    No join, no window over data-sized frames."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    shard = F.array_max(
        F.array(
            *[
                F.struct(
                    hash64(F.col("doc_id"), seed=s).alias("h"),
                    F.lit(s).alias("s"),
                )
                for s in range(_HRW_SHARDS)
            ]
        )
    )["s"]
    return bounded_order(
        docs.select(shard.alias("shard"), "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        ),
        "shard",
    )


_HRW_SQL = f"""
WITH choice AS (
    SELECT doc_id, s,
           row_number() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || ':'
                              || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) DESC,
                        s DESC) AS rn
    FROM documents, unnest(generate_series(0, {_HRW_SHARDS - 1})) AS u(s)
)
SELECT CAST(s AS INTEGER) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM choice WHERE rn = 1
GROUP BY s ORDER BY shard
"""


# --------------------------------------------------------------------------
# Asymmetric n-gram containment (quote / subset duplication)
# --------------------------------------------------------------------------

_CONTAIN_N = 5
_CONTAIN_MIN_MICRO = 600_000  # containment ≥ 0.6


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered near-dup pairs by 5-gram CONTAINMENT C(a→b) = |Ga∩Gb|/|Ga| —
    the asymmetric complement of Jaccard: a short document quoted inside a
    long one scores ~1 on containment but near 0 on Jaccard, so this is
    the gate that catches subset duplication (Broder's containment, 1997).

    Scale shape: per-doc DISTINCT 5-gram digests (8-byte keys — text never
    shuffles); candidate pairs come from the shared-digest equi-join.
    Word-5-gram document frequency in natural text is ~1 (unlike unigrams
    — the Zipf head that forces prefix filtering in `prefix_filter_jaccard`
    never exists at n=5), so per-digest fan-out is bounded; a df-cap on
    the digest table is the documented fallback for adversarial corpora."""
    from projet_data_infrastructure_spark.operators.dedup import shingles_from_tokens

    docs = read_table_balanced(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("t")).filter(
        F.size("t") >= _CONTAIN_N
    )
    grams = (
        toks.select(
            "doc_id",
            F.explode(shingles_from_tokens("t", _CONTAIN_N)).alias("g"),
        )
        .select("doc_id", hash64(F.col("g")).alias("h"))
        .distinct()
        .localCheckpoint()  # sizes + both join sides read this
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "h")
    b = grams.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_grams_a")),
            "doc_a",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_grams_a",
            "n_shared",
            F.expr("(n_shared * 1000000) DIV n_grams_a").alias("containment_micro"),
        )
        .filter(F.col("containment_micro") >= _CONTAIN_MIN_MICRO)
        .orderBy(F.desc("containment_micro"), F.asc("doc_a"), F.asc("doc_b"))
    )


_CONTAIN_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKS_LOWER_SQL} AS toks FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           {hash64_sql(f"array_to_string(toks[i : i + {_CONTAIN_N - 1}], ' ')")} AS h
    FROM t, unnest(generate_series(1, len(toks) - {_CONTAIN_N - 1})) AS u(i)
    WHERE len(toks) >= {_CONTAIN_N}
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id != b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(s.n_grams AS BIGINT) AS n_grams_a,
       CAST(i.n_shared AS BIGINT) AS n_shared,
       CAST((i.n_shared * 1000000) // s.n_grams AS BIGINT) AS containment_micro
FROM inter i JOIN sizes s ON s.doc_id = i.doc_a
WHERE (i.n_shared * 1000000) // s.n_grams >= {_CONTAIN_MIN_MICRO}
ORDER BY containment_micro DESC, doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (±1 sign matrix)
# --------------------------------------------------------------------------

_JL_D = 64  # input dim
_JL_K = 16  # projected dim


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix from the portable hash — a plan-
    time CONSTANT (the SQ8-bounds discipline: model parameters enter the
    plan as literals, both engines see the same matrix)."""
    import hashlib

    out = []
    for j in range(_JL_K):
        row = []
        for i in range(_JL_D):
            h = int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:15], 16)
            row.append(1 if h % 2 == 0 else -1)
        out.append(row)
    return out


def q_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 with a ±1 sign matrix (Achlioptas 2003,
    public) and its distortion report: for vector pairs (0, k), k ≤ 50,
    the ratio of projected to original squared L2 distance, normalized by
    K (E[‖P(a−b)‖²] = K·‖a−b‖² for ±1 projections) — the check every
    embedding pipeline runs before trusting a cheap projected index.

    Determinism: embeddings are quantized ONCE to integer milli-units;
    the sign matrix is a compile-time literal; projections, distances and
    the normalized ratio are then pure BIGINT arithmetic (one integer
    division) — hash-exact.

    Scale shape: the projection is one map-side expression over the
    quantized array (no shuffle, no UDF — the kmeans literal-plan trick);
    the report joins the 1-row query vector by broadcast against a
    key-pruned scan."""
    signs = _jl_signs()
    emb = read_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            f" x -> CAST(floor(x * 1000.0 + {_QBIAS}) AS BIGINT))"
        ).alias("q"),
    )
    # r14: the sign matrix enters the plan as ONE array-of-arrays literal
    # and the 16 projections fold through zip_with/aggregate over it — the
    # flattened 16 × 64-term column expressions compiled ~2 s of codegen
    # per run for ≤51 surviving rows; the array fold is bytes of plan for
    # identical BIGINT arithmetic.
    sarr = (
        "array("
        + ", ".join(
            "array(" + ", ".join(str(s) for s in row) + ")" for row in signs
        )
        + ")"
    )
    pv = qv.select(
        "vec_id",
        "q",
        F.expr(
            f"transform({sarr}, r -> aggregate(zip_with(r, q, (s, x) -> s * x),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v))"
        ).alias("p"),
    )
    a = pv.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("qa"), F.col("p").alias("pa")
    )
    b = pv.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 50))
    d2_orig = F.expr(
        "aggregate(zip_with(qa, q, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    d2_proj = F.expr(
        "aggregate(zip_with(pa, p, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    # ≤ 50 rows (vec_id 1..50), straight off the key-pruned scan: the scan
    # keeps its parallelism above the single-partition exchange.
    return bounded_order(
        b.crossJoin(F.broadcast(a))
        .select(
            F.col("vec_id").alias("vec_b"),
            d2_orig.alias("d2_orig"),
            d2_proj.alias("d2_proj"),
        )
        .select(
            "vec_b",
            "d2_orig",
            "d2_proj",
            F.expr(f"(d2_proj * 1000000) DIV ({_JL_K} * d2_orig)").alias("ratio_micro"),
        )
        .repartition(1),
        "vec_b",
    )


def _jl_sql() -> str:
    signs = _jl_signs()
    proj = ",\n           ".join(
        "("
        + " + ".join(f"({s}) * q[{i + 1}]" for i, s in enumerate(row))
        + f") AS p{j}"
        for j, row in enumerate(signs)
    )
    d2p = " + ".join(f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(_JL_K))
    return f"""
WITH qv AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000.0 + {_QBIAS}) AS BIGINT)) AS q
    FROM embeddings
),
pv AS (
    SELECT vec_id, q,
           {proj}
    FROM qv
),
a AS (SELECT * FROM pv WHERE vec_id = 0),
b AS (SELECT * FROM pv WHERE vec_id BETWEEN 1 AND 50)
SELECT b.vec_id AS vec_b,
       CAST(list_sum(list_transform(generate_series(1, {_JL_D}),
            i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS BIGINT) AS d2_orig,
       CAST({d2p} AS BIGINT) AS d2_proj,
       CAST(({d2p}) * 1000000 // ({_JL_K} * CAST(list_sum(list_transform(generate_series(1, {_JL_D}),
            i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS BIGINT)) AS BIGINT) AS ratio_micro
FROM b, a
ORDER BY vec_b
"""


# --------------------------------------------------------------------------
# Kaplan-Meier retention (survival analysis)
# --------------------------------------------------------------------------

def q_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve (Kaplan & Meier 1958) of conversion
    delay: the "event" is a user's FIRST purchase, duration = days from
    their first event of any kind; users who never purchase are
    right-censored at their last observed day (they leave the risk set
    without counting as a conversion — the crafted-fixture test pins this).
    One row per conversion day: risk-set size, conversions, and the
    product-limit survival estimate (probability of still being
    unconverted after t days).

    Determinism: each step's ln(1 − d/n) = ln((n−d)/n) is quantized ONCE to
    integer micro-nats, so the cumulative product becomes an order-pinned
    integer cumulative SUM — the same log-space trick the NB/dsir specs
    use. A step that empties the risk set (d = n, survival exactly 0) emits
    NULL instead of ln(0) — the OLS degenerate-group discipline.

    Scale shape: one (user) aggregate over events is the only corpus
    shuffle; everything after runs on the ≤|distinct durations| frame
    (calendar-bounded, the ks_drift discipline), where the two windows
    (reverse-cumulative risk set, cumulative log-survival) are safe."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    pu = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"),
        F.max("ts").alias("l"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    d = pu.select(
        F.when(
            F.col("p").isNotNull(), F.datediff(F.to_date("p"), F.to_date("f"))
        )
        .otherwise(F.datediff(F.to_date("l"), F.to_date("f")))
        .alias("dur_days"),
        F.col("p").isNotNull().cast("int").alias("obs"),
    )
    day = d.groupBy("dur_days").agg(
        F.sum("obs").cast("long").alias("n_deaths"), F.count(F.lit(1)).alias("r")
    )
    w_desc = Window.orderBy(F.desc("dur_days")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = day.withColumn("n_risk", F.sum("r").over(w_desc).cast("long"))
    steps = risk.filter(F.col("n_deaths") > 0).withColumn(
        "step",
        F.when(
            F.col("n_deaths") < F.col("n_risk"),
            F.floor(
                F.log(
                    (F.col("n_risk") - F.col("n_deaths")).cast("double")
                    / F.col("n_risk").cast("double")
                )
                * F.lit(1_000_000.0)
                + F.lit(_QBIAS)
            ).cast("long"),
        ),
    )
    w_asc = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        steps.withColumn("cum", F.sum("step").over(w_asc).cast("long"))
        .select(
            "dur_days",
            "n_risk",
            "n_deaths",
            F.when(F.col("n_deaths") < F.col("n_risk"), F.col("cum")).alias(
                "surv_unats"
            ),
        )
        .orderBy("dur_days")
    )


_KM_SQL = f"""
WITH pu AS (
    SELECT user_id, min(ts) AS f, max(ts) AS l,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
    FROM events GROUP BY user_id
),
d AS (
    SELECT CASE WHEN p IS NOT NULL
                THEN date_diff('day', CAST(f AS DATE), CAST(p AS DATE))
                ELSE date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) END
               AS dur_days,
           CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS obs
    FROM pu
),
day AS (
    SELECT dur_days, CAST(sum(obs) AS BIGINT) AS n_deaths, count(*) AS r
    FROM d GROUP BY dur_days
),
risk AS (
    SELECT dur_days, n_deaths,
           CAST(sum(r) OVER (ORDER BY dur_days DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
    FROM day
),
steps AS (
    SELECT dur_days, n_risk, n_deaths,
           CASE WHEN n_deaths < n_risk THEN
               CAST(floor(ln(CAST(n_risk - n_deaths AS DOUBLE)
                             / CAST(n_risk AS DOUBLE)) * 1000000.0 + {_QBIAS})
                    AS BIGINT)
           END AS step
    FROM risk WHERE n_deaths > 0
)
SELECT dur_days, n_risk, n_deaths,
       CASE WHEN n_deaths < n_risk THEN
           CAST(sum(step) OVER (ORDER BY dur_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       END AS surv_unats
FROM steps
ORDER BY dur_days
"""


# --------------------------------------------------------------------------
# PCA top component by power iteration
# --------------------------------------------------------------------------

_PCA_D = 8  # leading embedding dims (algebra is dim-agnostic; 8 keeps the
#             36-cell covariance cheap in BOTH engines' demo runs)
_PCA_UNIT = 1_000_000


def _pca_exprs(floordiv_op: str, idx_base: int, big: str) -> dict[str, str]:
    """Shared expression text for both engines (Spark arrays are 0-based,
    DuckDB 1-based; Spark integer floor-div is ``DIV`` after remainder
    correction, DuckDB ``//``; ``big`` is the wide-integer type the
    covariance cells compute in — DECIMAL(38,0) on Spark, HUGEINT on
    DuckDB — because N·Σxy − Σx·Σy grows ~N²·10⁶ and would silently wrap
    BIGINT past N ≈ 10⁶ embedding rows (ADVICE r5); 38 digits cover
    N ≤ 10¹² rows with the ±10³ milli-quantized coordinates)."""
    D = _PCA_D
    q = lambda i: f"q[{i + idx_base}]"  # noqa: E731
    mom = {f"sx{i}": f"CAST(sum({q(i)}) AS BIGINT)" for i in range(D)}
    for i in range(D):
        for j in range(i, D):
            mom[f"sxy{i}_{j}"] = f"CAST(sum({q(i)} * {q(j)}) AS BIGINT)"
    mom["n"] = "CAST(count(*) AS BIGINT)"

    def cell(i: int, j: int) -> str:  # covariance numerator, symmetric
        a, b = min(i, j), max(i, j)
        return f"(CAST(n AS {big}) * sxy{a}_{b} - CAST(sx{i} AS {big}) * sx{j})"

    # the trailing 1 clamps each normalizer away from 0 so a degenerate
    # (all-constant) input yields an all-zero vector instead of a /0 —
    # DuckDB errors on integer division by zero where Spark returns NULL
    maxcov = "greatest(" + ", ".join(
        f"abs({cell(i, j)})" for i in range(D) for j in range(i, D)
    ) + ", 1)"
    cunit = {
        f"c{i}_{j}": fdiv(f"{cell(i, j)} * {_PCA_UNIT}", "maxcov", floordiv_op)
        for i in range(D)
        for j in range(D)
    }
    u1 = {f"u1_{i}": " + ".join(f"c{i}_{j} * {_PCA_UNIT}" for j in range(D)) for i in range(D)}
    m1 = "greatest(" + ", ".join(f"abs(u1_{i})" for i in range(D)) + ", 1)"
    v1 = {f"v1_{i}": fdiv(f"u1_{i} * {_PCA_UNIT}", "m1", floordiv_op) for i in range(D)}
    u2 = {f"u2_{i}": " + ".join(f"c{i}_{j} * v1_{j}" for j in range(D)) for i in range(D)}
    m2 = "greatest(" + ", ".join(f"abs(u2_{i})" for i in range(D)) + ", 1)"
    v2 = {f"v2_{i}": fdiv(f"u2_{i} * {_PCA_UNIT}", "m2", floordiv_op) for i in range(D)}
    return {"mom": mom, "maxcov": maxcov, "cunit": cunit, "u1": u1, "m1": m1,
            "v1": v1, "u2": u2, "m2": m2, "v2": v2}


def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the leading 8 embedding dims by two
    power-iteration rounds — PCA's inner loop as a deterministic DataFrame
    program (Mises & Pollaczek-Geiringer 1929 power method; the classic
    big-data PCA: one pass for moments, iterate on the tiny Gram matrix).

    Determinism: coordinates quantize once to integer millis; the moment
    sums are exact BIGINTs from ONE aggregate pass and the covariance
    numerators N·Σxy − Σx·Σy compute in DECIMAL(38,0) (DuckDB: HUGEINT) —
    exact to N ≤ 10¹² rows where bare BIGINT would wrap past N ≈ 10⁶
    (ADVICE r5); cells normalize to ±1e6 by max-|cell| integer floor
    division (remainder-corrected — Spark DIV truncates, DuckDB // floors)
    and both mat-vec rounds + max-norm normalizations stay in BIGINT — the
    HITS normalization trick applied to PCA, hash-exact.

    Scale shape: the ONLY data-sized stage is the 45-expression moment
    aggregate (map-side combined, one scan, no explode); everything after
    runs on a 1-row frame — no join, no window, no collect. At 100 TB the
    moment pass is embarrassingly parallel and the d×d solve is O(d²)
    driver-free arithmetic.

    Convergence is (λ2/λ1)^rounds as always for the power method; the
    synthetic embeddings are isotropic (near-flat spectrum), so the demo
    pins the EXACT recurrence + monotone Rayleigh progress on real data and
    full 2-round convergence on a crafted dominant-direction fixture
    (``test_pca_converges_on_dominant_direction``). More rounds are more
    projection layers, unchanged algebra."""
    e = _pca_exprs("DIV", 0, "DECIMAL(38,0)")
    emb = read_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        F.expr(
            f"transform(slice(CAST(embedding AS ARRAY<DOUBLE>), 1, {_PCA_D}),"
            f" x -> CAST(floor(x * 1000.0 + {_QBIAS}) AS BIGINT))"
        ).alias("q")
    )
    mom = qv.agg(*[F.expr(x).alias(k) for k, x in e["mom"].items()])
    step1 = mom.withColumn("maxcov", F.expr(e["maxcov"]))
    step2 = step1.select("*", *[F.expr(x).alias(k) for k, x in e["cunit"].items()])
    step3 = step2.select("*", *[F.expr(x).alias(k) for k, x in e["u1"].items()])
    step4 = step3.withColumn("m1", F.expr(e["m1"]))
    step5 = step4.select("*", *[F.expr(x).alias(k) for k, x in e["v1"].items()])
    step6 = step5.select("*", *[F.expr(x).alias(k) for k, x in e["u2"].items()])
    step7 = step6.withColumn("m2", F.expr(e["m2"]))
    step8 = step7.select(*[F.expr(x).alias(k) for k, x in e["v2"].items()])
    loadings = F.array(*[F.col(f"v2_{i}") for i in range(_PCA_D)])
    return (
        step8.select(F.posexplode(loadings).alias("dim_idx", "loading_unit"))
        .orderBy("dim_idx")
    )


def _pca_sql() -> str:
    e = _pca_exprs("//", 1, "HUGEINT")
    mom_cols = ",\n           ".join(f"{x} AS {k}" for k, x in e["mom"].items())
    cunit_cols = ",\n           ".join(f"{x} AS {k}" for k, x in e["cunit"].items())
    u1_cols = ",\n           ".join(f"{x} AS u1_{i}" for i, x in
                                    ((i, e["u1"][f"u1_{i}"]) for i in range(_PCA_D)))
    v1_cols = ",\n           ".join(f"{x} AS v1_{i}" for i, x in
                                    ((i, e["v1"][f"v1_{i}"]) for i in range(_PCA_D)))
    u2_cols = ",\n           ".join(f"{x} AS u2_{i}" for i, x in
                                    ((i, e["u2"][f"u2_{i}"]) for i in range(_PCA_D)))
    v2_list = ", ".join(e["v2"][f"v2_{i}"] for i in range(_PCA_D))
    return f"""
WITH qv AS (
    SELECT list_transform(embedding[1:{_PCA_D}]::DOUBLE[],
                          x -> CAST(floor(x * 1000.0 + {_QBIAS}) AS BIGINT)) AS q
    FROM embeddings
),
mom AS (
    SELECT {mom_cols}
    FROM qv
),
s1 AS (SELECT *, {e['maxcov']} AS maxcov FROM mom),
s2 AS (SELECT *,
           {cunit_cols}
       FROM s1),
s3 AS (SELECT *,
           {u1_cols}
       FROM s2),
s4 AS (SELECT *, {e['m1']} AS m1 FROM s3),
s5 AS (SELECT *,
           {v1_cols}
       FROM s4),
s6 AS (SELECT *,
           {u2_cols}
       FROM s5),
s7 AS (SELECT *, {e['m2']} AS m2 FROM s6),
s8 AS (SELECT [{v2_list}] AS v FROM s7)
SELECT CAST(i - 1 AS INT) AS dim_idx, CAST(v[i] AS BIGINT) AS loading_unit
FROM s8, generate_series(1, {_PCA_D}) t(i)
ORDER BY dim_idx
"""


# --------------------------------------------------------------------------
# Exact ROC AUC (Mann-Whitney U) without a global sort
# --------------------------------------------------------------------------


def q_roc_auc_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ISO-weekday ROC AUC of event value as a purchase-vs-view
    classifier score — the ranking-quality metric every model-eval
    pipeline needs, computed EXACTLY via the Mann-Whitney U identity
    AUC = (Σ_pos rank − n⁺(n⁺+1)/2) / (n⁺·n⁻) with midrank tie handling.

    Integer discipline: scores quantize to cents once; midranks are
    half-integers, so everything is carried ×2 (u2 = 2U) and the single
    division at the end is exact integer floor division of positive
    operands — hash-identical cross-engine.

    Scale shape: NO global sort over rows — ranks come from grouping by
    DISTINCT score value (value-range-bounded: ≤ ~40k cents keys no matter
    the corpus size) and one exclusive running sum per weekday over that
    bounded frame (the ks_drift discipline). The fact-sized stage is one
    map-side-combined (dow, cents) aggregate."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    base = ev.select(
        (F.weekday("ts") + F.lit(1)).alias("dow"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(_QBIAS))
        .cast("long")
        .alias("cents"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    g = base.groupBy("dow", "cents").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("npos")
    )
    w = Window.partitionBy("dow").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = g.withColumn("less", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    per_dow = ranked.groupBy("dow").agg(
        # Σ over positives of 2·midrank, where the midrank of a tie group
        # is less + (cnt+1)/2
        F.sum(F.col("npos") * (F.lit(2) * F.col("less") + F.col("cnt") + 1)).alias(
            "s2"
        ),
        F.sum("npos").alias("n_pos"),
        (F.sum("cnt") - F.sum("npos")).alias("n_neg"),
    )
    return bounded_order(
        per_dow.select(
            "dow",
            "n_pos",
            "n_neg",
            (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("u2"),
        )
        .select(
            "dow",
            "n_pos",
            "n_neg",
            "u2",
            F.expr("(u2 * 1000000) DIV (2 * n_pos * n_neg)").alias("auc_micro"),
        )
        # ≤ 7 rows, but the aggregate shares its stage with the window over
        # every (dow, cents) cell: that stage keeps its parallelism.
        .repartition(1),
        "dow",
    )


_AUC_SQL = f"""
WITH base AS (
    SELECT CAST(isodow(ts) AS INTEGER) AS dow,
           CAST(floor(value * 100.0 + {_QBIAS}) AS BIGINT) AS cents,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events WHERE event_type IN ('view', 'purchase')
),
g AS (
    SELECT dow, cents, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS npos
    FROM base GROUP BY dow, cents
),
ranked AS (
    SELECT dow, cnt, npos,
           coalesce(sum(cnt) OVER (PARTITION BY dow ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
    FROM g
),
per_dow AS (
    SELECT dow,
           CAST(sum(npos * (2 * less + cnt + 1)) AS BIGINT) AS s2,
           CAST(sum(npos) AS BIGINT) AS n_pos,
           CAST(sum(cnt) - sum(npos) AS BIGINT) AS n_neg
    FROM ranked GROUP BY dow
)
SELECT dow, n_pos, n_neg,
       CAST(s2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       CAST((s2 - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
           AS auc_micro
FROM per_dow
ORDER BY dow
"""


# --------------------------------------------------------------------------
# Calibration curve (reliability diagram)
# --------------------------------------------------------------------------

_CAL_BIN_CENTS = 4_000  # fixed-width 40-currency-unit score bins


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of event value as a purchase-probability score —
    AUC's companion eval: per fixed-width score bin, the empirical purchase
    rate vs the bin's mean score. A well-calibrated score has rate rising
    monotonically with the bin; the table IS the calibration audit.

    All integer: cents quantize once, bins are fixed-width integer DIV
    (deterministic with no data-derived bounds pass), rates and means are
    single exact floor divisions of positive sums. One map-side-combined
    aggregate over the facts; output is ≤ score-range/width rows."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    base = ev.select(
        F.floor(F.col("value") * F.lit(100.0) + F.lit(_QBIAS))
        .cast("long")
        .alias("cents"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    return (
        base.groupBy(F.expr(f"cents DIV {_CAL_BIN_CENTS}").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").alias("n_pos"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "bin_id",
            "n",
            "n_pos",
            F.expr("(n_pos * 1000000) DIV n").alias("rate_micro"),
            F.expr("sum_cents DIV n").alias("mean_cents"),
        )
        .orderBy("bin_id")
    )


_CAL_SQL = f"""
WITH base AS (
    SELECT CAST(floor(value * 100.0 + {_QBIAS}) AS BIGINT) AS cents,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events WHERE event_type IN ('view', 'purchase')
),
g AS (
    SELECT cents // {_CAL_BIN_CENTS} AS bin_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM base GROUP BY bin_id
)
SELECT bin_id, n, n_pos,
       CAST(n_pos * 1000000 // n AS BIGINT) AS rate_micro,
       CAST(sum_cents // n AS BIGINT) AS mean_cents
FROM g
ORDER BY bin_id
"""


# --------------------------------------------------------------------------
# Zipf rank-frequency fit
# --------------------------------------------------------------------------

_ZIPF_TOP = 1_000


def q_zipf_fit_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope of ln(freq) on ln(rank) over
    the top-1000 words — the rank-frequency diagnostic (slope ≈ −1 for
    natural language) every corpus health check runs before trusting
    tokenizer/mixture decisions.

    Determinism: ranks come from a TakeOrdered top-1000 cut (count desc,
    word asc) + row_number over THAT bounded frame; ln(rank)/ln(freq)
    quantize once to micro-nats, so the four moment sums are EXACT BIGINTs
    (Σxy ≤ 1000·4e14 ≪ 2⁶³); only the final Cramer ratio runs in doubles —
    identical op order on both sides, then the shared ``pround`` (the
    ols_two_feature discipline).

    Scale shape: ONE corpus tokenize → map-side-combined word count; the
    top cut plans as TakeOrderedAndProject (every task keeps 1000 rows);
    everything downstream is vocabulary-bounded."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_ZIPF_TOP)
    )
    ranked = wc.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
    )
    pts = ranked.select(
        F.floor(F.log(F.col("r").cast("double")) * 1_000_000.0 + F.lit(_QBIAS))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1_000_000.0 + F.lit(_QBIAS))
        .cast("long")
        .alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # shared-text double solve (identical op order both engines)
    return mom.select(
        F.col("n").cast("long").alias("n_words"),
        pround(F.expr(_ZIPF_SLOPE_EXPR), 6).alias("zipf_slope"),
        pround(F.expr(_ZIPF_INTERCEPT_EXPR), 6).alias("intercept_nats"),
    )


_ZIPF_SLOPE_EXPR = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_ZIPF_INTERCEPT_EXPR = (
    f"((CAST(sy AS DOUBLE) - ({_ZIPF_SLOPE_EXPR}) * CAST(sx AS DOUBLE))"
    " / CAST(n AS DOUBLE)) / 1000000.0"
)


_ZIPF_SQL = f"""
WITH t AS (
    SELECT {_TOKS_LOWER_SQL} AS toks FROM documents
),
wc AS (
    SELECT w, count(*) AS c
    FROM (SELECT unnest(toks) AS w FROM t)
    GROUP BY w
    ORDER BY c DESC, w
    LIMIT {_ZIPF_TOP}
),
ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM wc
),
pts AS (
    SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0 + {_QBIAS}) AS BIGINT) AS x,
           CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + {_QBIAS}) AS BIGINT) AS y
    FROM ranked
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
    FROM pts
)
SELECT n AS n_words,
       {pround_sql(_ZIPF_SLOPE_EXPR, 6)} AS zipf_slope,
       {pround_sql(_ZIPF_INTERCEPT_EXPR, 6)} AS intercept_nats
FROM mom
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "naive_bayes_lang",
        q_naive_bayes_lang,
        _NB_SQL,
        ("ml", "text", "bench"),
        doc="Multinomial NB language classifier: Laplace log-probs quantized "
        "to micro-nats once, integer dot-product scoring, confusion matrix "
        "output — hash-exact supervised-ML audit of the lang labels",
    ),
    QuerySpec(
        "decision_stump_quantity",
        q_decision_stump,
        _STUMP_SQL,
        ("ml",),
        doc="Exact best-Gini-split search over every l_quantity threshold; "
        "impurity in integer micro-units via cross-multiplied counts",
    ),
    QuerySpec(
        "retrieval_eval_metrics",
        q_retrieval_eval,
        _RETRIEVAL_EVAL_SQL,
        ("ml", "similarity"),
        doc="P@10 / MRR / NDCG@10 of the exact-cosine ranking vs label "
        "relevance; log2 discounts quantized to micro-nats — integer IR eval",
    ),
    QuerySpec(
        "brand_cf_cosine",
        q_brand_cf_cosine,
        _BRAND_CF_SQL,
        ("ml", "similarity"),
        doc="Item-item CF cosine over binary customer×brand incidence; "
        "cos² in integer micro-units, bounded-basket pair generation",
    ),
    QuerySpec(
        "winnowing_fingerprint",
        q_winnowing_fingerprint,
        _WINNOW_SQL,
        ("text", "dedup", "bench"),
        doc="MOSS winnowing (SIGMOD'03): window-min k-gram hash selection "
        "with rightmost tie rule, equi-join window expansion (no range join)",
    ),
    QuerySpec(
        "twa_event_value",
        q_twa_event_value,
        _TWA_SQL,
        ("timeseries",),
        doc="Per-user time-weighted average event value (piecewise-constant "
        "hold, integer-second weights, one integer division)",
    ),
    QuerySpec(
        "l_diversity_audit",
        q_l_diversity_audit,
        _LDIV_SQL,
        ("governance",),
        doc="l-diversity governance audit: distinct sensitive bands per "
        "quasi-identifier group, l<3 flagged — k-anonymity's companion",
    ),
    QuerySpec(
        "forecast_mase_seasonal",
        q_forecast_mase,
        _MASE_SQL,
        ("timeseries", "ml"),
        doc="MASE of the seasonal-naive hourly forecaster: integer-cents "
        "MAEs over the dense calendar grid, two integer divisions",
    ),
    QuerySpec(
        "markov_2step_matrix",
        q_markov_2step,
        _MARKOV2_SQL,
        ("timeseries", "stats"),
        doc="P² two-step Markov transitions: matrix multiply as a relational "
        "join on the middle state, integer micro-probabilities",
    ),
    QuerySpec(
        "pmi_collocations",
        q_pmi_collocations,
        _PMI_SQL,
        ("text", "stats"),
        doc="Top-20 PMI collocations (count ≥ 5), micro-nat quantized — "
        "corpus bigram statistics from one checkpointed aggregate",
    ),
    QuerySpec(
        "rendezvous_shards",
        q_rendezvous_shards,
        _HRW_SQL,
        ("scale", "sampling"),
        doc="Rendezvous/HRW consistent shard assignment: map-side argmax "
        "over 16 seeded hashes, per-shard occupancy profile",
    ),
    QuerySpec(
        "ngram_containment_pairs",
        q_ngram_containment,
        _CONTAIN_SQL,
        ("dedup", "text"),
        doc="Asymmetric 5-gram containment pairs (C ≥ 0.6): catches quote/"
        "subset duplication Jaccard misses; digest-keyed equi-join",
    ),
    QuerySpec(
        "jl_projection_distortion",
        q_jl_projection_distortion,
        _jl_sql(),
        ("similarity", "ml"),
        doc="Johnson–Lindenstrauss ±1 projection 64→16 with per-pair "
        "distortion ratios — literal sign matrix, pure BIGINT arithmetic",
    ),
    QuerySpec(
        "kaplan_meier_retention",
        q_kaplan_meier_retention,
        _KM_SQL,
        ("ml", "timeseries"),
        doc="Kaplan-Meier survival curve of user lifetime, non-converters "
        "right-censored at their last observed day: per-step ln survival "
        "quantized to micro-nats, cumulative product as an order-pinned "
        "integer sum",
    ),
    QuerySpec(
        "pca_power_iteration",
        q_pca_power_iteration,
        _pca_sql(),
        ("ml",),
        doc="Top principal component by 2-round integer power iteration: "
        "exact BIGINT covariance moments from ONE aggregate pass, max-norm "
        "DIV normalization (HITS trick) — iterative PCA hash-exact",
    ),
    QuerySpec(
        "roc_auc_by_dow",
        q_roc_auc_by_dow,
        _AUC_SQL,
        ("ml", "stats", "bench"),
        doc="Exact per-weekday ROC AUC via Mann-Whitney midranks — no "
        "global row sort: ranks from the distinct-cents frame, one ×2 "
        "integer carry, one exact division",
    ),
    QuerySpec(
        "calibration_bins",
        q_calibration_bins,
        _CAL_SQL,
        ("ml", "stats"),
        doc="Reliability diagram: fixed-width integer score bins, empirical "
        "purchase rate + mean score per bin — one aggregate, all integer",
    ),
    QuerySpec(
        "zipf_fit_slope",
        q_zipf_fit_slope,
        _ZIPF_SQL,
        ("text", "stats", "bench"),
        doc="Zipf rank-frequency OLS over the top-1000 words: micro-nat "
        "quantized logs, exact BIGINT moments, shared-text double solve",
    ),
]
