"""Model-fitting and evaluation operators expressed as Spark aggregates:
k-NN voting, boosted stumps, conformal intervals, CV sweeps, fold
assignment, encodings, factorization steps, and expert-routing load.

Consolidated from the round-6..round-10 build modules (round 11, VERDICT
r10 item 6) — specs, oracles, and hashes unchanged; each spec keeps its
original design docstring. The distributed pattern this module
demonstrates: classical ML fitting/eval reduces to sufficient-statistics
aggregates over bounded feature domains plus O(|domain|) window solves —
never per-row model state, never a driver-side training loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.operators import similarity
from projet_data_infrastructure_spark.operators.ranks import bounded_order
from projet_data_infrastructure_spark.operators.text import tokens
from projet_data_infrastructure_spark.plans._portable import (
    fdiv as _fdiv,
    pround,
    pround_sql,
    value_cents,
)
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import (
    read_table,
    read_table_balanced,
)

SPECS: list[QuerySpec] = []

# --------------------------------------------------------------------------
# k-NN majority-vote classification over embeddings
# --------------------------------------------------------------------------

_KNN_Q = 20  # query vectors: vec_id < 20, candidates: the rest
_KNN_K = 5


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    cands = emb.filter(F.col("vec_id") >= _KNN_Q)
    scored = cands.join(F.broadcast(queries)).select(
        "qid",
        "true_label",
        "vec_id",
        "label",
        pround(similarity.cosine("embedding", "qv"), 6).alias("sim"),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    top = scored.withColumn("rnk", F.row_number().over(wk)).filter(F.col("rnk") <= _KNN_K)
    votes = top.groupBy("qid", "true_label", "label").agg(F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("label"))
    return bounded_order(
        votes.withColumn("vrnk", F.row_number().over(wv))
        .filter(F.col("vrnk") == 1)
        .select(
            "qid",
            "true_label",
            F.col("label").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
            (F.col("label") == F.col("true_label")).cast("int").alias("correct"),
        ),
        "qid",
    )


_KNN_SQL = f"""
WITH q AS (
    SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS true_label
    FROM embeddings WHERE vec_id < {_KNN_Q}
), scored AS (
    SELECT q.qid, q.true_label, e.vec_id, e.label,
           {pround_sql('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 6)} AS sim
    FROM embeddings e, q
    WHERE e.vec_id >= {_KNN_Q}
), top AS (
    SELECT qid, true_label, label
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) <= {_KNN_K}
), votes AS (
    SELECT qid, true_label, label, count(*) AS votes
    FROM top GROUP BY qid, true_label, label
)
SELECT qid, true_label, label AS pred_label,
       CAST(votes AS BIGINT) AS votes,
       CAST(label = true_label AS INT) AS correct
FROM votes
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) = 1
ORDER BY qid
"""


# --------------------------------------------------------------------------
# Two-round L2 gradient boosting with decision stumps
# --------------------------------------------------------------------------

_GBDT_Y = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_GBDT_X1 = "CAST(l_quantity AS BIGINT)"
_GBDT_X2 = "CAST(round(l_discount * 100) AS BIGINT)"


def _gbdt_split_exprs(big: str, op: str) -> dict[str, str]:
    """Split-score and stump-mean expressions over the cumulative frame
    columns (feat, nl, sl, nt, st). Engine-parameterized: ``big`` is
    DECIMAL(38,0) on Spark, HUGEINT on DuckDB; ``op`` is DIV / //."""
    nl, sl = f"CAST(nl AS {big})", f"CAST(sl AS {big})"
    nr, sr = f"(CAST(nt AS {big}) - {nl})", f"(CAST(st AS {big}) - {sl})"
    score = f"({sl} * {sl} * {nr} + {sr} * {sr} * {nl})"
    return {
        "score": score,
        "pred_l": f"CAST({_fdiv(f'{sl} * 1000', nl, op)} AS BIGINT)",
        "pred_r": f"CAST({_fdiv(f'{sr} * 1000', nr, op)} AS BIGINT)",
        "n_l": f"CAST(nl AS BIGINT)",
        "n_r": f"CAST(nt - nl AS BIGINT)",
    }


def _gbdt_best_stump(
    df: DataFrame, feat: str, target: str, milli: bool
) -> tuple[DataFrame, DataFrame]:
    """One boosting stage: (feature, n, Σtarget) aggregate → cumulative
    window over the ≤50-row feature frame → arg-max split. ``milli`` =
    target already in milli-cents (stage 2) vs cents (stage 1 scales ×1000
    inside pred via the shared expression).

    Returns ``(best_split, tot)``. ``tot`` additionally carries
    Σ|target| (``sabst``): the caller's mean-abs-residual metric over
    ``df`` is Σ_groups Σ|target| / Σ_groups n, so it rides THIS stage's
    feature aggregate instead of a second full scan of ``df`` (r14, guide
    §2.3 — the residual metric pass and the next stage's split search
    share one corpus scan)."""
    per = df.groupBy(F.col(feat).alias("feat")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(target).cast("decimal(25,0)")).alias("s"),
        F.sum(F.abs(F.col(target))).alias("sabs"),
    )
    w = Window.orderBy("feat").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "feat",
        F.sum("n").over(w).alias("nl"),
        F.sum("s").over(w).alias("sl"),
    )
    tot = per.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("sabs").alias("sabst"),
    )
    cand = cum.crossJoin(F.broadcast(tot.select("nt", "st"))).filter(
        F.col("nl") < F.col("nt")
    )
    ex = _gbdt_split_exprs("DECIMAL(38,0)", "DIV")
    pred_scale = "" if milli else " * 1000"
    scored = cand.select(
        "feat",
        F.expr(ex["score"]).alias("score"),
        F.expr(ex["pred_l"].replace(" * 1000", pred_scale)).alias("pred_l"),
        F.expr(ex["pred_r"].replace(" * 1000", pred_scale)).alias("pred_r"),
        F.expr(ex["n_l"]).alias("n_l"),
        F.expr(ex["n_r"]).alias("n_r"),
    )
    wb = Window.orderBy(F.desc("score"), F.asc("feat"))
    best = scored.withColumn("brnk", F.row_number().over(wb)).filter(
        F.col("brnk") == 1
    )
    return best, tot


def q_gbdt_stump_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.expr(_GBDT_X1).alias("x1"),
        F.expr(_GBDT_X2).alias("x2"),
        F.expr(_GBDT_Y).alias("y"),
    )
    # Stage 1: y (cents) ~ stump(x1); predictions in milli-cents.
    best1, _ = _gbdt_best_stump(li, "x1", "y", milli=False)
    with1 = li.crossJoin(F.broadcast(best1.select("feat", "pred_l", "pred_r"))).select(
        "x2",
        (
            F.col("y") * F.lit(1000)
            - F.when(F.col("x1") <= F.col("feat"), F.col("pred_l")).otherwise(F.col("pred_r"))
        ).alias("r1"),
    )
    # Stage 2: milli-cent residuals ~ stump(x2). mar1 (mean |r1|) rides
    # stage 2's feature aggregate (tot2.sabst / tot2.nt) — the separate
    # full scan of with1 it used to cost is gone (r14).
    best2, tot2 = _gbdt_best_stump(with1, "x2", "r1", milli=True)
    mar1 = tot2.select(
        F.expr(
            f"CAST({_fdiv('CAST(sabst AS DECIMAL(25,0))', 'nt', 'DIV')} AS BIGINT)"
        ).alias("mar")
    )
    with2 = with1.crossJoin(F.broadcast(best2.select("feat", "pred_l", "pred_r"))).select(
        (
            F.col("r1")
            - F.when(F.col("x2") <= F.col("feat"), F.col("pred_l")).otherwise(F.col("pred_r"))
        ).alias("r2")
    )
    mar2 = with2.agg(
        F.expr(
            f"CAST({_fdiv('CAST(sum(abs(r2)) AS DECIMAL(25,0))', 'count(*)', 'DIV')} AS BIGINT)"
        ).alias("mar")
    )
    row1 = (
        best1.crossJoin(mar1)
        .select(
            F.lit(1).alias("stage"),
            F.lit("l_quantity").alias("feature"),
            F.col("feat").cast("long").alias("threshold"),
            F.col("n_l").alias("n_left"),
            F.col("n_r").alias("n_right"),
            F.col("pred_l").alias("pred_left_milli"),
            F.col("pred_r").alias("pred_right_milli"),
            F.col("mar").alias("mean_abs_resid_milli"),
        )
    )
    row2 = (
        best2.crossJoin(mar2)
        .select(
            F.lit(2).alias("stage"),
            F.lit("discount_pct").alias("feature"),
            F.col("feat").cast("long").alias("threshold"),
            F.col("n_l").alias("n_left"),
            F.col("n_r").alias("n_right"),
            F.col("pred_l").alias("pred_left_milli"),
            F.col("pred_r").alias("pred_right_milli"),
            F.col("mar").alias("mean_abs_resid_milli"),
        )
    )
    return row1.unionAll(row2).orderBy("stage")


def _gbdt_stage_sql(src: str, feat: str, target: str, pred_scale: str) -> str:
    """CTE text for one stage's best split (DuckDB side, HUGEINT math)."""
    ex = _gbdt_split_exprs("HUGEINT", "//")
    return f"""
    SELECT feat,
           {ex['pred_l'].replace(' * 1000', pred_scale)} AS pred_l,
           {ex['pred_r'].replace(' * 1000', pred_scale)} AS pred_r,
           {ex['n_l']} AS n_l, {ex['n_r']} AS n_r
    FROM (
        SELECT feat, nl, sl,
               (SELECT count(*) FROM {src}) AS nt,
               (SELECT CAST(sum({target}) AS HUGEINT) FROM {src}) AS st
        FROM (
            SELECT feat,
                   sum(n) OVER (ORDER BY feat) AS nl,
                   sum(s) OVER (ORDER BY feat) AS sl
            FROM (
                SELECT {feat} AS feat, count(*) AS n,
                       CAST(sum({target}) AS HUGEINT) AS s
                FROM {src} GROUP BY 1
            )
        )
        WHERE nl < (SELECT count(*) FROM {src})
    )
    QUALIFY row_number() OVER (ORDER BY {ex['score']} DESC, feat ASC) = 1
    """


_GBDT_SQL = f"""
WITH base AS (
    SELECT {_GBDT_X1} AS x1, {_GBDT_X2} AS x2, {_GBDT_Y} AS y FROM lineitem
), best1 AS ({_gbdt_stage_sql('base', 'x1', 'y', " * 1000")}
), staged AS (
    SELECT b.x2,
           b.y * 1000 - CASE WHEN b.x1 <= s.feat THEN s.pred_l ELSE s.pred_r END AS r1
    FROM base b, best1 s
), best2 AS ({_gbdt_stage_sql('staged', 'x2', 'r1', "")}
), staged2 AS (
    SELECT t.r1 - CASE WHEN t.x2 <= s.feat THEN s.pred_l ELSE s.pred_r END AS r2
    FROM staged t, best2 s
), mar1 AS (
    SELECT CAST({_fdiv('CAST(sum(abs(r1)) AS HUGEINT)', 'count(*)', '//')} AS BIGINT) AS mar
    FROM staged
), mar2 AS (
    SELECT CAST({_fdiv('CAST(sum(abs(r2)) AS HUGEINT)', 'count(*)', '//')} AS BIGINT) AS mar
    FROM staged2
)
SELECT 1 AS stage, 'l_quantity' AS feature, CAST(feat AS BIGINT) AS threshold,
       n_l AS n_left, n_r AS n_right, pred_l AS pred_left_milli,
       pred_r AS pred_right_milli, (SELECT mar FROM mar1) AS mean_abs_resid_milli
FROM best1
UNION ALL
SELECT 2 AS stage, 'discount_pct' AS feature, CAST(feat AS BIGINT) AS threshold,
       n_l AS n_left, n_r AS n_right, pred_l AS pred_left_milli,
       pred_r AS pred_right_milli, (SELECT mar FROM mar2) AS mean_abs_resid_milli
FROM best2
ORDER BY stage
"""


# --------------------------------------------------------------------------
# Split-conformal prediction intervals + coverage evaluation
# --------------------------------------------------------------------------

_CONF_CENTS = "CAST(round(value * 100) AS BIGINT)"
_CONF_SPLIT = hash64_sql("event_id", seed=51)  # DuckDB split hash


def q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr(_CONF_CENTS).alias("cents"),
        F.pmod(hash64(F.col("event_id"), seed=51), F.lit(10)).alias("split"),
    )
    train = ev.filter(F.col("split") <= 5)
    calib = ev.filter(F.col("split").isin(6, 7))
    test = ev.filter(F.col("split") >= 8)
    model = train.groupBy("event_type").agg(
        F.expr(
            f"CAST({_fdiv('CAST(sum(cents) AS DECIMAL(25,0)) * 1000000', 'count(*)', 'DIV')}"
            " AS BIGINT)"
        ).alias("mean_micro")
    )
    cal = calib.join(F.broadcast(model), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("cents") * F.lit(1000000) - F.col("mean_micro")).alias("s"),
    )
    wc = Window.partitionBy("event_type").orderBy(F.asc("s"), F.asc("event_id"))
    ranked = cal.withColumn("rk", F.row_number().over(wc))
    ncal = cal.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_calib"))
    # q̂ = the ⌈0.9·(n+1)⌉-th smallest score, capped at n (exact nearest-rank)
    kq = ncal.select(
        "event_type",
        "n_calib",
        F.least(
            F.expr("CAST((9 * (n_calib + 1) + 9) DIV 10 AS BIGINT)"), F.col("n_calib")
        ).alias("k"),
    )
    qhat = ranked.join(F.broadcast(kq), "event_type").filter(F.col("rk") == F.col("k")).select(
        "event_type", "n_calib", F.col("s").alias("q_hat_micro")
    )
    cov = (
        test.join(F.broadcast(model), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_calib", "q_hat_micro")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("cents") * F.lit(1000000) - F.col("mean_micro"))
                    <= F.col("q_hat_micro")
                ).cast("long")
            ).alias("n_covered"),
        )
    )
    return bounded_order(
        cov.select(
            "event_type",
            "n_calib",
            "q_hat_micro",
            "n_test",
            "n_covered",
            F.expr("(n_covered * 1000000) DIV n_test").alias("coverage_micro"),
        ),
        "event_type",
    )


_CONFORMAL_SQL = f"""
WITH ev AS (
    SELECT event_id, event_type, {_CONF_CENTS} AS cents,
           ({_CONF_SPLIT}) % 10 AS split
    FROM events
), model AS (
    SELECT event_type,
           CAST({_fdiv('CAST(sum(cents) AS HUGEINT) * 1000000', 'count(*)', '//')} AS BIGINT)
               AS mean_micro
    FROM ev WHERE split <= 5 GROUP BY event_type
), cal AS (
    SELECT e.event_type, e.event_id, abs(e.cents * 1000000 - m.mean_micro) AS s
    FROM ev e JOIN model m USING (event_type)
    WHERE e.split IN (6, 7)
), ranked AS (
    SELECT event_type, s,
           row_number() OVER (PARTITION BY event_type ORDER BY s ASC, event_id ASC) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n_calib
    FROM cal
), qhat AS (
    SELECT event_type, n_calib, s AS q_hat_micro
    FROM ranked
    WHERE rk = least((9 * (n_calib + 1) + 9) // 10, n_calib)
)
SELECT e.event_type, q.n_calib, q.q_hat_micro,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CAST(abs(e.cents * 1000000 - m.mean_micro) <= q.q_hat_micro AS BIGINT))
            AS BIGINT) AS n_covered,
       CAST((sum(CAST(abs(e.cents * 1000000 - m.mean_micro) <= q.q_hat_micro AS BIGINT))
             * 1000000) // count(*) AS BIGINT) AS coverage_micro
FROM ev e JOIN model m USING (event_type) JOIN qhat q USING (event_type)
WHERE e.split >= 8
GROUP BY e.event_type, q.n_calib, q.q_hat_micro
ORDER BY e.event_type
"""




SPECS.extend(
    [
        QuerySpec(
            "knn_label_vote",
            q_knn_label_vote,
            _KNN_SQL,
            ("similarity", "ml"),
            doc="k-NN classification over embeddings: broadcast 20-query frame, "
            "per-query top-5 cosine as WindowGroupLimit, deterministic majority vote",
        ),
        QuerySpec(
            "gbdt_stump_boost",
            q_gbdt_stump_boost,
            _GBDT_SQL,
            ("ml", "agg"),
            doc="Two-round L2 gradient boosting with decision stumps: per-stage "
            "sufficient-stats aggregate + cumulative window over the bounded "
            "feature domain; exact integer milli-cent predictions and residuals",
        ),
        QuerySpec(
            "conformal_interval_coverage",
            q_conformal_interval_coverage,
            _CONFORMAL_SQL,
            ("ml", "stats"),
            doc="Split-conformal intervals per event_type: hash train/calib/test "
            "split, exact nearest-rank q-hat at 90%, integer micro coverage rate",
        ),
    ]
)


# --------------------------------------------------------------------------
# MoE top-2 expert routing load (deterministic hash gates)
# --------------------------------------------------------------------------

_N_EXPERTS = 8


def _expert_scores_spark(col):
    return [hash64(col, seed=1000 + e) % 1_000_000 for e in range(_N_EXPERTS)]


def _argmax_sql(exclude: str | None = None) -> str:
    """First-match argmax over s0..s7 as one CASE chain (identical text on
    both engines); ``exclude`` masks one dynamic index for the second-max."""
    if exclude is None:
        terms = [f"s{e}" for e in range(_N_EXPERTS)]
    else:
        terms = [
            f"(CASE WHEN {e} = {exclude} THEN -1 ELSE s{e} END)"
            for e in range(_N_EXPERTS)
        ]
    m = f"greatest({', '.join(terms)})"
    chain = " ".join(
        f"WHEN {terms[e]} = {m} THEN {e}" for e in range(_N_EXPERTS)
    )
    return f"(CASE {chain} END)"


def q_routing_topk_experts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-of-Experts top-2 routing over the document corpus: each doc
    scores 8 experts with independent deterministic hash gates (the seeded
    ``hash64`` family — in production, the learned router's logits) and
    routes to its top 2 (first-match tie-break, identical CASE chain both
    engines). Output is the per-expert load table an MoE training pipeline
    watches for routing collapse: primary/secondary assignment counts and
    the combined load share (ideal = 1/8 = 0.125 per expert). One map-only
    scoring pass + one 8-row aggregate — no shuffle beyond the bounded
    grid."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    scored = docs.select(
        "doc_id",
        *[
            s.alias(f"s{e}")
            for e, s in enumerate(_expert_scores_spark(F.col("doc_id")))
        ],
    )
    # The secondary argmax masks the primary's index by inlining the primary
    # CASE chain as the exclude expression — verbatim the oracle's text.
    routed = scored.select(
        F.expr(_argmax_sql()).cast("int").alias("primary_e"),
        F.expr(_argmax_sql(exclude=_argmax_sql())).cast("int").alias("secondary_e"),
    )
    prim = routed.groupBy("primary_e").agg(F.count(F.lit(1)).alias("n_primary"))
    sec = routed.groupBy("secondary_e").agg(F.count(F.lit(1)).alias("n_secondary"))
    tot = routed.groupBy().agg(F.count(F.lit(1)).alias("nd"))
    out = (
        prim.join(
            sec, prim["primary_e"] == sec["secondary_e"], "full"
        )
        .select(
            F.coalesce("primary_e", "secondary_e").alias("expert"),
            F.coalesce("n_primary", F.lit(0)).alias("n_primary"),
            F.coalesce("n_secondary", F.lit(0)).alias("n_secondary"),
        )
        .crossJoin(F.broadcast(tot))
    )
    share = (
        "CAST(n_primary + n_secondary AS DOUBLE) / (2.0 * CAST(nd AS DOUBLE))"
    )
    return bounded_order(
        out.select(
            "expert",
            "n_primary",
            "n_secondary",
            pround(F.expr(share), 6).alias("load_share_r"),
        ),
        "expert",
    )


def _routing_sql() -> str:
    scores = ",\n           ".join(
        f"{hash64_sql('doc_id', seed=1000 + e)} % 1000000 AS s{e}"
        for e in range(_N_EXPERTS)
    )
    share = "CAST(n_primary + n_secondary AS DOUBLE) / (2.0 * CAST(nd AS DOUBLE))"
    return f"""
WITH scored AS (
    SELECT doc_id,
           {scores}
    FROM documents
), routed AS (
    SELECT {_argmax_sql()} AS primary_e,
           {_argmax_sql(exclude=_argmax_sql())} AS secondary_e
    FROM scored
), prim AS (
    SELECT primary_e AS expert, count(*) AS n_primary FROM routed GROUP BY 1
), sec AS (
    SELECT secondary_e AS expert, count(*) AS n_secondary FROM routed GROUP BY 1
), tot AS (
    SELECT count(*) AS nd FROM routed
)
SELECT CAST(coalesce(prim.expert, sec.expert) AS INT) AS expert,
       CAST(coalesce(n_primary, 0) AS BIGINT) AS n_primary,
       CAST(coalesce(n_secondary, 0) AS BIGINT) AS n_secondary,
       {pround_sql(share, 6)} AS load_share_r
FROM prim FULL JOIN sec USING (expert), tot
ORDER BY expert
"""




SPECS.append(
    QuerySpec(
        "routing_topk_experts",
        q_routing_topk_experts,
        _routing_sql(),
        ("llm",),
        doc="MoE top-2 routing load table over documents: deterministic "
        "hash gates, per-expert primary/secondary counts + load share",
    )
)


# --------------------------------------------------------------------------
# Rank-based quantile normalization per language (ML feature prep)
# --------------------------------------------------------------------------


def q_quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of document length WITHIN each
    language: qn = (rank − 0.5)/n ∈ (0,1) — the cross-population score
    alignment trick (a 0.9 means "90th percentile of ITS OWN language",
    so a verbose language can't dominate a mixed quality cut). Ranks come
    from the scale-safe :func:`grouped_rank` operator (range-bucketed
    parallel sorts + broadcast prefix offsets — no per-language window
    task). Output micro-quantiles are exact integers:
    qn_micro = (2·rank − 1)·10⁶ DIV (2·n). The output keeps the top-8
    rows per language (rank <= 8), so the row count is bounded by
    8·|langs| regardless of corpus size (40 rows here only because the
    testdata has 5 languages)."""
    from projet_data_infrastructure_spark.operators.ranks import grouped_rank

    docs = read_table_balanced(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("len")
    )
    ranked = grouped_rank(docs, "lang", "len", ties=("doc_id",))
    return bounded_order(
        ranked.withColumn(
            "qn_micro",
            F.expr("((2 * rank - 1) * 1000000) DIV (2 * group_total)"),
        )
        .filter(F.col("rank") <= 8)
        .select("lang", F.col("rank").cast("long").alias("rank"), "doc_id", "len", "qn_micro")
        # 8 rows per language, filtered from a rank window over every
        # document: that window keeps its parallelism.
        .repartition(1),
        "lang",
        "rank",
    )


_QNORM_SQL = """
WITH ranked AS (
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS len,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS rank,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents
)
SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, len,
       CAST(((2 * rank - 1) * 1000000) // (2 * n) AS BIGINT) AS qn_micro
FROM ranked WHERE rank <= 8
ORDER BY lang, rank
"""



SPECS.append(
    QuerySpec(
        "quantile_normalize_scores",
        q_quantile_normalize_scores,
        _QNORM_SQL,
        ("llm", "ml"),
        doc="Per-language rank quantile normalization via scale-safe "
        "grouped_rank; exact integer micro-quantiles",
    )
)


# --------------------------------------------------------------------------
# Precision / recall / F1 threshold sweep
# --------------------------------------------------------------------------

_SWEEP_THRESHOLDS = (2000, 5000, 10000, 20000, 40000)  # cents


def q_precision_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    thr_list = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    # 5× literal map-side explode → one combinable aggregate; no rescans.
    tall = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        value_cents().alias("cents"),
        F.explode(F.expr(f"array({thr_list})")).alias("thr"),
    ).withColumn("pred", (F.col("cents") >= F.col("thr")).cast("int"))
    conf = tall.groupBy("thr").agg(
        F.sum(F.expr("CAST(y = 1 AND pred = 1 AS INT)")).alias("tp"),
        F.sum(F.expr("CAST(y = 0 AND pred = 1 AS INT)")).alias("fp"),
        F.sum(F.expr("CAST(y = 1 AND pred = 0 AS INT)")).alias("fn"),
    )
    return conf.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.expr(
            "CASE WHEN tp + fp > 0 THEN (1000000 * tp) DIV (tp + fp) ELSE 0 END"
        ).alias("precision_micro"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN (1000000 * tp) DIV (tp + fn) ELSE 0 END"
        ).alias("recall_micro"),
    ).withColumn(
        "f1_micro",
        F.expr(
            "CASE WHEN precision_micro + recall_micro > 0 THEN"
            " (2 * precision_micro * recall_micro) DIV (precision_micro + recall_micro)"
            " ELSE 0 END"
        ),
    )


_SWEEP_SQL = f"""
WITH tall AS (
    SELECT CAST(event_type = 'purchase' AS INT) AS y,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           thr
    FROM events, unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]) AS t(thr)
), conf AS (
    SELECT thr,
           sum(CAST(y = 1 AND cents >= thr AS INT)) AS tp,
           sum(CAST(y = 0 AND cents >= thr AS INT)) AS fp,
           sum(CAST(y = 1 AND cents < thr AS INT)) AS fn
    FROM tall GROUP BY thr
), pr AS (
    SELECT thr, tp, fp, fn,
           CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) ELSE 0 END
               AS precision_micro,
           CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn) ELSE 0 END
               AS recall_micro
    FROM conf
)
SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CAST(precision_micro AS BIGINT) AS precision_micro,
       CAST(recall_micro AS BIGINT) AS recall_micro,
       CAST(CASE WHEN precision_micro + recall_micro > 0 THEN
            (2 * precision_micro * recall_micro) // (precision_micro + recall_micro)
            ELSE 0 END AS BIGINT) AS f1_micro
FROM pr
"""


# --------------------------------------------------------------------------
# Stratified k-fold assignment (leakage-free CV splits)
# --------------------------------------------------------------------------

_KFOLDS = 5


def q_stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold: within each language stratum, docs
    are ranked by (hash64(doc_id), doc_id) and fold = (rank−1) mod k, so
    fold sizes differ by ≤1 inside every stratum (exact balance, unlike
    hash-mod assignment). The per-language rank uses the scale-safe
    :func:`grouped_rank` operator (range-bucketed parallel sorts + broadcast
    prefix offsets), NOT a per-language window — a single language at 100 TB
    would otherwise funnel through one task. Output: per (lang, fold) count."""
    from projet_data_infrastructure_spark.functions.hashing import hash64
    from projet_data_infrastructure_spark.operators.ranks import grouped_rank

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", hash64(F.col("doc_id")).alias("h")
    )
    ranked = grouped_rank(docs, "lang", "h", ties=("doc_id",))
    return (
        ranked.withColumn("fold", (F.col("rank") - 1) % _KFOLDS)
        .groupBy("lang", "fold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_KFOLD_SQL = f"""
WITH ranked AS (
    SELECT lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {hash64_sql('doc_id')}, doc_id) AS rank
    FROM documents
)
SELECT lang, (rank - 1) % {_KFOLDS} AS fold, count(*) AS n_docs
FROM ranked GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# Leave-one-out target encoding (ML feature prep)
# --------------------------------------------------------------------------

_TE_SMOOTH = 20  # prior weight (pseudo-observations of the global mean)


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment against
    the order total — the categorical-feature prep step of every GBDT/linear
    pipeline, in its leakage-safe LOO form: each row's encoding excludes its
    OWN target, enc_i = (S_c − y_i + m·ȳ)·10⁶ / ((n_c − 1 + m)·unit), with
    m = 20 pseudo-observations of the global mean (micro-cent exact integer
    arithmetic; the global-mean prior is itself an exact integer micro-cent
    value attached via a broadcast 1-row aggregate). ONE category aggregate
    joined back map-side — no window, no per-row shuffle beyond the keyed
    join. Output: per-category stats + the 20 lowest-orderkey encoded rows
    (bounded sample; TakeOrdered shape)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        "o_orderkey",
        "c_mktsegment",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    per_cat = rows.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("y").alias("s_c")
    )
    glob = rows.agg(
        F.expr("(sum(y) * 1000000) DIV count(1)").alias("gmean_micro")
    )
    enc = (
        rows.join(F.broadcast(per_cat), "c_mktsegment")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "c_mktsegment",
            F.expr(
                f"((s_c - y) * 1000000 + {_TE_SMOOTH} * gmean_micro)"
                f" DIV (n_c - 1 + {_TE_SMOOTH})"
            ).alias("enc_micro"),
        )
    )
    return enc.orderBy("o_orderkey").limit(20)


_TE_SQL = f"""
WITH rows_ AS (
    SELECT o_orderkey, c_mktsegment,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
    FROM orders JOIN customer ON o_custkey = c_custkey
), per_cat AS (
    SELECT c_mktsegment, count(*) AS n_c, sum(y) AS s_c
    FROM rows_ GROUP BY 1
), gm AS (
    SELECT (sum(y) * 1000000) // count(*) AS gmean_micro FROM rows_
)
SELECT o_orderkey, c_mktsegment,
       CAST(((s_c - y) * 1000000 + {_TE_SMOOTH} * gmean_micro)
           // (n_c - 1 + {_TE_SMOOTH}) AS BIGINT) AS enc_micro
FROM rows_ JOIN per_cat USING (c_mktsegment) CROSS JOIN gm
ORDER BY o_orderkey LIMIT 20
"""

# --------------------------------------------------------------------------
# Rank-1 ALS step (matrix-factorization family)
# --------------------------------------------------------------------------


def q_als_rank1_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact alternating-least-squares step at rank 1 on the user ×
    event_type value matrix: item factors initialize from the portable hash
    (v⁰ ∈ [1,100], integer), the user step solves u_i = Σ_j r_ij·v_j /
    Σ_j v_j² in closed form per user, the item step re-solves v_j =
    Σ_i r_ij·u_i / Σ_i u_i² — each step is ONE keyed aggregate (the
    classic scalable ALS shape: no gradient loop, factors exchanged via
    joins). Factors are kept in exact micro units (integer floor division),
    so the whole two-step update is hash-checkable. Output: the item
    factors after one full alternation."""
    from projet_data_infrastructure_spark.functions.hashing import hash64

    ev = read_table(spark, sf_dir, "events")
    r = ev.groupBy("user_id", "event_type").agg(F.sum(value_cents()).alias("r"))
    v0 = r.select("event_type").distinct().select(
        "event_type",
        (F.pmod(hash64(F.col("event_type")), F.lit(100)) + 1).alias("v0"),
    )
    withv = r.join(F.broadcast(v0), "event_type")
    u = withv.groupBy("user_id").agg(
        F.expr("(sum(r * v0) * 1000000) DIV sum(v0 * v0)").alias("u_micro")
    )
    withu = r.join(u, "user_id")
    v1 = withu.groupBy("event_type").agg(
        F.expr(
            "CAST((CAST(sum(CAST(r AS DECIMAL(38,0)) * u_micro) AS DECIMAL(38,0))"
            " * 1000000000)"
            " DIV sum(CAST(u_micro AS DECIMAL(38,0)) * u_micro) AS BIGINT)"
        ).alias("v1_nano"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return v1.join(F.broadcast(v0), "event_type").select(
        "event_type", "v0", "v1_nano", "n_users"
    )


_ALS_SQL = f"""
WITH r AS (
    SELECT user_id, event_type,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS r
    FROM events GROUP BY 1, 2
), v0 AS (
    SELECT event_type,
           ({hash64_sql('event_type')} % 100) + 1 AS v0
    FROM (SELECT DISTINCT event_type FROM r)
), u AS (
    SELECT user_id, (sum(r.r * v0.v0) * 1000000) // sum(v0.v0 * v0.v0) AS u_micro
    FROM r JOIN v0 USING (event_type)
    GROUP BY user_id
), v1 AS (
    SELECT event_type,
           CAST((sum(CAST(r.r AS HUGEINT) * u.u_micro) * 1000000000)
                // sum(CAST(u.u_micro AS HUGEINT) * u.u_micro) AS BIGINT)
               AS v1_nano,
           count(*) AS n_users
    FROM r JOIN u USING (user_id)
    GROUP BY event_type
)
SELECT event_type, v0.v0, v1.v1_nano, v1.n_users
FROM v1 JOIN v0 USING (event_type)
"""



# --------------------------------------------------------------------------
# k-fold cross-validated Naive Bayes (partial-aggregate subtraction CV)
# --------------------------------------------------------------------------

_NBCV_FOLDS = 5
_NBCV_QBIAS = 0.50001  # the dsir/naive_bayes micro-nat half-up bias


def q_nb_crossval_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated accuracy of the multinomial NB language
    classifier — with the trick that makes CV scale: each fold's TRAINING
    counts are never recomputed from the corpus; they are the corpus-wide
    partial aggregates MINUS the fold's partial aggregates (counts, class
    totals, priors, and the train vocabulary size all derive from one
    (fold, lang, word) aggregate by subtraction). So 5-fold CV costs ONE
    corpus tokenize + vocabulary-bounded arithmetic — not 5 corpus passes
    (the standard k-fold formulation retrains k times over k-1/k of the
    data; at 100 TB that is k corpus scans, here it is exactly one).

    Determinism: the ``naive_bayes_lang`` house discipline — Laplace
    log-probs quantized once to integer micro-nats (floor(x·10⁶ + 0.50001)
    so a 1-ulp ln() difference cannot flip a bucket), scoring is an exact
    integer dot product, argmax ties to the smaller lang. Output: per-fold
    n_docs / n_correct / accuracy_micro."""
    from projet_data_infrastructure_spark.functions.hashing import hash64

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "fold", F.pmod(hash64(F.col("doc_id")), F.lit(_NBCV_FOLDS)).cast("int")
    )
    dwc = (
        docs.select(
            "doc_id", "fold", "lang", F.explode(tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("doc_id", "fold", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # feeds the stats AND the scoring pass
    )
    # corpus-wide and per-fold partial aggregates (the subtraction inputs)
    wc_all = dwc.groupBy("lang", "w").agg(F.sum("c").alias("cw"))
    wc_fold = dwc.groupBy("fold", "lang", "w").agg(F.sum("c").alias("cwf"))
    folds = spark.range(_NBCV_FOLDS).select(F.col("id").cast("int").alias("fold"))
    # train counts per fold = all - fold (grid = folds x corpus vocab pairs)
    wc_t = (
        folds.crossJoin(wc_all)
        .join(wc_fold, ["fold", "lang", "w"], "left")
        .select(
            "fold",
            "lang",
            "w",
            (F.col("cw") - F.coalesce(F.col("cwf"), F.lit(0))).alias("cwt"),
        )
    )
    tot_t = wc_t.groupBy("fold", "lang").agg(F.sum("cwt").alias("tott"))
    # train vocabulary per fold: words whose cross-class train count > 0
    word_all = wc_all.groupBy("w").agg(F.sum("cw").alias("wa"))
    word_fold = dwc.groupBy("fold", "w").agg(F.sum("c").alias("wf"))
    v_t = (
        folds.crossJoin(word_all)
        .join(word_fold, ["fold", "w"], "left")
        .filter(F.col("wa") - F.coalesce(F.col("wf"), F.lit(0)) > 0)
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("vt"))
    )
    # train priors per fold
    nd_all = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    nd_fold = docs.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("ndf"))
    nd_t = (
        folds.crossJoin(nd_all)
        .join(nd_fold, ["fold", "lang"], "left")
        .select(
            "fold",
            "lang",
            (F.col("nd") - F.coalesce(F.col("ndf"), F.lit(0))).alias("ndt"),
        )
    )
    n_t = nd_t.groupBy("fold").agg(F.sum("ndt").alias("nt"))

    def _q(col):
        return F.floor(col * F.lit(1_000_000.0) + F.lit(_NBCV_QBIAS)).cast("long")

    weights = (
        wc_t.join(tot_t, ["fold", "lang"])
        .join(F.broadcast(v_t), "fold")
        .select(
            "fold",
            "lang",
            "w",
            _q(
                F.log(
                    (F.col("cwt") + 1).cast("double")
                    / (F.col("tott") + F.col("vt")).cast("double")
                )
            ).alias("lw_unats"),
        )
    )
    cls = (
        nd_t.join(tot_t, ["fold", "lang"])
        .join(F.broadcast(v_t), "fold")
        .join(F.broadcast(n_t), "fold")
        .select(
            "fold",
            F.col("lang").alias("cand"),
            _q(F.log(F.col("ndt").cast("double") / F.col("nt").cast("double"))).alias(
                "prior_unats"
            ),
            _q(
                F.log(F.lit(1.0) / (F.col("tott") + F.col("vt")).cast("double"))
            ).alias("default_unats"),
        )
    )
    wt = weights.select(
        F.col("fold").alias("wfold"),
        F.col("lang").alias("wcand"),
        F.col("w").alias("ww"),
        "lw_unats",
    )
    scored = (
        dwc.withColumnRenamed("lang", "true_lang")
        .join(F.broadcast(cls), "fold")
        .join(
            wt,
            (F.col("fold") == F.col("wfold"))
            & (F.col("cand") == F.col("wcand"))
            & (F.col("w") == F.col("ww")),
            "left",
        )
        .groupBy("doc_id", "fold", "true_lang", "cand", "prior_unats")
        .agg(
            F.sum(
                F.col("c") * F.coalesce(F.col("lw_unats"), F.col("default_unats"))
            ).alias("ll")
        )
        .select(
            "doc_id",
            "fold",
            "true_lang",
            "cand",
            (F.col("prior_unats") + F.col("ll")).alias("score_unats"),
        )
    )
    wdoc = Window.partitionBy("doc_id").orderBy(F.desc("score_unats"), F.asc("cand"))
    pred = scored.withColumn("rn", F.row_number().over(wdoc)).filter(F.col("rn") == 1)
    return (
        pred.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("cand") == F.col("true_lang")).cast("long")).alias(
                "n_correct"
            ),
        )
        .withColumn("accuracy_micro", F.expr("(1000000 * n_correct) DIV n_docs"))
    )


_NBCV_TOKS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"

_NBCV_SQL = f"""
WITH d AS (
    SELECT doc_id, CAST({hash64_sql('doc_id')} % {_NBCV_FOLDS} AS INT) AS fold,
           lang, text
    FROM documents
), dwc AS (
    SELECT doc_id, fold, lang, w, count(*) AS c
    FROM (SELECT doc_id, fold, lang, unnest({_NBCV_TOKS}) AS w FROM d)
    GROUP BY 1, 2, 3, 4
), wc_all AS (
    SELECT lang, w, sum(c) AS cw FROM dwc GROUP BY 1, 2
), wc_fold AS (
    SELECT fold, lang, w, sum(c) AS cwf FROM dwc GROUP BY 1, 2, 3
), folds AS (
    SELECT unnest(range(0, {_NBCV_FOLDS})) AS fold
), wc_t AS (
    SELECT f.fold, a.lang, a.w, a.cw - coalesce(wf.cwf, 0) AS cwt
    FROM folds f CROSS JOIN wc_all a
    LEFT JOIN wc_fold wf ON wf.fold = f.fold AND wf.lang = a.lang AND wf.w = a.w
), tot_t AS (
    SELECT fold, lang, sum(cwt) AS tott FROM wc_t GROUP BY 1, 2
), word_all AS (
    SELECT w, sum(cw) AS wa FROM wc_all GROUP BY w
), word_fold AS (
    SELECT fold, w, sum(c) AS wf FROM dwc GROUP BY 1, 2
), v_t AS (
    SELECT f.fold, count(*) AS vt
    FROM folds f CROSS JOIN word_all a
    LEFT JOIN word_fold wf ON wf.fold = f.fold AND wf.w = a.w
    WHERE a.wa - coalesce(wf.wf, 0) > 0
    GROUP BY f.fold
), nd_all AS (
    SELECT lang, count(*) AS nd FROM d GROUP BY lang
), nd_fold AS (
    SELECT fold, lang, count(*) AS ndf FROM d GROUP BY 1, 2
), nd_t AS (
    SELECT f.fold, a.lang, a.nd - coalesce(nf.ndf, 0) AS ndt
    FROM folds f CROSS JOIN nd_all a
    LEFT JOIN nd_fold nf ON nf.fold = f.fold AND nf.lang = a.lang
), n_t AS (
    SELECT fold, sum(ndt) AS nt FROM nd_t GROUP BY fold
), weights AS (
    SELECT t.fold, t.lang, t.w,
           CAST(floor(ln(CAST(t.cwt + 1 AS DOUBLE) / CAST(tt.tott + v.vt AS DOUBLE))
                      * 1000000.0 + {_NBCV_QBIAS}) AS BIGINT) AS lw_unats
    FROM wc_t t
    JOIN tot_t tt ON tt.fold = t.fold AND tt.lang = t.lang
    JOIN v_t v ON v.fold = t.fold
), cls AS (
    SELECT nd.fold, nd.lang AS cand,
           CAST(floor(ln(CAST(nd.ndt AS DOUBLE) / CAST(n.nt AS DOUBLE))
                      * 1000000.0 + {_NBCV_QBIAS}) AS BIGINT) AS prior_unats,
           CAST(floor(ln(1.0 / CAST(tt.tott + v.vt AS DOUBLE))
                      * 1000000.0 + {_NBCV_QBIAS}) AS BIGINT) AS default_unats
    FROM nd_t nd
    JOIN tot_t tt ON tt.fold = nd.fold AND tt.lang = nd.lang
    JOIN v_t v ON v.fold = nd.fold
    JOIN n_t n ON n.fold = nd.fold
), scored AS (
    SELECT dwc.doc_id, dwc.fold, dwc.lang AS true_lang, cls.cand,
           cls.prior_unats
               + sum(dwc.c * coalesce(w.lw_unats, cls.default_unats))
               AS score_unats
    FROM dwc
    JOIN cls ON cls.fold = dwc.fold
    LEFT JOIN weights w
      ON w.fold = dwc.fold AND w.lang = cls.cand AND w.w = dwc.w
    GROUP BY 1, 2, 3, 4, cls.prior_unats
), pred AS (
    SELECT fold, true_lang, cand,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_unats DESC, cand ASC) AS rn
    FROM scored
)
SELECT fold, count(*) AS n_docs,
       CAST(sum(CAST(cand = true_lang AS BIGINT)) AS BIGINT) AS n_correct,
       CAST((1000000 * sum(CAST(cand = true_lang AS BIGINT))) // count(*)
           AS BIGINT) AS accuracy_micro
FROM pred WHERE rn = 1
GROUP BY fold
"""




SPECS.extend(
    [
    QuerySpec(
            "precision_recall_sweep",
            q_precision_recall_sweep,
            _SWEEP_SQL,
            ("ml", "agg"),
            doc="Classifier threshold sweep: 5-threshold literal explode, one "
            "combinable aggregate, exact micro precision/recall/F1",
        ),
    QuerySpec(
            "stratified_kfold_assign",
            q_stratified_kfold_assign,
            _KFOLD_SQL,
            ("ml", "split"),
            doc="Deterministic stratified 5-fold CV assignment via the scale-"
            "safe grouped_rank operator (no per-language corpus window); "
            "exact ≤1-row fold balance per stratum",
        ),
    QuerySpec(
            "target_encode_loo",
            q_target_encode_loo,
            _TE_SQL,
            ("ml", "feature"),
            doc="Leakage-safe leave-one-out target encoding with prior "
            "smoothing: one category aggregate joined back map-side, exact "
            "integer micro-cents; bounded 20-row sample output",
        ),
    QuerySpec(
            "als_rank1_step",
            q_als_rank1_step,
            _ALS_SQL,
            ("ml", "recsys"),
            doc="One exact rank-1 ALS alternation (hash init, closed-form user "
            "then item solves as keyed aggregates) in integer micro units — "
            "the scalable matrix-factorization shape, hash-checkable",
        ),
    QuerySpec(
            "nb_crossval_accuracy",
            q_nb_crossval_accuracy,
            _NBCV_SQL,
            ("ml", "text"),
            doc="5-fold CV of the NB language classifier where every fold's "
            "training statistics are corpus aggregates MINUS fold aggregates — "
            "one corpus tokenize instead of k retraining passes; micro-nat "
            "quantized, integer-exact scoring",
        ),
    ]
)
