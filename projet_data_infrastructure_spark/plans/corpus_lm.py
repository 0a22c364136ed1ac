"""Corpus-mixture, tokenization, and language-model readout operators —
the layer a multilingual LLM training pipeline runs after curation: how
much of each language to sample, how to weight and shard it, what the
tokenizer does to it, and the n-gram statistics/keyword readouts a data
team monitors.

Consolidated from the round-6..round-10 build modules (round 11, VERDICT
r10 item 6) — specs, oracles, and hashes unchanged; each spec keeps its
original design docstring. Scale shape: vocabulary/language-keyed
shuffles, nano-quantized order-free term sums, and bounded grids; the
corpus-sized work per spec is one or two map-side-combinable aggregates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64, hash64_sql
from projet_data_infrastructure_spark.operators.joins import vertex_side
from projet_data_infrastructure_spark.operators.ranks import bounded_order
from projet_data_infrastructure_spark.operators.text import bpe_ish_tokens, tokens
from projet_data_infrastructure_spark.plans._portable import (
    fdiv as _fdiv,
    pround,
    pround_sql,
)
from projet_data_infrastructure_spark.plans.registry import QuerySpec
from projet_data_infrastructure_spark.sources.readers import (
    read_table,
    read_table_balanced,
)

SPECS: list[QuerySpec] = []

# whitespace tokenizer shared by the trigram-backoff and TextRank oracles
_BACKOFF_TOKS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')"

# --------------------------------------------------------------------------
# Per-document TF-IDF keywords
# --------------------------------------------------------------------------

_KW_DOCS = 20
_KW_TOP = 3


def q_doc_keywords_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from projet_data_infrastructure_spark.operators.text import bpe_ish_tokens, tokens

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    df_tbl = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        tok.filter(F.col("doc_id") < _KW_DOCS)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(df_tbl, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            pround(
                F.expr("CAST(tf AS DOUBLE) * ln((1.0 + CAST(n_docs AS DOUBLE)) / (1.0 + CAST(df AS DOUBLE)))"),
                6,
            ).alias("score"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return bounded_order(
        scored.withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= _KW_TOP)
        .select("doc_id", "token", "score", F.col("rnk").cast("int").alias("rnk")),
        "doc_id", "rnk",
    )


_KW_TOKS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"

_DOC_KEYWORDS_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest({_KW_TOKS_SQL}) AS token FROM documents
), dfreq AS (
    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
), tf AS (
    SELECT doc_id, token, count(*) AS tf
    FROM tok WHERE doc_id < {_KW_DOCS} GROUP BY doc_id, token
), scored AS (
    SELECT tf.doc_id, tf.token,
           {pround_sql('CAST(tf AS DOUBLE) * ln((1.0 + (SELECT CAST(count(*) AS DOUBLE) FROM documents)) / (1.0 + CAST(df AS DOUBLE)))', 6)}
               AS score
    FROM tf JOIN dfreq USING (token)
)
SELECT doc_id, token, score,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {_KW_TOP}
ORDER BY doc_id, rnk
"""




SPECS.append(
    QuerySpec(
        "doc_keywords_per_doc",
        q_doc_keywords_per_doc,
        _DOC_KEYWORDS_SQL,
        ("text",),
        doc="Per-document TF-IDF top-3 keywords: corpus-wide df aggregate + "
        "bounded tf join, rank plans as WindowGroupLimit",
    )
)


# --------------------------------------------------------------------------
# TextRank keyword extraction (integer PageRank over the word co-occurrence
# graph — composition of the skipgram and fixed-point-PageRank house cores)
# --------------------------------------------------------------------------

_TR_ITERS = 3
_TR_UNIT = 1_000_000
_TR_MIN_COOC = 2
_TR_TOPK = 20


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004) keyword extraction: PageRank over
    the word co-occurrence graph (window ±2, same pair construction as
    ``skipgram_window_cooc`` — per-position lead offsets, never a token
    self-join), weighted by co-occurrence count and pruned at ≥ 2. The
    walk runs ``_TR_ITERS`` unrolled iterations in EXACT INTEGER
    micro-units — per-edge contribution (r·w) DIV wdeg, damping
    150000 + (85·inc) DIV 100 — the ``pagerank_fixed_point`` discipline,
    so the iterative NLP algorithm hash-checks against an unrolled DuckDB
    CTE with no FP summation-order leeway. Vertex set = corpus vocabulary
    (bounded); the emission frame broadcasts below the house vertex
    threshold and falls back to a keyed shuffle-hash join above it
    (``operators.joins.vertex_side``). Output: top-20 keywords (score desc,
    word asc)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "w"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    offs = toks
    for d in (1, 2):
        offs = offs.withColumn(f"n{d}", F.lead("w", d).over(wdoc))
    pairs = offs.select(
        "w", F.explode(F.array("n1", "n2")).alias("c")
    ).filter(F.col("c").isNotNull())
    und = (
        pairs.select(F.least("w", "c").alias("a"), F.greatest("w", "c").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("wt"))
        .filter(F.col("wt") >= _TR_MIN_COOC)
    )
    arcs = und.select(F.col("a").alias("src"), F.col("b").alias("dst"), "wt").unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "wt")
    )
    wdeg = arcs.groupBy("src").agg(F.sum("wt").alias("wdeg"))
    # (src, dst, wt, wdeg): read by every iteration — checkpoint once, the
    # pagerank edge-list discipline.
    edges = arcs.join(wdeg, "src").localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_vertices = nodes.count()  # vocabulary-bounded; sizes the join strategy
    ranks = nodes.withColumn("r", F.lit(_TR_UNIT).cast("long"))
    for _ in range(_TR_ITERS):
        contrib = (
            edges.join(vertex_side(ranks, n_vertices), edges.src == ranks.node)
            .select("dst", F.expr("(r * wt) DIV wdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(150000) + F.expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100")
                )
                .cast("long")
                .alias("r"),
            )
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(_TR_TOPK)
        .select(F.col("node").alias("word"), F.col("r").alias("tr_micro"))
    )


def _textrank_sql() -> str:
    iters = []
    prev = "r0"
    for k in range(1, _TR_ITERS + 1):
        iters.append(
            f"""i{k} AS (
    SELECT n.node,
           CAST(150000 + (85 * coalesce(x.inc, 0)) // 100 AS BIGINT) AS r
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum((p.r * e.wt) // e.wdeg) AS BIGINT) AS inc
        FROM edges e JOIN {prev} p ON e.src = p.node GROUP BY e.dst
    ) x ON n.node = x.node
)"""
        )
        prev = f"i{k}"
    return f"""
WITH toks AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM (SELECT doc_id, {_BACKOFF_TOKS} AS t FROM documents),
         unnest(range(1, len(t) + 1)) AS u(i)
), offs AS (
    SELECT w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
    FROM toks
), und AS (
    SELECT a, b, count(*) AS wt FROM (
        SELECT least(w, c) AS a, greatest(w, c) AS b
        FROM (SELECT w, unnest([n1, n2]) AS c FROM offs)
        WHERE c IS NOT NULL AND w <> c
    ) GROUP BY a, b HAVING count(*) >= {_TR_MIN_COOC}
), arcs AS (
    SELECT a AS src, b AS dst, wt FROM und
    UNION ALL
    SELECT b AS src, a AS dst, wt FROM und
), wdeg AS (
    SELECT src, CAST(sum(wt) AS BIGINT) AS wdeg FROM arcs GROUP BY src
), edges AS (
    SELECT arcs.src, arcs.dst, arcs.wt, wdeg.wdeg FROM arcs JOIN wdeg USING (src)
), nodes AS (
    SELECT DISTINCT src AS node FROM edges
), r0 AS (
    SELECT node, CAST({_TR_UNIT} AS BIGINT) AS r FROM nodes
), {', '.join(iters)}
SELECT node AS word, r AS tr_micro FROM i{_TR_ITERS}
ORDER BY r DESC, word ASC LIMIT {_TR_TOPK}
"""




SPECS.append(
    QuerySpec(
        "textrank_keywords",
        q_textrank_keywords,
        _textrank_sql(),
        ("llm", "graph", "text"),
        doc="TextRank keyword extraction: integer fixed-point PageRank over "
        "the +/-2-window word co-occurrence graph; unrolled-CTE oracle",
    )
)


# --------------------------------------------------------------------------
# Interpolated Kneser–Ney bigram LM (continuation counts, D = 0.75)
# --------------------------------------------------------------------------

_KN_FORMULA = (
    "(greatest(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(cw1 AS DOUBLE)"
    " + 0.75 * CAST(n1f AS DOUBLE) / CAST(cw1 AS DOUBLE)"
    " * CAST(n1b AS DOUBLE) / CAST(bt AS DOUBLE))"
)


def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities over the documents
    corpus (D = 0.75): P(w2|w1) = max(c-D,0)/c(w1) + D*N1+(w1,.)/c(w1) *
    N1+(.,w2)/|bigram types| — the smoothing used by every n-gram LM the
    trigram-backoff spec approximates more crudely. All counts (bigram
    tokens, forward/backward continuation type counts, total types) are
    exact BIGINT group-bys on the vocabulary-bounded type table; the top-20
    readout orders by (count DESC, w1, w2) so ties are deterministic."""
    from projet_data_infrastructure_spark.operators.text import bpe_ish_tokens, tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("t")).filter(F.size("t") >= 2)
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    types = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    fwd = types.groupBy("w1").agg(
        F.sum("c").alias("cw1"), F.count(F.lit(1)).alias("n1f")
    )
    bwd = types.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    bt = types.groupBy().agg(F.count(F.lit(1)).alias("bt"))
    top = (
        types.join(fwd, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(bt))
        .orderBy(F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
    )
    return top.select(
        "w1", "w2", "c", pround(F.expr(_KN_FORMULA), 6).alias("kn_r")
    )


def _kn_sql() -> str:
    return f"""
WITH toks AS (
    SELECT list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
    FROM documents
), bg AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    WHERE len(t) >= 2
), types AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
), fwd AS (
    SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
           CAST(count(*) AS BIGINT) AS n1f
    FROM types GROUP BY w1
), bwd AS (
    SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM types GROUP BY w2
), bt AS (
    SELECT CAST(count(*) AS BIGINT) AS bt FROM types
)
SELECT w1, w2, c, {pround_sql(_KN_FORMULA, 6)} AS kn_r
FROM types JOIN fwd USING (w1) JOIN bwd USING (w2), bt
ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# Bigram entropy rate (corpus predictability, nano-quantized term sums)
# --------------------------------------------------------------------------

_BER_TERM = (
    "CAST(floor(-(CAST(c AS DOUBLE) / CAST(nb AS DOUBLE))"
    " * ln(CAST(c AS DOUBLE) / CAST(cw1 AS DOUBLE)) * 1000000000.0 + 0.5)"
    " AS BIGINT)"
)


def q_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy rate H(w2|w1) of the documents corpus and
    its perplexity — the predictability readout next to the Kneser-Ney LM:
    H = -sum p(w1,w2) ln p(w2|w1), each term nano-quantized so the
    vocabulary-sized sum is an exact BIGINT in any order (scale-safe: the
    type table shuffles on token keys, nothing is collected)."""
    from projet_data_infrastructure_spark.operators.text import bpe_ish_tokens, tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("t")).filter(F.size("t") >= 2)
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    types = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    fwd = types.groupBy("w1").agg(F.sum("c").alias("cw1"))
    tot = types.groupBy().agg(
        F.sum("c").alias("nb"), F.count(F.lit(1)).alias("n_types")
    )
    h = (
        types.join(fwd, "w1")
        .crossJoin(F.broadcast(tot))
        .groupBy("nb", "n_types")
        .agg(F.sum(F.expr(_BER_TERM)).alias("h_nano"))
    )
    return h.select(
        F.col("nb").alias("n_bigrams"),
        "n_types",
        pround(F.expr("CAST(h_nano AS DOUBLE) / 1000000000.0"), 6).alias("h_rate_r"),
        pround(F.expr("exp(CAST(h_nano AS DOUBLE) / 1000000000.0)"), 4).alias(
            "ppl_r"
        ),
    )


def _ber_sql() -> str:
    return f"""
WITH toks AS (
    SELECT list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
    FROM documents
), bg AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    WHERE len(t) >= 2
), types AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
), fwd AS (
    SELECT w1, CAST(sum(c) AS BIGINT) AS cw1 FROM types GROUP BY w1
), tot AS (
    SELECT CAST(sum(c) AS BIGINT) AS nb,
           CAST(count(*) AS BIGINT) AS n_types
    FROM types
), h AS (
    SELECT nb, n_types, CAST(sum({_BER_TERM}) AS BIGINT) AS h_nano
    FROM types JOIN fwd USING (w1), tot
    GROUP BY nb, n_types
)
SELECT nb AS n_bigrams, n_types,
       {pround_sql('CAST(h_nano AS DOUBLE) / 1000000000.0', 6)} AS h_rate_r,
       {pround_sql('exp(CAST(h_nano AS DOUBLE) / 1000000000.0)', 4)} AS ppl_r
FROM h
"""




SPECS.extend(
    [
        QuerySpec(
            "kneser_ney_bigram",
            q_kneser_ney_bigram,
            _kn_sql(),
            ("llm",),
            doc="Interpolated Kneser-Ney bigram LM over documents; exact "
            "continuation counts, micro-quantized probabilities",
        ),
        QuerySpec(
            "bigram_entropy_rate",
            q_bigram_entropy_rate,
            _ber_sql(),
            ("llm", "bench"),
            doc="Conditional bigram entropy rate + perplexity of the corpus; "
            "nano-quantized vocabulary-sized term sums",
        ),
    ]
)


# --------------------------------------------------------------------------
# UniMax sampling plan (integer waterfilling over language token budgets)
# --------------------------------------------------------------------------

#: Budget = 4/5 of the corpus token count; epoch cap = 1 epoch per language
#: (UniMax N=1: never repeat a language's data). With the shipped language
#: mix the uniform share (B/L = 16% of ΣT) exceeds the smallest languages'
#: caps (~13%), so the waterfill genuinely CASCADES on the test corpus.
_UNIMAX_BUDGET_NUM, _UNIMAX_BUDGET_DEN = 4, 5


def q_unimax_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax (Chung et al. 2023) language-sampling allocation: distribute a
    token budget B as uniformly as possible across languages subject to a
    per-language epoch cap (here 1 epoch: alloc_l ≤ T_l). Exact integer
    waterfilling: languages sorted by cap ascending; language i is CAPPED
    iff giving every remaining language cap_i would still fit the budget
    (P_{i−1} + cap_i·(L−i+1) ≤ B — monotone in i, so the capped set is a
    prefix of the sort); uncapped languages share the leftover uniformly,
    θ = (B − Σ_capped cap) DIV (L − m). All integer, no rationals.

    Scale shape: ONE map-side-combinable token-count aggregate over the
    corpus; every window below it runs on the |languages|-row frame (the
    unpartitioned windows are bounded by design — the t_closeness grid
    discipline). Output: per-language tokens, cap, capped flag, allocation.
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    tl = (
        docs.select("lang", F.size(tokens(F.col("text"))).cast("long").alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").alias("lang_tokens"))
        .withColumn("cap", F.col("lang_tokens"))  # 1-epoch cap
    )
    wall = Window.orderBy("cap", "lang")
    wfull = wall.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stats = (
        tl.withColumn("i", F.row_number().over(wall))
        .withColumn(
            "p_prev",
            F.coalesce(
                F.sum("cap").over(wall.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("n_lang", F.count(F.lit(1)).over(wfull))
        .withColumn("budget", F.expr(
            f"(sum(lang_tokens) OVER () * {_UNIMAX_BUDGET_NUM})"
            f" DIV {_UNIMAX_BUDGET_DEN}"
        ))
        .withColumn(
            "capped",
            (F.col("p_prev") + F.col("cap") * (F.col("n_lang") - F.col("i") + 1))
            <= F.col("budget"),
        )
    )
    filled = (
        stats.withColumn("m", F.sum(F.col("capped").cast("int")).over(wfull))
        .withColumn(
            "p_capped",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap"))).over(wfull),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "theta",
            F.when(
                F.col("m") < F.col("n_lang"),
                F.expr("(budget - p_capped) DIV (n_lang - m)"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    return filled.select(
        "lang",
        "lang_tokens",
        "cap",
        F.col("capped").cast("int").alias("capped"),
        F.when(F.col("capped"), F.col("cap")).otherwise(F.col("theta")).alias(
            "alloc_tokens"
        ),
    ).orderBy("lang")


_TOKS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"

_UNIMAX_SQL = f"""
WITH tl AS (
    SELECT lang, CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS lang_tokens,
           CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS cap
    FROM documents GROUP BY lang
), stats AS (
    SELECT lang, lang_tokens, cap,
           row_number() OVER (ORDER BY cap, lang) AS i,
           CAST(coalesce(sum(cap) OVER (ORDER BY cap, lang
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS p_prev,
           count(*) OVER () AS n_lang,
           CAST((sum(lang_tokens) OVER () * {_UNIMAX_BUDGET_NUM})
                // {_UNIMAX_BUDGET_DEN} AS BIGINT) AS budget
    FROM tl
), flagged AS (
    SELECT *, (p_prev + cap * (n_lang - i + 1)) <= budget AS capped
    FROM stats
), filled AS (
    SELECT *,
           sum(CAST(capped AS INT)) OVER () AS m,
           CAST(coalesce(sum(CASE WHEN capped THEN cap END) OVER (), 0) AS BIGINT)
               AS p_capped
    FROM flagged
)
SELECT lang, lang_tokens, cap, CAST(capped AS INT) AS capped,
       CAST(CASE WHEN capped THEN cap
            ELSE (budget - p_capped) // (n_lang - m) END AS BIGINT)
           AS alloc_tokens
FROM filled
ORDER BY lang
"""

# --------------------------------------------------------------------------
# Temperature-based multilingual sampling weights (p ∝ T^(1/τ), τ = 2)
# --------------------------------------------------------------------------


def q_temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic multilingual sampling law (mBERT/XLM-R/mT5 lineage):
    sample language l with probability p_l ∝ T_l^(1/τ). τ = 2 makes the
    exponent an IEEE ``sqrt`` — correctly rounded in both engines, unlike
    libm ``pow`` — and the normalizer Σ√T is computed with the house
    order-pinned fold (array_sort by language, then a left-to-right
    aggregate), so both engines run the identical IEEE sum order and the
    weight doubles match bit-for-bit before the pround quantization.

    Scale shape: one corpus token-count aggregate; the fold runs over the
    |languages|-element array. Output: per-language tokens, raw share and
    temperature share (pround 6) — the flattening is visible directly.
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    tl = (
        docs.select("lang", F.size(tokens(F.col("text"))).cast("long").alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").alias("lang_tokens"))
    )
    folded = tl.groupBy().agg(
        F.expr("array_sort(collect_list(struct(lang, lang_tokens)))").alias("arr")
    ).select(
        F.expr(
            "aggregate(arr, CAST(0.0 AS DOUBLE),"
            " (acc, r) -> acc + sqrt(CAST(r.lang_tokens AS DOUBLE)))"
        ).alias("s_sqrt"),
        F.expr(
            "aggregate(arr, CAST(0.0 AS DOUBLE),"
            " (acc, r) -> acc + CAST(r.lang_tokens AS DOUBLE))"
        ).alias("s_raw"),
    )
    return bounded_order(
        tl.crossJoin(F.broadcast(folded))
        .select(
            "lang",
            "lang_tokens",
            pround(
                F.col("lang_tokens").cast("double") / F.col("s_raw"), 6
            ).alias("raw_share_r"),
            pround(
                F.sqrt(F.col("lang_tokens").cast("double")) / F.col("s_sqrt"), 6
            ).alias("temp_share_r"),
        ),
        "lang",
    )


_TEMP_SQL = f"""
WITH tl AS (
    SELECT lang, CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS lang_tokens
    FROM documents GROUP BY lang
), folded AS (
    SELECT
        list_reduce(list_transform(
            list_sort(list(struct_pack(lang := lang, lang_tokens := lang_tokens))),
            r -> sqrt(CAST(r.lang_tokens AS DOUBLE))), (a, b) -> a + b) AS s_sqrt,
        list_reduce(list_transform(
            list_sort(list(struct_pack(lang := lang, lang_tokens := lang_tokens))),
            r -> CAST(r.lang_tokens AS DOUBLE)), (a, b) -> a + b) AS s_raw
    FROM tl
)
SELECT lang, lang_tokens,
       {pround_sql('CAST(lang_tokens AS DOUBLE) / s_raw', 6)} AS raw_share_r,
       {pround_sql('sqrt(CAST(lang_tokens AS DOUBLE)) / s_sqrt', 6)} AS temp_share_r
FROM tl CROSS JOIN folded
ORDER BY lang
"""

# --------------------------------------------------------------------------
# PII detection + redaction accounting (the Dolma/CCNet scrub pass)
# --------------------------------------------------------------------------

#: Patterns are restricted to constructs Java regex (Spark) and RE2 (DuckDB)
#: interpret identically: character classes, bounded/unbounded greedy
#: quantifiers, literal dots — no backrefs, no lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PII_PHONE = r"[0-9]{3}-[0-9]{4}"


def q_pii_redaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub accounting over a deterministic contact-footer corpus: the
    shipped documents carry no PII, so each doc gets a synthetic footer
    derived from its doc_id (one email, one IPv4, one phone fragment —
    exactly what a scraped page's contact block looks like) and the scrub
    then runs the standard three-pass redaction (emails → IPs → phones,
    in that order so counts are order-independent) exactly as Dolma's
    pii-removal tagger does. Per-doc match counts plus original/redacted
    lengths make the byte accounting hash-checkable.

    Map-only — no shuffle at all; the regexes stay in the dialect subset
    Java regex and RE2 agree on (see ``_PII_EMAIL`` note).
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    d = F.col("doc_id")
    footer = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"),
        F.lit(".example.com ip 10."), (d % 256).cast("string"),
        F.lit("."), (d % 100).cast("string"),
        F.lit("."), (d % 50).cast("string"),
        F.lit(" tel 555-"), F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    base = docs.select("doc_id", "lang", footer.alias("pii_text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pii_text"), _PII_EMAIL, "[PII]"),
            _PII_IPV4,
            "[PII]",
        ),
        _PII_PHONE,
        "[PII]",
    )
    return base.select(
        "doc_id",
        "lang",
        F.regexp_count(F.col("pii_text"), F.lit(_PII_EMAIL)).cast("long").alias(
            "n_emails"
        ),
        F.regexp_count(F.col("pii_text"), F.lit(_PII_IPV4)).cast("long").alias(
            "n_ips"
        ),
        F.regexp_count(F.col("pii_text"), F.lit(_PII_PHONE)).cast("long").alias(
            "n_phones"
        ),
        F.length("pii_text").cast("long").alias("orig_len"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


_PII_SQL = f"""
WITH base AS (
    SELECT doc_id, lang,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                || '.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST(doc_id % 100 AS VARCHAR)
                || '.' || CAST(doc_id % 50 AS VARCHAR)
                || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS pii_text
    FROM documents
)
SELECT doc_id, lang,
       CAST(len(regexp_extract_all(pii_text, '{_PII_EMAIL}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(pii_text, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(pii_text, '{_PII_PHONE}')) AS BIGINT)
           AS n_phones,
       CAST(length(pii_text) AS BIGINT) AS orig_len,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(
            pii_text, '{_PII_EMAIL}', '[PII]', 'g'),
            '{_PII_IPV4}', '[PII]', 'g'),
            '{_PII_PHONE}', '[PII]', 'g')) AS BIGINT) AS redacted_len
FROM base
"""

# --------------------------------------------------------------------------
# Deterministic epoch shuffle → shard manifest
# --------------------------------------------------------------------------

_SHUFFLE_SEED = 8
_SHUFFLE_SHARDS = 8


def q_epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-manifest write: a deterministic epoch shuffle assigns
    every document a pseudo-random position key (seeded hash of doc_id)
    and a shard (key mod W); within a shard the data-loader order is
    "sort by key" — so the global shuffle needs NO global sort and NO
    shuffle exchange beyond the one per-shard aggregate; each shard's
    read is an independent partition-local sort. Changing the seed is a
    new epoch permutation; same seed ⇒ bit-identical restart (the
    reproducibility property data loaders require).

    Output: per-shard doc count, token count, id-checksum and the position
    key range — the manifest a trainer validates before reading.
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        hash64(F.col("doc_id"), seed=_SHUFFLE_SEED).alias("pos_key"),
    )
    return bounded_order(
        keyed.withColumn("shard", F.pmod(F.col("pos_key"), F.lit(_SHUFFLE_SHARDS)))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("doc_id").alias("id_checksum"),
            F.min("pos_key").alias("min_key"),
            F.max("pos_key").alias("max_key"),
        ),
        "shard",
    )


_SHUFFLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok,
           {hash64_sql('doc_id', seed=_SHUFFLE_SEED)} AS pos_key
    FROM documents
)
SELECT pos_key % {_SHUFFLE_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       min(pos_key) AS min_key, max(pos_key) AS max_key
FROM keyed
GROUP BY 1 ORDER BY 1
"""

# --------------------------------------------------------------------------
# Boilerplate detection by line document-frequency (CCNet header filter)
# --------------------------------------------------------------------------

_BOILER_DF = 3  # a line present in ≥ this many docs is boilerplate


def q_boilerplate_line_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate detection: a LINE that appears in ≥ 3
    distinct documents is boilerplate (headers, footers, cookie banners)
    and its per-doc share is the curation signal. Distinct from
    ``c4_line_dedup`` (which keeps each line's FIRST occurrence): here a
    repeated line is dropped from EVERY document, because cross-document
    repetition marks template text, not content. Reuses the house
    fixed-width token "line" framing (``_c4_lines``).

    Scale shape: one line-digest document-frequency aggregate (map-side
    combinable after the per-doc distinct) + one join back on the digest —
    both keyed shuffles bounded by the distinct-line count.
    """
    from projet_data_infrastructure_spark.plans.llm_queries import _c4_lines

    docs = read_table_balanced(spark, sf_dir, "documents")
    lines = _c4_lines(docs, min_words=1).withColumn("lk", F.md5("line_text"))
    linedf = (
        lines.select("doc_id", "lk")
        .distinct()
        .groupBy("lk")
        .agg(F.count(F.lit(1)).alias("line_df"))
    )
    flagged = lines.join(linedf, "lk").withColumn(
        "is_boiler", (F.col("line_df") >= _BOILER_DF).cast("long")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("is_boiler").alias("n_boiler"),
        )
        .withColumn("boiler_micro", F.expr("(1000000 * n_boiler) DIV n_lines"))
        .orderBy("doc_id")
    )


def _boiler_sql() -> str:
    from projet_data_infrastructure_spark.plans.llm_queries import _c4_lines_sql

    return f"""
WITH {_c4_lines_sql(1)},
keyed AS (
    SELECT doc_id, md5(line_text) AS lk FROM ln
), linedf AS (
    SELECT lk, count(*) AS line_df
    FROM (SELECT DISTINCT doc_id, lk FROM keyed) GROUP BY lk
)
SELECT k.doc_id, count(*) AS n_lines,
       CAST(sum(CAST(d.line_df >= {_BOILER_DF} AS BIGINT)) AS BIGINT)
           AS n_boiler,
       CAST((1000000 * sum(CAST(d.line_df >= {_BOILER_DF} AS BIGINT)))
            // count(*) AS BIGINT) AS boiler_micro
FROM keyed k JOIN linedf d USING (lk)
GROUP BY k.doc_id
ORDER BY k.doc_id
"""

# --------------------------------------------------------------------------
# Semantic contamination: eval→train nearest neighbor via IVF buckets
# --------------------------------------------------------------------------

_CONTAM_THRESHOLD = 0.25
_CONTAM_CENTROIDS = 8


def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level train/eval contamination: for every EVAL vector
    (vec_id % 10 == 0) find its nearest TRAIN neighbor by cosine and flag
    sim ≥ 0.25 — the semantic analog of n-gram
    ``benchmark_decontamination`` (SemDeDup applied across the split
    boundary instead of within the corpus). Candidates come ONLY from the
    shared IVF bucket (the house seed-centroid assignment,
    ``similarity.ivf_assign``): eval×train work is Σ_b |eval_b|·|train_b|,
    never |eval|·|train|; at warehouse scale the centroid count grows √N
    and the same plan holds (``ivf_assign_to``'s size switch).

    Eval vectors whose bucket holds no train vector drop out (inner join,
    both engines) — with C ≪ N every bucket is populated in practice.
    """
    from projet_data_infrastructure_spark.operators import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    assign = similarity.ivf_assign(emb, n_centroids=_CONTAM_CENTROIDS)
    tagged = emb.join(assign.select("vec_id", "centroid_id"), "vec_id").select(
        "vec_id", "embedding", "centroid_id", (F.col("vec_id") % 10 == 0).alias("is_eval")
    )
    ev = tagged.filter("is_eval").select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("evec"),
        "centroid_id",
    )
    tr = tagged.filter(~F.col("is_eval")).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("tvec"),
        "centroid_id",
    )
    # AQE-coalesce fan-out trap (round-13 full sweep): both bucket-tagged
    # sides are byte-tiny, AQE coalesces them to 1 task and the per-bucket
    # eval x train pair fan-out runs serially (77% of executor time on one
    # task, measured). User-specified repartition on the join key is
    # AQE-exempt; the equi-join reuses the partitioning, no extra exchange.
    from projet_data_infrastructure_spark.session import default_parallelism

    ev = ev.repartition(default_parallelism(), "centroid_id")
    sims = ev.join(tr, "centroid_id").select(
        "eval_id",
        "train_id",
        pround(similarity.cosine("evec", "tvec"), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("eval_id").orderBy(F.desc("cos_sim"), F.asc("train_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "eval_id",
            "train_id",
            "cos_sim",
            (F.col("cos_sim") >= _CONTAM_THRESHOLD).cast("int").alias("contaminated"),
        )
        .orderBy("eval_id")
    )


_CONTAM_SQL = f"""
WITH cents AS (
    SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
    FROM embeddings WHERE vec_id < {_CONTAM_CENTROIDS}
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
), tagged AS (
    SELECT e.vec_id, e.embedding, a.centroid_id, e.vec_id % 10 = 0 AS is_eval
    FROM embeddings e JOIN assign a USING (vec_id)
), sims AS (
    SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
           {pround_sql('list_cosine_similarity(ev.embedding::DOUBLE[], tr.embedding::DOUBLE[])', 6)} AS cos_sim
    FROM tagged ev JOIN tagged tr ON ev.centroid_id = tr.centroid_id
    WHERE ev.is_eval AND NOT tr.is_eval
)
SELECT eval_id, train_id, cos_sim,
       CAST(cos_sim >= {_CONTAM_THRESHOLD} AS INT) AS contaminated
FROM (
    SELECT *, row_number() OVER (PARTITION BY eval_id
                                 ORDER BY cos_sim DESC, train_id) AS rn
    FROM sims
) WHERE rn = 1
ORDER BY eval_id
"""

# --------------------------------------------------------------------------
# Tokenizer fertility / compression-rate audit per language
# --------------------------------------------------------------------------


def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-equity audit every multilingual model card reports:
    per language, fertility = subword tokens per whitespace word and bytes
    per subword token — the signal that a vocabulary underserves a
    language (high fertility → that language pays more sequence length for
    the same text). Subwords use the house BPE-ish segmentation (letter
    runs / digit runs / single symbols — the pre-tokenization every BPE
    trainer applies). Exact integer micro ratios; ONE map-only pass into a
    |languages|-bounded aggregate.
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_words"),
        F.size(bpe_ish_tokens(F.col("text"))).cast("long").alias("n_sub"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return bounded_order(
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
            F.sum("n_bytes").alias("n_bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_subwords",
            "n_bytes",
            F.expr("(1000000 * n_subwords) DIV n_words").alias("fertility_micro"),
            F.expr("(1000000 * n_bytes) DIV n_subwords").alias(
                "bytes_per_subword_micro"
            ),
        ),
        "lang",
    )


_FERTILITY_SQL = f"""
WITH per_doc AS (
    SELECT lang,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                AS BIGINT) AS n_sub,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
), agg AS (
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_sub) AS BIGINT) AS n_subwords,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes
    FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, n_words, n_subwords, n_bytes,
       CAST((1000000 * n_subwords) // n_words AS BIGINT) AS fertility_micro,
       CAST((1000000 * n_bytes) // n_subwords AS BIGINT)
           AS bytes_per_subword_micro
FROM agg
ORDER BY lang
"""

# --------------------------------------------------------------------------
# T5 span-corruption accounting (deterministic mask, window-free spans)
# --------------------------------------------------------------------------

_SPAN_SEED = 5
_SPAN_PCT = 15  # corruption rate: mask a position iff hash % 100 < 15


def q_span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption accounting: each token position draws a
    deterministic mask coin (hash(doc_id:pos) % 100 < 15) and consecutive
    masked positions form one corruption span (one sentinel token each).
    The pipeline needs per-doc (n_masked, n_spans) to size encoder/decoder
    sequences BEFORE materializing the corrupted text.

    Window-free span counting: a span STARTS where pos is masked and pos−1
    is not — and because the mask is a pure hash of (doc_id, pos), the
    predecessor's coin is RECOMPUTED map-side instead of carried by a
    lag() window, so the whole operator is one map pass + one per-doc
    aggregate (no per-doc Sort, no Window Exchange — the thing a naive
    run-length formulation pays).
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    )

    def coin(pos_col):
        return (
            F.pmod(
                hash64(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"),
                        pos_col.cast("string"),
                    ),
                    seed=_SPAN_SEED,
                ),
                F.lit(100),
            )
            < _SPAN_PCT
        )

    flags = base.select(
        "doc_id",
        coin(F.col("pos")).cast("long").alias("m"),
        (coin(F.col("pos")) & ((F.col("pos") == 0) | ~coin(F.col("pos") - 1)))
        .cast("long")
        .alias("span_start"),
    )
    return (
        flags.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("m").alias("n_masked"),
            F.sum("span_start").alias("n_spans"),
        )
        .withColumn("corruption_micro", F.expr("(1000000 * n_masked) DIV n_tokens"))
        .orderBy("doc_id")
    )


def _span_coin_sql(pos_expr: str) -> str:
    h = hash64_sql(
        f"(CAST(doc_id AS VARCHAR) || ':' || CAST({pos_expr} AS VARCHAR))",
        seed=_SPAN_SEED,
    )
    return f"(({h} % 100 + 100) % 100 < {_SPAN_PCT})"


_SPAN_SQL = f"""
WITH base AS (
    SELECT doc_id, i - 1 AS pos
    FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
         unnest(range(1, len(t) + 1)) AS u(i)
), flags AS (
    SELECT doc_id,
           CAST({_span_coin_sql('pos')} AS BIGINT) AS m,
           CAST({_span_coin_sql('pos')}
                AND (pos = 0 OR NOT {_span_coin_sql('pos - 1')})
                AS BIGINT) AS span_start
    FROM base
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(m) AS BIGINT) AS n_masked,
       CAST(sum(span_start) AS BIGINT) AS n_spans,
       CAST((1000000 * sum(m)) // count(*) AS BIGINT) AS corruption_micro
FROM flags
GROUP BY doc_id
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Keep-best canonical selection per near-duplicate cluster
# --------------------------------------------------------------------------


def q_dedup_keepbest_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup: within each LSH near-duplicate cluster keep the
    HIGHEST-quality member (longest text, ties to the smallest doc_id) —
    the policy real curation uses instead of min-id canonicalization,
    because duplicate crawls differ in truncation and the longest copy is
    usually the complete one. Composes the house CC operator (bounded
    rounds, lineage cuts) with one quality join and a per-cluster argmax
    (max-struct, no window). Output: per cluster the kept doc, its length,
    the cluster size, and the characters dropped with the other members.
    """
    from projet_data_infrastructure_spark.operators import dedup

    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    comp = dedup.duplicate_clusters(pairs)
    sized = comp.join(
        read_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("n_chars").cast("long").alias("len")
        ),
        "doc_id",
    )
    # argmax by (len, -doc_id): max-struct with the id negated so length
    # ties resolve to the SMALLEST doc_id
    best = F.max(F.struct(F.col("len"), (-F.col("doc_id")).alias("nid")))
    return (
        sized.groupBy("component")
        .agg(
            best.alias("b"),
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum("len").alias("total_chars"),
        )
        .select(
            "component",
            (-F.col("b.nid")).alias("canonical_doc"),
            F.col("b.len").alias("canonical_chars"),
            "cluster_size",
            (F.col("total_chars") - F.col("b.len")).alias("dropped_chars"),
        )
        .orderBy("component")
    )


def _keepbest_sql() -> str:
    from projet_data_infrastructure_spark.plans.llm_queries import (
        _dedup_clusters_sql,
    )

    return f"""
WITH comp AS ({_dedup_clusters_sql()}),
sized AS (
    SELECT c.component, c.doc_id, CAST(d.n_chars AS BIGINT) AS len
    FROM comp c JOIN documents d USING (doc_id)
), best AS (
    SELECT component,
           max(struct_pack(len := len, nid := -doc_id)) AS b,
           count(*) AS cluster_size,
           CAST(sum(len) AS BIGINT) AS total_chars
    FROM sized GROUP BY component
)
SELECT component, -(b.nid) AS canonical_doc, (b.len) AS canonical_chars,
       cluster_size, total_chars - (b.len) AS dropped_chars
FROM best
ORDER BY component
"""

# --------------------------------------------------------------------------
# Length-curriculum phase assignment (scale-safe global rank)
# --------------------------------------------------------------------------

_CURRICULUM_PHASES = 4


def q_curriculum_length_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum schedule: rank the corpus by document length
    (shortest first — the classic easy→hard curriculum) and cut it into 4
    equal training phases; report each phase's doc/token volume and length
    range so the trainer can budget steps per phase. The rank comes from
    the scale-safe :func:`global_rank` operator (range-bucketed parallel
    sorts + broadcast prefix offsets) — NOT a global row_number window,
    which would funnel the corpus through one task at 100 TB. Phase cut is
    exact: phase = ((rank−1)·P) DIV N, so phase sizes differ by ≤1.
    """
    from projet_data_infrastructure_spark.operators.ranks import global_rank

    docs = read_table_balanced(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("len"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    ranked, n_total = global_rank(docs, "len", ties=("doc_id",))
    return bounded_order(
        ranked.withColumn(
            "phase",
            F.expr(f"((rank - 1) * {_CURRICULUM_PHASES}) DIV {n_total}"),
        )
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("len").alias("min_chars"),
            F.max("len").alias("max_chars"),
        ),
        "phase",
    )


_CURRICULUM_SQL = f"""
WITH ranked AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok,
           row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
           count(*) OVER () AS n_total
    FROM documents
)
SELECT CAST(((rank - 1) * {_CURRICULUM_PHASES}) // n_total AS BIGINT) AS phase,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(len) AS min_chars, max(len) AS max_chars
FROM ranked
GROUP BY 1 ORDER BY 1
"""

# --------------------------------------------------------------------------
# OOV / vocabulary-coverage audit per language
# --------------------------------------------------------------------------

_OOV_VOCAB = 1000


def q_oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: build the top-1000 subword vocabulary by
    corpus frequency (ties to the lexicographically smaller token — pinned
    so both engines cut identically) and report each language's
    OUT-OF-VOCABULARY token share — the direct measure of which languages
    a shared vocabulary underserves (the decision input behind fertility,
    its sibling audit). Two vocabulary-bounded aggregates + one broadcast
    semi-join of the token stream against the 1000-row vocab; per-language
    output."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(bpe_ish_tokens(F.col("text"))).alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_OOV_VOCAB)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return bounded_order(
        tok.join(F.broadcast(vocab), "w", "left_outer")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0).cast("long")
            ).alias("n_oov"),
        )
        .withColumn("oov_micro", F.expr("(1000000 * n_oov) DIV n_tokens")),
        "lang",
    )


_OOV_SQL = f"""
WITH tok AS (
    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
    FROM documents
), vocab AS (
    SELECT w FROM (
        SELECT w, count(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {_OOV_VOCAB}
    )
)
SELECT lang, count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST((1000000 * sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS oov_micro
FROM tok t LEFT JOIN vocab v ON t.w = v.w
GROUP BY lang
ORDER BY lang
"""

# --------------------------------------------------------------------------
# Incremental dedup: new documents against an existing index (daily shape)
# --------------------------------------------------------------------------

_INCR_JACCARD = 0.5


def minhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows for a documents frame — the
    exploded banding step shared by the batch incremental dedup and its
    streaming (foreachBatch) counterpart. Map-only: one tokenize +
    signature pass, no shuffle."""
    from projet_data_infrastructure_spark.operators import dedup

    sig = dedup.minhash_signatures(docs)
    n_bands = dedup.MINHASH_HASHES // dedup.MINHASH_BAND_ROWS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"m{b * dedup.MINHASH_BAND_ROWS + r}")
                        for r in range(dedup.MINHASH_BAND_ROWS)
                    ],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def doc_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, ts) distinct sorted unigram sets — the exact-Jaccard
    verification input shared by batch and streaming incremental dedup."""
    return docs.select(
        "doc_id", F.array_distinct(F.array_sort(tokens(F.col("text")))).alias("ts")
    )


def index_tokens_and_bands(index_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ONE materialization serving both index-side inputs of the streaming
    incremental dedup: the token sets (exact-Jaccard verify) and the LSH
    band rows (candidate join). The separate :func:`doc_token_sets` /
    :func:`minhash_band_rows` checkpoints tokenized the index corpus twice
    in two jobs (r15, guide §2.3 — the signatures here fold map-side with
    ``array_min`` over the shingle array, a per-row expression identical to
    the groupBy(min) signature, so the combined frame needs no exchange at
    all). Band keys and token sets are row-identical to the two-pass form.

    Returns ``(idx_toks, idx_bands)`` — projections of one eagerly
    checkpointed frame; idx_bands carries (index_doc, band, key)."""
    from projet_data_infrastructure_spark.functions.hashing import hash64
    from projet_data_infrastructure_spark.operators import dedup

    n_bands = dedup.MINHASH_HASHES // dedup.MINHASH_BAND_ROWS
    base = index_docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    sig_cols = [
        F.when(
            F.size("toks") >= 3,
            F.array_min(
                F.transform(
                    dedup.shingles_from_tokens("toks", 3),
                    (lambda j: (lambda s: hash64(s, seed=j)))(j),
                )
            ),
        ).alias(f"m{j}")
        for j in range(dedup.MINHASH_HASHES)
    ]
    comb = base.select(
        "doc_id", F.array_distinct(F.array_sort("toks")).alias("ts"), *sig_cols
    ).localCheckpoint(eager=True)
    idx_toks = comb.select("doc_id", "ts")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"m{b * dedup.MINHASH_BAND_ROWS + r}")
                        for r in range(dedup.MINHASH_BAND_ROWS)
                    ],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    idx_bands = (
        comb.filter(F.col("m0").isNotNull())
        .select(F.col("doc_id").alias("index_doc"), F.explode(bands).alias("bk"))
        .select("index_doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    return idx_toks, idx_bands


def jaccard_best_match(cand: DataFrame, new_toks: DataFrame, idx_toks: DataFrame) -> DataFrame:
    """Verify (new_doc, index_doc) candidates with exact unigram Jaccard
    ≥ _INCR_JACCARD and reduce to the best index match per new doc
    (highest Jaccard, ties to the smallest index id) — candidates-only
    joins, max-struct argmax (no per-group window)."""
    verified = (
        cand.join(new_toks.select(F.col("doc_id").alias("new_doc"), F.col("ts").alias("ta")), "new_doc")
        .join(idx_toks.select(F.col("doc_id").alias("index_doc"), F.col("ts").alias("tb")), "index_doc")
        .select(
            "new_doc",
            "index_doc",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("inter"),
            (F.size("ta") + F.size("tb")).cast("long").alias("szsum"),
        )
        .withColumn("jac_micro", F.expr("(1000000 * inter) DIV (szsum - inter)"))
        .filter(F.col("jac_micro") >= int(_INCR_JACCARD * 1_000_000))
    )
    best = F.max(F.struct(F.col("jac_micro"), (-F.col("index_doc")).alias("nid")))
    return (
        verified.groupBy("new_doc")
        .agg(best.alias("b"), F.count(F.lit(1)).alias("n_matches"))
        .select(
            "new_doc",
            (-F.col("b.nid")).alias("matched_index_doc"),
            F.col("b.jac_micro").alias("jac_micro"),
            "n_matches",
        )
    )


def q_incremental_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup query shape: a daily increment (odd doc_ids)
    deduped against the already-ingested index (even doc_ids) — candidates
    come from banding NEW × INDEX only, never NEW × NEW or INDEX × INDEX,
    so daily cost is |new|-proportional regardless of index size (the
    property that makes LSH dedup viable as a continuously running
    service; in production the index side's band table is precomputed and
    this join reads it). Candidates are verified with exact unigram
    Jaccard ≥ 0.5; each flagged new doc reports its best index match
    (highest Jaccard, ties to the smallest index id). The banding /
    verification cores are shared with the LIVE foreachBatch form
    (``streaming_parity.q_stream_incremental_dedup``)."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    exploded = minhash_band_rows(docs)  # ONE tokenize for both sides
    new_side = exploded.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("new_doc"), "band", "key"
    )
    idx_side = exploded.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("index_doc"), "band", "key"
    )
    cand = (
        new_side.join(idx_side, ["band", "key"])
        .select("new_doc", "index_doc")
        .distinct()
    )
    toks = doc_token_sets(docs)
    return jaccard_best_match(cand, toks, toks).orderBy("new_doc")


def _incremental_sql() -> str:
    from projet_data_infrastructure_spark.operators import dedup
    from projet_data_infrastructure_spark.plans.llm_queries import _minhash_sig_sql

    n_bands = dedup.MINHASH_HASHES // dedup.MINHASH_BAND_ROWS
    # Band key concatenation is generated from MINHASH_BAND_ROWS exactly like
    # the Spark side, so changing the dedup constants cannot silently desync
    # the oracle (ADVICE r8).
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(
            f"CAST(m{b * dedup.MINHASH_BAND_ROWS + r} AS VARCHAR)"
            for r in range(dedup.MINHASH_BAND_ROWS)
        )
        + " AS key FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH sig AS ({_minhash_sig_sql()}),
bands AS ({band_selects}),
cand AS (
    SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS index_doc
    FROM bands n JOIN bands i ON n.band = i.band AND n.key = i.key
    WHERE n.doc_id % 2 = 1 AND i.doc_id % 2 = 0
), toks AS (
    SELECT doc_id, list_distinct({_TOKS_SQL}) AS ts FROM documents
), verified AS (
    SELECT c.new_doc, c.index_doc,
           CAST((1000000 * len(list_intersect(a.ts, b.ts)))
                // (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
               AS BIGINT) AS jac_micro
    FROM cand c
    JOIN toks a ON a.doc_id = c.new_doc
    JOIN toks b ON b.doc_id = c.index_doc
)
SELECT new_doc,
       -(max(struct_pack(jac_micro := jac_micro, nid := -index_doc)).nid)
           AS matched_index_doc,
       (max(struct_pack(jac_micro := jac_micro, nid := -index_doc)).jac_micro)
           AS jac_micro,
       count(*) AS n_matches
FROM verified
WHERE jac_micro >= {int(_INCR_JACCARD * 1_000_000)}
GROUP BY new_doc
ORDER BY new_doc
"""

# --------------------------------------------------------------------------
# Bag-of-words dedup (order-invariant exact duplicate groups)
# --------------------------------------------------------------------------


def q_tokenset_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-fingerprint dedup: documents with the SAME distinct-token
    SET form one group regardless of word order or repetition counts — the
    cheapest order-invariant near-dup pre-filter (exact-hash dedup misses
    reordered/re-repeated copies entirely; MinHash pays shingles + k
    hashes). digest = md5 of the sorted distinct tokens. Groups of size
    ≥ 2 report how many raw-text variants they hold (n_variants > 1 ⇔ the
    group contains copies exact dedup would have missed). One map-side
    digest + one keyed aggregate."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(tokens(F.lower(F.col("text"))))), " "
            )
        ).alias("tset"),
        F.md5(F.col("text")).alias("raw"),
    )
    return (
        keyed.groupBy("tset")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            F.countDistinct("raw").alias("n_variants"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("keep_doc", "n_docs", "n_variants")
        .orderBy("keep_doc")
    )


_TOKENSET_SQL = f"""
WITH keyed AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(list_filter(
               string_split_regex(trim(lower(text)), '\\s+'), t -> t != ''))), ' '))
               AS tset,
           md5(text) AS raw
    FROM documents
)
SELECT min(doc_id) AS keep_doc, count(*) AS n_docs,
       CAST(count(DISTINCT raw) AS BIGINT) AS n_variants
FROM keyed
GROUP BY tset
HAVING count(*) >= 2
ORDER BY keep_doc
"""

# --------------------------------------------------------------------------
# Character-entropy quality signal (compression-proxy junk filter)
# --------------------------------------------------------------------------

#: micro-nat half-up bias (the dsir/naive-bayes ln-quantization discipline)
_ENT_QBIAS = 0.50001
_ENT_LOW_UNATS = 3_000_000  # < 3.0 nats of char entropy → repetitive junk


def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy H = Σ −(c/n)·ln(c/n) — the
    compression-ratio proxy curation pipelines use to drop repetitive junk
    (low entropy = the text zips too well to be prose; Dolma ships exactly
    this gate). Integer discipline: each character's −ln(c/n) is quantized
    to micro-nats FIRST (the naive_bayes per-term pattern — the half-up
    bias absorbs last-ulp libm divergence), then H_micro = Σ c·lw DIV n is
    pure integer arithmetic, so no float summation order exists at all.

    Scale shape: one char-level explode into a (doc, char) count aggregate
    (map-side combinable; the alphabet bounds the per-doc group count),
    one per-doc rollup. Flags entropy < 3.0 nats."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    per_char = counts.withColumn("n", F.sum("c").over(w)).withColumn(
        "lw_unats",
        F.floor(
            -F.log(F.col("c").cast("double") / F.col("n").cast("double"))
            * F.lit(1_000_000.0)
            + F.lit(_ENT_QBIAS)
        ).cast("long"),
    )
    return (
        per_char.groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars_counted"),
            F.expr("sum(c * lw_unats) DIV max(n)").alias("entropy_unats"),
        )
        .withColumn(
            "low_entropy", (F.col("entropy_unats") < _ENT_LOW_UNATS).cast("int")
        )
        .orderBy("doc_id")
    )


_ENTROPY_SQL = f"""
WITH chars AS (
    SELECT doc_id, substr(text, i, 1) AS ch
    FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
), counts AS (
    SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
), per_char AS (
    SELECT doc_id, c,
           sum(c) OVER (PARTITION BY doc_id) AS n
    FROM counts
), scored AS (
    SELECT doc_id, c, n,
           CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0
                      + {_ENT_QBIAS}) AS BIGINT) AS lw_unats
    FROM per_char
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars_counted,
       CAST(sum(c * lw_unats) // max(n) AS BIGINT) AS entropy_unats,
       CAST(CAST(sum(c * lw_unats) // max(n) AS BIGINT) < {_ENT_LOW_UNATS}
            AS INT) AS low_entropy
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# MinHash calibration: signature-estimated vs exact Jaccard on candidates
# --------------------------------------------------------------------------


def q_minhash_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit of the dedup stack itself: for every LSH
    candidate pair, the signature-agreement estimate ĵ = (#matching
    components)/k is binned (0..k matches) against the EXACT unigram
    Jaccard — the calibration curve that justifies the banding threshold
    (a production pipeline re-checks this whenever shingle size or k
    changes). Exact Jaccard per pair is integer micro; per-bin mean is an
    integer floor division. Candidates only — never all pairs; per-doc
    token sets are aggregated once and joined to the bounded pair list."""
    from projet_data_infrastructure_spark.operators import dedup

    docs = read_table_balanced(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs)
    pairs = dedup.lsh_candidate_pairs(sig)
    k = dedup.MINHASH_HASHES
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(k)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(k)]
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("long") for j in range(k)
    )
    toks = docs.select(
        "doc_id", F.array_distinct(F.array_sort(tokens(F.col("text")))).alias("ts")
    )
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_match", matches)
        .join(toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta")), "doc_a")
        .join(toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb")), "doc_b")
        .select(
            "n_match",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("inter"),
            (F.size("ta") + F.size("tb")).cast("long").alias("szsum"),
        )
        .withColumn("jac_micro", F.expr("(1000000 * inter) DIV (szsum - inter)"))
    )
    return bounded_order(
        scored.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(jac_micro) DIV count(1)").alias("mean_jac_micro"),
            F.min("jac_micro").alias("min_jac_micro"),
            F.max("jac_micro").alias("max_jac_micro"),
        ),
        "n_match",
    )


def _calibration_sql() -> str:
    from projet_data_infrastructure_spark.operators import dedup
    from projet_data_infrastructure_spark.plans.llm_queries import (
        _minhash_pairs_sql,
        _minhash_sig_sql,
    )

    k = dedup.MINHASH_HASHES
    match_sum = " + ".join(
        f"CAST(a.m{j} = b.m{j} AS BIGINT)" for j in range(k)
    )
    return f"""
WITH pairs AS ({_minhash_pairs_sql()}),
sig AS ({_minhash_sig_sql()}),
toks AS (
    SELECT doc_id, list_distinct({_TOKS_SQL}) AS ts FROM documents
), scored AS (
    SELECT ({match_sum}) AS n_match,
           CAST((1000000 * len(list_intersect(ta.ts, tb.ts)))
                // (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)))
               AS BIGINT) AS jac_micro
    FROM pairs p
    JOIN sig a ON a.doc_id = p.doc_a
    JOIN sig b ON b.doc_id = p.doc_b
    JOIN toks ta ON ta.doc_id = p.doc_a
    JOIN toks tb ON tb.doc_id = p.doc_b
)
SELECT n_match, count(*) AS n_pairs,
       CAST(sum(jac_micro) // count(*) AS BIGINT) AS mean_jac_micro,
       min(jac_micro) AS min_jac_micro,
       max(jac_micro) AS max_jac_micro
FROM scored
GROUP BY n_match
ORDER BY n_match
"""

# --------------------------------------------------------------------------
# Text normalization accounting (the preprocessing pass, audited)
# --------------------------------------------------------------------------


def q_normalize_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization accounting: lowercase + whitespace collapse +
    punctuation strip (the standard pre-tokenization cleanup), reported as
    per-doc byte deltas plus the md5 fingerprint of the normalized text —
    the audit a pipeline stores so a normalizer change is diffable. Pure
    map-only projection; regexes stay in the Java-regex/RE2 shared dialect
    (character classes + '+', nothing engine-specific)."""
    docs = read_table_balanced(spark, sf_dir, "documents")
    lowered = F.lower(F.trim(F.col("text")))
    collapsed = F.regexp_replace(lowered, r"\s+", " ")
    stripped = F.regexp_replace(collapsed, "[^a-z0-9 ]", "")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_raw"),
        (F.length(lowered) - F.length(collapsed)).cast("long").alias("n_ws_collapsed"),
        (F.length(collapsed) - F.length(stripped)).cast("long").alias(
            "n_punct_removed"
        ),
        F.length(stripped).cast("long").alias("n_chars_norm"),
        F.md5(stripped).alias("norm_digest"),
    ).orderBy("doc_id")


_NORMALIZE_SQL = r"""
WITH n AS (
    SELECT doc_id, text,
           lower(trim(text)) AS lowered,
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS collapsed
    FROM documents
), s AS (
    SELECT doc_id, text, lowered, collapsed,
           regexp_replace(collapsed, '[^a-z0-9 ]', '', 'g') AS stripped
    FROM n
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(lowered) - length(collapsed) AS BIGINT) AS n_ws_collapsed,
       CAST(length(collapsed) - length(stripped) AS BIGINT) AS n_punct_removed,
       CAST(length(stripped) AS BIGINT) AS n_chars_norm,
       md5(stripped) AS norm_digest
FROM s
ORDER BY doc_id
"""



SPECS.extend(
    [
        QuerySpec(
            "unimax_sampling_plan",
            q_unimax_sampling_plan,
            _UNIMAX_SQL,
            ("llm", "sampling"),
            doc="UniMax integer waterfilling of a token budget across languages "
            "under per-language epoch caps; one corpus aggregate, |langs|-row "
            "windows",
        ),
        QuerySpec(
            "temperature_sampling_weights",
            q_temperature_sampling_weights,
            _TEMP_SQL,
            ("llm", "sampling"),
            doc="p ∝ T^(1/2) multilingual sampling weights via IEEE sqrt and an "
            "order-pinned normalizer fold",
        ),
        QuerySpec(
            "pii_redaction_scan",
            q_pii_redaction_scan,
            _PII_SQL,
            ("llm", "text", "bench"),
            doc="Regex PII detect + redact accounting (emails/IPv4/phones) over a "
            "deterministic contact-footer corpus; map-only, dialect-safe regexes",
        ),
        QuerySpec(
            "epoch_shuffle_manifest",
            q_epoch_shuffle_manifest,
            _SHUFFLE_SQL,
            ("llm", "sampling"),
            doc="Deterministic hash epoch shuffle into W shards: manifest of "
            "per-shard counts/token totals/key ranges, no global sort",
        ),
        QuerySpec(
            "boilerplate_line_df",
            q_boilerplate_line_df,
            _boiler_sql(),
            ("llm", "dedup"),
            doc="CCNet boilerplate: lines in >= 3 distinct docs flagged in every "
            "doc; line-digest DF aggregate + digest join",
        ),
        QuerySpec(
            "semantic_contamination",
            q_semantic_contamination,
            _CONTAM_SQL,
            ("llm", "ann", "bench"),
            doc="Eval->train nearest-neighbor cosine via shared IVF buckets; "
            "flags sim >= 0.25; bucketed join, never eval x train",
        ),
        QuerySpec(
            "tokenizer_fertility_by_lang",
            q_tokenizer_fertility_by_lang,
            _FERTILITY_SQL,
            ("llm", "text"),
            doc="Per-language subwords-per-word and bytes-per-subword (tokenizer "
            "equity audit); map-only pass, |langs|-bounded aggregate",
        ),
        QuerySpec(
            "span_corruption_masks",
            q_span_corruption_masks,
            _SPAN_SQL,
            ("llm", "training"),
            doc="T5 span-corruption accounting: deterministic hash mask, "
            "window-free span starts (predecessor coin recomputed map-side)",
        ),
        QuerySpec(
            "dedup_keepbest_canonical",
            q_dedup_keepbest_canonical,
            _keepbest_sql(),
            ("llm", "dedup"),
            doc="Keep-best dedup: longest member per LSH cluster kept (ties to "
            "smallest id); CC operator + one quality join + max-struct argmax",
        ),
        QuerySpec(
            "curriculum_length_phases",
            q_curriculum_length_phases,
            _CURRICULUM_SQL,
            ("llm", "training"),
            doc="Length curriculum: scale-safe global_rank cut into 4 exact "
            "phases; per-phase doc/token volumes and length ranges",
        ),
        QuerySpec(
            "oov_rate_by_lang",
            q_oov_rate_by_lang,
            _OOV_SQL,
            ("llm", "text"),
            doc="Top-1000 vocab OOV share per language (coverage audit); "
            "vocabulary-bounded aggregates + broadcast vocab join",
        ),
        QuerySpec(
            "incremental_index_dedup",
            q_incremental_index_dedup,
            _incremental_sql(),
            ("llm", "dedup"),
            doc="Production incremental dedup: new docs banded against the "
            "existing index only (|new|-proportional), exact-Jaccard verified, "
            "best match per flagged doc",
        ),
        QuerySpec(
            "tokenset_dedup_groups",
            q_tokenset_dedup_groups,
            _TOKENSET_SQL,
            ("llm", "dedup"),
            doc="Vocabulary-fingerprint dedup via sorted distinct-token digest; "
            "catches reordered/re-repeated copies exact dedup misses",
        ),
        QuerySpec(
            "char_entropy_quality",
            q_char_entropy_quality,
            _ENTROPY_SQL,
            ("llm", "text"),
            doc="Per-doc character entropy (compression-proxy junk gate): "
            "per-term micro-nat quantization then pure integer rollup",
        ),
        QuerySpec(
            "minhash_calibration_bins",
            q_minhash_calibration_bins,
            _calibration_sql(),
            ("llm", "dedup"),
            doc="MinHash estimator calibration: signature-agreement bins vs "
            "exact Jaccard on LSH candidates only",
        ),
        QuerySpec(
            "normalize_text_stats",
            q_normalize_text_stats,
            _NORMALIZE_SQL,
            ("llm", "text"),
            doc="Lowercase/whitespace/punct normalization accounting with a "
            "normalized-text md5 fingerprint; map-only, dialect-safe regexes",
        ),
    ]
)


# --------------------------------------------------------------------------
# Stupid Backoff trigram scoring (train = even doc_ids, score = odd)
# --------------------------------------------------------------------------


def q_trigram_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    heldout = docs.filter(F.col("doc_id") % 2 == 1)

    def ngrams(df: DataFrame, n: int, cols: list[str]) -> DataFrame:
        fields = ", ".join(
            f"element_at(t, i + {j}) AS {c}" for j, c in enumerate(cols)
        )
        return df.select(
            "doc_id",
            F.explode(
                # Guard before sequence(): sequence(1, 0) counts DOWN and
                # element_at(t, 0) throws on docs shorter than n tokens.
                F.expr(
                    f"CASE WHEN size(t) >= {n} THEN"
                    f" transform(sequence(1, size(t) - {n - 1}),"
                    f" i -> struct({fields}))"
                    f" ELSE array() END"
                )
            ).alias("g"),
        ).select("doc_id", "g.*").where(F.col(cols[0]).isNotNull())

    train_t = train.withColumn("t", tokens(F.lower(F.col("text"))))
    tri = (
        ngrams(train_t, 3, ["w1", "w2", "w3"])
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    bi = (
        ngrams(train_t, 2, ["w1", "w2"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    uni = (
        ngrams(train_t, 1, ["w1"]).groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    )
    n_total = uni.agg(F.sum("c1").alias("n_train"))  # 1-row, broadcast below

    held_t = heldout.withColumn("t", tokens(F.lower(F.col("text"))))
    htri = ngrams(held_t, 3, ["w1", "w2", "w3"])
    scored = (
        htri.join(tri, ["w1", "w2", "w3"], "left")
        .join(
            bi.withColumnRenamed("c2", "c2p"), ["w1", "w2"], "left"
        )
        .join(
            bi.selectExpr("w1 AS w2", "w2 AS w3", "c2 AS c2s"),
            ["w2", "w3"],
            "left",
        )
        .join(uni.selectExpr("w1 AS w2", "c1 AS c1w2"), ["w2"], "left")
        .join(uni.selectExpr("w1 AS w3", "c1 AS c1w3"), ["w3"], "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN coalesce(c3, 0) > 0 THEN (1000000 * c3) DIV c2p"
                " WHEN coalesce(c2s, 0) > 0 THEN (2 * 1000000 * c2s) DIV (5 * c1w2)"
                " ELSE (4 * 1000000 * coalesce(c1w3, 0)) DIV (25 * n_train) END"
            ).alias("s_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.expr("sum(s_micro) DIV count(1)").alias("avg_score_micro"),
    )



_BACKOFF_SQL = f"""
WITH train AS (
    SELECT doc_id, {_BACKOFF_TOKS} AS t FROM documents WHERE doc_id % 2 = 0
), held AS (
    SELECT doc_id, {_BACKOFF_TOKS} AS t FROM documents WHERE doc_id % 2 = 1
), tri AS (
    SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, count(*) AS c3
    FROM train, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
    GROUP BY 1, 2, 3
), bi AS (
    SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS c2
    FROM train, unnest(range(1, greatest(len(t), 1))) AS u(i)
    GROUP BY 1, 2
), uni AS (
    SELECT t[i] AS w1, count(*) AS c1
    FROM train, unnest(range(1, len(t) + 1)) AS u(i)
    GROUP BY 1
), ntr AS (
    SELECT sum(c1) AS n_train FROM uni
), htri AS (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
    FROM held, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
), scored AS (
    SELECT h.doc_id,
           CASE WHEN coalesce(tri.c3, 0) > 0 THEN (1000000 * tri.c3) // bp.c2
                WHEN coalesce(bs.c2, 0) > 0 THEN (2 * 1000000 * bs.c2) // (5 * u2.c1)
                ELSE (4 * 1000000 * coalesce(u3.c1, 0)) // (25 * ntr.n_train) END
               AS s_micro
    FROM htri h
    LEFT JOIN tri ON tri.w1 = h.w1 AND tri.w2 = h.w2 AND tri.w3 = h.w3
    LEFT JOIN bi bp ON bp.w1 = h.w1 AND bp.w2 = h.w2
    LEFT JOIN bi bs ON bs.w1 = h.w2 AND bs.w2 = h.w3
    LEFT JOIN uni u2 ON u2.w1 = h.w2
    LEFT JOIN uni u3 ON u3.w1 = h.w3
    CROSS JOIN ntr
)
SELECT doc_id, count(*) AS n_trigrams,
       CAST(sum(s_micro) // count(*) AS BIGINT) AS avg_score_micro
FROM scored GROUP BY doc_id
"""

# --------------------------------------------------------------------------
# Cross-corpus n-gram novelty per document
# --------------------------------------------------------------------------


def q_token_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's DISTINCT word 3-grams
    whose corpus-wide first occurrence (min doc_id) is the doc itself — the
    dedup-adjacent signal curation pipelines use to rank "how much new text
    does this document add" (ExactSubstr's counting cousin). Two keyed
    shuffles (per-doc distinct, per-gram min) + one join back; no corpus ×
    corpus pair generation anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    grams = (
        docs.withColumn("t", tokens(F.lower(F.col("text"))))
        .select(
            "doc_id",
            F.explode(
                # Guard before sequence(): Spark's sequence(1, 0) counts DOWN
                # to [1, 0] and element_at(t, 0) throws, so docs shorter than
                # the gram width must short-circuit to an empty array (house
                # rule, cf. llm_queries.py tokenizer helpers).
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN"
                    " transform(sequence(1, size(t) - 2),"
                    " i -> concat_ws(' ', element_at(t, i), element_at(t, i+1),"
                    " element_at(t, i+2)))"
                    " ELSE array() END"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .withColumn("novelty_micro", F.expr("(1000000 * n_novel) DIV n_grams"))
    )


_NOVELTY_SQL = f"""
WITH grams AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
    FROM (SELECT doc_id, {_BACKOFF_TOKS} AS t FROM documents),
         unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
), first AS (
    SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
)
SELECT g.doc_id, count(*) AS n_grams,
       CAST(sum(CAST(f.first_doc = g.doc_id AS BIGINT)) AS BIGINT) AS n_novel,
       CAST((1000000 * sum(CAST(f.first_doc = g.doc_id AS BIGINT))) // count(*)
           AS BIGINT) AS novelty_micro
FROM grams g JOIN first f USING (gram)
GROUP BY g.doc_id
"""

# --------------------------------------------------------------------------
# Content-defined chunking + chunk-level dedup (FastCDC-lite)
# --------------------------------------------------------------------------

_CDC_W = 8  # rolling-gram width (chars)
_CDC_B = 31  # polynomial base
_CDC_M = 1000003  # hash modulus (prime)
_CDC_D = 64  # boundary divisor -> expected chunk ~64 chars


def q_content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/FastCDC dedup primitive):
    a chunk boundary falls AFTER position i when the polynomial hash of the
    trailing 8-char gram ≡ 0 (mod 64), so boundaries move with content, not
    offsets — an insertion reshifts at most one chunk instead of every
    fixed-width block. Chunks are digested and deduplicated corpus-wide by
    first occurrence (min (doc_id, chunk_start)); per doc we report chunk
    count and the fraction of chunk BYTES already seen elsewhere — the
    storage-dedup ratio a chunked lake would achieve.

    Implementation (r14, guide §2.4/§4.1): chunking is per-document local
    computation, so the whole boundary/digest build is MAP-SIDE
    higher-order functions over the codepoint array — gram hashes via
    indexed ``element_at`` (fixed width ⇒ no rolling-state recurrence),
    boundary positions via ``filter(transform(sequence ...))``, one chunk
    struct per boundary interval, then a single ``explode`` emitting one
    row per CHUNK (~len/64 of the char count). The round-13 form exploded
    every CHARACTER into a row and ran a per-doc window (Exchange + sort
    of the full codepoint stream) plus a 1.5M-struct collect_list
    aggregate; all of that is gone — the first exchange any corpus byte
    crosses is the chunk-level digest aggregate. Downstream is unchanged:
    a digest-keyed min-attribution join (the ``token_ngram_novelty``
    shape) and the per-doc rollup. ``read_table_balanced`` spreads the
    CPU-bound per-doc hashing across cores (the single-row-group local
    file would otherwise chunk in one task).
    """
    docs = read_table_balanced(spark, sf_dir, "documents")
    coefs = [pow(_CDC_B, j, _CDC_M) for j in range(_CDC_W)]
    # gram hash ending at 1-based index i: sum of element_at(vs, i-j)*B^j
    gram = " + ".join(
        f"(element_at(vs, i - {j}) % {_CDC_M}) * {coefs[j]}" if j else
        f"(element_at(vs, i) % {_CDC_M}) * {coefs[0]}"
        for j in range(_CDC_W)
    )
    chunk_structs = """
      transform(ends, (e, k) -> named_struct(
          'chunk_start', IF(k = 0, 0, element_at(ends, k) + 1),
          'chunk_len',
          e - IF(k = 0, 0, element_at(ends, k) + 1) + 1))"""
    chunks = (
        docs.select(
            "doc_id",
            # Spark split keeps the trailing zero-width match as an empty
            # string (limit = -1); drop it before taking codepoints.
            F.expr(
                "transform(filter(split(text, '(?!^)'), x -> x != ''),"
                " x -> ascii(x))"
            ).alias("vs"),
        )
        .withColumn(
            "bpos",
            F.expr(
                f"""IF(size(vs) >= {_CDC_W},
                   filter(transform(sequence({_CDC_W}, size(vs)),
                          i -> IF(({gram}) % {_CDC_M} % {_CDC_D} = 0, i - 1, -1)),
                          x -> x >= 0),
                   array())"""
            ),
        )
        .withColumn(
            # chunk end positions: every boundary closes a chunk; a final
            # chunk runs to the last char unless it IS a boundary. Empty OR
            # NULL docs keep an empty ends array -> no chunk rows (the r13
            # char explode produced none either; size(NULL) = -1 under
            # legacy sizeOfNull would otherwise emit a phantom ends=[-2]
            # chunk — ADVICE r14, unreachable today but guarded).
            "ends",
            F.expr(
                """CASE WHEN vs IS NULL OR size(vs) <= 0 THEN array()
                        WHEN size(bpos) > 0 AND element_at(bpos, -1) = size(vs) - 1
                        THEN bpos
                        ELSE concat(bpos, array(size(vs) - 1)) END"""
            ),
        )
        .select("doc_id", "vs", F.explode(F.expr(chunk_structs)).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_start").alias("chunk_start"),
            F.col("c.chunk_len").alias("chunk_len"),
            F.md5(
                F.expr(
                    "array_join(transform("
                    "slice(vs, c.chunk_start + 1, c.chunk_len),"
                    " x -> cast(x AS string)), ',')"
                )
            ).alias("digest"),
        )
    )
    first = chunks.groupBy("digest").agg(
        F.min(F.struct("doc_id", "chunk_start")).alias("first_at")
    )
    return (
        chunks.join(first, "digest")
        .withColumn(
            "is_dup",
            (
                (F.col("first_at.doc_id") != F.col("doc_id"))
                | (F.col("first_at.chunk_start") != F.col("chunk_start"))
            ).cast("long"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").alias("n_chars"),
            F.sum(F.col("is_dup") * F.col("chunk_len")).alias("dup_chars"),
        )
        .withColumn("dup_micro", F.expr("(1000000 * dup_chars) DIV n_chars"))
    )


_CDC_TERMS_SQL = " + ".join(
    f"(coalesce(lag(v, {j}) OVER wdoc, 0) % {_CDC_M}) * {pow(_CDC_B, j, _CDC_M)}"
    if j
    else f"(v % {_CDC_M})"
    for j in range(_CDC_W)
)

_CDC_SQL = f"""
WITH chars AS (
    SELECT doc_id, i - 1 AS pos, ascii(substr(text, i, 1)) AS v
    FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
), hashed AS (
    SELECT doc_id, pos,
           CAST(pos >= {_CDC_W - 1}
                AND ({_CDC_TERMS_SQL}) % {_CDC_M} % {_CDC_D} = 0 AS INT)
               AS is_boundary,
           v
    FROM chars
    WINDOW wdoc AS (PARTITION BY doc_id ORDER BY pos)
), chunked AS (
    SELECT doc_id, pos, v,
           sum(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - is_boundary AS chunk
    FROM hashed
), chunks AS (
    SELECT doc_id, chunk, min(pos) AS chunk_start, count(*) AS chunk_len,
           md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY pos)) AS digest
    FROM chunked GROUP BY doc_id, chunk
), first AS (
    SELECT digest, min(struct_pack(doc_id := doc_id, chunk_start := chunk_start)) AS first_at
    FROM chunks GROUP BY digest
)
SELECT c.doc_id, count(*) AS n_chunks,
       CAST(sum(chunk_len) AS BIGINT) AS n_chars,
       CAST(sum(CAST((f.first_at).doc_id <> c.doc_id
                OR (f.first_at).chunk_start <> c.chunk_start AS BIGINT)
           * chunk_len) AS BIGINT) AS dup_chars,
       CAST((1000000 * sum(CAST((f.first_at).doc_id <> c.doc_id
                OR (f.first_at).chunk_start <> c.chunk_start AS BIGINT)
           * chunk_len)) // sum(chunk_len) AS BIGINT) AS dup_micro
FROM chunks c JOIN first f USING (digest)
GROUP BY c.doc_id
"""

# --------------------------------------------------------------------------
# Skip-gram window co-occurrence (word2vec training input)
# --------------------------------------------------------------------------

_SG_WINDOW = 2
_SG_TOPK = 30


def q_skipgram_window_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts with window ±2 —
    the training-pair input of word2vec/GloVe. Pairs are canonicalized
    (lexicographic order) so (a,b) and (b,a) accumulate together, emitted
    map-side from per-position lag/lead offsets in ONE per-doc window pass
    (fixed window ⇒ 4 offset columns, no self-join of the token table),
    then ONE pair-count shuffle; top-30 by count with lexicographic
    tie-break as TakeOrderedAndProject. Distinct from ``bigram_topk``
    (adjacent only) and ``pmi_collocations`` (scores, not window pairs)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "w"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    offs = toks
    pair_cols = []
    for d in range(1, _SG_WINDOW + 1):
        offs = offs.withColumn(f"n{d}", F.lead("w", d).over(wdoc))
        pair_cols.append(f"n{d}")
    pairs = offs.select(
        "w",
        F.explode(F.array(*[F.col(c) for c in pair_cols])).alias("c"),
    ).filter(F.col("c").isNotNull())
    canon = pairs.select(
        F.least("w", "c").alias("a"), F.greatest("w", "c").alias("b")
    )
    return (
        canon.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .orderBy(F.desc("n_cooc"), F.asc("a"), F.asc("b"))
        .limit(_SG_TOPK)
    )


_SG_SQL = f"""
WITH toks AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM (SELECT doc_id, {_BACKOFF_TOKS} AS t FROM documents),
         unnest(range(1, len(t) + 1)) AS u(i)
), offs AS (
    SELECT w,
           lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
           lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
    FROM toks
), pairs AS (
    SELECT least(w, c) AS a, greatest(w, c) AS b
    FROM (SELECT w, unnest([n1, n2]) AS c FROM offs)
    WHERE c IS NOT NULL
)
SELECT a, b, count(*) AS n_cooc
FROM pairs GROUP BY a, b
ORDER BY n_cooc DESC, a, b LIMIT {_SG_TOPK}
"""





SPECS.extend(
    [
    QuerySpec(
            "trigram_backoff_score",
            q_trigram_backoff_score,
            _BACKOFF_SQL,
            ("text", "lm", "bench"),
            doc="Stupid Backoff trigram LM scoring of heldout docs from train-"
            "split counts: integer micro scores, vocabulary-bounded joins only",
        ),
    QuerySpec(
            "token_ngram_novelty",
            q_token_ngram_novelty,
            _NOVELTY_SQL,
            ("text", "dedup", "bench"),
            doc="Per-doc fraction of distinct 3-grams first seen in that doc: "
            "two keyed shuffles + one join back, no pair generation",
        ),
    QuerySpec(
            "content_defined_chunking",
            q_content_defined_chunking,
            _CDC_SQL,
            ("dedup", "text"),
            doc="FastCDC-lite content-defined chunking: lag-polynomial gram hash "
            "boundaries in ONE per-doc window pass, chunk digests deduped "
            "corpus-wide by first occurrence; per-doc storage-dedup ratio",
        ),
    QuerySpec(
            "skipgram_window_cooc",
            q_skipgram_window_cooc,
            _SG_SQL,
            ("text",),
            doc="word2vec skip-gram pair counts, window +/-2, canonicalized "
            "pairs from lead offsets in one per-doc window pass + one shuffle",
        ),
    ]
)
