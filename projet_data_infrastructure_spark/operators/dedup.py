"""Deduplication operators (exact, MinHash+LSH, SimHash, n-gram Jaccard).

Scale design:

* **Exact**: hash-groupBy on a digest of the (normalized) text — one shuffle
  on a 128-bit key, no text comparison. At 100 TB, group by ``md5`` digest
  and keep ``min(doc_id)``; never shuffle the documents themselves.
* **MinHash+LSH**: shingle → k seeded min-hashes → band keys → group/join on
  band keys. Only (doc_id, band_key) pairs shuffle (constant bytes/doc);
  candidate pairs are verified downstream. This is the standard
  shingle→minhash→band→bucket-join pipeline (Broder; see PAPERS.md).
* **SimHash**: 32-bit signature via bitwise majority vote over token hashes —
  one explode + two aggregations, all JVM-side arithmetic.
* **n-gram Jaccard**: exact verification for candidate pairs (quadratic —
  only ever run it on LSH candidates or a bounded sample).

Hashes use the engine-portable md5-based :func:`hash64` so results are
verifiable cross-engine; swap to ``F.xxhash64`` for raw speed in production
(same algebra).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from projet_data_infrastructure_spark.functions.hashing import hash64
from projet_data_infrastructure_spark.operators.joins import vertex_side
from projet_data_infrastructure_spark.operators.text import normalize, tokens

MINHASH_HASHES = 6  #: k independent hash functions
MINHASH_BAND_ROWS = 2  #: rows per band → 3 bands of 2


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate clusters: digest → (cluster size, keeper = min id)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def exact_dedup_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated id set (normalized-text digest, keep lowest id)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("digest").orderBy(id_col)
    return (
        df.select(F.col(id_col), fingerprint_col(text_col).alias("digest"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col)
    )


def fingerprint_col(text_col: str):
    return F.md5(normalize(F.col(text_col)))


def shingles_from_tokens(toks_col: str, n: int = 3):
    """Word n-gram shingles from a token-array column.

    Caller must ensure ``size(toks) >= n`` (Spark's ``sequence(1, 0)``
    DESCENDS, so an unguarded short doc would produce garbage).
    """
    return F.transform(
        F.sequence(F.lit(1), F.size(F.col(toks_col)) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col(toks_col), i, n)),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022, §4.1 —
    public): delete every word position covered by a word ``n``-gram that
    occurs in at least ``min_docs`` DISTINCT documents, then reassemble the
    surviving words in order. Returns
    ``(doc_id, n_words, n_removed, kept_text)`` — one row per document with
    ≥1 token (a fully-covered document keeps an empty ``kept_text``).

    Plan shape (linear, never a self-join): per-doc gram starts carry the
    60-bit portable hash; the shared-gram set comes from a distinct +
    groupBy on the 8-byte digest; covered positions are an equi-join of the
    gram stream against that set followed by a bounded ×n sequence explode;
    the rewrite is a per-doc aggregate whose ``array_sort(struct(pos, w))``
    restores order without a global sort. Every exchange keys on a digest
    or (doc_id, pos) — at 100 TB no shuffle carries document text except
    the final per-doc rebuild.
    """
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("t"))
    grams = (
        toks.filter(F.size("t") >= n)
        .select(
            id_col,
            F.posexplode(shingles_from_tokens("t", n)).alias("i", "g"),
        )
        .select(id_col, "i", hash64(F.col("g")).alias("h"))
    )
    shared = (
        grams.select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    covered = (
        grams.join(shared, "h")
        .select(
            id_col,
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias("pos"),
        )
        .distinct()
        .withColumn("cov", F.lit(1))
    )
    words = toks.select(id_col, F.posexplode("t").alias("pos", "w"))
    flags = words.join(covered, [id_col, "pos"], "left_outer")
    return flags.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.when(F.col("cov").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("cov").isNull(), F.struct("pos", "w")))
                ),
                lambda s: s["w"],
            ),
            " ",
        ).alias("kept_text"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = MINHASH_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: one row per doc, columns m0..m{k-1}.

    Single explode + single partial/final aggregation — the shuffle carries
    only (doc_id, k×8 bytes). Docs with fewer than ``shingle_n`` tokens have
    no shingles and drop out (they can't near-dup anyway).
    """
    shingled = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") >= shingle_n)
        .select(F.col(id_col), F.explode(shingles_from_tokens("toks", shingle_n)).alias("shingle"))
    )
    aggs = [F.min(hash64(F.col("shingle"), seed=j)).alias(f"m{j}") for j in range(n_hashes)]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = MINHASH_HASHES,
    band_rows: int = MINHASH_BAND_ROWS,
) -> DataFrame:
    """LSH banding: docs sharing any band become a candidate pair (a < b)."""
    n_bands = n_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"m{b * band_rows + r}") for r in range(band_rows)]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sig.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    left = exploded.select(F.col(id_col).alias("doc_a"), "band", "key")
    right = exploded.select(F.col(id_col).alias("doc_b"), "band", "key")
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a candidate-pair graph: node → component id
    (= the minimum doc id reachable through dup edges).

    Iterative min-label propagation: each round is one equi-join (edges ⋈
    labels) + a min-aggregation, converging in ≤ diameter rounds — near-dup
    clusters are shallow (a handful of hops), so this terminates in a few
    rounds even at corpus scale. The per-round driver action is a LIMIT-1
    convergence probe, not a data collect. At extreme scale swap the round
    body for the large-star/small-star formulation (Kiveris et al.); the
    outer loop and the output contract are unchanged.

    Note: ``localCheckpoint`` trades reliability for speed — blocks live on
    executors only, so an executor loss fails the job (acceptable for an
    interactive/batch dedup; use reliable ``checkpoint`` on a flaky
    cluster). Superseded rounds are explicitly unpersisted below so a
    long-lived session running many clusterings doesn't accumulate
    storage-memory pressure waiting on driver GC.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    ).distinct()
    # Materialize the edge list ONCE before iterating: every round joins
    # against it, and without the lineage cut each round re-executes the
    # full upstream candidate-pair pipeline (for the embedding modality
    # that is the whole bucketed near-dup join — observed to turn a
    # seconds-long CC into minutes). Iterative graph algorithms checkpoint
    # their edges; the pair graph is far smaller than the corpus.
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # Convergence probe state (r14): min-label propagation is MONOTONE —
    # every node's new label is a min over a set that contains its old
    # label, so the label vector only ever decreases and Σlabel strictly
    # decreases while any node changed. The scalar sum rides the round's
    # checkpoint materialization as an ``observe`` metric (Dataset
    # .checkpoint runs through withAction, so QueryExecutionListener
    # delivers it) — ONE job per round, no separate probe action at all.
    # decimal(38,0) cannot overflow at any scale.
    from pyspark.sql import Observation

    _label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    # |V| rides the same init aggregate as the convergence-probe seed — the
    # build-side size switch below costs no extra job.
    _init = labels.agg(_label_sum, F.count(F.lit(1)).alias("n")).collect()[0]
    prev_sum, n_nodes = _init["s"], _init["n"]
    converged = False
    for _ in range(max_iter):
        # Both per-round joins build on the |V|-bounded label frame, which is
        # a stats-free checkpoint — left to itself Catalyst picks sort-merge
        # and shuffles BOTH sides every round (guide §3.1). The explicit
        # build-side pick (``vertex_side``) is sized on the EXACT |V| from
        # the init aggregate; the shuffle form is pinned row-identical in
        # tests. Locally this removes 4 of the ~5 exchanges per round:
        # −0.2..−0.4 s per CC spec, position-matched.
        lab = vertex_side(labels, n_nodes)
        # Neighbor propagation + path halving (label-of-label hop): the hop
        # forwards every node straight toward its component minimum, cutting
        # rounds from O(diameter) to O(log diameter) — two extra tiny joins
        # per round against ~8x fewer rounds on chainy near-dup graphs.
        neigh = edges.join(lab, edges.dst == lab.node).select(
            F.col("src").alias("node"), F.col("label")
        )
        hop = (
            labels.alias("a")
            .join(lab.alias("b"), F.col("a.label") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
        )
        # localCheckpoint, NOT persist: persist caches rows but the round
        # N plan still contains all N-1 prior rounds, so optimizer time
        # (and job setup) grows superlinearly — measured ~4 s/round by
        # round 8 on a 414-edge graph. The lineage cut keeps every round
        # constant-size.
        obs = Observation()
        new_labels = (
            labels.unionByName(neigh)
            .unionByName(hop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .observe(obs, _label_sum)
        ).localCheckpoint(eager=True)
        new_sum = obs.get["s"]
        # The superseded round's checkpoint blocks are freed by the
        # ContextCleaner once the old frame is unreachable —
        # Dataset.unpersist cannot release localCheckpoint blocks (they are
        # not CacheManager entries; ADVICE r14).
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Returning a partially-propagated labeling would be silently wrong
        # (the caller gets split components with no signal). With path
        # halving, rounds ≈ log2(diameter); hitting this means the input is
        # not a near-dup graph.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} iterations; "
            "raise max_iter or switch to the large-star/small-star variant"
        )
    # The returned frame reads from the final checkpoint only; the edge
    # blocks are reaped by the ContextCleaner when the frame goes out of
    # scope (and the bench releases all persistent RDDs between specs).
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def apply_signature_dedup_batch(
    target_path: str,
    batch_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of INCREMENTAL signature dedup against a lakehouse
    signature store (the streaming form of exact-MinHash dedup: a corpus
    that arrives continuously, deduped as it lands, not re-scanned).

    Batch semantics: compute each doc's MinHash signature, keep the
    min-``id_col`` winner per signature WITHIN the batch, then anti-join
    against the stored signature set — a signature seen in ANY earlier
    batch keeps its original winner regardless of id (first-arrival wins,
    the only order a stream can honor). State is one row per distinct
    signature (k×8-byte key + id), published atomically via the versioned
    snapshot store; at scale swap the store for a Delta table and the
    anti-join stays the plan.
    """
    from pyspark.sql.window import Window

    from projet_data_infrastructure_spark.streaming import versioned

    sig = minhash_signatures(batch_df, text_col=text_col, id_col=id_col)
    sigkey = F.concat_ws(
        ",", *[F.col(f"m{j}").cast("string") for j in range(MINHASH_HASHES)]
    )
    keyed = sig.select(F.col(id_col), sigkey.alias("sig"))
    w = Window.partitionBy("sig").orderBy(id_col)
    winners = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if versioned.snapshot_exists(target_path):
        current = versioned.read_snapshot(batch_df.sparkSession, target_path)
        fresh = winners.join(current.select("sig"), "sig", "left_anti")
        out = current.unionByName(fresh)
    else:
        out = winners
    versioned.write_snapshot(out, target_path)


def duplicate_clusters_starstar(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    extreme-scale alternative to :func:`duplicate_clusters`' min-label
    propagation, with the same output contract (node → min reachable id).

    Why it matters at 100 TB: min-label propagation needs O(diameter)
    rounds (O(log d) with path halving) and each round joins the FULL edge
    list against the labels. Star operations instead rewrite the edge list
    itself toward star graphs in O(log² n) rounds with provably
    non-increasing edge counts — no separate label table, every round is
    one groupBy(min) + one equi-join back, and the fixed point IS the
    answer (each surviving edge points a node at its component minimum).

    Per round: large-star hangs every neighbor v > u under m = min(Γ(u) ∪
    {u}); small-star re-hangs the ≤u neighborhood under its minimum. Both
    are a symmetric/directed projection + per-node min + join — two
    shuffles each, lineage cut per round (same localCheckpoint/unpersist
    discipline and non-reliable-checkpoint caveat as the min-label form).
    Equivalence with :func:`duplicate_clusters` is pinned in tests on
    random graphs and by the shared recursive-CTE registry oracle."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if not edges.take(1):
        schema_src = pairs.select(
            F.col(a_col).alias("doc_id"), F.col(a_col).alias("component")
        )
        return schema_src.limit(0)

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = directed.join(mins, "u").filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        selfs = mins.select(F.col("u"), F.col("m").alias("v"))
        return nbrs.unionByName(selfs).distinct()

    converged = False
    # r14: both stars end in .distinct(), so the edge frames are SETS and
    # set equality is (|new| == |old|) ∧ (new ∖ old = ∅). The old-edge count
    # is carried across rounds in a driver variable (each round re-counted
    # the same checkpointed frame it had already counted), and the
    # difference probe is a left-anti take(1) instead of exceptAll — the
    # anti-join short-circuits on the first surviving row, where exceptAll
    # builds the full per-row-count aggregate before limiting.
    from pyspark.sql import Observation

    prev_n = edges.count()
    for _ in range(max_iter):
        # The round's edge count rides the checkpoint materialization as an
        # observe metric (r14) — one job per round instead of two.
        obs = Observation()
        new_edges = (
            small_star(large_star(edges))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        new_n = obs.get["n"]
        same = new_n == prev_n and not new_edges.join(
            edges, ["u", "v"], "left_anti"
        ).take(1)
        # ContextCleaner frees the superseded checkpoint (see the min-label
        # loop above; Dataset.unpersist is a no-op on localCheckpoint blocks).
        edges = new_edges
        prev_n = new_n
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters_starstar did not converge in {max_iter} rounds"
        )
    # Fixed point = stars: every (u, v) edge has v = component min; roots
    # (the minima themselves) label themselves.
    roots = edges.select(F.col("v").alias("node")).distinct()
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    labels = labels.unionByName(
        roots.select("node", F.col("node").alias("label"))
    ).distinct()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def simhash32(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document (bitwise majority over token hashes).

    All arithmetic stays < 2^32 so the float division is exact and the value
    is engine-portable (see functions/hashing.py).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    h32 = (hash64(F.col("token")) % F.lit(4294967296)).alias("h32")
    bits = toks.select(id_col, h32, F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"))
    contrib = (
        (F.floor(F.col("h32") / F.pow(F.lit(2.0), F.col("bit"))).cast("long") % 2) * 2 - 1
    ).alias("contrib")
    votes = bits.select(id_col, "bit", contrib).groupBy(id_col, "bit").agg(
        F.sum("contrib").alias("vote")
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("vote") > 0, F.pow(F.lit(2.0), F.col("bit")).cast("long")).otherwise(0)
        ).alias("simhash")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded for scale.

    The 32-bit signature splits into 4 byte-bands; by pigeonhole any pair
    within hamming distance 3 shares at least one unchanged byte, so the
    byte-band equi-join has EXACT recall for distance ≤ 3 while comparing
    only same-band candidates (never all pairs). Verification is a single
    ``bit_count(xor)`` on the joined signatures — no text re-reading.
    """
    if max_distance > 3:
        raise ValueError(
            "4 byte-bands guarantee exact recall only for max_distance <= 3; "
            "use more/narrower bands for larger radii"
        )
    sig = simhash32(df, text_col, id_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (F.floor(F.col("simhash") / F.lit(float(256**b))).cast("long") % 256).alias(
                    "byte"
                ),
            )
            for b in range(4)
        ]
    )
    ex = sig.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("bk")).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.byte").alias("byte")
    )
    left = ex.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "band", "byte"
    )
    right = ex.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "band", "byte"
    )
    cands = (
        left.join(right, ["band", "byte"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
    )


def jaccard_on_candidates(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact unigram Jaccard computed ONLY on candidate pairs — the
    production chaining of LSH: generate → verify, linear in candidates
    instead of quadratic in documents. Token sets are aggregated once per
    document (not per pair); the pair join then intersects two bounded
    arrays JVM-side.
    """
    toks = df.select(
        F.col(id_col), F.array_distinct(_sorted_tokens(text_col)).alias("tset")
    )
    a = toks.select(F.col(id_col).alias("doc_a"), F.col("tset").alias("ta"))
    b = toks.select(F.col(id_col).alias("doc_b"), F.col("tset").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    jac = inter / F.greatest(union, F.lit(1)).cast("double")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard_raw"))
        .filter(F.col("jaccard_raw") >= threshold)
    )


def _sorted_tokens(text_col: str):
    # array_intersect is order-insensitive, but a canonical token order keeps
    # the op deterministic under any upstream layout.
    return F.array_sort(tokens(F.col(text_col)))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_id: int | None = None,
) -> DataFrame:
    """Exact unigram-set Jaccard for all pairs (bounded by ``max_id``).

    Quadratic — at scale this runs ONLY on LSH candidate pairs; the bounded
    all-pairs form exists for verification and small corpora.
    """
    base = df if max_id is None else df.filter(F.col(id_col) < max_id)
    toks = base.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token")
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        toks.select(F.col(id_col).alias("doc_a"), "token")
        .join(toks.select(F.col(id_col).alias("doc_b"), "token"), "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard_raw"),
        )
    )
