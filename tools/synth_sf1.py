"""Synthesize a deterministic sf1 decade for scaling measurement.

VERDICT r11 item 4: sf0.1 tops out at 600 k fact rows, where Spark's
per-job scheduling floor still colors wall-time exponents. This tool
manufactures a 10× decade WITHOUT new fixtures: each table is the UNION of
10 key-shifted copies of the driver-generated sf0.1 parquet (copy i adds
``i * KEY_STRIDE`` to every key column, copy 0 is the identity), giving 10
disjoint isomorphic sub-databases whose joins resolve within each copy.

Scope: only the tables the worst-exponent (graph-family) specs read —
orders, lineitem, customer, supplier. The construction scales |V| and |E|
exactly 10× with NO cross-copy edges, so the expected shuffle exponent of
a linear-in-|E| design is 1.0 by construction; what the measurement can
still expose is machinery whose cost grows super-linearly in |E| (join
blow-ups, wedge materialization, per-round lineage growth). It deliberately
does NOT reproduce the data-driven edge densification seen across the real
sf0.001→0.1 fixtures (more orders per customer ⇒ denser graph) — SCALING.md
documents both curves side by side.

Writes to synthdata/sf1 under the repo root (git-ignored). Deterministic: re-running
produces byte-identical row sets (order within parquet files may differ;
all consumers aggregate).

Usage: python tools/synth_sf1.py [src_sf_dir] [out_dir] [only_tables] [n_copies]

``n_copies`` (r15, VERDICT r13 item 4 / r14 item 8): 100 builds the sf10
decade rung directly from sf0.1 with the same stride (keys stay < 1e11,
packed node ids < 2^63). CAVEAT for n_copies > 26: the documents.text
alphabet rotation has only 26 distinct states, so cross-copy shingle
DISJOINTNESS breaks for copies 26 apart — the sf10 sweep therefore excludes
the documents-driven specs (graph/stream/stats families only).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from projet_data_infrastructure_spark.session import get_spark

#: Added to every key column per copy. Far above any sf0.1 key (max key at
#: sf0.1 is o_orderkey ~ 6e5) and far below 2^63 / 20, so packed node ids
#: (customer k -> 2k, supplier k -> 2k+1) stay exact and disjoint.
KEY_STRIDE = 1_000_000_000

N_COPIES = 10

#: table -> key columns shifted per copy (all other columns pass through,
#: except the per-table copy-disjointing transforms below).
TABLES: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_suppkey", "l_partkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    # round 13 (VERDICT r12 item 6): the tables the NEW heavy family reads
    "events": ("event_id", "user_id"),
    "part": ("p_partkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

#: Content columns must also be copy-disjoint or the similarity/blocking
#: specs see 10 IDENTICAL twins of every row and the cross-copy candidate
#: set grows ~100x instead of 10x — the exponent would then measure the
#: construction, not the plan. Each transform is a within-copy BIJECTION
#: (copy 0 = identity), so within-copy semantics are exactly isomorphic:
#:
#: * part.p_brand       — copy tag appended: blocking keys become disjoint,
#:                        names (and thus all edit distances) untouched;
#: * documents.text     — per-copy alphabet rotation via translate():
#:                        shingle sets map bijectively (within-copy Jaccard
#:                        EXACT), cross-copy shingles disjoint, n_chars
#:                        preserved;
#: * embeddings.embedding — per-copy deterministic ±1 sign pattern:
#:                        norms and within-copy inner products EXACT
#:                        (sum s_i^2 a_i b_i = a.b), cross-copy cosines
#:                        decorrelate to ~N(0, 1/64) — a few cross-copy
#:                        pairs may still cross loose thresholds, which
#:                        adds noise, not systematic growth (documented in
#:                        SCALING.md).
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _rot_alpha(c: int) -> str:
    k = (c * 7) % 26  # coprime step: all ten rotations distinct, copy 0 identity
    return _ALPHA[k:] + _ALPHA[:k]


def _sign_pattern(c: int, dim: int = 64) -> list[float]:
    import hashlib

    if c == 0:
        return [1.0] * dim
    return [
        1.0 if int(hashlib.md5(f"{c}:{i}".encode()).hexdigest(), 16) % 2 == 0 else -1.0
        for i in range(dim)
    ]


def _content_transform(table: str, col: str, copy_col):
    """Column override applied AFTER key shifting; None = pass through."""
    if table == "part" and col == "p_brand":
        return F.when(copy_col == 0, F.col(col)).otherwise(
            F.concat(F.col(col), F.lit("_c"), copy_col.cast("string"))
        )
    if table == "documents" and col == "text":
        expr = F.col(col)
        out = None
        for c in range(N_COPIES):
            branch = F.translate(expr, _ALPHA, _rot_alpha(c))
            out = F.when(copy_col == c, branch) if out is None else out.when(copy_col == c, branch)
        return out
    if table == "embeddings" and col == "embedding":
        signs = F.array(*[
            F.array(*[F.lit(v) for v in _sign_pattern(c)]) for c in range(N_COPIES)
        ])
        return F.zip_with(
            F.col(col),
            F.element_at(signs, copy_col.cast("int") + 1),
            lambda x, s: (x * s).cast("float"),
        )
    return None


def main() -> None:
    global N_COPIES
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "synthdata", "sf1")
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 and sys.argv[3] else None
    if len(sys.argv) > 4:
        N_COPIES = int(sys.argv[4])
    spark = get_spark("synth-sf1")
    # events.ts must round-trip at the SAME physical parquet type the driver
    # ships (TIMESTAMP_MICROS): INT96 output would defeat the stream side's
    # unit detection (streaming/sources.epoch_us_divisor reads the unit from
    # parquet metadata). NTZ inference keeps the tz-naive source tz-naive.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    for table, keys in TABLES.items():
        if only and table not in only:
            continue
        df = spark.read.parquet(f"{src}/{table}.parquet")
        if table == "documents":
            # The cross-copy shingle-disjointness claim rests on the a-z
            # rotation covering the WHOLE alphabet of `text`; uppercase or
            # digits would pass through unrotated and silently re-couple
            # copies (ADVICE r13). Fail loudly if a regenerated fixture
            # ever widens the alphabet (full scan — cheap at these sizes).
            offenders = df.filter(~F.col("text").rlike(r"^[a-z ]*$")).count()
            if offenders:
                raise ValueError(
                    f"documents.text alphabet widened beyond [a-z ] in "
                    f"{offenders} rows; extend _rot_alpha/_content_transform "
                    f"before synthesizing, or cross-copy disjointness breaks"
                )
        cp = df.withColumn(
            "_copy", F.explode(F.sequence(F.lit(0), F.lit(N_COPIES - 1)))
        )
        copy_col = F.col("_copy")
        cols = []
        for c in df.columns:
            if c in keys:
                cols.append(
                    (
                        F.col(c).cast("long")
                        + copy_col.cast("long") * F.lit(KEY_STRIDE).cast("long")
                    ).alias(c)
                )
                continue
            override = _content_transform(table, c, copy_col)
            cols.append(override.alias(c) if override is not None else F.col(c))
        dest = f"{out}/{table}.parquet"
        shifted = cp.select(*cols)
        if table == "events":
            # The live-stream specs glob the literal file name
            # "events.parquet" and probe its unit with pyarrow, exactly as
            # the driver testdata ships it — so events must be ONE real
            # parquet FILE, not a Spark output directory.
            import glob as _glob
            import shutil

            tmp = f"{dest}.spark-tmp"
            shifted.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            shutil.rmtree(dest, ignore_errors=True)
            if os.path.isfile(dest):
                os.remove(dest)
            shutil.move(part, dest)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shifted.write.mode("overwrite").parquet(dest)
        print(f"{table}: {df.count()} -> {spark.read.parquet(dest).count()} rows")
    spark.stop()


if __name__ == "__main__":
    main()
