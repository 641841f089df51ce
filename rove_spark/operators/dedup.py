"""Deduplication operators for large-scale training-data pipelines.

Engine extras (no rove counterpart; first-class per the build brief):
exact dedup, MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard
verification, and embedding-cosine near-dup. Candidate joins are
JVM-side (band explode + self-join); Python appears only in two
numpy-vectorized ``mapInPandas`` stages: fused MinHash signatures and
embedding sign-LSH sketches.

Scale shape (the thing that matters at 100 TB):
- shingling/minhash signatures are narrow per-row column expressions —
  no shuffle;
- LSH banding explodes each doc into `bands` rows and self-joins per
  (band_idx, band_hash) bucket — the classic sub-quadratic near-dup join;
  bucket sizes are bounded w.h.p., and the pair set is verified exactly
  before anything is dropped;
- exact dedup is one hash-groupBy (map-side partial combine for free).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


# ------------------------------------------------------- xxhash64 twin --
# Bit-exact numpy twin of Spark's XxHash64 (seed chaining: each argument
# hashes with the running hash as seed; int literals go through hashInt,
# long columns through hashLong; default seed 42). Lets pandas kernels
# compute the SAME signatures the JVM column expression would — pinned
# against F.xxhash64 in test_dedup (round 7).
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _xxh64_fmix(h):
    import numpy as np

    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_XXP2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_XXP3)
    return h ^ (h >> np.uint64(32))


def _xxh64_rotl(x, r):
    import numpy as np

    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh64_long(vals, seed):
    """XXH64.hashLong over a uint64 array (vals) with scalar seed."""
    import numpy as np

    h = np.uint64(seed) + np.uint64(_XXP5) + np.uint64(8)
    h = h ^ (_xxh64_rotl(vals * np.uint64(_XXP2), 31) * np.uint64(_XXP1))
    h = _xxh64_rotl(h, 27) * np.uint64(_XXP1) + np.uint64(_XXP4)
    return _xxh64_fmix(h)


def _xxh64_int(vals, seed):
    """XXH64.hashInt over a uint64 array of int32 values with scalar seed."""
    import numpy as np

    h = np.uint64(seed) + np.uint64(_XXP5) + np.uint64(4)
    h = h ^ ((vals & np.uint64(0xFFFFFFFF)) * np.uint64(_XXP1))
    h = _xxh64_rotl(h, 23) * np.uint64(_XXP2) + np.uint64(_XXP3)
    return _xxh64_fmix(h)


# ---------------------------------------------------------------- exact --


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical row (min id) per identical text; adds
    ``n_copies``. One shuffle on the text hash, never on the text itself."""
    h = F.sha2(F.col(text_col), 256).alias("_h")
    counts = df.select(h, F.col(id_col)).groupBy("_h").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )
    return df.join(counts.select(id_col, "n_copies"), on=id_col, how="inner")


def collapse_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Split a corpus into (reps, members) ahead of near-dup candidate
    generation: ``reps`` keeps the full row of the canonical (min-id) doc
    per DISTINCT text, ``members`` maps every id → its rep's id.

    This is the structural defense against the exact-duplicate LSH
    blowup: m identical copies of one document share EVERY band hash
    deterministically, so an uncollapsed bucket self-join emits m(m−1)/2
    candidate pairs from a single (band, hash) key — a straggler/OOM at
    crawl scale where million-copy boilerplate is routine. Collapsing
    first makes candidate generation linear in DISTINCT-text count; the
    hash-random bucket-size bound then actually applies to what's joined.

    Cost: one hash-groupBy on sha2(text) + one id join — the same shape
    as exact_dedup. Texts never shuffle by value, only their 256-bit key.

    NULL texts form their own cluster: sha2(NULL) is NULL and an inner
    join on a NULL key would silently DROP those docs from members (and
    so from every expanded pair / cluster label — caught in the round-3
    review), so the key is coalesced to a sentinel outside sha2's hex
    alphabet. Direct (uncollapsed) LSH pairs NULL-text docs via the
    sentinel signature; collapse must preserve that.
    """
    key = F.coalesce(F.sha2(F.col(text_col), 256), F.lit("<null-text>")).alias("_tk")
    rep_map = (
        df.select(key, F.col(id_col))
        .groupBy("_tk")
        .agg(F.min(id_col).alias("rep_id"))
    )
    members = (
        df.select(key, F.col(id_col))
        .join(rep_map, "_tk")
        .select(id_col, "rep_id")
    )
    # min-id per distinct text is itself a distinct id set → selecting
    # those rows yields exactly one full row per distinct text
    reps = df.join(
        rep_map.select(F.col("rep_id").alias(id_col)).distinct(), id_col, "inner"
    )
    return reps, members


def _expand_member_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    score_col: str,
    within_score,
    id_col: str = "doc_id",
    blocks: int = 8,
) -> DataFrame:
    """Re-expand rep-level near-dup pairs to the full member-level pair
    set: cross-cluster pairs inherit the rep pair's score (identical text
    ⇒ identical shingle set / signature), within-cluster pairs get the
    exact-duplicate score (jaccard 1.0 / hamming 0).

    Output cardinality is the caller's contract — all near-dup pairs — so
    a mega-cluster still yields m(m−1)/2 OUTPUT rows, but no single task
    ever computes them: both the within-cluster triangle self-join and
    the cross-cluster member product are decomposed over ``blocks``
    deterministic hash blocks (the standard blocked triangle join — each
    side is duplicated ≤ ``blocks`` times as narrow id rows, the join key
    carries (block_a, block_b), and the largest task emits (m/B)² pairs
    instead of m²/2 from one hot key). ``blocks=1`` degenerates to the
    plain joins (tested equal). For cluster-level workflows pass
    expand_members=False upstream and keep (rep_pairs, members)."""
    from pyspark.sql import Column

    B = max(1, blocks)
    score = within_score if isinstance(within_score, Column) else F.lit(within_score)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    m = members.select("rep_id", F.col(id_col).alias("_m"), blk.alias("_blk"))

    # cross-cluster: a-members emit one copy per b-block, b-members one
    # copy per a-block; join on (pair, ba, bb) → (m_a/B)·(m_b/B) per task
    all_blocks = F.sequence(F.lit(0), F.lit(B - 1))
    ma = m.select(
        F.col("rep_id").alias("id_a"),
        F.col("_m").alias("_ma"),
        F.col("_blk").alias("_ba"),
        F.explode(all_blocks).alias("_bb"),
    )
    mb = m.select(
        F.col("rep_id").alias("id_b"),
        F.col("_m").alias("_mb"),
        F.explode(all_blocks).alias("_ba"),
        F.col("_blk").alias("_bb"),
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, ["id_b", "_ba", "_bb"])
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            F.col(score_col),
        )
    )
    # within-cluster triangle: left row of block b meets partner blocks
    # j ≥ b, right row of block b' meets i ≤ b'; task (i, j) is
    # block_i × block_j with id_a < id_b enforced on the diagonal
    w1 = m.select(
        "rep_id",
        F.col("_m").alias("_ma"),
        F.col("_blk").alias("_ba"),
        F.explode(F.sequence(F.col("_blk"), F.lit(B - 1))).alias("_bb"),
    )
    w2 = m.select(
        "rep_id",
        F.col("_m").alias("_mb"),
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_ba"),
        F.col("_blk").alias("_bb"),
    )
    within = (
        w1.join(w2, ["rep_id", "_ba", "_bb"])
        .filter((F.col("_ba") < F.col("_bb")) | (F.col("_ma") < F.col("_mb")))
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            score.alias(score_col),
        )
    )
    return cross.unionByName(within)


def _cap_buckets(
    banded: DataFrame, key_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Defense-in-depth bucket cap for LSH candidate joins: drop buckets
    larger than ``max_bucket_size`` WITH a logged drop count — never a
    silent truncation. With exact duplicates pre-collapsed, oversized
    buckets can only come from huge NEAR-duplicate clusters or adversarial
    hash collisions; capping trades recall on those (logged) for bounded
    worst-case join output. Costs one aggregate action when enabled.

    The oversized-bucket keys are COLLECTED (bounded by construction:
    each holds > max_bucket_size rows, so there are at most
    |banded|/max_bucket_size of them) and re-planted as a literal frame,
    so the returned lazy anti-join never recomputes the size aggregate
    when it finally executes."""
    big = (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
    )
    big_rows = big.collect()
    if not big_rows:
        return banded
    log.warning(
        "LSH bucket cap %d dropped %d oversized buckets (%d banded rows) "
        "— recall on those clusters is lost; collapse exact duplicates "
        "or raise the cap",
        max_bucket_size,
        len(big_rows),
        sum(r["_bsz"] for r in big_rows),
    )
    keys = banded.sparkSession.createDataFrame(
        [tuple(r[c] for c in key_cols) for r in big_rows],
        schema=big.select(*key_cols).schema,
    )
    return banded.join(F.broadcast(keys), key_cols, "left_anti")


# ---------------------------------------------------------- minhash/LSH --


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
) -> DataFrame:
    """Distinct word n-gram shingle hashes (int64) per doc — the set the
    Jaccard similarity is defined over. Pure column expressions
    (per-row array lambdas), so no row key is needed; ``minhash_dedup``
    builds the same sets, sorted, inside ``_shingle_minhash_fused``."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    # sequence(1, 0) would *descend* — short/empty docs get no shingles
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i, n))))
    return df.withColumn(out_col, F.array_distinct(grams))


def with_minhash(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_hashes: int = 64,
    out_col: str = "minhash",
    seed: int = 13,
) -> DataFrame:
    """MinHash signature: for each of k independent hash functions,
    min over the shingle set of xxhash64(seed_i, shingle). Empty shingle
    sets get a sentinel signature (never matches a non-empty one).

    The per-hash seed MUST be closed over with a single-argument lambda:
    ``lambda x, i=i`` looks like idiomatic Python closure capture, but
    PySpark introspects the function ARITY and binds a two-argument
    lambda as (element, index) — the "seed" silently becomes the array
    position column, collapsing all k hash functions into one identical
    function (caught round 3 via the analyzed plan; the signature was
    64 copies of a single min-hash, i.e. single-band recall)."""

    def _hash_fn(i: int):
        s = F.lit(seed + i)
        return lambda x: F.xxhash64(s, x)

    sig = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(F.col(shingle_col), _hash_fn(i))),
                F.lit(-(1 << 62) - seed - i),
            )
            for i in range(num_hashes)
        ]
    )
    return df.withColumn(out_col, sig)


def _shingle_minhash_fused(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 13,
    shingle_col: str = "shingles",
    minhash_col: str = "minhash",
) -> DataFrame:
    """``with_shingles`` + ``with_minhash`` in ONE codegen
    aggregate: the exploded n-gram rows feed 64 ``min(xxhash64(seed_i,
    gram))`` aggregates AND the sorted shingle set in a single groupBy —
    no interpreted array lambdas anywhere (min over non-distinct grams ≡
    min over the distinct set, so no pre-dedup is needed). Values are
    IDENTICAL to the composed functions, including the empty-set
    sentinel signature."""
    from pyspark.sql import Window

    import numpy as np

    words = F.split(F.lower(F.col(text_col)), r"\s+")
    exploded = df.select(F.col(id_col).alias("_sid"), F.posexplode_outer(words))
    win = Window.partitionBy("_sid").orderBy("pos")
    leads = [F.col("col")] + [F.lead("col", j).over(win) for j in range(1, n)]
    grams = (
        exploded.withColumn("_g", F.xxhash64(F.concat_ws(" ", *leads)))
        .withColumn("_ok", F.lead("col", n - 1).over(win).isNotNull())
        .filter(F.col("_ok"))
    )
    g = grams.groupBy("_sid").agg(F.sort_array(F.collect_set("_g")).alias(shingle_col))

    # 64-lane minhash over the shingle sets, vectorized in numpy with a
    # bit-exact twin of Spark's XxHash64 chain (xxhash64(lit(seed+i), g)
    # = hashLong(g, hashInt(seed+i, 42)); equality pinned in
    # test_dedup). The previous 64 min(xxhash64(...)) aggregates were a
    # 65-aggregate codegen stage whose one-time JIT cost ~1 s per JVM on
    # top of 64 interpreted-width hash evaluations per gram row; one
    # numpy pass per Arrow batch does the same arithmetic in ~15 uint64
    # vector ops per lane (round 7).
    id_type = dict(df.dtypes)[id_col]
    seeds = _xxh64_int(np.arange(seed, seed + num_hashes, dtype=np.uint64), np.uint64(42))
    sentinel = np.array(
        [-(1 << 62) - seed - i for i in range(num_hashes)], dtype=np.int64
    )

    def _minhash_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            sets = pdf[shingle_col]
            lens = np.fromiter((len(s) for s in sets), dtype=np.int64, count=len(pdf))
            out = np.empty((len(pdf), num_hashes), dtype=np.int64)
            if lens.sum():
                flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in sets if len(s)])
                uflat = flat.view(np.uint64)
                nonempty = lens > 0
                starts = np.cumsum(lens[nonempty]) - lens[nonempty]
                with np.errstate(over="ignore"):
                    for i in range(num_hashes):
                        h = _xxh64_long(uflat, seeds[i]).view(np.int64)
                        out[nonempty, i] = np.minimum.reduceat(h, starts)
            out[lens == 0] = sentinel
            yield pd.DataFrame(
                {
                    "_sid": pdf["_sid"],
                    shingle_col: sets,
                    minhash_col: list(out),
                }
            )

    g = g.mapInPandas(
        _minhash_batches,
        f"_sid {id_type}, {shingle_col} array<bigint>, {minhash_col} array<bigint>",
    )
    sentinel_col = F.array(
        *[F.lit(-(1 << 62) - seed - i).cast("long") for i in range(num_hashes)]
    )
    return (
        df.join(g.withColumnRenamed("_sid", id_col), id_col, "left")
        .withColumn(shingle_col, F.coalesce(F.col(shingle_col), F.array().cast("array<bigint>")))
        .withColumn(minhash_col, F.coalesce(F.col(minhash_col), sentinel_col))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    minhash_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature and self-join per bucket → candidate id pairs
    (id_a < id_b, distinct). With k = bands·rows_per_band hashes, the match
    probability is the usual S-curve 1 − (1 − s^r)^b.

    Bucket sizes are hash-random-bounded ONLY over distinct texts — feed
    this collapsed reps (collapse_exact_duplicates), as minhash_dedup does
    by default. ``max_bucket_size`` adds a logged cap as a second line of
    defense (see _cap_buckets)."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col(minhash_col), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    if max_bucket_size is not None:
        banded = _cap_buckets(banded, ["band", "bh"], max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(
    pairs: DataFrame,
    docs_with_shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs; keeps pairs ≥ threshold.
    Joins shingle arrays onto both sides of the (small) pair set."""
    s = docs_with_shingles.select(F.col(id_col), F.col(shingle_col))
    out = (
        pairs.join(s.withColumnRenamed(id_col, "id_a").withColumnRenamed(shingle_col, "_sa"), "id_a")
        .join(s.withColumnRenamed(id_col, "id_b").withColumnRenamed(shingle_col, "_sb"), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("_union", F.size(F.array_union("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.when(F.col("_union") > 0, F.col("_inter") / F.col("_union")).otherwise(F.lit(1.0)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    collapse_exact: bool = True,
    expand_members: bool = True,
    max_bucket_size: int | None = None,
):
    """End-to-end near-dup pairs: collapse exact duplicates → shingle →
    minhash → LSH bands → exact-Jaccard verify → re-expand membership.
    Returns (id_a, id_b, jaccard).

    ``collapse_exact`` (default ON) runs candidate generation over one
    canonical doc per DISTINCT text, so an m-copy boilerplate document
    contributes ONE row to every LSH bucket instead of m — candidate-pair
    count is linear in distinct texts regardless of copy multiplicity
    (the 100 TB crawl-corpus hazard). Identical texts have identical
    shingle sets, so rep-level jaccard is exact for every member pair.
    ``expand_members=False`` skips the (output-cardinality-bound) pair
    expansion and returns (rep_pairs, members) for cluster workflows."""
    rows_per_band = num_hashes // bands
    if collapse_exact:
        reps, members = collapse_exact_duplicates(df, text_col, id_col)
        base = reps
    else:
        base = df
    mh = _shingle_minhash_fused(
        base, text_col, id_col, n=shingle_n, num_hashes=num_hashes
    )
    # the fused aggregate is the pipeline's most expensive stage and is
    # referenced FOUR times in one plan (LSH self-join a/b sides +
    # jaccard_verify's two shingle joins) — without a materialization
    # point it recomputes per reference (0 ReusedExchange in the plan;
    # the CLAUDE.md N-references lesson). Lazy localCheckpoint computes
    # it once on first use: measured 6.4 → 5.3 s best-of on the full
    # dedup_clusters pipeline at sf0.1 (BENCH.md round 6).
    # parallel_groups first: the aggregate's exchange is AQE-coalesced
    # small and the checkpoint freezes it — banding + the four join
    # probes would otherwise run on its (often single) partition count.
    from rove_spark.operators.util import parallel_groups

    mh = parallel_groups(mh, id_col).localCheckpoint(eager=False)
    sh = mh  # carries the shingle sets too (one fused aggregate)
    cands = lsh_candidate_pairs(
        mh,
        id_col=id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    rep_pairs = jaccard_verify(cands, sh, id_col=id_col, threshold=threshold)
    if not collapse_exact:
        return rep_pairs
    if not expand_members:
        return rep_pairs, members
    return _expand_member_pairs(rep_pairs, members, "jaccard", 1.0, id_col=id_col)


def dedup_components(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 25,
) -> DataFrame:
    """Duplicate clusters via min-label propagation WITH POINTER DOUBLING,
    to convergence: each round (1) pushes the minimum label one hop along
    edges, then (2) path-compresses by looking up each node's label's
    label (labels are node ids, so the label table doubles as the parent-
    pointer table). The doubling step halves the distance to the
    component minimum, so a chain of diameter d converges in O(log d)
    rounds instead of O(d) — the round-3 verdict's deep-chain fix. Both
    steps only ever lower labels (``least`` with the current value), so
    the iteration is monotone and its fixpoint equals plain propagation's
    (component minima). The loop stops when a round changes nothing
    (exact per-round change counts, read TWO rounds per Spark action —
    round 7: the common shallow-graph case of one changing round plus
    one confirming round converges in a single job). Rounds are
    localCheckpointed to keep the plan linear; the RETURNED frame is a
    projection over the final round's checkpointed RDD (cached until
    dereferenced; a caller ``unpersist()`` is a harmless no-op). Raises
    if not converged within max_rounds (pathological mega-chain — raise
    the cap)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = all_ids.select(
        F.col(id_col).alias("src"), F.col(id_col).alias("cluster_id")
    ).localCheckpoint(eager=False)

    def one_round(cur, chg_name):
        """One propagate+double round over ``cur`` (src, cluster_id,
        carried _chg columns), adding ``chg_name`` = 1 where the label
        moved. localCheckpoints truncate the plan: hop feeds the doubling
        join TWICE (data + lookup) — without truncation the plan doubles
        every round and the analyzer OOMs by ~round 8 even on a 64-node
        graph; lazy checkpoints are materialized by the convergence
        action, not a dedicated job."""
        prop = (
            edges.join(cur.select("src", "cluster_id"), on="src")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        carried = [c for c in cur.columns if c not in ("src", "cluster_id")]
        hop = (
            cur.join(prop, on="src", how="left")
            .select(
                "src",
                *carried,
                F.col("cluster_id").alias("_old"),
                F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=False)
        )
        # pointer doubling: label(u) ← label(label(u)); every label IS a
        # node id, so `hop` itself is the lookup table
        lk = hop.select(F.col("src").alias("_k"), F.col("cluster_id").alias("_next"))
        return (
            hop.join(lk, hop["cluster_id"] == lk["_k"], "left")
            .select(
                "src",
                *carried,
                (
                    F.least(F.col("cluster_id"), F.coalesce("_next", "cluster_id"))
                ).alias("cluster_id"),
                (
                    F.least(F.col("cluster_id"), F.coalesce("_next", "cluster_id"))
                    != F.col("_old")
                )
                .cast("int")
                .alias(chg_name),
            )
            .localCheckpoint(eager=False)
        )

    try:
        # TWO rounds per Spark action (round 7): each action materializes
        # the chained lazy checkpoints and reads both rounds' exact
        # change counts from the same plan — the common shallow-graph
        # case (one changing round + one confirming round) converges in
        # ONE job instead of three (init hash + 2 round hashes).
        rounds_done = 0
        while rounds_done < max_rounds:
            steps = min(2, max_rounds - rounds_done)
            cur = labels
            chg_cols = []
            for s in range(steps):
                chg = f"_chg{s}"
                cur = one_round(cur, chg)
                chg_cols.append(chg)
            stats = cur.agg(*[F.sum(c).alias(c) for c in chg_cols]).first()
            rounds_done += steps
            changed = [int(stats[c] or 0) for c in chg_cols]
            labels = cur.drop(*chg_cols)
            if changed[-1] == 0:  # last round was a fixpoint confirmation
                break
        else:
            raise RuntimeError(
                f"label propagation did not converge in {max_rounds} rounds"
            )
        return labels.withColumnRenamed("src", id_col)
    finally:
        edges.unpersist()


def dedup_components_collapsed(
    rep_pairs: DataFrame,
    members: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 25,
) -> DataFrame:
    """Duplicate clusters over the COLLAPSED near-dup graph: label
    propagation runs on one node per DISTINCT text (rep_pairs from
    ``minhash_dedup(..., expand_members=False)``), then every member
    inherits its rep's label. Labels are identical to running
    ``dedup_components`` on the fully expanded pair graph — rep ids are
    the per-exact-cluster minima and component minima over reps are the
    global component minima — but propagation cost is independent of
    duplicate multiplicity (an m-copy document is ONE graph node, not m
    nodes with m(m−1)/2 edges). Returned frame inherits
    ``dedup_components``' persist contract (caller may unpersist via its
    lineage)."""
    rep_ids = members.select(F.col("rep_id").alias(id_col)).distinct()
    rep_labels = dedup_components(
        rep_pairs, rep_ids, id_col=id_col, max_rounds=max_rounds
    )
    return members.join(
        rep_labels.withColumnRenamed(id_col, "rep_id"), "rep_id"
    ).select(id_col, "cluster_id")


# --------------------------------------------------------------- simhash --


def with_simhash_portable(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash per doc built entirely from JVM-side column
    expressions: distinct lowercase whitespace tokens → md5 hex →
    per-token 64-bit value → per-bit majority vote. A DuckDB twin can
    recompute the identical signature (md5 + hex-digit arithmetic), which
    is what makes the driver's simhash query exactly oracle-able.

    Execution shape: tokens are EXPLODED and the 64 bit-majorities run as
    one single-pass groupBy of packed sum aggregates (map-side combine).
    The tempting pure-projection form (token-hash array + 64
    ``aggregate`` lambdas) recomputes the md5 chain inside every lambda —
    Catalyst collapses the projection and does not CSE across
    higher-order functions (CLAUDE.md; measured 4× slower at sf0.1)."""
    from functools import reduce

    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("_t")), r"\s+"), lambda w: F.length(w) > 0)
    )
    h = F.md5(F.col("_w"))
    # big-endian md5 hex → int64 (bit b lives in hex digit 16 - b//4)
    tok = F.shiftleft(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32).bitwiseOR(
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    )
    # the signature is a pure function of the text: compute it once per
    # DISTINCT text and join back on a 128-bit text key (texts themselves
    # never shuffle twice; duplicate rows keep their multiplicity)
    # NULL-safe join key: md5(NULL) is NULL and would drop NULL-text rows
    # from the output on the signature join; NULL and "" share a key AND
    # a signature (both tokenize to nothing), so coalescing is lossless
    texts = (
        df.select(F.coalesce(F.col(text_col), F.lit("")).alias("_t"))
        .distinct()
        .select(F.md5("_t").alias("_k"), "_t")
    )
    # pin parallelism BEFORE the CPU-dense explode+md5 expansion: the
    # distinct-texts shuffle is tiny by bytes, so AQE coalesces it (1
    # partition at sf0.1) and the per-token md5/conv work would run
    # serial. Exchange-count-neutral: hash(_k) clustering is reused by
    # the groupBy below, so this MOVES the aggregate's exchange ahead of
    # the expansion instead of adding one (round 7, interleaved A/B).
    from rove_spark.operators.util import parallel_groups

    texts = parallel_groups(texts, "_k")
    exploded = texts.select("_k", F.explode_outer(words).alias("_w")).withColumn("_tv", tok)

    # packed bit-count lanes: 4 × 16-bit counters per long → 16 sum
    # aggregates instead of 64. The 64-aggregate form spent ~2.6 s of
    # one-time whole-stage-codegen JIT per JVM (the CLAUDE.md wide-codegen
    # constant, charged to every fresh bench run); the packed form JITs in
    # ~0.35 s with bit-identical signatures (round 7, equality-gated).
    # 16-bit lanes are exact below 2¹⁶ distinct tokens per text; the
    # raise_error guard keeps a pathological overflow loud, not silent.
    def _lane_addend(g: int):
        return reduce(
            lambda a, b: a + b,
            [
                F.shiftleft(
                    F.shiftrightunsigned(F.col("_tv"), 4 * g + lane).bitwiseAND(F.lit(1)),
                    16 * lane,
                )
                for lane in range(4)
            ],
        )

    packs = [F.sum(_lane_addend(g)).alias(f"_p{g}") for g in range(16)]
    agg = exploded.groupBy("_k").agg(F.count("_tv").alias("_n"), *packs)
    n_guarded = F.when(
        F.col("_n") >= (1 << 16),
        F.raise_error(
            F.lit("with_simhash_portable: >= 2^16 distinct tokens in one text "
                  "overflows the packed 16-bit count lanes")
        ),
    ).otherwise(F.col("_n"))

    def _ones(b: int):
        g, lane = b // 4, b % 4
        return F.shiftrightunsigned(F.col(f"_p{g}"), 16 * lane).bitwiseAND(
            F.lit((1 << 16) - 1)
        )

    sig = reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.shiftleft(
                F.when(_ones(b) * 2 > n_guarded, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                b,
            )
            for b in range(64)
        ],
    )
    sigs = agg.select("_k", sig.alias(out_col))
    return (
        df.withColumn("_k", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
        .join(sigs, "_k")
        .drop("_k")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming: block the 64-bit
    hash into ``blocks`` chunks (pigeonhole: any pair within distance
    max_hamming < blocks shares ≥1 exact chunk), bucket-join on chunks,
    verify with bit_count(xor).

    The pigeonhole guarantee requires ``max_hamming < blocks`` — with
    distance ≥ blocks, every chunk can differ and the candidate set is
    silently incomplete, so that combination is rejected outright."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks; got "
            f"max_hamming={max_hamming}, blocks={blocks} — raise blocks to "
            f"≥ {max_hamming + 1} (completeness) or lower max_hamming"
        )
    if 64 % blocks != 0:
        raise ValueError(f"blocks={blocks} must divide 64")
    width = 64 // blocks
    blocked = df.select(
        F.col(id_col).alias("_id"),
        F.col(simhash_col).alias("_sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("blk"),
                        F.shiftrightunsigned(F.col(simhash_col), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bh"),
                    )
                    for bi in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sh", F.col("bb.blk").alias("blk"), F.col("bb.bh").alias("bh"))
    if max_bucket_size is not None:
        blocked = _cap_buckets(blocked, ["blk", "bh"], max_bucket_size)
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.bh") == F.col("b.bh"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    collapse_exact: bool = True,
    expand_members: bool = True,
    max_bucket_size: int | None = None,
):
    """End-to-end SimHash near-dup pairs with the same exact-duplicate
    hardening as minhash_dedup: signatures and blocked candidate joins run
    over one canonical doc per DISTINCT text (the signature is a pure
    function of the text, so rep-level Hamming is exact for every member
    pair), then membership is re-expanded — within-cluster pairs at
    hamming 0, cross-cluster pairs at the rep distance. Returns
    (id_a, id_b, hamming). Signatures come from ``with_simhash_portable``
    (md5-derived, so the driver's DuckDB oracle recomputes them exactly)."""
    if collapse_exact:
        reps, members = collapse_exact_duplicates(df, text_col, id_col)
        base = reps
    else:
        base = df
    signed = with_simhash_portable(base, text_col=text_col)
    rep_pairs = simhash_near_dup_pairs(
        signed,
        id_col=id_col,
        max_hamming=max_hamming,
        blocks=blocks,
        max_bucket_size=max_bucket_size,
    )
    if not collapse_exact:
        return rep_pairs
    if not expand_members:
        return rep_pairs, members
    return _expand_member_pairs(
        rep_pairs, members, "hamming", F.lit(0).cast("int"), id_col=id_col
    )


# ------------------------------------------------------ embedding cosine --


def md5_hyperplanes(
    n_planes: int, dim: int, tag: str = "plane"
) -> list[tuple[int, int, float]]:
    """Deterministic cross-engine hyperplane components: for plane p and
    dimension d, w(p,d) = u32(md5('<tag>|p|d')) / 2^32 * 2 - 1 ∈ [-1, 1).
    Any engine with md5 can rebuild the identical planes (DuckDB via the
    ``synthetic_coords_sql`` strpos-polynomial recipe), which is what
    makes the embedding near-dup driver query exactly oracle-able —
    uniform components are fine for sign-LSH (symmetric about 0)."""
    import hashlib

    out = []
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{tag}|{p}|{d}".encode()).hexdigest()
            out.append((p, d, int(h[:8], 16) / 4294967296.0 * 2.0 - 1.0))
    return out


def embedding_near_dup_pairs_portable(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 8,
    planes_per_band: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-dup via random-hyperplane LSH with OR-amplification:
    ``bands`` sketches of ``planes_per_band`` sign bits each; a pair is a
    candidate if ANY band matches, then verified with exact cosine.
    Hyperplanes come from ``md5_hyperplanes``, so DuckDB rebuilds the
    identical planes and the driver's embedding query is exactly
    oracle-able.

    Recall (sign-LSH collision prob p ≈ 1 − θ/π): with b bands of r
    planes the candidate prob is 1 − (1 − p^r)^b; the defaults (b=8,
    r=4) give ≈ 0.9998 at cosine 0.95, where a single 16-bit sketch
    would collide with prob p^16 ≈ 0.18.

    Plan shape: one ``mapInPandas`` stage computes every sketch as a
    numpy matmul per Arrow batch; the banded table is narrow (id, band,
    sketch) and the exact cosine attaches vectors to the distinct
    candidate pairs only.

    Components are cast to DOUBLE before multiplying so both engines do
    f64 arithmetic (DuckDB promotes FLOAT·DOUBLE to f64; a Spark-side
    f32 product would round differently at ~1e-8 and could flip sketch
    signs / 6-dp cosine rounding at boundaries). Remaining cross-engine
    drift is summation order only (~1e-15 relative) — sign decisions and
    6-dp rounding are robust to it w.h.p.

    Returns (id_a, id_b, cosine) for pairs sharing ≥1 band sketch with
    exact cosine ≥ threshold; ``cosine`` rounded to 6 dp for stable
    cross-engine value hashing."""
    if dim is None:
        bounds = df.agg(
            F.min(F.size(vec_col)).alias("mn"), F.max(F.size(vec_col)).alias("mx")
        ).first()
        if bounds["mn"] is None:
            raise ValueError("embedding_near_dup_pairs_portable: empty input frame")
        if bounds["mn"] != bounds["mx"]:
            raise ValueError(
                f"ragged embedding column {vec_col!r}: lengths "
                f"{bounds['mn']}..{bounds['mx']} — posexplode would silently "
                "drop tail dimensions of longer vectors; fix upstream or "
                "pass dim explicitly"
            )
        dim = int(bounds["mn"])
    from functools import reduce

    import numpy as np

    from rove_spark.operators.util import parallel_groups

    n_planes = bands * planes_per_band

    # sketches: one numpy matmul per Arrow batch (V @ W, then sign bits →
    # per-band integer sketches). Replaces the round-6 explode + plane
    # join + two groupBys (dim·n_planes rows per vector through codegen)
    # with a single vectorized pandas stage — measured 2.4× on the whole
    # operator at sf0.1 (round 7). Band/sign values are identical; dot
    # summation order differs (BLAS pairwise vs aggregate), which the
    # oracle contract already classes as w.h.p.-robust (sign decisions at
    # |dot| ≈ 0 and 6-dp rounding; same class as the engine-vs-DuckDB
    # order difference), and the pair set is equality-gated vs the old
    # shape in test_dedup.
    W = np.zeros((dim, n_planes))
    for p, d, w in md5_hyperplanes(n_planes, dim):
        W[d, p] = w

    id_type = dict(df.dtypes)[id_col]
    vecs = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    ).filter(F.col("_v").isNotNull())
    # referenced three times (sketch stage + both pair-attach joins);
    # parallel_groups first — the single-file scan/AQE would freeze one
    # partition into the checkpoint (round-7 lesson)
    vecs = parallel_groups(vecs, "_id").localCheckpoint(eager=False)

    def _sketches(batches):
        import pandas as pd

        shifts = (1 << (np.arange(n_planes) % planes_per_band)).astype(np.int64)
        band_of = np.arange(n_planes) // planes_per_band
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
            bits = (V @ W >= 0).astype(np.int64) * shifts[None, :]
            sk = np.zeros((len(pdf), bands), dtype=np.int64)
            for b in range(bands):
                sk[:, b] = bits[:, band_of == b].sum(axis=1)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf["_id"].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int64), len(pdf)),
                    "sketch": sk.reshape(-1),
                }
            )

    sk = vecs.mapInPandas(_sketches, f"_id {id_type}, band long, sketch long")
    a, b = sk.alias("a"), sk.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.sketch") == F.col("b.sketch"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # exact-cosine verify: attach both arrays to each candidate pair
    # (vec table broadcasts when small; shuffle-join on id at scale) and
    # compute dp/norms as fixed dim-term codegen sums — no per-(pair,
    # dim) row explosion (the round-6 shape pushed cand·dim rows through
    # two joins; at sf0.1 that was 16M rows for 255k candidates).
    # dim-term expression trees stay well inside whole-stage codegen at
    # embedding dims (64 here; the round-5 falloff was at 2048 terms).
    att = cand.join(
        vecs.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va")), "id_a"
    ).join(vecs.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb")), "id_b")

    def _term_sum(mk):
        return reduce(lambda x, y: x + y, [mk(i) for i in range(1, dim + 1)])

    dp = _term_sum(lambda i: F.element_at("_va", i) * F.element_at("_vb", i))
    na = F.sqrt(_term_sum(lambda i: F.element_at("_va", i) * F.element_at("_va", i)))
    nb = F.sqrt(_term_sum(lambda i: F.element_at("_vb", i) * F.element_at("_vb", i)))
    return (
        att.select("id_a", "id_b", (dp / (na * nb)).alias("_c"))
        .filter(F.col("_c") >= threshold)
        .select("id_a", "id_b", F.round("_c", 6).alias("cosine"))
    )
