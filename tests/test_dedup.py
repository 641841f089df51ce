"""Dedup operators: exact, MinHash+LSH (recall on planted near-dups, no
false positives after verify), SimHash hamming, embedding-cosine LSH,
cluster labeling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rove_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # 20 distinct docs
    for i in range(20):
        rows.append((i, f"document {i} " + " ".join(f"tok{i}_{j}" for j in range(30))))
    # planted near-dups of doc 0: BASE with one word changed
    rows.append((100, BASE))
    rows.append((101, BASE.replace("lazy", "sleepy")))
    rows.append((102, BASE.replace("garden", "park")))
    # exact duplicate pair
    rows.append((200, "exactly the same text content here"))
    rows.append((201, "exactly the same text content here"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs)
    kept = {r.doc_id: r.n_copies for r in out.collect()}
    assert kept[200] == 2 and 201 not in kept
    assert kept[100] == 1


def test_minhash_finds_planted_neardups(spark, docs):
    pairs = dedup.minhash_dedup(docs, threshold=0.6).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (100, 101) in got and (100, 102) in got and (101, 102) in got
    # no cross-contamination with the distinct docs
    assert all(a >= 100 and b >= 100 for a, b in got)


def test_jaccard_verify_kills_false_candidates(spark, docs):
    sh = dedup.with_shingles(docs)
    fake = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = dedup.jaccard_verify(fake, sh, threshold=0.5)
    assert out.count() == 0


def test_minhash_deterministic(spark, docs):
    a = dedup.with_minhash(dedup.with_shingles(docs)).select("doc_id", "minhash").collect()
    b = dedup.with_minhash(dedup.with_shingles(docs)).select("doc_id", "minhash").collect()
    assert sorted(map(tuple, ((r.doc_id, tuple(r.minhash)) for r in a))) == sorted(
        map(tuple, ((r.doc_id, tuple(r.minhash)) for r in b))
    )


def test_simhash_near_dups(spark, docs):
    sh = dedup.with_simhash_portable(docs)
    # max_hamming=10 needs ≥11 blocks for pigeonhole completeness → 16
    pairs = dedup.simhash_near_dup_pairs(sh, max_hamming=10, blocks=16).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (200, 201) in got  # identical text → hamming 0
    assert (100, 101) in got  # one-word change → small hamming
    assert all(a >= 100 for a, _ in got)


def test_simhash_blocking_contract_enforced(spark, docs):
    sh = dedup.with_simhash_portable(docs)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_dup_pairs(sh, max_hamming=16, blocks=4)


def test_simhash_blocking_complete_vs_brute_force(spark, docs):
    """Pigeonhole completeness: blocked candidate join finds EXACTLY the
    brute-force Hamming-≤h pair set (the round-1 silent-recall bug)."""
    sh = dedup.with_simhash_portable(docs).select("doc_id", "simhash")
    for h, blocks in [(3, 4), (7, 8)]:
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_near_dup_pairs(sh, max_hamming=h, blocks=blocks).collect()
        }
        a, b = sh.alias("a"), sh.alias("b")
        brute = {
            (r.id_a, r.id_b, r.hamming)
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
            )
            .filter(F.col("hamming") <= h)
            .collect()
        }
        assert got == brute


def test_simhash_portable_matches_duckdb(spark, docs):
    """The portable simhash is bit-identical to an independent DuckDB
    recomputation (md5 + hex-digit arithmetic) — the oracle contract."""
    import duckdb

    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    duck = dict(
        con.execute(
            r"""
            WITH toks AS (
              SELECT doc_id,
                     [md5(w) for w in list_distinct(list_filter(
                        string_split_regex(lower(text), '\s+'), x -> len(x) > 0))] AS hs
              FROM docs
            )
            SELECT doc_id,
                   list_aggregate([CASE WHEN coalesce(list_sum(
                       [2*(((strpos('0123456789abcdef', substr(h, CAST(16 - (b // 4) AS INT), 1)) - 1)
                            >> (b % 4)) & 1) - 1 for h in hs]), 0) > 0
                     THEN '1' ELSE '0' END for b in range(0, 64)], 'string_agg', '') AS s
            FROM toks
            """
        ).fetchall()
    )
    got = dedup.with_simhash_portable(docs).select("doc_id", "simhash").collect()
    for r in got:
        bits = "".join(str((r.simhash >> b) & 1) for b in range(64))
        assert bits == duck[r.doc_id], r.doc_id


def test_dedup_components(spark, docs):
    pairs = dedup.minhash_dedup(docs, threshold=0.6)
    labels = dedup.dedup_components(pairs, docs.select("doc_id"))
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got[100] == got[101] == got[102] == 100
    assert got[5] == 5  # singleton


def test_fused_shingle_minhash_equals_composed(spark, docs):
    """The codegen explode/window/aggregate path must produce EXACTLY the
    composed with_shingles∘with_minhash values — shingle sets,
    signatures, and the empty-set sentinel (doc with <3 words)."""
    extra = spark.createDataFrame([(9001, "tiny doc"), (9002, "")], "doc_id long, text string")
    base = docs.select("doc_id", "text").unionByName(extra)
    comp = dedup.with_minhash(dedup.with_shingles(base)).select(
        "doc_id", F.sort_array(F.array_distinct("shingles")).alias("s"), "minhash"
    )
    fused = dedup._shingle_minhash_fused(base, "text", "doc_id").select(
        "doc_id", F.col("shingles").alias("s"), "minhash"
    )
    j = comp.alias("c").join(fused.alias("f"), "doc_id")
    assert j.count() == base.count()
    bad = j.filter(
        (F.col("c.s") != F.col("f.s")) | (F.col("c.minhash") != F.col("f.minhash"))
    ).count()
    assert bad == 0


def test_dedup_components_chain_converges_logarithmically(spark):
    """Planted 64-node path graph: pointer doubling must converge within
    ~⌈log₂ 64⌉ rounds (plain one-hop propagation would need 63 —
    dedup_components raises past max_rounds, so a pass IS the bound)."""
    ids = spark.range(64).select(F.col("id").alias("doc_id"))
    pairs = spark.range(63).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    labels = dedup.dedup_components(pairs, ids, max_rounds=9)  # log2(64)+3
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert set(got.values()) == {0} and len(got) == 64
    labels.unpersist()


def test_embedding_near_dup(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = []
    for i in range(10):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    near = base + rng.standard_normal(16) * 0.02
    rows.append((100, [float(x) for x in base / np.linalg.norm(base)]))
    rows.append((101, [float(x) for x in near / np.linalg.norm(near)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_near_dup_pairs_portable(df, threshold=0.98).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (100, 101) in got
    assert all({a, b} == {100, 101} for a, b in got)


def test_embedding_lsh_recall_vs_brute_force(spark):
    """OR-amplified banding must recover ≥0.9 (measured: ~1.0) of the true
    cosine-≥0.95 pairs — the round-1 single-band sketch recalled ~0.18."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim, rows = 16, []
    vid = 0
    true_pairs = set()
    for c in range(40):  # 40 planted near-dup pairs at cosine ≈0.95-0.999
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        noise = rng.standard_normal(dim) * rng.uniform(0.02, 0.09)
        near = base + noise
        near /= np.linalg.norm(near)
        if float(base @ near) >= 0.95:
            true_pairs.add((vid, vid + 1))
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in near]))
        vid += 2
    for _ in range(80):  # random background
        v = rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    assert len(true_pairs) >= 10
    # double schema: keeps Spark's cosine bit-comparable with the numpy
    # float64 brute force at the 0.95 boundary
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs_portable(df, threshold=0.95).collect()
    }
    # exact brute force over all pairs (numpy)
    V = dict(rows)
    ids = sorted(V)
    M = np.array([V[i] for i in ids], dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    brute = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.95
    }
    assert brute >= true_pairs
    recall = len(got & brute) / len(brute)
    assert recall >= 0.9, f"recall {recall:.3f} over {len(brute)} true pairs"
    assert got <= brute  # exact-cosine verify kills all false candidates


def test_lsh_on_documents_table(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = dedup.minhash_dedup(docs, threshold=0.9)
    exact = dedup.exact_dedup(docs)
    n_exact_dups = exact.filter(F.col("n_copies") > 1).count()
    # identical texts (if any) must be found by the LSH path too
    found = pairs.filter(F.col("jaccard") >= 0.999).count()
    assert pairs.count() >= 0  # plan executes end-to-end
    if n_exact_dups:
        assert found > 0


# ------------------------- exact-duplicate cluster hardening (round 3) --


def test_collapse_exact_duplicates_structure(spark, docs):
    reps, members = dedup.collapse_exact_duplicates(docs)
    rep_rows = {r.doc_id for r in reps.select("doc_id").collect()}
    mem = {r.doc_id: r.rep_id for r in members.collect()}
    # one rep per distinct text; duplicates map to the min id
    assert 200 in rep_rows and 201 not in rep_rows
    assert mem[201] == 200 and mem[200] == 200
    assert mem[100] == 100
    assert len(mem) == docs.count()


def test_candidate_pairs_linear_in_distinct_texts(spark):
    """THE mega-cluster hazard test (round-2 verdict #1): planting m exact
    copies of one document must leave LSH candidate generation linear in
    DISTINCT-text count — not m(m-1)/2 pairs out of one bucket."""
    m = 2000
    rows = [(i, "common boilerplate license header repeated verbatim " * 5)
            for i in range(m)]
    for i in range(30):
        rows.append((10_000 + i, f"unique doc {i} " + " ".join(f"w{i}_{j}" for j in range(25))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    reps, members = dedup.collapse_exact_duplicates(df)
    assert reps.count() == 31
    mh = dedup.with_minhash(dedup.with_shingles(reps))
    cands = dedup.lsh_candidate_pairs(mh)
    # ≤ C(31,2) = 465 candidate pairs — vs C(2000,2) ≈ 2.0M uncollapsed
    assert cands.count() <= 465

    # end-to-end pair set is still complete: the m-copy cluster expands to
    # exactly m(m-1)/2 jaccard-1.0 OUTPUT pairs (output-bound, no hot key)
    pairs = dedup.minhash_dedup(df, threshold=0.9)
    assert pairs.filter((F.col("id_a") < m) & (F.col("id_b") < m)).count() == m * (m - 1) // 2


def test_minhash_collapse_equals_direct(spark, docs):
    """Collapse + re-expand must produce EXACTLY the pair set of the
    direct (uncollapsed) path on a mixed corpus."""
    direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_dedup(docs, threshold=0.5, collapse_exact=False).collect()
    }
    collapsed = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_dedup(docs, threshold=0.5, collapse_exact=True).collect()
    }
    assert collapsed == direct


def test_simhash_collapse_equals_direct(spark, docs):
    direct = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_dedup(docs, max_hamming=3, blocks=4, collapse_exact=False).collect()
    }
    collapsed = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_dedup(docs, max_hamming=3, blocks=4, collapse_exact=True).collect()
    }
    assert collapsed == direct


def test_expand_members_false_returns_cluster_view(spark, docs):
    rep_pairs, members = dedup.minhash_dedup(docs, threshold=0.5, expand_members=False)
    assert set(rep_pairs.columns) == {"id_a", "id_b", "jaccard"}
    assert set(members.columns) == {"doc_id", "rep_id"}
    reps_in_pairs = {r.id_a for r in rep_pairs.collect()} | {
        r.id_b for r in rep_pairs.collect()
    }
    assert 201 not in reps_in_pairs  # duplicates never reach the pair join


def test_bucket_cap_drops_with_logged_count(spark, caplog):
    """max_bucket_size is defense-in-depth: oversized NEAR-dup buckets are
    dropped with a logged count, never silently."""
    import logging

    # 50 distinct-but-near-identical texts → one hot LSH bucket per band
    rows = [(i, BASE + f" tail{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = dedup.with_minhash(dedup.with_shingles(df))
    with caplog.at_level(logging.WARNING, logger="rove_spark.operators.dedup"):
        capped = dedup.lsh_candidate_pairs(mh, max_bucket_size=10)
        n_capped = capped.count()
    full = dedup.lsh_candidate_pairs(mh).count()
    assert n_capped < full
    assert any("dropped" in r.message for r in caplog.records)


def test_minhash_hash_functions_are_independent(spark):
    """Regression (round 3): PySpark binds a two-arg lambda in transform()
    as (element, index), so `lambda x, i=i` silently made all 64 hash
    functions identical (the seed became the array-position column). A
    real signature has (w.h.p.) 64 distinct entries."""
    df = spark.createDataFrame([(1, "a b c d e f g h i j")], "doc_id long, text string")
    sig = dedup.with_minhash(dedup.with_shingles(df)).first().minhash
    assert len(set(sig)) == len(sig) == 64


def test_collapsed_components_equal_expanded(spark, docs):
    """Collapsed-graph clustering labels == expanded-graph labels
    (rep ids are per-cluster minima, so component minima agree)."""
    expanded = dedup.dedup_components(
        dedup.minhash_dedup(docs, threshold=0.5), docs.select("doc_id")
    )
    rep_pairs, members = dedup.minhash_dedup(docs, threshold=0.5, expand_members=False)
    collapsed = dedup.dedup_components_collapsed(rep_pairs, members)
    a = {(r.doc_id, r.cluster_id) for r in expanded.collect()}
    b = {(r.doc_id, r.cluster_id) for r in collapsed.collect()}
    assert a == b
    d = dict(b)  # 200/201 share the exact-dup cluster
    assert d[201] == d[200] == 200


def test_blocked_expansion_equals_plain(spark, docs):
    """The blocked triangle/product expansion (no hot shuffle key) emits
    exactly the plain-join pair set for any block count."""
    rep_pairs, members = dedup.minhash_dedup(docs, threshold=0.5, expand_members=False)
    base = None
    for b in (1, 3, 8):
        got = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in dedup._expand_member_pairs(
                rep_pairs, members, "jaccard", 1.0, blocks=b
            ).collect()
        )
        assert len(got) == len(set(got))  # no duplicate pairs
        base = got if base is None else base
        assert got == base, f"blocks={b}"


def test_null_text_docs_survive_collapse(spark):
    """Round-3 review: NULL sha2 keys must not drop NULL-text docs from
    members — collapse+expand and cluster labels must match direct."""
    rows = [(1, None), (2, None), (3, "real doc with several words here"),
            (4, ""), (5, "real doc with several words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    reps, members = dedup.collapse_exact_duplicates(df)
    assert members.count() == 5  # nobody dropped
    mem = {r.doc_id: r.rep_id for r in members.collect()}
    assert mem[1] == mem[2] == 1 and mem[5] == 3
    direct = {
        (r.id_a, r.id_b) for r in dedup.minhash_dedup(df, threshold=0.5, collapse_exact=False).collect()
    }
    collapsed = {
        (r.id_a, r.id_b) for r in dedup.minhash_dedup(df, threshold=0.5).collect()
    }
    assert collapsed == direct and (1, 2) in collapsed
    # cluster labels cover every doc
    rp, mm = dedup.minhash_dedup(df, threshold=0.5, expand_members=False)
    labels = dedup.dedup_components_collapsed(rp, mm)
    assert {r.doc_id for r in labels.collect()} == {1, 2, 3, 4, 5}
    # portable simhash keeps null-text rows too
    assert dedup.with_simhash_portable(df).count() == 5


def test_fuzz_collapse_equals_direct_random_corpus(spark):
    """Seeded fuzz twin of the collapse contract: random corpus with
    random exact-dup multiplicities, empty and NULL texts — the collapsed
    default must emit exactly the direct path's pair set, for both
    MinHash and SimHash."""
    import random

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(30)]
    rows, did = [], 0
    for _ in range(25):
        n = rng.randint(5, 12)
        text = " ".join(rng.choice(vocab) for _ in range(n))
        for _ in range(rng.randint(1, 6)):  # exact-dup multiplicity
            rows.append((did, text))
            did += 1
    rows += [(did, ""), (did + 1, None), (did + 2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    mh_direct = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_dedup(df, threshold=0.6, collapse_exact=False).collect()
    }
    mh_coll = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_dedup(df, threshold=0.6).collect()
    }
    assert mh_coll == mh_direct and len(mh_coll) > 20

    sh_direct = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_dedup(df, collapse_exact=False).collect()
    }
    sh_coll = {
        (r.id_a, r.id_b, r.hamming) for r in dedup.simhash_dedup(df).collect()
    }
    assert sh_coll == sh_direct and len(sh_coll) > 20


def test_embedding_portable_planted_recall(spark):
    """The md5-hyperplane portable variant finds planted near-dups at its
    banded threshold, with exact cosine verification (driver-query twin)."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim, rows, vid = 16, [], 0
    planted = set()
    for _ in range(20):
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        near = base + rng.standard_normal(dim) * 0.03
        near /= np.linalg.norm(near)
        if float(base @ near) >= 0.95:
            planted.add((vid, vid + 1))
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in near]))
        vid += 2
    for _ in range(40):
        v = rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_dup_pairs_portable(
            df, threshold=0.95, dim=dim
        ).collect()
    }
    found = planted & set(got)
    assert len(found) / max(1, len(planted)) >= 0.9
    # exact verify: every returned cosine really is >= threshold
    assert all(c >= 0.95 for c in got.values())


def test_md5_hyperplanes_deterministic_and_bounded():
    p1 = dedup.md5_hyperplanes(4, 8)
    p2 = dedup.md5_hyperplanes(4, 8)
    assert p1 == p2
    assert len(p1) == 32
    assert all(-1.0 <= w < 1.0 for _, _, w in p1)
    # roughly sign-balanced (uniform over [-1,1))
    pos = sum(1 for _, _, w in p1 if w >= 0)
    assert 8 <= pos <= 24


def test_xxh64_numpy_twin_matches_spark(spark):
    """The numpy XxHash64 twin (round-7 minhash kernel) must chain
    bit-exactly like F.xxhash64(lit(int_seed), long_col): hashInt for the
    int literal, hashLong for the value, default seed 42."""
    import numpy as np

    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789123456789, -987654321]
    df = spark.createDataFrame([(v,) for v in vals], "g long")
    with np.errstate(over="ignore"):
        for seed_i in (0, 13, 14, 76):
            got = [
                r[0] for r in df.select(F.xxhash64(F.lit(seed_i), F.col("g"))).collect()
            ]
            s = dedup._xxh64_int(np.array([seed_i], dtype=np.uint64), np.uint64(42))[0]
            mine = dedup._xxh64_long(
                np.array(vals, dtype=np.int64).view(np.uint64), s
            ).view(np.int64)
            assert list(mine) == got
