"""Text analysis operators: language ID, quality score,
fingerprints — exact expectations on hand-built docs + behavior on the
driver's documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rove_spark.operators import textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog and it is happy."),
        (2, "Der Hund ist nicht mit der Katze und das ist gut für alle."),
        (3, "le chat est dans la maison et il ne dort pas pour une fois"),
        (4, "el perro es grande y no come con los gatos por la noche"),
        (5, "zzz qqq xxx"),
        (6, ""),
        (7, "word word word word word word word word"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_langid(spark, docs):
    out = {r.doc_id: r.lang_pred for r in textstats.with_langid(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "es"
    assert out[5] == "und"
    assert out[6] == "und"


def test_quality_score(spark, docs):
    out = {r.doc_id: r for r in textstats.with_quality(docs).collect()}
    assert out[1].quality_score > out[5].quality_score  # real sentence beats junk
    assert out[1].quality_score > out[7].quality_score  # repetition penalized
    assert 0.0 <= out[6].quality_score <= 1.0
    assert out[7].distinct_word_ratio == pytest.approx(1 / 8)
    assert out[1].stopword_ratio > 0.2


def test_fingerprint_portable_matches_semantics(spark, docs):
    """Distinct documents get distinct exact fps, and the winnowing
    property holds: robust fp stable under a tiny suffix edit, exact fp
    not."""
    rows = {r.doc_id: r for r in textstats.with_fingerprint_portable(docs).collect()}
    assert len({r.fp_exact for r in rows.values()}) == len(rows)
    base = docs.filter(F.col("doc_id") == 1).select("text").first()[0]
    pair = spark.createDataFrame(
        [(1, base), (2, base + " extra")], "doc_id long, text string"
    )
    fps = {
        r.doc_id: r
        for r in textstats.with_fingerprint_portable(pair, k_smallest=4).collect()
    }
    assert fps[1].fp_exact != fps[2].fp_exact
    assert fps[1].fp_robust == fps[2].fp_robust
    # deterministic across invocations
    again = {
        r.doc_id: r
        for r in textstats.with_fingerprint_portable(pair, k_smallest=4).collect()
    }
    assert fps[1].fp_robust == again[1].fp_robust


def test_fingerprint_portable_codegen_path_equals_lambda_path(spark, docs):
    """with_fingerprint_portable(id_col=...) — explode/window/codegen —
    must equal the generic array-lambda path exactly, including empty
    and <3-word docs."""
    extra = spark.createDataFrame([(9001, "one two"), (9002, "")], "doc_id long, text string")
    base = docs.select("doc_id", "text").unionByName(extra)
    a = textstats.with_fingerprint_portable(base).select("doc_id", "fp_exact", "fp_robust")
    b = textstats.with_fingerprint_portable(base, id_col="doc_id").select(
        "doc_id", "fp_exact", "fp_robust"
    )
    j = a.alias("a").join(b.alias("b"), "doc_id")
    assert j.count() == base.count()
    bad = j.filter(
        (F.col("a.fp_exact") != F.col("b.fp_exact"))
        | (F.col("a.fp_robust") != F.col("b.fp_robust"))
    ).count()
    assert bad == 0


def test_on_documents_table(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = textstats.with_quality(textstats.with_langid(docs))
    row = out.agg(
        F.min("quality_score"), F.max("quality_score"), F.countDistinct("lang_pred")
    ).first()
    assert 0.0 <= row[0] <= row[1] <= 1.0
    assert out.count() == docs.count()


def test_plan_stays_jvm_side(spark, docs):
    out = textstats.with_quality(textstats.with_langid(docs))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_pii_counts_and_redaction(spark):
    from rove_spark.operators.textstats import redact_pii, with_pii_counts

    rows = [
        (1, "mail me at alice.smith+x@sub.example.org or bob@ex.io thanks"),
        (2, "server 192.168.1.100 and 10.0.0.1 responded"),
        (3, "call 555-867-5309 ref 123e4567-e89b-12d3-a456-426614174000"),
        (4, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in with_pii_counts(df).collect()}
    assert got[1].n_email == 2 and got[1].pii_total == 2
    assert got[2].n_ipv4 == 2
    assert got[3].n_phone == 1 and got[3].n_uuid == 1
    assert got[4].pii_total == 0
    # redaction: placeholders in, zero counts out
    red = redact_pii(df)
    after = {
        r.doc_id: r
        for r in with_pii_counts(red, text_col="text_redacted").collect()
    }
    assert all(after[i].pii_total == 0 for i in (1, 2, 3, 4))
    texts = {r.doc_id: r.text_redacted for r in red.collect()}
    assert "<email>" in texts[1] and "<ipv4>" in texts[2]
    assert "<phone>" in texts[3] and "<uuid>" in texts[3]


def test_repetition_stats(spark):
    from rove_spark.operators.textstats import repetition_stats

    rows = [
        (1, "spam spam spam spam eggs"),  # 5 words, 2 distinct, top=4/5
        (2, "all words here are unique"),
        (3, "  "),  # no words -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert set(got) == {1, 2}
    assert got[1].n_words == 5 and got[1].n_distinct == 2
    assert abs(got[1].dup_word_frac - 0.6) < 1e-9
    assert abs(got[1].top_word_frac - 0.8) < 1e-9
    assert got[2].dup_word_frac == 0.0 and abs(got[2].top_word_frac - 0.2) < 1e-9


def test_decontaminate_planted(spark):
    """Hand-built contamination: exact positional counts, multiplicity,
    short docs, case folding, disjoint vocab."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # contains the 5-token benchmark span → its two 4-grams hit;
            # 7 tokens → 4 gram positions, 2 contaminated
            (1, "intro ALPHA beta gamma delta epsilon outro"),
            # repeats one benchmark 4-gram twice → multiplicity counts
            (2, "alpha beta gamma delta x alpha beta gamma delta"),
            (3, "totally disjoint vocabulary here right now"),
            (4, "too short"),  # < n tokens → nothing to test
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in textstats.decontaminate(corpus, bench, n=4, threshold=0.5).collect()
    }
    assert (out[1].n_grams, out[1].n_contaminated) == (4, 2)
    assert out[1].contaminated_frac == pytest.approx(0.5)
    assert out[1].is_contaminated  # 0.5 >= 0.5, decided on the rounded value
    # doc 2: 9 tokens → 6 positions; grams at pos 1 and 6 are
    # "alpha beta gamma delta" (in bench), the rest cross the 'x'
    assert (out[2].n_grams, out[2].n_contaminated) == (6, 2)
    assert not out[2].is_contaminated
    assert (out[3].n_grams, out[3].n_contaminated) == (3, 0)
    assert (out[4].n_grams, out[4].n_contaminated) == (0, 0)
    assert not out[4].is_contaminated and out[4].contaminated_frac == 0.0
    assert (out[5].n_grams, out[5].n_contaminated) == (0, 0)
    assert len(out) == 5  # every corpus doc present exactly once


def test_decontaminate_rejects_unigrams(spark, docs):
    with pytest.raises(ValueError, match="n-gram length"):
        textstats.decontaminate(docs, docs, n=1)


def test_decontaminate_plan_shape(spark):
    """Benchmark side broadcast; corpus side shuffles once on the doc id
    (the window partitioning feeds the count aggregate — no second
    corpus exchange)."""
    bench = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        textstats.decontaminate(corpus, bench, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan and "FlatMapGroupsInPandas" not in plan
