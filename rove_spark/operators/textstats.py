"""Text analysis for training-data pipelines: language ID, quality
scoring, document fingerprinting. All pure column expressions
(whole-stage codegen; no Python in the hot path).

Engine extras (no rove counterpart; the reference's scalar-function surface
is tiny — SURVEY §2.7 — these are the transcript/corpus-domain analogs)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal marker sets for the n-gram/stopword language heuristic.
# (A production system would ship per-language frequency models; the
# operator shape — score per language, argmax — is the contract.)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "que", "con"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "on", "at", "by", "be", "as", "are", "was"]


def _words(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: per-language hit count over the token set,
    argmax wins; ties/no-hits → 'und'. Adds lang_pred + lang_score.

    Words and per-language scores are materialized as intermediate
    projections — Catalyst does not CSE across higher-order-function
    lambdas, so inlining them would re-split the text once per score
    reference (~8×)."""
    with_words = df.withColumn("_lw", F.array_distinct(_words(text_col)))
    score_cols = {
        f"_s_{lang}": F.size(
            F.array_intersect(F.col("_lw"), F.array(*[F.lit(m) for m in markers]))
        )
        for lang, markers in LANG_MARKERS.items()
    }
    scored = with_words.withColumns(score_cols)
    names = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in names])
    pred = F.lit("und")
    for lang in reversed(names):  # earlier languages win ties
        pred = F.when((F.col(f"_s_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    out = scored.withColumns({"lang_pred": pred, "lang_score": best.cast("int")})
    return out.drop("_lw", *score_cols)


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals + a composite [0,1] score:
    length band, alpha ratio, punctuation ratio, stopword ratio,
    repetition (distinct/total words). Deterministic integer/ratio math."""
    # stage intermediates as real columns (no CSE across array lambdas)
    staged = df.withColumn(
        "_qw", F.filter(_words(text_col), lambda w: F.length(w) > 0)
    ).withColumns(
        {
            "_ql": F.length(text_col),
            "_qn": F.size(F.col("_qw")),
            "_qa": F.regexp_count(F.col(text_col), F.lit(r"[a-zA-Z]")),
            "_qp": F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")),
        }
    )
    staged = staged.withColumns(
        {
            "_qs": F.size(F.filter(F.col("_qw"), lambda w: w.isin(EN_STOPWORDS))),
            "_qd": F.size(F.array_distinct(F.col("_qw"))),
        }
    )
    length, n_words = F.col("_ql"), F.col("_qn")
    ratios = staged.withColumns(
        {
            "alpha_ratio": F.when(length > 0, F.col("_qa") / length).otherwise(0.0),
            "punct_ratio": F.when(length > 0, F.col("_qp") / length).otherwise(0.0),
            "stopword_ratio": F.when(n_words > 0, F.col("_qs") / n_words).otherwise(0.0),
            "distinct_word_ratio": F.when(n_words > 0, F.col("_qd") / n_words).otherwise(0.0),
        }
    )
    len_band = F.when((length >= 50) & (length <= 20000), 1.0).otherwise(0.3)
    score = (
        0.3 * len_band
        + 0.25 * F.col("alpha_ratio")
        + 0.2 * F.least(F.col("stopword_ratio") * F.lit(3.0), F.lit(1.0))
        + 0.15 * F.col("distinct_word_ratio")
        + 0.1 * (1.0 - F.least(F.col("punct_ratio") * F.lit(4.0), F.lit(1.0)))
    )
    out = ratios.withColumn("quality_score", F.round(score, 6))
    return out.drop("_qw", "_ql", "_qn", "_qa", "_qp", "_qs", "_qd")


def with_fingerprint_portable(
    df: DataFrame,
    text_col: str = "text",
    k_smallest: int = 8,
    id_col: str | None = None,
) -> DataFrame:
    """Document fingerprints, reproducible in DuckDB:
    - ``fp_exact``: md5 of the raw text (byte-identity);
    - ``fp_robust``: md5 of the k smallest distinct word-trigram hashes
      (a winnowing-style sketch — stable under small edits).

    Trigram hashes are md5 15-hex-digit prefixes → int64 (the repo's
    portable-hash idiom — see with_simhash_portable), with empty words
    filtered on both sides so the split-semantics edge cases can't
    diverge between engines.

    Splits on an EXPLICIT ASCII whitespace class instead of ``\\s``: Java
    ``\\s`` includes vertical tab \\x0B, RE2's does not, and a hash-exact
    oracle can't tolerate the divergence. The class below IS Java's
    default ``\\s`` set, spelled portably for both regex engines.

    With ``id_col`` the trigram hashes compute on exploded rows through
    one codegen aggregate instead of interpreted per-element array
    lambdas — same shape (and same ~4× win) as
    ``dedup._shingle_minhash_fused``; identical output values."""
    ws = r"[ \t\n\x0B\f\r]+"
    split_words = F.split(F.lower(F.col(text_col)), ws)
    if id_col is None:
        words = F.filter(split_words, lambda w: F.length(w) > 0)
        n = F.greatest(F.size(words) - 2, F.lit(0))
        # sequence(1, 0) would *descend* — guard short/empty docs explicitly
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(F.array().cast("array<int>"))
        grams = F.transform(
            idx,
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(words, i, 3))), 1, 15), 16, 10
            ).cast("long"),
        )
        smallest = F.slice(F.array_sort(F.array_distinct(grams)), 1, k_smallest)
    else:
        # one shared n-gram recipe (posexplode → lead window → concat_ws):
        # _ngram_rows IS the oracle-exact tokenization contract — a future
        # split/filter change lands in one place for every n-gram operator
        gram = F.conv(F.substring(F.md5("_ng"), 1, 15), 16, 10).cast("long")
        sm = (
            _ngram_rows(df, text_col, id_col, 3)
            .select("_did", gram.alias("_g"))
            .groupBy("_did")
            .agg(F.slice(F.sort_array(F.collect_set("_g")), 1, k_smallest).alias("_sm"))
        )
        df = df.join(sm.withColumnRenamed("_did", id_col), id_col, "left")
        smallest = F.coalesce(F.col("_sm"), F.array().cast("array<bigint>"))
    out = df.withColumns(
        {
            "fp_exact": F.md5(F.col(text_col)),
            "fp_robust": F.md5(
                F.concat_ws(",", F.transform(smallest, lambda x: x.cast("string")))
            ),
        }
    )
    return out.drop("_sm") if id_col is not None else out


# ------------------------------------------------------------- PII scan --

# Patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookarounds, no backrefs, ASCII \b) so a DuckDB oracle reproduces the
# match counts exactly. Order matters for redaction: UUID before ipv4 /
# phone (an all-digit UUID segment could otherwise partially match them).
PII_PATTERNS = {
    "uuid": r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII pattern counts (n_email, n_ipv4, n_phone, n_uuid,
    pii_total) — the standard corpus-curation filter signal. Pure
    regexp_count column expressions, whole-stage codegen."""
    cols = {}
    for name, pat in PII_PATTERNS.items():
        cols[f"n_{name}"] = F.regexp_count(F.col(text_col), F.lit(pat)).cast("int")
    out = df.withColumns(cols)
    total = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Replace every PII match with a typed placeholder ("<email>" …) —
    UUIDs first so their digit segments can't be half-eaten by the ipv4 /
    phone patterns. Chained regexp_replace, still codegen."""
    expr = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        expr = F.regexp_replace(expr, pat, f"<{name}>")
    return df.withColumn(out_col, expr)


# ------------------------------------------------------ repetition stats --


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    duplicate-word fraction (1 − distinct/total) and top-word fraction
    (most frequent word's share). High values flag boilerplate / spammy
    repetition in corpus curation.

    Shape: explode words → (doc, word) counts → per-doc aggregate — two
    map-side-combined hash aggregations, no UDFs; documents with zero
    words are absent from the output (nothing to measure)."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: F.length(w) > 0
    )
    ex = df.select(id_col, F.explode(words).alias("_w"))
    wc = ex.groupBy(id_col, "_w").agg(F.count(F.lit(1)).alias("_c"))
    return (
        wc.groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("_c").alias("_top"),
        )
        .select(
            id_col,
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            (
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_words").cast("double")
            ).alias("dup_word_frac"),
            (F.col("_top").cast("double") / F.col("n_words").cast("double")).alias(
                "top_word_frac"
            ),
        )
    )


# -------------------------------------------------------- decontamination --


def _ngram_rows(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, n-gram) rows WITH positional multiplicity, via the repo's
    codegen n-gram recipe (posexplode → lead window → concat_ws; HOF
    array lambdas are interpreted per element — see
    with_fingerprint_portable). Splits on the explicit ASCII whitespace
    class so a DuckDB oracle tokenizes identically (Java ``\\s`` ∋ \\x0B,
    RE2's ∌)."""
    from pyspark.sql import Window

    ws = r"[ \t\n\x0B\f\r]+"
    exploded = df.select(
        F.col(id_col).alias("_did"),
        F.posexplode_outer(F.split(F.lower(F.col(text_col)), ws)),
    ).filter(F.length("col") > 0)
    win = Window.partitionBy("_did").orderBy("pos")
    leads = [F.col("col")] + [F.lead("col", k).over(win) for k in range(1, n)]
    return (
        exploded.withColumn("_ng", F.concat_ws(" ", *leads))
        .withColumn("_ok", F.lead("col", n - 1).over(win).isNotNull())
        .filter(F.col("_ok"))
        .select("_did", "_ng")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    threshold: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination — the standard train/eval overlap filter
    (GPT-3 appendix C / PaLM style n-gram collision test): for every
    corpus document, the fraction of its word n-gram POSITIONS whose
    n-gram occurs anywhere in the benchmark set. One row per corpus doc:
    ``n_grams`` (positions), ``n_contaminated``, ``contaminated_frac``
    (6 dp — the repo's cross-engine float discipline) and
    ``is_contaminated`` (frac ≥ threshold, compared on the rounded
    value so both engines decide identically). Documents shorter than
    ``n`` tokens have nothing to test: 0 grams, never flagged.

    100 TB shape: the benchmark side is an eval set (10^5–10^6 distinct
    n-grams) — built once, broadcast; the corpus side explodes to
    (doc, gram) rows and shuffles ONCE on the doc id (the lead-window
    partitioning is reused by the count aggregate — no second
    exchange), then the broadcast hash join is map-side. At extreme
    broadcast sizes, hash grams to 64-bit first to shrink the build
    side; the string join here is the oracle-exact form.

    No rove counterpart (corpus-domain engine extra, like the rest of
    this module)."""
    if n < 2:
        raise ValueError(f"decontaminate: n-gram length must be >= 2, got {n}")
    bench = (
        _ngram_rows(benchmark.filter(F.col(text_col).isNotNull()), text_col, id_col, n)
        .select("_ng")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    grams = _ngram_rows(docs.filter(F.col(text_col).isNotNull()), text_col, id_col, n)
    counts = (
        grams.join(F.broadcast(bench), "_ng", "left")
        .groupBy("_did")
        .agg(
            F.count(F.lit(1)).alias("_n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("_n_cont"),
        )
    )
    out = docs.select(id_col).join(
        counts.withColumnRenamed("_did", id_col), id_col, "left"
    )
    frac = F.round(
        F.when(
            F.col("_n_grams").isNotNull() & (F.col("_n_grams") > 0),
            F.col("_n_cont").cast("double") / F.col("_n_grams").cast("double"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return out.select(
        id_col,
        F.coalesce(F.col("_n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("_n_cont"), F.lit(0)).cast("long").alias("n_contaminated"),
        frac.alias("contaminated_frac"),
        (frac >= F.lit(threshold)).alias("is_contaminated"),
    )
