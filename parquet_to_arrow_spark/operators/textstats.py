"""Text analysis over the documents table: language-ID heuristic, quality
scoring, token counting, fingerprinting.

Everything stays JVM-side (built-in string functions inside whole-stage
codegen) — no Python in the hot path — and every output is either integer,
string, or a deterministically-rounded double so the DuckDB oracle hashes
identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.io import spread


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _occurrences(col, needle: str):
    """Occurrence count via length arithmetic — identical semantics in Spark
    and DuckDB (no regex dialect risk)."""
    return (F.length(col) - F.length(F.replace(col, F.lit(needle)))) / len(needle)


# language marker words; ASCII-safe, shared verbatim with the oracle SQL
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def lang_scores(col):
    return {
        lang: sum(_occurrences(col, m) for m in markers).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(spark, sf_dir) -> DataFrame:
    """N-gram/stopword-count language guess with a fixed tie-break order."""
    df = _docs(spark, sf_dir)
    scores = lang_scores(F.col("text"))
    best = F.lit("unknown")
    best_score = F.lit(0).cast("long")
    # fixed iteration order => deterministic argmax (strictly-greater wins)
    for lang in ("en", "de", "fr", "es"):
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return df.select(
        F.col("doc_id"),
        best.alias("lang_guess"),
        best_score.alias("lang_score"),
    )


def text_quality(spark, sf_dir) -> DataFrame:
    """Length / word / punctuation / stopword counts — the quality-scoring
    signals of a training-data pipeline, all integer-valued."""
    df = _docs(spark, sf_dir)
    text = F.col("text")
    n_words = (F.length(text) - F.length(F.replace(text, F.lit(" ")))) + 1
    n_punct = (
        F.length(text) - F.length(F.regexp_replace(text, F.lit(r"[.,!?;:]"), F.lit("")))
    ).cast("long")
    n_stop = (
        _occurrences(text, " the ") + _occurrences(text, " and ") + _occurrences(text, " a ")
    ).cast("long")
    return df.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars_measured"),
        n_words.cast("long").alias("n_words"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        (F.length(text) == F.col("n_chars")).alias("len_matches_meta"),
    )


def token_counts(spark, sf_dir) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (letter runs / digit runs /
    single non-space symbol) — counted JVM-side with regexp_count."""
    df = _docs(spark, sf_dir)
    text = F.col("text")
    return df.select(
        "doc_id",
        (F.length(text) - F.length(F.replace(text, F.lit(" ")))).cast("long").alias("n_ws"),
        F.regexp_count(text, F.lit("[A-Za-z]+")).cast("long").alias("n_alpha_runs"),
        F.regexp_count(text, F.lit("[0-9]+")).cast("long").alias("n_digit_runs"),
        F.regexp_count(text, F.lit("[^A-Za-z0-9 ]")).cast("long").alias("n_symbols"),
    )


def fingerprints(spark, sf_dir) -> DataFrame:
    """Content fingerprints: md5 of the raw UTF-8 (engine-independent) plus a
    16-char prefix bucket — the exact-dedup key."""
    df = _docs(spark, sf_dir)
    return df.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fp_md5"),
        F.substring(F.col("text"), 1, 16).alias("prefix16"),
    )


def tfidf_top_terms(spark, sf_dir, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document — the ranking primitive of a
    training-data quality/topic pipeline.

    Scale shape: one explode, one (doc, word) aggregation, one small join
    on the word dimension (document frequencies — vocabulary-sized, Spark
    broadcasts it), one per-doc window. idf = ln((N+1)/(df+1)) + 1 (smooth;
    always positive), score = tf * idf, ties broken by term ascending so the
    ranking is fully deterministic and oracle-checkable."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()  # driver-side scalar; one cheap metadata-ish job
    words = (
        spread(docs)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df").cast("double") + 1.0)) + 1.0
    scored = tf.join(dfreq, "w").withColumn(
        "score", F.col("tf").cast("double") * idf
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("doc_id", F.col("w").alias("term"), "rank", F.round("score", 6).alias("score_r"))
    )


# fixed probe set shared verbatim with the oracle SQL; real pipelines pass
# their eval-set shingles here
CONTAMINATION_PROBES = (" the quick ", "lorem ipsum", " and ", "zzyzx-never-present")


def contamination_screen(spark, sf_dir, probes: tuple = CONTAMINATION_PROBES) -> DataFrame:
    """Test-set decontamination: per document, which probe n-grams occur.

    The decontamination shape at 100 TB: the probe set (eval-set shingles)
    is a SMALL broadcast side; containment is substring search inside
    whole-stage codegen — one scan of the corpus, zero shuffles, no Python.
    Output: one row per doc with the hit count and flag (join back on
    doc_id to drop contaminated docs)."""
    docs = _docs(spark, sf_dir)
    hits = sum(
        F.when(F.contains(F.col("text"), F.lit(p)), 1).otherwise(0) for p in probes
    )
    return docs.select(
        "doc_id",
        hits.cast("int").alias("n_probes_hit"),
        (hits > 0).alias("contaminated"),
    )


def _words(text):
    """Non-empty whitespace tokens as an array column (split + filter, both
    with exact DuckDB twins: string_split / list_filter)."""
    return F.filter(F.split(text, " "), lambda w: F.length(w) > 0)


def _word_kgrams(words, k: int):
    """Word k-grams of an array column, space-joined. Guarded so short docs
    yield an EMPTY array (Spark's sequence(1, 0) counts DOWN — [1, 0] — so
    the n >= k branch must gate it; DuckDB's generate_series(1, 0) is
    already empty)."""
    if k == 1:
        return words
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j).cast("int")) for j in range(k)]
        ),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(spark, sf_dir) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021 §A1.1):
    duplicate-word / duplicate-2-gram / duplicate-3-gram fractions.

    Everything is per-row array arithmetic inside one projection — zero
    shuffles, zero Python, runs at scan speed on any corpus size. The
    fraction is (count - distinct)/count, the mass of repeated surface forms
    a repetition filter thresholds on."""
    docs = _docs(spark, sf_dir)
    out = docs.select("doc_id", _words(F.col("text")).alias("__w"))
    cols = [F.col("doc_id")]
    for k, name in ((1, "word"), (2, "2gram"), (3, "3gram")):
        grams = _word_kgrams(F.col("__w"), k)
        n = F.size(grams).cast("long")
        nd = F.size(F.array_distinct(grams)).cast("long")
        cols += [
            n.alias(f"n_{name}s"),
            nd.alias(f"n_distinct_{name}s"),
            F.round((n - nd) / F.nullif(n, F.lit(0)), 6).alias(f"dup_{name}_frac"),
        ]
    return out.select(*cols)


# cross-document n-gram census parameters: gram length and the document
# count at which a gram counts as boilerplate
BOILER_K = 3
BOILER_MIN_DOCS = 3


def duplicated_ngrams(spark, sf_dir, k: int = BOILER_K, min_docs: int = BOILER_MIN_DOCS) -> DataFrame:
    """Cross-document duplicated-n-gram census — the discovery half of
    substring-level dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): which word k-grams recur in >= min_docs
    DISTINCT documents.

    Scale shape: k-grams are deduplicated PER DOCUMENT with array_distinct
    before the explode, so the single shuffle keys (gram) carry at most one
    row per (doc, gram) and the count IS the document frequency — no
    count-distinct state. Boilerplate grams (present in every doc) are
    exactly the heavy keys partial aggregation absorbs map-side."""
    docs = spread(_docs(spark, sf_dir))
    g = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_word_kgrams(_words(F.col("text")), k))).alias("gram"),
    )
    return (
        g.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def doc_boilerplate_frac(
    spark, sf_dir, k: int = BOILER_K, min_docs: int = BOILER_MIN_DOCS
) -> DataFrame:
    """Per-document boilerplate load: the fraction of a doc's distinct word
    k-grams that are corpus-common (in >= min_docs docs) — the removal half
    of substring dedup, as a filterable score.

    Per-doc totals come straight off the scan (size of the distinct-gram
    array, no shuffle); only the (gram -> doc) hit-join shuffles, keyed the
    same way as the census so the two aggregations pipeline."""
    docs = spread(_docs(spark, sf_dir))
    with_grams = docs.select(
        "doc_id", F.array_distinct(_word_kgrams(_words(F.col("text")), k)).alias("__g")
    )
    totals = with_grams.select("doc_id", F.size("__g").cast("long").alias("n_grams"))
    exploded = with_grams.select("doc_id", F.explode("__g").alias("gram"))
    common = (
        exploded.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    hits = (
        exploded.join(common, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_common"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        F.round(
            F.coalesce(F.col("n_common"), F.lit(0)) / F.nullif(F.col("n_grams"), F.lit(0)),
            6,
        ).alias("boilerplate_frac"),
    )


# PII patterns — kept to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no backreferences, no lookaround, no bounded
# repetition ambiguity. Applied in this exact order on both sides.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\([0-9]{3}\) [0-9]{3}-[0-9]{4}|[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
)


def pii_redact(spark, sf_dir) -> DataFrame:
    """PII scrubbing: count and redact emails / IPv4 addresses / US-style
    phone numbers. Counts are taken on the ORIGINAL text, then the patterns
    rewrite sequentially (email first so an address's host part can't later
    half-match as something else). One projection of JVM regex ops — scan
    speed, no shuffle, no Python."""
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    cols = [F.col("doc_id")]
    redacted = text
    for name, pat, token in PII_PATTERNS:
        cols.append(F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}"))
        redacted = F.regexp_replace(redacted, pat, token)
    cols.append(redacted.alias("clean_text"))
    return docs.select(*cols)


# the single cached frame the statistics operators pin (the pipeline._packed
# pattern): each new call releases the previous call's cache so a long
# driver sweep cannot accumulate executor storage
_cached_stats: list = []


def _swap_cached(df: DataFrame) -> DataFrame:
    while _cached_stats:
        _cached_stats.pop().unpersist()
    df = df.cache()
    _cached_stats.append(df)
    return df


def _pctile(col, p: float, exact: bool):
    """Percentile expression with the scale default = approx.

    approx (default): percentile_approx with accuracy 10000 — bounded
    aggregation-buffer memory per group at any corpus size (the exact
    variant buffers and sorts every group value, which is per-language
    corpus-sized at 100 TB). exact: interpolating percentile, used by the
    driver/oracle queries so the DuckDB quantile_cont twin matches
    bit-for-bit. Same plan shape either way (partial+final aggregate)."""
    if exact:
        return F.round(F.percentile(col, F.lit(p)), 6)
    return F.percentile_approx(col, F.lit(p), F.lit(10000)).cast("double")


def quality_filter(spark, sf_dir, pct: float = 0.1, exact: bool = False) -> DataFrame:
    """Quantile-threshold quality gate: keep documents whose word count
    reaches their LANGUAGE's pct-quantile — the per-slice adaptive filter
    (fixed global thresholds over- or under-prune small languages).

    Thresholds are one tiny per-language aggregate broadcast back onto the
    scan. The LIBRARY DEFAULT is exact=False — approx_percentile with
    bounded buffer memory at any corpus size (see _pctile); exact=True is
    the flagged oracle/driver path (__spark_entry__ passes it) where the
    DuckDB quantile_cont twin must match bit-for-bit."""
    docs = _docs(spark, sf_dir)
    n_words = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    ).cast("long")
    scored = docs.select("doc_id", "lang", n_words.alias("n_words"))
    thr = scored.groupBy("lang").agg(_pctile("n_words", pct, exact).alias("thr"))
    return (
        scored.join(F.broadcast(thr), "lang")
        .filter(F.col("n_words") >= F.col("thr"))
        .select("doc_id", "lang", "n_words", "thr")
    )




def quality_gate_report(
    spark, sf_dir, pct: float = 0.1, exact: bool = False
) -> DataFrame:
    """Per-language gate DASHBOARD for the quantile quality filter: how
    many documents each language has, how many survive its pct-quantile
    word-count threshold, the threshold itself, and the kept fraction —
    what an operator reviews before committing a corpus-wide prune (a
    quota that wipes out a small language shows up here first, not after
    the delete). Same threshold machinery as quality_filter (broadcast
    per-language aggregate; approx by default, exact behind the oracle
    flag), one more tiny per-language rollup on top."""
    docs = _docs(spark, sf_dir)
    n_words = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    ).cast("long")
    scored = docs.select("doc_id", "lang", n_words.alias("n_words"))
    thr = scored.groupBy("lang").agg(_pctile("n_words", pct, exact).alias("thr"))
    kept = (F.col("n_words") >= F.col("thr")).cast("long")
    return (
        scored.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept).alias("n_kept"),
            F.round(F.max("thr"), 6).alias("thr"),
            F.round(F.sum(kept).cast("double") / F.count("*"), 6).alias("kept_frac"),
        )
    )


def unigram_logprob(spark, sf_dir) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's own
    unigram LM — the classic cheap perplexity proxy quality filters
    threshold on (docs of improbable words score low).

    Scale shape, same as TF-IDF: one explode, one vocabulary-sized count
    aggregation, one join back on the word dimension (Spark broadcasts a
    small vocab; a 10^9-type vocabulary shuffles — both correct), one
    per-doc aggregation. avg_logprob = sum(ln(count(w)/total))/n_words."""
    docs = spread(_docs(spark, sf_dir))
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    # vocab is cached (vocabulary-sized) so the scalar-total job and the
    # scoring join share ONE corpus explode — never a second pass; the
    # one-slot guard stops caches accumulating across a long query sweep
    vocab = _swap_cached(words.groupBy("w").agg(F.count("*").alias("cnt")))
    total = float(vocab.agg(F.sum("cnt")).collect()[0][0])
    scored = words.join(vocab, "w").withColumn(
        "lp", F.log(F.col("cnt").cast("double") / F.lit(total))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.round(F.sum("lp") / F.count("*"), 6).alias("avg_logprob_r"),
    )


def bigram_logprob(spark, sf_dir) -> DataFrame:
    """Per-document average BIGRAM log-probability under the corpus's own
    bigram distribution — one order up from unigram_logprob: repetitive or
    templated text scores high (its word pairs dominate the corpus), while
    word-salad scores low even when its unigrams are common. The standard
    cheap fluency proxy between unigram LM and a real LM.

    Scale shape: the bigram expansion happens INSIDE the array (transform
    over the split — no explode until the count), then one corpus-sized
    bigram count, one join back on the bigram dimension, one per-doc
    aggregation — identical plan skeleton to unigram_logprob, so the same
    100 TB argument applies (everything after the explode is
    bigram-vocabulary-sized). Docs with fewer than two words have no
    bigrams and are excluded (no defined score)."""
    docs = spread(_docs(spark, sf_dir))
    ws = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    d = docs.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ws", i), F.element_at("ws", i + 1)
                ),
            )
        ).alias("bg"),
    )
    vocab = _swap_cached(bg.groupBy("bg").agg(F.count("*").alias("cnt")))
    total = float(vocab.agg(F.sum("cnt")).collect()[0][0])
    scored = bg.join(vocab, "bg").withColumn(
        "lp", F.log(F.col("cnt").cast("double") / F.lit(total))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum("lp") / F.count("*"), 6).alias("avg_logprob_r"),
    )


def source_kl_drift(spark, sf_dir) -> DataFrame:
    """Per-source distribution drift: KL(p_source || p_corpus) over the word
    unigram distributions — the mixture-monitoring metric a training-data
    pipeline tracks per corpus slice.

    Everything after the explode is vocabulary-sized: counts per (source,
    word), counts per word, two scalar-ish joins, then a per-source sum.
    KL = sum_w p_s(w) * ln(p_s(w) / p(w)) — finite by construction since
    every word of a source is in the corpus."""
    docs = spread(_docs(spark, sf_dir))
    words = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    sw = _swap_cached(words.groupBy("source", "w").agg(F.count("*").alias("c_sw")))
    s_tot = sw.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    wc = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    # corpus total from the (source, word)-sized frame, not a corpus re-scan
    c_all = float(wc.agg(F.sum("c_w")).collect()[0][0])
    joined = sw.join(s_tot, "source").join(wc, "w")
    p_s = F.col("c_sw").cast("double") / F.col("c_s").cast("double")
    p = F.col("c_w").cast("double") / F.lit(c_all)
    return (
        joined.withColumn("term", p_s * F.log(p_s / p))
        .groupBy("source")
        .agg(
            F.max("c_s").cast("long").alias("n_words"),
            F.countDistinct("w").cast("long").alias("n_distinct_words"),
            F.round(F.sum("term"), 6).alias("kl_r"),
        )
    )


# winnowing parameters: k-gram length and window size (Schleimer/Wilkerson/
# Aiken, SIGMOD 2003 — the MOSS fingerprint selection)
WINNOW_K = 8
WINNOW_W = 4


def winnow_fingerprints(spark, sf_dir) -> DataFrame:
    """Winnowing document fingerprints: hash every char k-gram (rolling
    window of the text), then keep the MINIMUM hash of each w-hash window —
    the classic position-robust fingerprint set (an insertion shifts
    positions but local minima survive). Guarantee: any match of length
    >= w + k - 1 shares a fingerprint.

    Entirely JVM-side array expressions inside one projection — no explode,
    no shuffle, no Python: the per-doc fingerprint SET is reduced to scalar
    aggregates (count / min / max / sum of distinct selected hashes) so the
    result hashes identically in the DuckDB twin. The hash is the unsigned
    hi md5 hex half of the k-gram (the top half of the shingle kernel's
    hash), bounded < 2^32 so the per-doc sum can never overflow a signed
    64-bit."""
    text = F.col("text")
    n_h = F.greatest(F.length(text) - (WINNOW_K - 1), F.lit(1))
    hs = F.transform(
        F.sequence(F.lit(1), n_h),
        lambda i: F.conv(
            F.substring(F.md5(F.substr(text, i, F.lit(WINNOW_K))), 1, 8), 16, 10
        ).cast("long"),
    )
    n_w = F.greatest(n_h - (WINNOW_W - 1), F.lit(1))
    with_hs = _docs(spark, sf_dir).select("doc_id", hs.alias("__hs"), n_w.alias("__nw"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("__nw")),
            lambda j: F.array_min(F.slice("__hs", j, WINNOW_W)),
        )
    )
    return with_hs.select(
        "doc_id",
        F.size(fps).alias("n_fp"),
        F.array_min(fps).alias("fp_min"),
        F.array_max(fps).alias("fp_max"),
        F.aggregate(fps, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("fp_sum"),
    )


def source_length_profile(spark, sf_dir, exact: bool = False) -> DataFrame:
    """Per-source document-length profile: p10/p50/p90 character deciles
    plus count and mean — the corpus-shape dashboard a pipeline watches per
    slice. The LIBRARY DEFAULT is exact=False — approx_percentile with
    bounded buffer memory (see _pctile); exact=True is the flagged
    oracle/driver path (interpolating percentiles, quantile_cont
    parity)."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("mean_chars"),
        _pctile("n_chars", 0.1, exact).alias("p10"),
        _pctile("n_chars", 0.5, exact).alias("p50"),
        _pctile("n_chars", 0.9, exact).alias("p90"),
    )




VOCAB_COVERAGE_KS = (10, 20, 50, 100)


def vocab_coverage(spark, sf_dir) -> DataFrame:
    """Vocabulary coverage curve: the fraction of all corpus word
    occurrences covered by the top-K most frequent words, for a ladder of
    K — the tokenizer-budget planning metric (how much of the stream a
    K-entry vocabulary explains).

    Scale shape: the query only ever reads ranks <= max(VOCAB_COVERAGE_KS),
    so the vocabulary is first reduced with a DISTRIBUTED TopK —
    `orderBy(...).limit(max(KS))` plans as TakeOrderedAndProject (per-partition
    heap + driver merge of <=K rows per partition, fully parallel; pinned in
    tests/test_plans.py). Only then does the cumsum window run, over <=100
    rows — never over the full vocabulary (Heaps' law: a 100 TB web corpus has
    1e8-1e9 distinct space-split tokens; a global unpartitioned window there is
    a single-task scale-killer). The corpus-occurrence total comes from the
    scalar aggregate, not the window. Ties broken by word so ranks are
    deterministic and oracle-exact."""
    from pyspark.sql import Window

    docs = spread(_docs(spark, sf_dir))
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        F.length("w") > 0
    )
    vocab = words.groupBy("w").agg(F.count("*").alias("cnt"))
    total = float(vocab.agg(F.sum("cnt")).collect()[0][0])
    top = vocab.orderBy(F.col("cnt").desc(), F.col("w")).limit(max(VOCAB_COVERAGE_KS))
    # the windows run over the <=100 TopK survivors only; the constant
    # partition key keeps the spec non-global (bounded single partition BY
    # CONSTRUCTION, not by data) so WindowExec never warns or serializes
    # anything bigger than max(KS) rows
    ord_spec = (F.col("cnt").desc(), F.col("w"))
    win = (
        Window.partitionBy(F.lit(0))
        .orderBy(*ord_spec)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = top.withColumn("cum", F.sum("cnt").over(win)).withColumn(
        "rank",
        F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(*ord_spec)),
    )
    return (
        ranked.filter(F.col("rank").isin(list(VOCAB_COVERAGE_KS)))
        .select(
            F.col("rank").alias("top_k"),
            F.col("cum").cast("long").alias("covered"),
            F.round(F.col("cum") / F.lit(total), 6).alias("coverage"),
        )
    )


def bpe_pair_stats(spark, sf_dir, top_n: int = 50) -> DataFrame:
    """The first BPE merge-step statistic (Sennrich et al. 2016): global
    adjacent word-pair frequencies over the corpus, top-N by count — what a
    tokenizer-training pass computes before every merge.

    Scale shape: one explode over per-document adjacent pairs (NOT
    distinct — occurrence counts, not document frequency), one
    partial-aggregated shuffle on the pair key (the heavy stopword pairs
    are exactly what map-side combine absorbs), and the top-N is a
    TakeOrderedAndProject with the pair string as the deterministic
    tiebreak — never a global sort."""
    docs = spread(_docs(spark, sf_dir))
    g = docs.select(
        F.explode(_word_kgrams(_words(F.col("text")), 2)).alias("pair")
    )
    return (
        g.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(top_n)
    )
