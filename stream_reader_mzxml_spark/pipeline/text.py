"""Text analysis operators: tokenization, quality, language-ID, fingerprints.

Everything here is a pure Catalyst column expression (JVM-side, whole-stage
codegen, no Python in the hot path) built on two portable primitives that
DuckDB can reproduce bit-for-bit for the oracle gate:

- ``h32(s)`` — 32-bit hash = first 8 hex chars of md5, as BIGINT;
- left-fold over arrays — ``F.aggregate`` ≡ DuckDB ``list_reduce`` with a
  prepended zero-init element.

At 100 TB these run inside the scan's project (no shuffle); per-doc outputs
feed groupBy stages that aggregate partial→final automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FNV_PRIME = 131  # fold multiplier for the rolling fingerprint
FOLD_MOD = 2_147_483_647  # 2^31 - 1; keeps fold products < 2^39 (BIGINT-safe)

# tiny per-language stopword sets for the n-gram/stopword heuristic (public
# high-frequency function words; the heuristic, not the lists, is the point)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
}


def h32(col: Column) -> Column:
    """Portable 32-bit string hash: ``int(md5(s)[:8], 16)`` as BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h60(col: Column) -> Column:
    """Portable 60-bit string hash: ``int(md5(s)[:15], 16)`` as BIGINT.

    60 bits (15 hex chars) rather than 64 so the value fits signed int64 in
    both engines without the sign-bit edge case (DuckDB's ``::BIGINT`` hex
    cast rejects values ≥ 2^63). Used by the 60-bit SimHash whose 15-bit
    bands need a wide, uniformly-hashed bit pool."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def words(col: Column) -> Column:
    """Space-split word array (exactly DuckDB's ``string_split(s, ' ')``)."""
    return F.split(col, " ")


def regex_tokens(col: Column, pattern: str = "([a-z0-9]+)") -> Column:
    """BPE-ish regex tokenization: maximal ``[a-z0-9]+`` runs."""
    return F.regexp_extract_all(col, F.lit(pattern), 1)


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens and regex word tokens per doc."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit("(\\S+)"), 1)).alias("n_ws_tokens"),
        F.size(regex_tokens(t)).alias("n_re_tokens"),
        F.length(t).alias("n_chars"),
    )


def _quality_parts(t: Column) -> dict[str, Column]:
    """Quality-feature expressions over a text column — shared by the
    standalone ``quality_features`` query and the fused single-scan
    projection in ``curation.curate`` (the composite must not rescan)."""
    ws = words(t)
    n_words = F.size(ws)
    sw = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(sw, w)))
    mean_wlen = (F.length(t) - (n_words - 1)) / n_words  # chars net of spaces
    stop_ratio = n_stop / n_words
    score = (
        F.when(n_words < 5, 0.0)
        .when(mean_wlen < 2.0, 0.25)
        .otherwise(
            F.round(
                F.least(F.lit(1.0), stop_ratio * 4.0) * 0.5
                + F.least(F.lit(1.0), n_words / F.lit(24.0)) * 0.5,
                6,
            )
        )
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_wlen,
        "n_stopwords": n_stop,
        "stop_ratio": stop_ratio,
        "quality_score": score,
    }


def quality_score_col(t: Column) -> Column:
    """The composite quality score as a single expression (fusable)."""
    return _quality_parts(t)["quality_score"]


def pred_lang_col(t: Column) -> Column:
    """Language-ID verdict as a single expression (fusable): per-language
    stopword hit-rate argmax, ties to the earliest language code, 'und'
    when nothing matches."""
    ws = words(t)
    langs = sorted(LANG_STOPWORDS)

    def _hits(stopwords: list[str]):
        sw = F.array(*[F.lit(s) for s in stopwords])
        return F.size(F.filter(ws, lambda w: F.array_contains(sw, w)))

    hits = {lang: _hits(LANG_STOPWORDS[lang]) for lang in langs}
    max_hits = F.greatest(*hits.values())
    pred = F.lit("und")
    for lang in reversed(langs):  # reversed: earliest code wins ties
        pred = F.when(
            (hits[lang] == max_hits) & (max_hits > 0), F.lit(lang)
        ).otherwise(pred)
    return pred


def has_pii_col(t: Column) -> Column:
    """Email-surface presence as a single expression (fusable)."""
    return (
        F.size(F.regexp_extract_all(t, F.lit("([a-z0-9.]+@[a-z0-9.]+)"), 1)) > 0
    ).cast("int")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length / mean-word-length / stopword-ratio features
    and a composite score. Mirrors the heuristic-filter stage of web-scale
    corpus pipelines (C4/Gopher-style rules), as plain column arithmetic."""
    p = _quality_parts(F.col(text_col))
    n_words, mean_wlen = p["n_words"], p["mean_word_len"]
    n_stop, stop_ratio, score = (
        p["n_stopwords"],
        p["stop_ratio"],
        p["quality_score"],
    )
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        n_stop.alias("n_stopwords"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: per-language stopword hit-rate, argmax wins
    (ties broken by language code; 'und' when nothing matches)."""
    ws = words(F.col(text_col))
    langs = sorted(LANG_STOPWORDS)

    def _hits(stopwords: list[str]):
        sw = F.array(*[F.lit(s) for s in stopwords])
        return F.size(F.filter(ws, lambda w: F.array_contains(sw, w)))

    hit_cols = [
        _hits(LANG_STOPWORDS[lang]).alias(f"hits_{lang}") for lang in langs
    ]
    out = df.select("doc_id", *hit_cols)
    max_hits = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # reversed: earliest code wins ties
        pred = F.when(
            (F.col(f"hits_{lang}") == max_hits) & (max_hits > 0), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: left-fold rolling hash over word h32s —
    ``fp = fold(fp * 131 + h32(w)) mod (2^31-1)``. Order-sensitive (unlike a
    bag-of-words hash) and portable: DuckDB ``list_reduce`` with a 0 prepended
    reproduces the fold exactly."""
    ws = words(F.col(text_col))
    fp = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * FNV_PRIME + h32(w)) % FOLD_MOD,
    )
    return df.select("doc_id", fp.alias("fingerprint"), F.size(ws).alias("n_words"))


def repetition_features(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Within-document repetition: how much of a doc is repeated n-grams.

    The substring-level dedup signal (cf. "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022 — public): documents dominated by
    repeated n-grams (boilerplate loops, generator glitches) are low-quality
    training data even when no OTHER document duplicates them. Per doc:
    distinct n-grams, total n-gram occurrences, how many distinct n-grams
    repeat, and the fraction of occurrences belonging to repeated n-grams.

    Plan: explode non-distinct n-grams → two-level groupBy (doc, gram) then
    (doc) — both partial-aggregated; shuffle keys are (doc_id, gram) then
    doc_id, high-cardinality and even. Docs with < n words emit no row
    (no n-grams), matching the oracle's inner grouping.
    """
    ws = words(F.col(text_col))
    idx = F.sequence(F.lit(0), F.size(ws) - n)
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_gram = (
        df.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_gram.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.sum("c").alias("n_grams"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_repeated"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            / F.sum("c"),
            6,
        ).alias("rep_ratio"),
    )


def pii_pattern_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII-pattern surface counts per document: email-shaped tokens and long
    digit runs — the cheap first-pass filter a web-scale pipeline runs before
    expensive NER-based PII scrubbing. Patterns are deliberately simple and
    RE2/Java-portable so the DuckDB oracle matches exactly; pure column
    expressions in the scan project (no shuffle)."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(t, F.lit("([a-z0-9.]+@[a-z0-9.]+)"), 1)
        ).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit("([0-9]{3,})"), 1)).alias(
            "n_digit_runs"
        ),
        (
            F.size(F.regexp_extract_all(t, F.lit("([a-z0-9.]+@[a-z0-9.]+)"), 1))
            > 0
        )
        .cast("int")
        .alias("has_pii_surface"),
    )


PII_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
PII_DIGITS_RE = "[0-9]{3,}"
PII_EMAIL_TOKEN = "<EMAIL>"
PII_NUM_TOKEN = "<NUM>"


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction *apply* (q41 counts the surface; this rewrites it):
    email-shaped tokens become ``<EMAIL>``, then remaining long digit runs
    become ``<NUM>`` — the order matters, since an email usually contains
    digit runs that must not be double-counted.  ``n_num_redactions`` is
    therefore counted on the email-redacted intermediate, not the original.

    Emits the redaction counts plus the redacted text's length and md5 (the
    value-hash proof that both engines produced the identical rewritten
    string, without shipping full text through the compare).  Pure column
    expressions in the scan project — zero shuffles, streaming-safe.
    """
    t = F.col(text_col)
    step1 = F.regexp_replace(t, PII_EMAIL_RE, PII_EMAIL_TOKEN)
    redacted = F.regexp_replace(step1, PII_DIGITS_RE, PII_NUM_TOKEN)
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(f"({PII_EMAIL_RE})"), 1)).alias(
            "n_email_redactions"
        ),
        F.size(
            F.regexp_extract_all(step1, F.lit(f"({PII_DIGITS_RE})"), 1)
        ).alias("n_num_redactions"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


CHUNK_LEN = 32  # tokens per training context chunk
CHUNK_MIN_TAIL = 8  # final partial chunk kept only if at least this long


def context_chunks(
    df: DataFrame,
    text_col: str = "text",
    chunk_len: int = CHUNK_LEN,
    min_tail: int = CHUNK_MIN_TAIL,
) -> DataFrame:
    """Context-length chunking: cut each doc's token stream into fixed-length
    training chunks — the sequence-preparation step between curation and
    tokenized-corpus write-out. Full ``chunk_len`` chunks plus a final partial
    chunk when it is at least ``min_tail`` tokens (tiny tails are dropped, the
    usual packing policy).

    Emits one row per chunk: ``(doc_id, chunk_idx, chunk_len, checksum)``
    where checksum is the ordered rolling fold of the chunk's token hashes
    (the fingerprint construction, applied per-chunk) — the cheap content
    identity a downstream exactly-once writer dedups/validates on.

    Plan shape: tokens, chunk boundaries, checksums are all computed in the
    scan's project; ``posexplode`` fans out chunk rows map-side. ZERO
    shuffles — at 100 TB this is a pure streaming map, and the op runs
    unchanged on a readStream (stateless projection).
    """
    hs = F.transform(regex_tokens(F.col(text_col)), h32)
    n = F.size(hs)
    n_full = (n / chunk_len).cast("int")
    tail_len = n - n_full * chunk_len
    n_chunks = n_full + F.when(tail_len >= min_tail, 1).otherwise(0)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(hs, (i * chunk_len + 1).cast("int"), chunk_len),
    )
    checksum = lambda c: F.aggregate(  # noqa: E731 — ordered fold, oracle-portable
        c,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FNV_PRIME + x) % FOLD_MOD,
    )
    out = df.select(
        "doc_id",
        F.posexplode(F.when(n_chunks > 0, chunks).otherwise(F.array().cast("array<array<bigint>>"))).alias(
            "chunk_idx", "chunk"
        ),
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("chunk_len"),
        checksum(F.col("chunk")).alias("checksum"),
    )


DRIFT_BUCKETS = 64  # token-hash buckets for the distribution fingerprint


def source_drift(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = DRIFT_BUCKETS,
) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus — the
    data-mixture QA step: KL(source ‖ corpus) and total-variation distance
    over a ``n_buckets``-bucket token-hash histogram. A source whose
    distribution drifts (spam burst, encoding break, template flood) shows a
    KL spike long before eyeballing documents would find it.

    Distributions are over ``h32(word) % n_buckets`` — coarse by design: the
    bucketed histogram is a fixed-size mergeable state (the same degradation
    argument as the sketch queries), so the whole op is two partial/final
    aggregates regardless of vocabulary size.

    Float parity: both divergences are ORDERED folds over buckets ascending
    (Spark ``sort_array(collect_list(...))`` + ``aggregate`` ≡ DuckDB ordered
    ``list``/``list_reduce``), so results match the oracle bit-for-bit.

    Plan shape: explode words scan-side → ONE groupBy (source, bucket) with
    map-side partials (≤ sources × n_buckets rows survive) → corpus totals
    derived from THAT aggregate (no second scan) → broadcast join of the
    64-row bucket table → per-source fold. At 100 TB the only full-data
    shuffle is the (source, bucket) partial/final aggregate.
    """
    from stream_reader_mzxml_spark.sources.readers import spread_scan

    ex = spread_scan(df).select(
        F.col("source"), F.explode(words(F.col(text_col))).alias("w")
    ).select("source", (h32(F.col("w")) % n_buckets).alias("bucket"))
    sb = ex.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("c_sb"))
    b = sb.groupBy("bucket").agg(F.sum("c_sb").alias("c_b"))
    tot = sb.groupBy().agg(F.sum("c_sb").alias("c_tot"))
    src_tot = sb.groupBy("source").agg(F.sum("c_sb").alias("c_s"))
    # densify: every (source, bucket) cell exists, so a bucket the source
    # never emits still contributes |0 − q| to TV (and the 0·ln0 := 0 limit
    # to KL); the cross join is sources × n_buckets — broadcast-bounded
    dense = (
        src_tot.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(tot))
        .join(sb, ["source", "bucket"], "left")
        .withColumn("c_sb", F.coalesce(F.col("c_sb"), F.lit(0)))
    )
    pairs = dense.groupBy("source", "c_s").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("bucket").alias("bucket"),
                    (F.col("c_sb") / F.col("c_s")).alias("p"),
                    (F.col("c_b") / F.col("c_tot")).alias("q"),
                )
            )
        ).alias("pq")
    )
    kl = F.aggregate(
        F.col("pq"),
        F.lit(0.0),
        lambda acc, x: acc
        + F.when(x["p"] > 0, x["p"] * F.log(x["p"] / x["q"])).otherwise(F.lit(0.0)),
    )
    tv = F.aggregate(
        F.col("pq"),
        F.lit(0.0),
        lambda acc, x: acc + F.abs(x["p"] - x["q"]),
    ) / F.lit(2.0)
    return pairs.select(
        "source",
        F.col("c_s").alias("n_tokens"),
        F.round(kl, 6).alias("kl_divergence"),
        F.round(tv, 6).alias("tv_distance"),
    )


TFIDF_MIN_TF = 2  # emit only terms that repeat within the doc


def tfidf_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(doc, term) TF-IDF — the keyword-weighting primitive of corpus
    search / topic QA. Smoothed idf = ln((N + 1) / (df + 1)) + 1 (sklearn's
    formulation); terms are h32 hashes so no text rides the shuffles.

    Plan: explode(words) → groupBy(doc, term) count [1 shuffle, partial
    agg'd] → term document frequency via a second groupBy on the term hash
    [1 shuffle, Zipf-hot terms cost a combiner cell each, never a join
    explosion] → N from a 1-row broadcast cross join. Emits scores, not a
    per-doc ranking — ranking is ``top_k``'s job.

    Returns ``(doc_id, term_h, tf, df, tf_idf)`` for terms with
    ``tf >= TFIDF_MIN_TF``.
    """
    ex = df.select("doc_id", F.explode(words(F.col(text_col))).alias("w")).select(
        "doc_id", h32(F.col("w")).alias("term_h")
    )
    tf = ex.groupBy("doc_id", "term_h").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term_h").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count_distinct("doc_id").alias("n_docs")
    )  # 1-row broadcast
    scored = (
        tf.filter(F.col("tf") >= TFIDF_MIN_TF)
        .join(dfreq, "term_h")
        .crossJoin(F.broadcast(n_docs))
    )
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    return scored.select(
        "doc_id",
        "term_h",
        "tf",
        "df",
        F.round(F.col("tf") * idf, 6).alias("tf_idf"),
    )


BPE_TOP_K = 50


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", k: int = BPE_TOP_K
) -> DataFrame:
    """BPE tokenizer-training inner loop: corpus-wide adjacent symbol-pair
    frequencies (character bigrams within words), top-``k`` merge candidates.
    The most frequent pair is exactly what a byte-pair-encoding trainer
    merges next; running this per merge round over 100 TB is the canonical
    distributed-tokenizer-training workload.

    Plan: scan-side double fan-out (words → in-word pairs, no shuffle), ONE
    groupBy(pair) with map-side partial aggregation (the Zipf-hot pairs —
    'th', 'he' — combine locally before the shuffle, and the post-combine
    key space is at most |alphabet|², tiny), then a global ordered top-k
    which Spark executes as TakeOrderedAndProject (per-partition heads
    merged on the driver — never a full sort)."""
    pairs = F.expr(
        "transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))"
    )
    ex = (
        df.select(F.explode(words(F.col(text_col))).alias("__w"))
        .filter(F.length("__w") >= 2)
        .select(F.explode(pairs).alias("pair"))
    )
    return (
        ex.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(k)
    )
