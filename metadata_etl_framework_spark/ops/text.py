"""Text-analysis operators for the documents table.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
codegen'd) — no Python UDFs. Designed for a 100 TB documents corpus:
every op is a per-row projection (no shuffle), so it scales linearly and
pipelines with the scan.
"""

from __future__ import annotations

import string
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.driver_exact import driver_table


DEFAULT_STOPWORDS = (
    "the", "a", "an", "of", "to", "in", "and", "is", "it", "for", "on", "with",
)

# BPE-ish tokenization: words, numbers, or single non-space symbols — a
# deterministic stand-in for a real subword tokenizer.
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _spread(df: DataFrame) -> DataFrame:
    """Conditionally repartition to cluster parallelism BEFORE a
    CPU-bound explode/tokenize: a small single-split file would
    otherwise serialize the work onto one task. No-op whenever the scan
    already provides enough splits (always true at corpus scale), so
    this never adds a shuffle to a big job."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty string → empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def word_ngrams(col: Column | str, n: int) -> Column:
    """The word ``n``-gram occurrences of a string, in order: gram ``i``
    is tokens ``i..i+n-1`` of ``split(s, '\\s+')`` joined by one space,
    for every ``i`` with ``n`` tokens left (fewer than ``n`` tokens give
    ``[]``; NULL gives NULL).

    Collapsing every ``\\s+`` run to one space leaves those tokens
    unchanged, the leading and trailing empty tokens included. A
    zero-width match then sits at each token start (a position not
    preceded by a non-space) and its lookahead captures exactly ``n``
    tokens. Both steps are codegen'd regex expressions, so the cost is
    linear in the string and no lambda is evaluated per element."""
    c = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(c, r"\s+", " ")
    return F.regexp_extract_all(
        u, F.lit(r"(?<![^ ])(?=([^ ]*(?: [^ ]*){%d}))" % (n - 1)), 1
    )


def _nonblank_lines(col: Column | str) -> Column:
    """The ``\\n``-separated lines that hold a non-whitespace character,
    in order (NULL gives ``[]``). ``(?d)`` makes ``\\n`` the only line
    terminator, so a ``\\r`` stays inside its line, as with
    ``split(t, '\\n')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.regexp_extract_all(c, F.lit(r"(?dm)^.*\S.*$"), 0),
        F.array().cast("array<string>"),
    )


def _java_quote(s: str) -> str:
    """``java.util.regex.Pattern.quote``: ``s`` as a literal."""
    return r"\Q" + s.replace(r"\E", r"\E\\E\Q") + r"\E"


# Java regex \s: the characters split(t, '\s+') cuts tokens on
_JAVA_SPACE = " \t\n\x0b\f\r"


def _stopword_pattern(stopwords: Sequence[str]) -> str | None:
    """A Java regex whose matches over trimmed, lowercased text are the
    ``split(t, '\\s+')`` tokens equal to a stopword: one match per such
    token. A token never holds whitespace, so a stopword that does
    matches nothing. The empty stopword matches the empty tokens, which
    sit only at the ends: before a leading and after a trailing
    whitespace character. None when nothing can match."""
    words = sorted({w for w in stopwords if w and not set(w) & set(_JAVA_SPACE)})
    parts = []
    if words:
        alts = "|".join(_java_quote(w) for w in words)
        parts.append(r"(?<!\S)(?:%s)(?!\S)" % alts)
    if "" in stopwords:
        parts += [r"\A(?=\s)", r"(?<=\s)\z"]
    return "|".join(parts) or None


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    return df.withColumn(out, F.size(tokens(text_col)))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text", out: str = "n_bpe_tokens") -> DataFrame:
    """Regex token count approximating subword tokenizers (words+digits+symbols)."""
    # idx=0 → whole match (the pattern has no capture group)
    return df.withColumn(
        out, F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
    )


def _quality_feature_columns(
    text_col: str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS
) -> dict[str, Column]:
    """The per-document signals of :func:`quality_features`, by output
    name, as Columns over ``text_col`` (also the inputs of
    :func:`quality_score_column`).

    Each count is one codegen'd expression over the whole string: the
    stopword count is a regex match count over the trimmed, lowercased
    text (see :func:`_stopword_pattern`), and the punctuation count is
    the code points ``translate`` deletes."""
    text = F.col(text_col)
    n_tok = F.size(tokens(text_col))
    pattern = _stopword_pattern(stopwords)
    n_stop = (
        F.regexp_count(F.lower(F.trim(text)), F.lit(pattern))
        if pattern else F.lit(0)
    )
    n_chars = F.length(text)
    # string.punctuation: the 32 ASCII characters of _PUNCT_CLASS
    n_punct = n_chars - F.length(F.translate(text, string.punctuation, ""))
    return {
        "n_chars_computed": n_chars,
        "n_tokens": n_tok,
        "avg_token_len": F.round(
            F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(F.lit(0.0)), 6
        ),
        "punct_ratio": F.round(
            F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)), 6
        ),
        "stopword_ratio": F.round(
            F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(0.0)), 6
        ),
    }


def quality_features(
    df: DataFrame, text_col: str = "text", stopwords: tuple[str, ...] = DEFAULT_STOPWORDS
) -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals per document.

    Heuristics follow the C4/Gopher-style published filters: documents with
    extreme length, high punctuation density, or near-zero stopword ratio
    are low-quality candidates.
    """
    return df.withColumns(_quality_feature_columns(text_col, stopwords))


# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic (real systems use fastText/CLD3 — the *plumbing* is what
# matters here: pure-column scoring, no shuffle, argmax via map_filter).
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "est", "les"),
}


def lang_id_heuristic(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: argmax over per-language marker hits.

    Ties resolve to the lexicographically first language (deterministic).
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    scores = [
        F.struct(
            (-F.size(F.filter(toks, lambda t: t.isin(*markers)))).alias("neg_hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(_LANG_MARKERS.items())
    ]
    # ascending sort on (-hits, lang): highest hit count first, ties going
    # to the lexicographically first language
    best = F.sort_array(F.array(*scores))[0]
    return df.withColumn(
        out, F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("unknown"))
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint: md5 of casefolded,
    whitespace-normalized text. Identical across engines (md5 is md5).

    NULL text is coalesced to '' BEFORE hashing so the fingerprint is
    never NULL: a NULL fingerprint silently breaks every downstream
    equality — dedup groupBys lump all NULL-text docs into one bogus
    group, membership probes (``fp IN (...)``) go three-valued — so
    NULL-text and empty-text documents are deliberately identical dups.
    """
    normalized = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+", " "
    )
    return df.withColumn(out, F.md5(normalized))


# PII redaction patterns — JVM regex, applied in one chained projection.
# Order matters: emails before phone (an email's digits must not be
# half-eaten by the phone pattern).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"(\+?1[-.\s]?)?(\(\d{3}\)|\b\d{3})[-.\s]\d{3}[-.\s]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("credit_card", r"\b\d(?:[ -]?\d){12,15}\b", "<CC>"),
)


# ASCII punctuation spelled as explicit ranges: identical semantics in
# Java regex (Spark) and RE2 (DuckDB) — \p{Punct}/[[:punct:]] differ
# subtly between engines
_PUNCT_CLASS = r"[!-/:-@\[-`{-~]"
# control chars except \t (0x09) and \n (0x0A), which are whitespace and
# belong to the collapse step, not the strip step
_CONTROL_CLASS = r"[\x00-\x08\x0B-\x1F\x7F]"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out: str | None = None,
    lowercase: bool = True,
    strip_control: bool = True,
    strip_punct: bool = False,
    collapse_whitespace: bool = True,
    trim: bool = True,
) -> DataFrame:
    """Configurable text normalization — the standard pre-dedup /
    pre-fingerprint cleanup (casefold, control-char strip, optional
    punctuation strip, whitespace collapse) as ONE chained JVM
    projection; no UDF, no shuffle, linear scan.

    Applied in a fixed order (control → case → punctuation →
    whitespace → trim) so compositions are reproducible; every regex
    class is spelled to behave identically in Java regex and RE2
    (differential-oracle convention). NULL text stays NULL (callers
    that want ''-coalescing compose with :func:`fingerprint`'s
    convention explicitly). Adds ``{out}`` (default
    ``{text_col}_normalized``) plus a ``was_changed`` flag.
    """
    out = out or f"{text_col}_normalized"
    c: Column = F.col(text_col)
    if strip_control:
        c = F.regexp_replace(c, _CONTROL_CLASS, " ")
    if lowercase:
        c = F.lower(c)
    if strip_punct:
        c = F.regexp_replace(c, _PUNCT_CLASS, "")
    if collapse_whitespace:
        c = F.regexp_replace(c, r"\s+", " ")
    if trim:
        c = F.trim(c)
    return df.withColumn(out, c).withColumn(
        "was_changed",
        F.when(
            F.col(text_col).isNull(), F.lit(None).cast("boolean")
        ).otherwise(F.col(out) != F.col(text_col)),
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out: str = "text_redacted",
    kinds: tuple[str, ...] | None = None,
    count_out: str | None = "n_redactions",
) -> DataFrame:
    """Replace common PII (email/SSN/phone/IPv4/credit-card) with typed
    placeholder tokens — a standard training-data scrubbing pass.

    Pure JVM regexp_replace chain: per-row projection, no shuffle, scales
    linearly with the corpus. ``count_out`` adds the number of
    redactions made (token-count delta), useful as a DQ signal.
    """
    selected = [
        p for p in PII_PATTERNS if kinds is None or p[0] in kinds
    ]
    col = F.col(text_col)
    for _, pattern, repl in selected:
        col = F.regexp_replace(col, pattern, repl)
    result = df.withColumn(out, col)
    if count_out:
        placeholders = F.lit("|".join(p[2] for p in selected))
        n = F.size(F.regexp_extract_all(F.col(out), placeholders, 0))
        result = result.withColumn(count_out, n)
    return result


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-tokenization step of an LLM training pipeline.

    One row fans out to ceil(n/(max_tokens-overlap)) chunk rows via
    posexplode of a JVM-side slice expression — the fan-out happens
    executor-side, never on the driver, and needs no shuffle. Output:
    (id, chunk_index, chunk_text, n_chunk_tokens).

    Chunk starts advance by ``max_tokens - overlap``; every token appears
    in ≥1 chunk; short/empty documents produce exactly one chunk (their
    full text).
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    # NULL text → empty token array, so null-text docs still yield their
    # one (empty) chunk instead of vanishing in posexplode
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    n = F.size(toks)
    # chunk start offsets: 0, stride, 2*stride, ... < max(n - overlap, 1)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"), F.lit(1)
    )
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, max_tokens))
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_index", "chunk_text")
    )
    return exploded.withColumn(
        "n_chunk_tokens", F.size(tokens(F.col("chunk_text")))
    )


def c4_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style document-cleaning signals (published C4/Gopher filters):
    boilerplate markers (lorem ipsum / javascript / curly braces), line
    stats, and the ratio of lines ending in terminal punctuation. Adds a
    ``c4_keep`` verdict column; callers filter on it or on individual
    flags.

    Pure JVM expressions over the line array — per-row projection, no
    shuffle, linear in corpus size.
    """
    t = F.col(text_col)
    lines = F.split(t, r"\n")
    n_lines = F.size(lines)
    term_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"""[.!?"']\s*$"""))
    )
    lower = F.lower(t)
    return (
        df.withColumn("has_lorem_ipsum", lower.contains("lorem ipsum"))
        .withColumn("has_javascript", lower.contains("javascript"))
        .withColumn("has_curly_brace", t.contains("{"))
        .withColumn("n_lines", n_lines)
        .withColumn(
            "terminal_punct_ratio",
            F.round(
                F.when(
                    n_lines > 0, term_lines.cast("double") / n_lines
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .withColumn(
            "c4_keep",
            ~F.col("has_lorem_ipsum")
            & ~F.col("has_javascript")
            & ~F.col("has_curly_brace"),
        )
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    lowercase: bool = True,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: token → document-wide count (the classic
    word-count over the documents table; the input to min-frequency
    vocabulary pruning in a tokenizer-training pipeline).

    explode(tokens) → groupBy(token) is one shuffle with map-side partial
    counts; ``top_k`` returns the head as a TakeOrderedAndProject (no
    global sort). Ties in top_k break lexicographically (deterministic).
    """
    toks = tokens(text_col)
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    counts = (
        _spread(df).select(F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    if top_k is not None:
        counts = counts.orderBy(F.desc("count"), F.col("token")).limit(top_k)
    return counts


def _token_ngrams(text_col: str, n: int, lowercase: bool) -> Column:
    """The word ``n``-gram occurrences over :func:`tokens`, lowercased
    when asked: :func:`word_ngrams` of the space-trimmed text, and none
    for empty or NULL text (whose tokens are ``[]``, not ``[""]``)."""
    trimmed = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    if lowercase:
        trimmed = F.lower(trimmed)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        word_ngrams(trimmed, n)
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
    lowercase: bool = True,
    id_col: str | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Most frequent word n-grams — corpus-wide or per ``group_col``.

    The n-gram extension of :func:`vocabulary`: ALL occurrences count
    (unlike :func:`metadata_etl_framework_spark.ops.dedup.shingles`,
    which is a distinct set), so the output is the corpus n-gram
    frequency table a tokenizer-merges / phrase-mining / contamination
    triage pass starts from. With ``id_col`` the result adds
    ``doc_freq`` (distinct documents containing the n-gram).

    Plan: one explode → one groupBy (map-side partial counts).
    Corpus-wide top-k is a TakeOrderedAndProject (no global sort);
    per-group top-k is a row_number window partitioned by the group.
    Ties break lexicographically (deterministic).
    """
    grams = _token_ngrams(text_col, n, lowercase)

    cols = []
    if group_col:
        cols.append(F.col(group_col))
    if id_col:
        cols.append(F.col(id_col))
    ex = _spread(df).select(*cols, F.explode(grams).alias("ngram"))

    keys = ([group_col] if group_col else []) + ["ngram"]
    aggs = [F.count(F.lit(1)).alias("count")]
    if id_col:
        aggs.append(F.countDistinct(F.col(id_col)).alias("doc_freq"))
    counts = ex.groupBy(*keys).agg(*aggs)

    if group_col:
        w = Window.partitionBy(group_col).orderBy(
            F.desc("count"), F.col("ngram")
        )
        return (
            counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .drop("rank")
        )
    return counts.orderBy(F.desc("count"), F.col("ngram")).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 3,
    lowercase: bool = True,
) -> DataFrame:
    """Top-``top_n`` characteristic terms per document by smoothed
    TF-IDF (scikit-learn's convention: idf = ln((N+1)/(df+1)) + 1, raw
    term frequency) — the standard keyword/topic fingerprint used for
    corpus clustering, search indexing, and domain-mix reporting.

    Dataflow: one explode → groupBy(doc, token) for TF (shuffle 1, with
    map-side combine), a token-level groupBy for document frequency
    (shuffle 2 over the already-aggregated TF table, not raw tokens),
    a shuffle join TF⋈DF on token (skew-tolerant under AQE; the DF side
    is |vocab| rows, not corpus-sized), and a per-document window for
    the top-n cut. Scores are rounded to 6 decimals BEFORE ranking and
    tie-broken lexicographically, so the selected set is deterministic
    and engine-independent (double ulp differences in ln can't flip the
    rank). Output: (id, term, tf, score, rk).
    """
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    from pyspark.storagelevel import StorageLevel

    # persist: TF feeds BOTH the document-frequency aggregate and the
    # join's left side — without it the corpus-wide explode runs twice.
    # The TF table is distinct (doc, term) pairs — far smaller than the
    # exploded token stream it derives from.
    tf = (
        _spread(df).select(F.col(id_col), F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = df.select(id_col).distinct().count()
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_t"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df_t") + 1).cast("double")) + 1.0
    scored = tf.join(df_t, "term").withColumn(
        "score", F.round(F.col("tf") * idf, 6)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select(id_col, "term", "tf", "score", "rk")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: "Sequence[str]",
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
) -> DataFrame:
    """Okapi BM25 retrieval: the ``k`` corpus documents best matching a
    fixed query-term set — keyword-driven corpus SELECTION ("give me the
    best code-heavy documents") where :func:`tfidf_top_terms` only
    DESCRIBES documents. Lucene's idf variant: idf = ln(1 +
    (N − df + 0.5)/(df + 0.5)); score = Σ_t idf_t · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)).

    Scale shape — the posting-list trick: the exploded token stream is
    filtered to the QUERY TERMS before any shuffle, so only matching
    postings aggregate (never the full vocabulary); document length
    rides the explode as a carried column (no second scan or join
    against a corpus-wide lengths table); N and avgdl come from one
    1-row broadcast aggregate; the per-term df table is |query| rows,
    broadcast onto the postings. Per-document term scores accumulate as
    DECIMAL (order-independent), scores round to 6 dp BEFORE ranking
    (rank can't flip on a ulp), and the top-k is TakeOrdered with id
    tie-break. Output: (id, score, n_terms_hit).
    """
    terms = sorted({t.lower() if lowercase else t for t in query_terms})
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    base = _spread(df).select(
        F.col(id_col), toks.alias("_toks")
    ).withColumn("_dl", F.size("_toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        (
            F.sum(F.col("_dl").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avgdl"),
    )
    postings = (
        base.select(id_col, "_dl", F.explode("_toks").alias("_t"))
        .where(F.col("_t").isin(terms))
        .groupBy(id_col, "_dl", "_t")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    df_t = postings.groupBy("_t").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    idf = F.log(
        1.0
        + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_part = (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl") / F.col("_avgdl")))
    )
    return (
        postings.join(F.broadcast(df_t), "_t")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (idf * tf_part).cast("decimal(28,12)").alias("_s"),
        )
        .groupBy(id_col)
        .agg(
            F.round(F.sum("_s").cast("double"), 6).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def bm25_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
) -> DataFrame:
    """Batch BM25 retrieval JOIN: top-``k`` corpus documents for EVERY
    query in a query TABLE (``(query_id, terms array<string>)``) — the
    set-retrieval shape :func:`bm25_topk` (one fixed query, driver-side
    terms) can't serve when the queries themselves are data (thousands
    of curation probes, one per topic/benchmark).

    Fully distributed — the query set is never collected: the corpus
    posting stream is semi-joined against the DISTINCT query-term
    vocabulary (a frame, broadcast by AQE when small), per-term document
    frequencies aggregate from those postings, and scoring joins
    postings ⋈ exploded query terms on the term key — shuffles keyed on
    terms and (query, doc), nothing keyed on raw tokens. Per-(query,
    doc) term scores accumulate as DECIMAL; ranking uses the 6 dp
    rounded score with doc-id tie-break (deterministic top-k per
    query). Output: (query_id, id, score, n_terms_hit, rk).
    """
    qt = queries.select(
        F.col(query_id_col),
        F.explode(
            F.transform(
                F.col(terms_col),
                (lambda t: F.lower(t)) if lowercase else (lambda t: t),
            )
        ).alias("_t"),
    ).dropDuplicates([query_id_col, "_t"])
    vocab = qt.select("_t").distinct()

    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    base = _spread(corpus).select(
        F.col(id_col), toks.alias("_toks")
    ).withColumn("_dl", F.size("_toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        (
            F.sum(F.col("_dl").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avgdl"),
    )
    postings = (
        base.select(id_col, "_dl", F.explode("_toks").alias("_t"))
        .join(vocab, "_t", "left_semi")
        .groupBy(id_col, "_dl", "_t")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    df_t = postings.groupBy("_t").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    idf = F.log(
        1.0
        + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_part = (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl") / F.col("_avgdl")))
    )
    from pyspark.sql import Window

    scored = (
        postings.join(df_t, "_t")
        .join(qt, "_t")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            (idf * tf_part).cast("decimal(28,12)").alias("_s"),
        )
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(F.sum("_s").cast("double"), 6).alias("score"),
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a held-out evaluation set (the standard
    n-gram-overlap contamination check from the GPT-3/PaLM appendices;
    13-grams are the published convention — the default 8 suits the
    short synthetic docs).

    Scale shape: the BENCHMARK side is small by construction (eval sets,
    not corpora), so its distinct n-grams build a broadcast hash set and
    the training corpus streams through a broadcast equi-join — the
    100 TB side never shuffles. Returns one row per contaminated doc:
    (id, n_contaminated_ngrams, n_benchmark_docs_hit).
    """
    from metadata_etl_framework_spark.ops.dedup import shingles

    # small-file corpora scan as 1-2 partitions; the n-gram transform is
    # CPU-bound per row, so spread it before paying it (no-op when the
    # scan already has enough splits)
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    doc_grams = docs.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("_g")
    )
    bench_grams = benchmark.select(
        F.col(bench_id_col).alias("_bid"),
        F.explode(shingles(bench_text_col, n)).alias("_g"),
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy(id_col)
        .agg(
            F.countDistinct("_g").alias("n_contaminated_ngrams"),
            F.countDistinct("_bid").alias("n_benchmark_docs_hit"),
        )
    )


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    ngram_sizes: Sequence[int] = (2, 3),
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 repetition filters): fraction of duplicate non-empty lines and,
    per n in ``ngram_sizes``, the fraction of n-gram OCCURRENCES that are
    repeats of an earlier occurrence — high values mark boilerplate /
    degenerate generations that training pipelines drop.

    dup ratio = (occurrences − distinct) / occurrences, 0 for empty.
    The lines are :func:`_nonblank_lines` and the grams
    :func:`word_ngrams`, both codegen'd regex expressions, and the
    ratios take ``array_distinct``: a per-row projection with no shuffle
    and no per-element lambda, linear at corpus scale.
    """
    t = F.col(text_col)
    # Spark's trim() strips only ' ' — use regex trimming so tab/newline-only
    # docs and leading-tab docs don't yield phantom empty tokens.
    stripped = F.regexp_replace(F.lower(t), r"^\s+|\s+$", "")

    def dup_ratio(arr: Column) -> Column:
        n = F.size(arr)
        return F.round(
            F.when(
                n > 0,
                (n - F.size(F.array_distinct(arr))).cast("double") / n,
            ).otherwise(F.lit(0.0)),
            6,
        )

    lines = _nonblank_lines(t)
    out = df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        dup_ratio(lines).alias("dup_line_ratio"),
        stripped.alias("_stripped"),
    )
    # empty (or NULL) text has no tokens, so no grams and a 0 ratio
    for n in ngram_sizes:
        grams = F.when(
            F.coalesce(F.col("_stripped"), F.lit("")) == "",
            F.array().cast("array<string>"),
        ).otherwise(word_ngrams("_stripped", n))
        out = out.withColumn(f"dup_{n}gram_ratio", dup_ratio(grams))
    return out.drop("_stripped")


def mixing_plan(
    docs: DataFrame,
    weights: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    share_col: str = "share",
) -> DataFrame:
    """Corpus-mixing plan: per-source sampling fractions that hit a
    target token-share mix (the data-mixing step of training-data
    pipelines — DoReMi/Pile-style source weighting).

    ``weights`` carries (source, share) target shares. The achievable
    mixed-corpus size is capped by the scarcest source:
    ``T = min_s(tokens_s / share_s)``; each source then samples
    ``fraction_s = min(1, share_s·T / tokens_s)`` so realized token
    counts land on the target ratio exactly. One groupBy over the corpus
    + broadcast scalar — the plan is a tiny frame regardless of corpus
    size. Returns (source, n_docs, n_tokens, target_share,
    sample_fraction, expected_tokens); ``apply_mixing_plan`` draws the
    mix from it.
    """
    tok = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).alias("n_tokens"),
    )
    j = tok.join(
        weights.select(F.col(source_col), F.col(share_col).alias("_share")),
        source_col,
    )
    budget = j.filter(F.col("_share") > 0).agg(
        F.min(F.col("n_tokens") / F.col("_share")).alias("_T")
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        F.least(
            F.lit(1.0), F.col("_share") * F.col("_T") / F.col("n_tokens")
        ),
    ).otherwise(F.lit(0.0))
    return j.crossJoin(F.broadcast(budget)).select(
        F.col(source_col),
        "n_docs",
        "n_tokens",
        F.round("_share", 6).alias("target_share"),
        F.round(frac, 6).alias("sample_fraction"),
        F.floor(frac * F.col("n_tokens")).cast("long").alias("expected_tokens"),
    )


def temperature_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled source shares: ``p_s ∝ (tokens_s / N)^α`` —
    the XLM-R / mT5 multilingual sampling rule (α < 1 upweights scarce
    sources, α = 1 reproduces natural proportions, α = 0 is uniform).

    Output (source, n_tokens, natural_share, share) plugs straight into
    :func:`mixing_plan` as its ``weights`` frame, so
    ``mixing_plan(docs, temperature_weights(docs, 0.3))`` is the whole
    tempered-mixture pipeline. One groupBy + two 1-row broadcasts; the
    result is |sources| rows regardless of corpus size.

    Shares round to 6 decimals; the per-term pow/normalize arithmetic is
    plain double math replayable in SQL (differential-oracle convention).
    """
    tok = docs.groupBy(source_col).agg(
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens")
    )
    total = tok.agg(F.sum("n_tokens").alias("_N"))
    # decimal-truncated pow terms: the normalizer SUM is then exact and
    # order-independent (decimal accumulation parity convention)
    powed = tok.crossJoin(F.broadcast(total)).select(
        source_col,
        "n_tokens",
        (F.col("n_tokens") / F.col("_N")).alias("_nat"),
        F.pow(F.col("n_tokens") / F.col("_N"), F.lit(float(alpha)))
        .cast("decimal(28,15)")
        .alias("_p"),
    )
    z = powed.agg(F.sum("_p").alias("_Z"))
    return powed.crossJoin(F.broadcast(z)).select(
        source_col,
        "n_tokens",
        F.round("_nat", 6).alias("natural_share"),
        F.round(
            F.col("_p").cast("double") / F.col("_Z").cast("double"), 6
        ).alias("share"),
    )


def apply_mixing_plan(
    docs: DataFrame,
    plan: DataFrame,
    source_col: str = "source",
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a ``mixing_plan``: stratified Bernoulli sampling with
    the plan's per-source fractions. A row is kept when
    ``corpus.md5_uniform(id_col, salt=str(seed))`` is below its stratum's
    ``sample_fraction`` (sources missing from the plan keep nothing) —
    the step compiler's ``sample`` fraction draw: one pass, no shuffle,
    no RNG. Results are deterministic per (id, seed) and independent of
    partitioning, and a SQL oracle can replay the draw. Realized token
    counts concentrate on the plan's ``expected_tokens`` (tested with
    tolerance); the plan arithmetic lives in ``mixing_plan`` where the
    oracle checks it exactly."""
    from metadata_etl_framework_spark.ops.corpus import md5_uniform

    frac = F.lit(0.0)
    for r in plan.select(source_col, "sample_fraction").collect():
        frac = F.when(
            F.col(source_col) == F.lit(r[source_col]),
            F.lit(float(r["sample_fraction"])),
        ).otherwise(frac)
    return docs.filter(md5_uniform(F.col(id_col), salt=str(seed)) < frac)


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "token",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary frame
    (e.g. the ``vocabulary(top_k=...)`` head) — the standard coverage
    check before committing to a tokenizer vocab.

    Tokens explode executor-side and probe the vocabulary via a
    broadcast left join (a tokenizer vocab is small by construction), so
    the corpus never shuffles on token. Zero-token documents keep a row
    with rate 0.0. Output: (id, n_tokens, n_oov, oov_rate).
    """
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    exploded = _spread(df).select(F.col(id_col), F.explode(toks).alias("__tok")).filter(
        F.col("__tok") != ""
    )
    probed = exploded.join(
        F.broadcast(
            vocab.select(F.col(token_col).alias("__tok")).distinct().withColumn(
                "__in_vocab", F.lit(1)
            )
        ),
        "__tok",
        "left",
    )
    per_doc = probed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.round(
                F.when(
                    F.coalesce("n_tokens", F.lit(0)) > 0,
                    F.coalesce("n_oov", F.lit(0)).cast("double")
                    / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("oov_rate"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    vocab_counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "token",
    count_col: str = "count",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document mean unigram log-probability under a corpus unigram
    model (``vocabulary()`` counts) — the CCNet-style LM-score proxy used
    to rank pretraining documents by "naturalness". OOV tokens score at
    the add-one floor (log(1/(N+V))); higher (less negative) = more
    typical text.

    Broadcast join against the vocab (small by construction), decimal
    accumulation of the per-token log-probs for partition-independent
    means. Zero-token documents emit a null score.
    """
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    exploded = _spread(df).select(F.col(id_col), F.explode(toks).alias("__tok")).filter(
        F.col("__tok") != ""
    )
    totals = vocab_counts.agg(
        F.sum(F.col(count_col).cast("long")).alias("__n"),
        F.count(F.lit(1)).alias("__v"),
    )
    probed = (
        exploded.join(
            F.broadcast(
                vocab_counts.select(
                    F.col(token_col).alias("__tok"),
                    F.col(count_col).cast("long").alias("__c"),
                )
            ),
            "__tok",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        # add-one smoothing: p = (c+1)/(N+V); OOV → 1/(N+V)
        .withColumn(
            "__lp",
            F.log(
                (F.coalesce(F.col("__c"), F.lit(0)) + 1).cast("double")
                / (F.col("__n") + F.col("__v")).cast("double")
            ),
        )
    )
    per_doc = probed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.col("__lp").cast("decimal(28,10)")).alias("__sum_lp"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    # decimal sum (order-independent) → ONE double division;
                    # decimal/long division scale rules differ per engine
                    F.col("__sum_lp").cast("double") / F.col("n_tokens"),
                ),
                6,
            ).alias("mean_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    bigram model — the KenLM-style perplexity-proxy one order above
    :func:`unigram_logprob`: ``p(w₂|w₁) = (B(w₁w₂)+1)/(U(w₁)+V)``
    (add-one smoothing over the conditional), scored as the mean ln p
    over the document's bigrams. Word-salad text that passes unigram
    typicality still scores low here when its SEQUENCES are atypical.

    Scale design: the bigram count table is NOT broadcast (it grows
    with the corpus) — document bigrams meet it in a shuffle equi-join
    on the bigram key, then the unigram conditionals join on w₁; the
    1-row vocab-size frame is the only broadcast. Decimal accumulation
    keeps the mean partition-order-independent. Documents with < 2
    tokens emit NULL.

    Output: (id, n_bigrams, mean_logprob 6dp).
    """
    toks = tokens(text_col)
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda j: F.struct(
            F.element_at(toks, j).alias("w1"),
            F.concat_ws(
                " ", F.element_at(toks, j), F.element_at(toks, j + 1)
            ).alias("bg"),
        ),
    )
    doc_bg = _spread(df).select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(id_col, F.col("g.w1").alias("__w1"), F.col("g.bg").alias("__bg"))

    uni = (
        _spread(df)
        .select(F.explode(toks).alias("__w1"))
        .filter(F.col("__w1") != "")
        .groupBy("__w1")
        .agg(F.count(F.lit(1)).alias("__u"))
    )
    big = doc_bg.groupBy("__bg").agg(F.count(F.lit(1)).alias("__b"))
    vsize = uni.agg(F.count(F.lit(1)).alias("__v"))

    probed = (
        doc_bg.join(big, "__bg", "left")
        .join(uni, "__w1", "left")
        .crossJoin(F.broadcast(vsize))
        .withColumn(
            "__lp",
            F.log(
                (F.coalesce(F.col("__b"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("__u"), F.lit(0)) + F.col("__v")).cast(
                    "double"
                )
            ),
        )
    )
    per_doc = probed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.col("__lp").cast("decimal(28,10)")).alias("__s"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(
                F.when(
                    F.col("n_bigrams") > 0,
                    F.col("__s").cast("double") / F.col("n_bigrams"),
                ),
                6,
            ).alias("mean_logprob"),
        )
    )


def ngram_lm_perplexity(
    df: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
    lam: float = 0.9,
    lowercase: bool = True,
    bucket_cuts: "tuple[float, float] | None" = None,
) -> DataFrame:
    """CCNet-style reference-LM perplexity filter (Wenzek et al. 2020):
    train an interpolated bigram language model on a CLEAN ``reference``
    corpus (their KenLM-on-Wikipedia role), score every document of
    ``df`` by perplexity under it, and — when ``bucket_cuts`` is given —
    assign the head/middle/tail quality buckets curation pipelines keep,
    sample, or drop. The self-trained :func:`bigram_logprob` asks "is
    this document typical of the corpus?"; this op asks the filtering
    question "is it typical of the corpus we TRUST?".

    Model: ``p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·(c(w₂)+α)/(T+α·(V+1))``
    — ML bigram interpolated with an add-α unigram (the +1 in the
    denominator is the OOV bucket, so unseen words keep nonzero mass;
    ``λ < 1`` keeps every probability positive). Perplexity =
    exp(mean −ln p over the document's bigrams), computed from the mean
    at its published 6-dp rounding so an external oracle replays it.

    Scale shape: LM tables are corpus-vocabulary-sized DataFrames met
    in shuffle equi-joins (never broadcast — vocabulary grows with the
    reference), document bigrams pre-aggregate per (doc, w₁, w₂) before
    the join, per-term contributions quantize into DECIMAL(30,12) so
    the per-doc sum is partition-order-independent, and the two corpus
    scalars (token total T, vocab size V) come from one 1-row collect.
    Documents with < 2 tokens emit n_bigrams = 0 with NULL scores.

    Output: (id, n_bigrams, avg_nll 6dp, perplexity 6dp[, bucket]) —
    bucket ∈ head/middle/tail by ``bucket_cuts = (head_max, middle_max)``
    perplexity thresholds, NULL for unscorable docs.
    """
    if not 0.0 <= lam < 1.0:
        raise ValueError("lam must be in [0, 1) so OOV mass stays positive")
    if alpha <= 0.0:
        raise ValueError("alpha must be > 0")
    ref = reference if reference is not None else df
    toks = tokens(text_col)
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))

    # ---- train on the reference: unigram counts, bigram counts, T, V
    uni = (
        _spread(ref)
        .select(F.explode(toks).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tv = uni.agg(
        F.sum("__c").alias("T"), F.count(F.lit(1)).alias("V")
    ).collect()[0]
    t_tok, vocab = int(tv["T"] or 0), int(tv["V"] or 0)
    if t_tok == 0:
        raise ValueError("reference corpus has no tokens")
    # driver-side IEEE doubles, same expression an oracle writes in SQL
    denom = float(t_tok) + alpha * float(vocab + 1)
    one_minus_lam = 1.0 - lam

    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda j: F.struct(
            F.element_at(toks, j).alias("w1"),
            F.element_at(toks, j + 1).alias("w2"),
        ),
    )
    big = (
        _spread(ref)
        .select(F.explode(grams).alias("g"))
        .select(F.col("g.w1").alias("__w1"), F.col("g.w2").alias("__w2"))
        .groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__cb"))
    )

    # ---- score df: per-doc distinct-bigram counts meet the LM tables
    doc_bg = (
        _spread(df)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(
            id_col,
            F.col("g.w1").alias("__w1"),
            F.col("g.w2").alias("__w2"),
        )
        .groupBy(id_col, "__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    uni1 = uni.select(
        F.col("__w").alias("__w1"), F.col("__c").alias("__c1")
    )
    uni2 = uni.select(
        F.col("__w").alias("__w2"), F.col("__c").alias("__c2")
    )
    ml = F.when(
        F.col("__c1").isNotNull(),
        F.coalesce(F.col("__cb"), F.lit(0)).cast("double")
        / F.col("__c1").cast("double"),
    ).otherwise(F.lit(0.0))
    p_uni = (
        F.coalesce(F.col("__c2"), F.lit(0)).cast("double") + F.lit(alpha)
    ) / F.lit(denom)
    p = F.lit(lam) * ml + F.lit(one_minus_lam) * p_uni
    probed = (
        doc_bg.join(big, ["__w1", "__w2"], "left")
        .join(uni1, "__w1", "left")
        .join(uni2, "__w2", "left")
        .withColumn(
            "__t",
            (F.col("__cnt").cast("double") * -F.log(p)).cast(
                "decimal(30,12)"
            ),
        )
    )
    per_doc = probed.groupBy(id_col).agg(
        F.sum("__cnt").cast("long").alias("n_bigrams"),
        F.sum("__t").alias("__s"),
    )
    avg_nll = F.round(
        F.when(
            F.col("n_bigrams") > 0,
            F.col("__s").cast("double") / F.col("n_bigrams").cast("double"),
        ),
        6,
    )
    out = (
        df.select(id_col)
        .distinct()
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            avg_nll.alias("avg_nll"),
        )
        .withColumn("perplexity", F.round(F.exp(F.col("avg_nll")), 6))
    )
    if bucket_cuts is not None:
        head_max, middle_max = float(bucket_cuts[0]), float(bucket_cuts[1])
        if not middle_max > head_max:
            raise ValueError("bucket_cuts must be (head_max, middle_max) ascending")
        out = out.withColumn(
            "bucket",
            F.when(F.col("perplexity").isNull(), F.lit(None).cast("string"))
            .when(F.col("perplexity") <= head_max, F.lit("head"))
            .when(F.col("perplexity") <= middle_max, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    return out


def corpus_summary(
    df: DataFrame,
    group_cols: Sequence[str] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Dataset-card summary: per group (source × lang by default) the
    document count, token total, mean document length, and share of all
    documents — the first table of any corpus report. One aggregation
    pass + a 1-row total broadcast."""
    toks = F.size(F.coalesce(tokens(text_col), F.array().cast("array<string>")))
    per = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(toks.cast("long")).alias("total_tokens"),
    )
    totals = per.agg(F.sum("n_docs").alias("__all_docs"))
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            *group_cols,
            "n_docs",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("avg_tokens_per_doc"),
            F.round(
                F.col("n_docs").cast("double") / F.col("__all_docs"), 6
            ).alias("doc_share"),
        )
    )


def quality_score_column(
    text_col: str = "text",
    target_tokens: int = 200,
    weights: tuple[float, float, float, float] = (0.35, 0.25, 0.2, 0.2),
) -> Column:
    """The composite quality score of :func:`quality_score` as ONE
    Column over ``text_col`` — the builder both ``quality_score`` and the
    step compiler's ``quality_filter`` use, so a filter scores each row in
    place (``withColumn`` + ``filter``) instead of joining a scored copy
    of its input back on the id.

    Its inputs are :func:`_quality_feature_columns` and the
    :func:`_nonblank_lines` that ``repetition_metrics``' dup-line ratio
    also reads: regex, ``translate`` and array expressions, all
    codegen'd, with no lambda evaluated per token or per line."""
    w = [float(x) for x in weights]
    total = sum(w)
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    w = [x / total for x in w]
    f = _quality_feature_columns(text_col)
    lines = _nonblank_lines(text_col)
    n_lines = F.size(lines)
    dup_line_ratio = F.round(
        F.when(
            n_lines > 0,
            (n_lines - F.size(F.array_distinct(lines))).cast("double")
            / n_lines,
        ).otherwise(F.lit(0.0)),
        6,
    )
    # size(NULL array) is NULL and least() SKIPS nulls (a null-text doc
    # would score a perfect length component) — coalesce to 0 first
    nt = F.coalesce(f["n_tokens"].cast("double"), F.lit(0.0))
    length_s = F.least(nt / F.lit(float(target_tokens)), F.lit(1.0))
    stop_s = F.least(f["stopword_ratio"] * 3.0, F.lit(1.0))
    punct_s = 1.0 - F.least(f["punct_ratio"] * 3.0, F.lit(1.0))
    dedup_s = 1.0 - dup_line_ratio

    # decimal-exact blend (parity convention): every component is a
    # ~6-decimal quantity, so decimal(16,6) represents it exactly and
    # the weighted sum can't land a final-round boundary on a double ulp
    def _d(c: Column) -> Column:
        return c.cast("decimal(16,6)")

    score = sum(
        (F.lit(round(wi, 6)).cast("decimal(16,6)") * _d(c)
         for wi, c in zip(w, (length_s, stop_s, punct_s, dedup_s))),
        start=F.lit(0).cast("decimal(16,6)"),
    )
    return F.round(score, 6).cast("double")


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 200,
    weights: tuple[float, float, float, float] = (0.35, 0.25, 0.2, 0.2),
) -> DataFrame:
    """Composite document quality score in [0, 1] — the single sortable
    number corpus-filtering pipelines threshold or curriculum-order on,
    combining the published heuristic families (C4 / Gopher) that the
    individual feature ops expose separately:

    * length   — ``min(n_tokens / target_tokens, 1)``: rewards documents
      long enough to carry content, capped so length can't dominate.
    * stopword — stopword ratio scaled by 3 and capped at 1 (natural
      prose sits near ~1/3 stopwords; near-zero marks keyword spam).
    * punct    — ``1 - min(3 · punct_ratio, 1)``: punctuation-dense
      boilerplate (code, markup) scores low.
    * dedup    — ``1 - dup_line_ratio``: within-document line repetition
      (Gopher §A1.1) scores low.

    ONE pure-JVM projection per document — the line-repetition component
    reads the same :func:`_nonblank_lines` ``repetition_metrics`` uses
    rather than joining two derivations of the same input (a join here
    would shuffle the whole corpus on id for values computable in
    place). No shuffle, no UDF, so the score pipelines with the scan at
    corpus scale.
    Weights are caller-tunable and normalized to sum 1. The score is
    :func:`quality_score_column`, the Column builder a caller that wants
    the score next to its own columns uses directly.
    Output: (id, n_tokens long, quality_score double).
    """
    score = quality_score_column(text_col, target_tokens, weights)
    n_tokens = F.size(tokens(text_col)).cast("long")
    return df.select(
        id_col,
        F.coalesce(n_tokens, F.lit(0)).alias("n_tokens"),
        score.alias("quality_score"),
    )


def source_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-group unigram KL divergence against the whole-corpus unigram
    distribution — the standard domain-shift diagnostic behind corpus
    mixing decisions (a source with high KL is lexically unlike the
    blend; tracked over snapshots it flags drift).

    Distributions are add-one smoothed over the corpus vocabulary V:
    ``p_g(t) = (c_g(t)+1)/(N_g+V)``, ``q(t) = (c(t)+1)/(N+V)``, and the
    sum runs over the group's OBSERVED tokens (the conventional
    observed-support estimate — unobserved tokens contribute nothing to
    Σ p·ln(p/q) beyond smoothing mass, and restricting the sum keeps
    the computation one join over (group, token) cells instead of a
    |V|×|groups| grid).

    Dataflow: explode → one groupBy for (group, token) counts; token
    totals and group totals derive from THAT aggregate, not the raw
    corpus; a broadcast of the (1-row) corpus totals and a shuffle join
    on token close the computation. Decimal accumulation of the
    per-token terms keeps the sum partition-order-independent.
    Output: (group, n_tokens, kl_vs_corpus).
    """
    toks = F.coalesce(tokens(text_col), F.array().cast("array<string>"))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    cells = (
        _spread(df).select(F.col(group_col).alias("grp"), F.explode(toks).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_gt"))
    )
    tok_tot = cells.groupBy("tok").agg(F.sum("c_gt").alias("c_t"))
    grp_tot = cells.groupBy("grp").agg(F.sum("c_gt").alias("n_g"))
    corpus = cells.agg(
        F.sum("c_gt").alias("n_all"),
        F.count_distinct("tok").alias("v_all"),
    )
    p = (F.col("c_gt") + 1).cast("double") / (F.col("n_g") + F.col("v_all"))
    q = (F.col("c_t") + 1).cast("double") / (F.col("n_all") + F.col("v_all"))
    term = (p * F.log(p / q)).cast("decimal(28,12)")
    return (
        cells.join(tok_tot, "tok")
        .join(F.broadcast(grp_tot), "grp")
        .crossJoin(F.broadcast(corpus))
        .groupBy("grp", "n_g")
        .agg(F.sum(term).alias("_kl"))
        .select(
            F.col("grp").alias(group_col),
            F.col("n_g").cast("long").alias("n_tokens"),
            F.round(F.col("_kl").cast("double"), 6).alias("kl_vs_corpus"),
        )
    )


def epoch_plan(
    docs: DataFrame,
    weights: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    share_col: str = "share",
) -> DataFrame:
    """Epoch plan: the OVERSAMPLING complement of ``mixing_plan``. Given
    an absolute training token budget and target source shares, compute
    how many epochs (passes, fractional, possibly > 1) of each source
    realize the mix: ``epochs_s = budget·share_s / tokens_s``. This is
    the practical pretraining calculation when the budget exceeds what
    subsampling can supply and scarce high-quality sources repeat
    (is_oversampled flags epochs > 1 — the signal to check a source's
    repetition tolerance before committing the mix).

    Same shape as mixing_plan: one corpus groupBy, broadcast-sized
    output. Output: (source, n_docs, n_tokens, target_share,
    target_tokens, epochs, is_oversampled).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    tok = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
    )
    j = tok.join(
        weights.select(F.col(source_col), F.col(share_col).alias("_share")),
        source_col,
    )
    target = F.col("_share") * F.lit(float(budget_tokens))
    epochs = F.when(F.col("n_tokens") > 0, target / F.col("n_tokens"))
    return j.select(
        F.col(source_col),
        "n_docs",
        "n_tokens",
        F.round("_share", 6).alias("target_share"),
        F.floor(target).cast("long").alias("target_tokens"),
        F.round(epochs, 6).alias("epochs"),
        F.coalesce(epochs > 1.0, F.lit(False)).alias("is_oversampled"),
    )


def _hashed_bigram_buckets(text_col: str, n_buckets: int) -> Column:
    """Array of hashed-bigram feature buckets for a document: adjacent
    lowercased whitespace tokens, md5-hashed into ``n_buckets`` (first 8
    hex chars as an integer — the same engine-portable construction as
    ``corpus.md5_uniform``, so any SQL oracle can replay it)."""
    toks = F.transform(
        F.coalesce(tokens(text_col), F.array().cast("array<string>")),
        lambda t: F.lower(t),
    )
    n = F.size(toks)
    grams = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )).otherwise(F.array().cast("array<string>"))
    return F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
        .cast("long") % n_buckets,
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every RAW document by how target-like its
    hashed-bigram distribution is. Each corpus is reduced to bucket
    counts over md5-hashed bigram features; with add-one smoothing,

        log w(x) = Σ_f [ log p_target(bucket_f) − log p_raw(bucket_f) ]

    summed over the document's features. High log-weight documents look
    like the target corpus (e.g. curated wiki/books) and are what the
    resampling step keeps.

    Scale: the feature tables are ``n_buckets`` rows regardless of corpus
    size — both sides broadcast; the per-doc score is one explode +
    broadcast join + decimal-sum groupBy on the raw corpus, no shuffle of
    anything corpus-sized but the doc ids. Zero-feature documents (0/1
    tokens) get log_weight NULL.

    Returns (id_col, n_features, log_weight). Deterministic across
    engines: md5 bucketing + decimal accumulation + one final round(6).
    """
    from pyspark.storagelevel import StorageLevel

    feats = _hashed_bigram_buckets(text_col, n_buckets)

    # the tokenize+hash projection is the dominant per-row cost; the raw
    # corpus pays it ONCE (persisted) and both its bucket-count fit and
    # the per-doc scoring read the cache
    exploded = (
        _spread(raw)
        .select(F.col(id_col), F.explode(feats).alias("__b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tc = (
        _spread(target)
        .select(F.explode(feats).alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__tc"))
    )
    rc = exploded.groupBy("__b").agg(F.count(F.lit(1)).alias("__rc"))
    t_tot = tc.agg(F.coalesce(F.sum("__tc"), F.lit(0)).alias("__tn"))
    r_tot = rc.agg(F.coalesce(F.sum("__rc"), F.lit(0)).alias("__rn"))

    scored = (
        exploded.join(F.broadcast(tc), "__b", "left")
        .join(F.broadcast(rc), "__b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .withColumn(
            "__lw",
            F.log(
                (F.coalesce("__tc", F.lit(0)) + 1).cast("double")
                / (F.col("__tn") + F.lit(n_buckets)).cast("double")
            )
            - F.log(
                (F.coalesce("__rc", F.lit(0)) + 1).cast("double")
                / (F.col("__rn") + F.lit(n_buckets)).cast("double")
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_features"),
        F.sum(F.col("__lw").cast("decimal(28,10)")).alias("__s"),
    )
    return (
        raw.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).cast("long").alias("n_features"),
            F.round(
                F.when(F.col("n_features") > 0, F.col("__s").cast("double")),
                6,
            ).alias("log_weight"),
        )
    )


def dsir_resample(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    salt: str = "",
) -> DataFrame:
    """The resampling half of DSIR: draw ``k`` documents with probability
    ∝ exp(log_weight) WITHOUT replacement via the Gumbel-top-k trick —
    priority = log_weight + Gumbel(0,1), the k largest win. Working in
    log space never exponentiates the weights (no overflow for extreme
    scores). The Gumbel noise comes from a deterministic md5 uniform, so
    the draw is replayable and oracle-checkable; vary ``salt`` for an
    independent draw. Global top-k compiles to TakeOrderedAndProject —
    no full sort at corpus scale. NULL-weight (zero-feature) docs are
    excluded (zero mass)."""
    from metadata_etl_framework_spark.ops.corpus import md5_uniform

    if k <= 0:
        raise ValueError("k must be positive")
    h = F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    # u in (0,1) strictly — the +0.5 offset keeps both ln() calls finite
    u = (F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + 0.5) / F.lit(
        float(1 << 32)
    )
    gumbel = -F.log(-F.log(u))
    return (
        scored.filter(F.col(weight_col).isNotNull())
        .withColumn("priority", F.round(F.col(weight_col) + gumbel, 9))
        .withColumn("__tie", h)
        .orderBy(F.desc("priority"), F.asc("__tie"))
        .limit(k)
        .drop("__tie")
    )


def dedup_lines_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
) -> DataFrame:
    """Corpus-global LINE deduplication — the C4/RefinedWeb boilerplate
    pass: a line whose trimmed form occurs in more than ``max_docs``
    DISTINCT documents (nav menus, cookie banners, footers) is dropped
    from every document, and each document's text is reassembled from
    its surviving lines in original order. Blank lines are structural,
    not content — they are never counted or dropped.

    Scale: lines explode once; the duplicate-line table is built by one
    (line-hash, doc) distinct + count — an equi-join-shaped shuffle on a
    16-byte hash, the same shape as exact doc dedup, never anything
    pairwise. Reassembly is a per-document sort_array over (pos, line)
    structs + array_join — no window, one groupBy shuffle on the doc id.

    Returns (id_col, clean_text, n_lines_kept, n_lines_dropped); NULL
    text stays NULL with zero counts. Reference parity: extends the
    duplicate-detection arm of src/utils/data_deduplicator.py from
    whole-document to line granularity (C4, Raffel et al. 2020,
    arXiv:1910.10683 §2.2).
    """
    lines = _spread(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__norm", F.trim(F.col("__line")))
    content = lines.filter(F.col("__norm") != "")
    # distinct (hash, doc) then count per hash == COUNT(DISTINCT doc) with
    # map-side combine on both steps — no count-distinct state explosion
    dup_lines = (
        content.select(F.md5(F.col("__norm")).alias("__h"), F.col(id_col))
        .dropDuplicates()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .filter(F.col("__docs") > max_docs)
        .select("__h")
    )
    kept = lines.join(
        dup_lines,
        (F.md5(F.col("__norm")) == F.col("__h")) & (F.col("__norm") != ""),
        "left_anti",
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
    )
    n_lines = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n_total")
    )
    return (
        df.select(id_col, F.col(text_col).alias("__orig"))
        .join(reassembled, id_col, "left")
        .join(n_lines, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__orig").isNotNull(), F.coalesce("clean_text", F.lit(""))).alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
            (F.coalesce("__n_total", F.lit(0)) - F.coalesce("n_lines_kept", F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication spans (the distributed analog of
    ExactSubstr dedup — Lee et al. 2021, arXiv:2107.06499): find every
    maximal token range of a document that is covered by ``n``-token
    windows occurring verbatim in ≥ ``min_docs`` distinct documents.
    Downstream either drops the spans (the paper's remedy) or drops
    documents whose covered fraction is too high.

    The paper builds a corpus suffix array — inherently sequential and
    memory-bound at 100 TB. The distributed re-expression: every n-token
    window hashes to 16 bytes (md5 of the space-joined window — an
    n-gram fingerprint, not the text); repeated windows fall out of one
    (hash, doc) distinct + count ≥ min_docs — the same equi-join shape
    as exact document dedup, nothing pairwise, nothing sequential.
    Matching windows join back to their (doc, start) positions and
    overlapping/adjacent windows fuse into maximal spans with the
    gaps-and-islands pattern: a running MAX(end) window per document
    marks island starts, a running SUM of the marks numbers them, one
    groupBy emits (span_start, span_end). Both windows partition on the
    document id — bounded by document length, never corpus-wide.

    Returns (id_col, span_start, span_end, span_tokens) with 0-based
    inclusive token indices. Documents with no repeated window emit no
    rows. Windows are case-sensitive exact, matching the paper.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = tokens(text_col)
    # every n-token window: (start, md5(window)) — built in one JVM
    # projection, exploded once
    wins = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.struct(
            i.alias("s"),
            F.md5(F.array_join(F.slice(toks, i + 1, n), " ")).alias("h"),
        ),
    )
    exploded = (
        _spread(df)
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), F.explode(wins).alias("w"))
        .select(F.col(id_col), F.col("w.s").alias("__s"), F.col("w.h").alias("__h"))
    )
    repeated = (
        exploded.select("__h", id_col)
        .dropDuplicates()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("__h")
    )
    hits = exploded.join(repeated, "__h").select(
        F.col(id_col), F.col("__s"), (F.col("__s") + n - 1).alias("__e")
    )
    w_order = Window.partitionBy(id_col).orderBy("__s")
    prev_max_end = F.max("__e").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "__new",
        F.when(
            prev_max_end.isNull() | (F.col("__s") > prev_max_end + 1), 1
        ).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        marked.groupBy(id_col, "__island")
        .agg(
            F.min("__s").cast("long").alias("span_start"),
            F.max("__e").cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply ``repeated_ngram_spans`` output as the ExactSubstr remedy:
    delete the flagged token ranges from each document and reassemble
    the surviving tokens in order. Span rows explode to (doc, token
    position) drop-lists — Σ span_tokens rows, bounded by corpus token
    count — and removal is one left-anti equi-join on (doc, pos); no
    per-row Python, no substring arithmetic.

    Returns every input row as (id_col, clean_text, n_tokens_kept,
    n_tokens_removed); NULL text stays NULL, documents with no flagged
    span pass through verbatim (token-normalized whitespace).
    """
    toks = tokens(text_col)
    exploded = _spread(df).select(
        F.col(id_col), F.posexplode(toks).alias("__pos", "__tok")
    )
    drop = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("__pos"),
    ).dropDuplicates()
    kept = exploded.join(drop, [id_col, "__pos"], "left_anti")
    reasm = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_kept"),
    )
    totals = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nt")
    )
    return (
        df.select(id_col, F.col(text_col).alias("__orig"))
        .join(reasm, id_col, "left")
        .join(totals, id_col, "left")
        .select(
            id_col,
            F.when(
                F.col("__orig").isNotNull(), F.coalesce("clean_text", F.lit(""))
            ).alias("clean_text"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
            (F.coalesce("__nt", F.lit(0)) - F.coalesce("n_tokens_kept", F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def _bpe_train_local(
    word_counts: "Iterable[tuple[list[str], int]]",
    n_merges: int,
    min_pair_count: int,
) -> "list[tuple[int, str, str, str, int]]":
    """Driver-side BPE trainer over a collected word-frequency table —
    merge-for-merge identical to the distributed loop: same weighted
    pair counts, same (count desc, lexicographic) arg-max (Python str
    ordering == Spark's binary UTF-8 ordering, both code-point order),
    same greedy left-to-right scan-and-skip fuse, same early stop."""
    merges: list[tuple[int, str, str, str, int]] = []
    words = [(list(syms), cnt) for syms, cnt in word_counts]
    for it in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((it, a, b, a + b, c))
        fused = a + b
        for idx, (syms, cnt) in enumerate(words):
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = fused
                else:
                    out.append(s)
            words[idx] = (out, cnt)
    return merges


# Distinct-word bound of the driver-local bpe_train finish.
BPE_DRIVER_MAX_WORDS = 500_000


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    lowercase: bool = True,
    min_pair_count: int = 2,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus — the iterative
    tokenizer-training loop, distributed the way real BPE trainers work:
    the corpus first collapses to the DISTINCT word-frequency table
    (:func:`vocabulary` — one shuffle; at web scale millions of words,
    not billions of tokens), and every merge iteration then runs on
    that table only:

    1. weighted adjacent-pair counts (explode + groupBy, counts
       weighted by word frequency),
    2. the arg-max pair — count desc, then lexicographic, so the merge
       sequence is deterministic (TakeOrdered 1),
    3. greedy left-to-right merge application as a pure JVM ``aggregate``
       lambda over each word's symbol array (no UDF): append the symbol,
       or fuse it into the accumulator's tail when (tail, symbol)
       matches the learned pair.

    Stops early when no pair reaches ``min_pair_count``. Driver work is
    one 1-row collect per merge (the learned pair); everything heavy is
    the per-iteration pair count over the word table. Output: one row
    per learned merge — (merge_idx, left, right, merged, pair_count) —
    the merges list a BPE tokenizer replays at encode time.

    **Driver-local finish gate** (the `connected_components` union-find
    precedent): a real 32k-merge vocabulary would otherwise be 32k
    sequential Spark jobs, while the word-frequency table is
    vocab-sized (millions of rows at web scale, not corpus-sized) and
    CONSTANT in row count across iterations. When it has at most
    ``BPE_DRIVER_MAX_WORDS`` distinct words, the table crosses the
    ``driver_table`` seam once and all merges run in pure Python —
    merge-for-merge identical output (same weighted counts, same
    ordering, same greedy fuse; pinned by a both-paths test). Above
    the gate, or with ``SPARK_GRAFT_DRIVER_GATE=0``, the fully
    distributed per-iteration loop runs.

    Property-tested against an independent pure-Python BPE reference
    (tests/test_corpus_ops.py).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    from pyspark.storagelevel import StorageLevel

    words = vocabulary(df, text_col=text_col, lowercase=lowercase)
    cur = words.select(
        F.col("count"),
        # split keeps a trailing '' (Spark split limit=-1); drop empties
        F.filter(
            F.split(F.col("token"), r"(?!^)"), lambda s: s != ""
        ).alias("syms"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    schema = (
        "merge_idx int, left string, right string, merged string, "
        "pair_count long"
    )
    tbl = driver_table(cur, BPE_DRIVER_MAX_WORDS, size=cur.count)
    if tbl is not None:
        cur.unpersist()
        local = _bpe_train_local(
            zip(
                tbl.column("syms").to_pylist(),
                tbl.column("count").to_pylist(),
            ),
            n_merges,
            min_pair_count,
        )
        return df.sparkSession.createDataFrame(local, schema)

    merges: list[tuple[int, str, str, str, int]] = []
    for it in range(n_merges):
        pair_idx = F.when(
            F.size("syms") >= 2, F.sequence(F.lit(1), F.size("syms") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = cur.select(
            "count",
            F.explode(
                F.transform(
                    pair_idx,
                    lambda j: F.struct(
                        F.element_at("syms", j).alias("left"),
                        F.element_at("syms", j + 1).alias("right"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.left", "p.right")
            .agg(F.sum("count").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < min_pair_count:
            break
        a, b, c = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
        merges.append((it, a, b, a + b, c))

        # greedy left-to-right fuse: matches the canonical scan-and-skip
        merged_syms = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        nxt = cur.select("count", merged_syms.alias("syms")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        nxt.count()  # materialize before releasing the parent iteration
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return df.sparkSession.createDataFrame(merges, schema)


def bpe_encode(
    df: DataFrame,
    merges: "Sequence[tuple[str, str]]",
    text_col: str = "text",
    lowercase: bool = True,
    out: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize text with a learned BPE merge list (the encode side of
    :func:`bpe_train`): each word starts as characters and replays the
    merges IN TRAINING ORDER, each one the same greedy left-to-right JVM
    ``aggregate`` fuse used during training — so
    ``bpe_encode(df, bpe_train(df)...)`` reproduces the trainer's final
    segmentation exactly (property-tested). Linear in corpus size.

    Long merge lists are replayed in chunks of ``chunk_size`` Projects
    so the per-operator Catalyst expression tree stays bounded (a 32k
    vocabulary would otherwise nest 32k ``transform`` calls in one
    expression). Each chunk boundary multiply-references the produced
    column through a non-cheap identity guard, which is exactly the
    condition under which CollapseProject keeps adjacent Projects
    separate (same mechanism as the minhash signature split,
    ops/dedup.py) — no materialization, no shuffle, just a bounded
    plan.

    Adds ``{out}`` (array of subword strings per document, words
    flattened in order) and ``n_bpe_real`` (its length).
    """
    toks = tokens(text_col)
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    word_syms = F.transform(
        toks,
        lambda t: F.filter(F.split(t, r"(?!^)"), lambda s: s != ""),
    )
    def _merge_applier(a: str, b: str, fused: str):
        # factory keeps the higher-order lambda single-arg (Spark
        # inspects arity) while binding this iteration's pair
        def apply_merge(syms):
            return F.aggregate(
                syms,
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (s == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(fused)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            )

        return apply_merge

    # analyzer Resolution iterates once per nested-lambda level (cap
    # 100), so the chunk must stay well below that; 40 leaves headroom
    # for the surrounding tokens/filter lambdas
    chunk_size = 40
    merges = list(merges)
    work = df
    for ci in range(0, max(len(merges), 1), chunk_size):
        for a, b in merges[ci : ci + chunk_size]:
            word_syms = F.transform(word_syms, _merge_applier(a, b, a + b))
        if ci + chunk_size < len(merges):
            work = work.withColumn("_bpe_syms", word_syms)
            # identity guard referencing the column 3× (non-cheap,
            # multi-ref) — CollapseProject keeps the Project boundary,
            # bounding per-operator expression depth at ~chunk_size
            c = F.col("_bpe_syms")
            word_syms = F.when(F.size(c) < 0, c).otherwise(c)
    flat = F.flatten(word_syms)
    return (
        work.withColumn(out, flat)
        .withColumn("n_bpe_real", F.size(F.col(out)))
        .drop("_bpe_syms")
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    lowercase: bool = True,
) -> DataFrame:
    """Most frequent ADJACENT symbol pairs across the corpus — the
    counting step of one BPE merge iteration (the pair with the top
    count is the merge a BPE trainer would learn next). Symbols here
    are characters within whitespace tokens (the standard word-internal
    BPE setting: merges never cross word boundaries).

    Plan: tokens → per-token character-pair explode (flatten of a
    nested transform, pure JVM) → one counting groupBy →
    TakeOrderedAndProject top-k with lexicographic tie-break. The full
    iterative trainer is a driver loop re-running this count after each
    merge; the corpus-scale cost lives in this one operator.
    """
    toks = tokens(text_col)
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    pairs_per_token = F.transform(
        toks,
        lambda t: F.when(
            F.length(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 1),
                lambda i: t.substr(i, F.lit(2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    ex = (
        _spread(df)
        .where(F.col(text_col).isNotNull())
        .select(F.explode(F.flatten(pairs_per_token)).alias("pair"))
        .where(F.length("pair") == 2)
    )
    return (
        ex.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col("pair"))
        .limit(k)
    )


def heaps_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_points: int = 10,
) -> DataFrame:
    """Vocabulary-growth curve for Heaps'-law fitting: at ``n_points``
    corpus prefixes (doc-id thresholds at j/n_points of the max id),
    the cumulative token count N and distinct-vocabulary size V — the
    "how much NEW text does more data buy" diagnostic that decides
    whether further crawling grows a tokenizer's effective vocabulary.

    The trick that makes this one scan instead of n_points distinct
    counts: each term's FIRST document id is a plain groupBy(token)
    min — V(threshold) is then just "terms whose first_doc <=
    threshold", a conditional count over the term table; N(threshold)
    is the same conditional sum over per-doc token counts. Both run
    against the broadcast n_points-row threshold grid.

    Output: (point, threshold, n_tokens, vocab) for points 1..n_points
    (prefixes with zero docs report 0/0).
    """
    if n_points < 2:
        raise ValueError("n_points must be >= 2")
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    base = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("did"), toks.alias("toks")
    )
    doc_len = base.select("did", F.size("toks").alias("n"))
    first_doc = (
        base.select("did", F.explode("toks").alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("did").alias("first_doc"))
    )
    mx = doc_len.agg(F.max("did").alias("mx"))
    grid = (
        df.sparkSession.range(1, n_points + 1)
        .select(F.col("id").cast("int").alias("point"))
        .crossJoin(F.broadcast(mx))
        .select(
            "point",
            F.floor(F.col("mx") * F.col("point") / n_points).alias(
                "threshold"
            ),
        )
    )
    v = (
        first_doc.crossJoin(F.broadcast(grid))
        .where(F.col("first_doc") <= F.col("threshold"))
        .groupBy("point", "threshold")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    n = (
        doc_len.crossJoin(F.broadcast(grid))
        .where(F.col("did") <= F.col("threshold"))
        .groupBy("point", "threshold")
        .agg(F.sum("n").alias("n_tokens"))
    )
    return (
        grid.join(n, ["point", "threshold"], "left")
        .join(v, ["point", "threshold"], "left")
        .select(
            "point",
            "threshold",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce("vocab", F.lit(0)).cast("long").alias("vocab"),
        )
    )


def corpus_scaling_laws(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k_terms: int = 1000,
    n_points: int = 10,
) -> DataFrame:
    """Zipf + Heaps power-law fits in one row — the two corpus health
    numbers a data-mixing report quotes: Zipf slope ≈ −1 says the term
    distribution looks like natural language (a boilerplate-heavy or
    templated corpus flattens it), Heaps β ∈ (0,1) says how fast
    vocabulary still grows with more data.

    Zipf: OLS of ln(freq) on ln(rank) over the ``top_k_terms`` head of
    the term table, ranked by (freq desc, term) via the scale-safe
    global ROW_NUMBER (no partitionless window). Heaps: OLS of ln V on
    ln N over :func:`heaps_growth`'s prefix grid (points with V > 0).
    Both regressions run on bounded grids with 12dp-DECIMAL term sums
    (the OLS-trends convention), so the DuckDB oracle replays the fits
    exactly.

    Output: 1 row — (n_terms, n_tokens, zipf_slope 6dp,
    heaps_beta 6dp, heaps_k 6dp); NULL fits when a grid has < 2
    usable points.
    """
    from metadata_etl_framework_spark.ops.packing import global_row_number

    tf = vocabulary(df, text_col=text_col)
    ranked = global_row_number(
        tf.select(
            F.col("token"),
            F.col("count"),
            (-F.col("count")).alias("__neg"),
        ),
        [("__neg", "asc"), ("token", "asc")],
        out="rank",
    ).where(F.col("rank") <= top_k_terms)

    def _ols(points: DataFrame, xc, yc, slope_name: str, icept: str):
        t = points.select(
            F.round(xc, 12).cast("decimal(28,12)").alias("x"),
            F.round(yc, 12).cast("decimal(28,12)").alias("y"),
            F.round(xc * yc, 12).cast("decimal(38,12)").alias("xy"),
            F.round(xc * xc, 12).cast("decimal(38,12)").alias("xx"),
        )
        s = t.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum("xy").cast("double").alias("sxy"),
            F.sum("xx").cast("double").alias("sxx"),
        )
        den = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
        slope = F.when(
            (F.col("n") > 1) & (den > 0),
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / den,
        )
        intercept = F.when(
            slope.isNotNull(),
            (F.col("sy") - slope * F.col("sx")) / F.col("n"),
        )
        return s.select(
            slope.alias(slope_name), intercept.alias(icept)
        )

    zipf = _ols(
        ranked,
        F.log(F.col("rank").cast("double")),
        F.log(F.col("count").cast("double")),
        "zipf_slope",
        "__zi",
    )
    growth = heaps_growth(
        df, text_col=text_col, id_col=id_col, n_points=n_points
    ).where((F.col("vocab") > 0) & (F.col("n_tokens") > 0))
    heaps = _ols(
        growth,
        F.log(F.col("n_tokens").cast("double")),
        F.log(F.col("vocab").cast("double")),
        "heaps_beta",
        "__hi",
    )
    totals = tf.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("count").cast("long").alias("n_tokens"),
    )
    return (
        totals.join(F.broadcast(zipf))
        .join(F.broadcast(heaps))
        .select(
            "n_terms",
            "n_tokens",
            F.round("zipf_slope", 6).alias("zipf_slope"),
            F.round("heaps_beta", 6).alias("heaps_beta"),
            F.round(F.exp(F.col("__hi")), 6).alias("heaps_k"),
        )
    )


def text_readability(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document readability features + Flesch reading ease — the
    classic quality-filter signal a curation pipeline thresholds
    alongside the length/punctuation ratios in text_quality_score
    (very low readability flags boilerplate/code; implausibly high
    flags word salad).

    Counts: whitespace words; sentences = non-empty segments split on
    [.!?]+ runs (punctuation-free text counts as one sentence);
    syllables = per-word vowel-group count ([aeiouy]+ runs, min 1 per
    word — the standard heuristic). Flesch = 206.835 − 1.015·(W/S) −
    84.6·(Syl/W). Everything is one projection of per-row expressions
    (token HOFs bounded by document length, no shuffles, no UDFs).

    Output: (id_col, n_words, n_sentences, n_syllables, flesch 6dp);
    NULL flesch for empty documents.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    sent_segs = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"[.!?]+"),
        lambda s: F.trim(s) != "",
    )
    n_sent = F.greatest(
        F.size(sent_segs), F.when(n_words > 0, F.lit(1)).otherwise(0)
    )
    n_syll = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(
            F.regexp_count(F.lower(w), F.lit(r"[aeiouy]+")), F.lit(1)
        ),
    )
    flesch = F.when(
        (n_words > 0) & (n_sent > 0),
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double")),
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    stopwords: "tuple[str, ...]" = DEFAULT_STOPWORDS,
    top_k: int = 25,
    max_phrase_words: int = 4,
) -> DataFrame:
    """Corpus-level RAKE keyword extraction (Rose et al. 2010): candidate
    phrases are maximal runs of non-stopword words; each word scores
    deg(w)/freq(w) where deg counts, over every phrase occurrence of w,
    the phrase's length (co-occurrence-weighted degree incl. self) and
    freq counts occurrences; a phrase scores the sum of its word
    scores. The unsupervised keyword table behind corpus triage —
    complements tf-idf (which needs per-doc framing) with
    multi-word-phrase awareness.

    Built entirely from two string passes + vocabulary-bounded
    aggregates: lowercase → collapse non-alphanumerics → replace
    word-boundary stopwords with a delimiter → split to phrases
    (no per-row Python). Word scores round to 6 dp and accumulate as
    DECIMAL per phrase, so ranking is merge-order independent; phrases
    longer than ``max_phrase_words`` are dropped whole (degenerate
    stopword-free walls of text would otherwise dominate deg).

    Output: top ``top_k`` by (score desc, phrase asc) —
    (phrase, n_words int, n_occurrences long, score 6 dp).
    """
    sw_pattern = r"\b(" + "|".join(stopwords) + r")\b"
    cleaned = F.regexp_replace(
        F.lower(F.col(text_col)), r"[^a-z0-9]+", " "
    )
    marked = F.regexp_replace(cleaned, sw_pattern, "|")
    ph = (
        _spread(df.where(F.col(text_col).isNotNull()))
        .select(F.explode(F.split(marked, r"\|")).alias("_raw"))
        .select(F.trim(F.col("_raw")).alias("_ph"))
        .where(F.col("_ph") != "")
        .withColumn("_len", F.size(F.split(F.col("_ph"), r"\s+")))
        .where(F.col("_len") <= int(max_phrase_words))
    )
    ph = ph.persist()
    try:
        stats = (
            ph.select(
                F.explode(F.split(F.col("_ph"), r"\s+")).alias("_w"),
                F.col("_len"),
            )
            .groupBy("_w")
            .agg(
                F.count(F.lit(1)).alias("_freq"),
                F.sum("_len").alias("_deg"),
            )
            .select(
                "_w",
                F.round(
                    F.col("_deg").cast("double") / F.col("_freq"), 6
                )
                .cast("decimal(18,6)")
                .alias("_s"),
            )
        )
        pc = ph.groupBy("_ph").agg(F.count(F.lit(1)).alias("_n_occ"))
        pw = pc.select(
            "_ph",
            "_n_occ",
            F.explode(F.split(F.col("_ph"), r"\s+")).alias("_w"),
        )
        out = (
            pw.join(stats, "_w")
            .groupBy("_ph", "_n_occ")
            .agg(F.sum("_s").alias("_score"))
            .select(
                F.col("_ph").alias("phrase"),
                F.size(F.split(F.col("_ph"), r"\s+"))
                .cast("int")
                .alias("n_words"),
                F.col("_n_occ").cast("long").alias("n_occurrences"),
                F.round(F.col("_score").cast("double"), 6).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("phrase"))
            .limit(int(top_k))
        )
        out = out.localCheckpoint(eager=True)
    finally:
        ph.unpersist()
    return out


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    iterations: int = 3,
    damping: float = 0.85,
    top_k: int = 20,
    min_cooc: int = 2,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    graph-based companion to :func:`rake_keywords` and the TF-IDF
    readout: words become nodes, co-occurrence within ``window``
    positions becomes weighted edges, and PageRank centrality (not
    raw frequency) ranks the keywords, so connector terms that
    co-occur with MANY distinct words outrank locally-frequent ones.

    A pure composition of existing engine pieces: co-occurring pairs
    are generated ENTIRELY map-side as shifted-array zips (for each
    offset d ≤ window, zip the token array with itself shifted by d —
    no positional self-join, no extra shuffle; the only row-scale
    shuffle is the pair-count groupBy), pruned by the ``min_cooc``
    support floor before any iteration, then
    :func:`ops.graph.pagerank` — weighted, damped,
    DECIMAL-accumulated, the SAME oracle-replayable iteration loop the
    supplier-graph keys pin. Top-k cut on (rank DESC, word ASC) — a
    total order over the 6 dp published ranks.

    Output: (word, rank 6 dp), ``top_k`` rows.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    from .graph import pagerank

    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    base = _spread(df).select(toks.alias("_t"))
    n = F.size(F.col("_t"))
    zips = []
    for d in range(1, int(window) + 1):
        ln = n - F.lit(d)
        zips.append(
            F.when(
                ln > 0,
                F.arrays_zip(
                    F.slice(F.col("_t"), F.lit(1), ln).alias("x"),
                    F.slice(F.col("_t"), F.lit(d + 1), ln).alias("y"),
                ),
            ).otherwise(
                F.array().cast("array<struct<x:string,y:string>>")
            )
        )
    allpairs = zips[0] if len(zips) == 1 else F.concat(*zips)
    pairs = (
        base.select(F.explode(allpairs).alias("_p"))
        .where(F.col("_p.x") != F.col("_p.y"))
        .groupBy(
            F.least(F.col("_p.x"), F.col("_p.y")).alias("a"),
            F.greatest(F.col("_p.x"), F.col("_p.y")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_cooc > 1:
        pairs = pairs.where(F.col("n") >= min_cooc)
    # pagerank materializes its node set, out-weight edge frame and
    # every iteration EAGERLY (internal counts) — persist the pair
    # aggregation so the tokenize→zip→count pipeline runs once, not
    # once per internal materialization; by the time pagerank returns,
    # everything downstream is cached, so the persist can be released
    pairs = pairs.persist()
    try:
        edges = pairs.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "n"
        ).unionAll(
            pairs.select(
                F.col("b").alias("src"), F.col("a").alias("dst"), "n"
            )
        )
        ranked = pagerank(
            edges,
            iterations=iterations,
            damping=damping,
            weight_col="n",
            checkpoint_every=max(3, int(iterations)),
        )
    finally:
        pairs.unpersist()
    return (
        ranked.select(F.col("node").alias("word"), "rank")
        .orderBy(F.col("rank").desc(), "word")
        .limit(int(top_k))
    )
