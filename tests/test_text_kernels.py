"""The codegen'd text kernels against the lambda forms they replace.

``shingles``, the n-gram occurrences of ``top_ngrams`` and
``repetition_metrics``, the non-blank lines, the stopword count and the
punctuation count are regex, ``translate`` and array expressions. The
reference forms below are the higher-order-function (lambda) builds
they replace, kept here as the spec: every kernel must give the same
value on every row, NULL and ``""`` included, over an alphabet chosen to
break it (case mappings that change length or depend on context,
whitespace that Java's ``\\s`` does and does not match, ``\\r`` inside a
line, punctuation inside tokens).

The stopword and punctuation counts are compared through their ratios:
with fewer than a thousand tokens or characters per row, two counts
that differ give ratios that differ at 6 decimals.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops import text as tx
from metadata_etl_framework_spark.ops.dedup import shingles

NS = (1, 2, 3, 4, 5)


def _empty() -> Column:
    return F.array().cast("array<string>")


# ------------------------------------------------------ reference forms


def ref_shingles(c: Column, n: int) -> Column:
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )
    return F.array_sort(F.array_distinct(F.coalesce(grams, _empty())))


def ref_token_ngrams(text_col: str, n: int, lowercase: bool) -> Column:
    toks = tx.tokens(text_col)
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def ref_nonblank_lines(c: Column) -> Column:
    return F.coalesce(F.filter(F.split(c, r"\n"), lambda ln: ln.rlike(r"\S")), _empty())


def ref_repetition_grams(c: Column, n: int) -> Column:
    toks = F.regexp_replace(F.lower(c), r"^\s+|\s+$", "")
    toks = F.when(toks == "", _empty()).otherwise(F.split(toks, r"\s+"))
    toks = F.coalesce(toks, _empty())
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(_empty())


def ref_dup_ratio(arr: Column) -> Column:
    n = F.size(arr)
    return F.round(
        F.when(n > 0, (n - F.size(F.array_distinct(arr))).cast("double") / n)
        .otherwise(F.lit(0.0)),
        6,
    )


def ref_quality_features(text_col: str, stopwords) -> dict[str, Column]:
    toks = tx.tokens(text_col)
    n_tok = F.size(toks)
    sw_array = F.array(*[F.lit(s) for s in stopwords]).cast("array<string>")
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_array, F.lower(t))))
    n_chars = F.length(F.col(text_col))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^!-/:-@\[-`{-~]", ""))
    return {
        "punct_ratio": F.round(
            F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)), 6
        ),
        "stopword_ratio": F.round(
            F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(0.0)), 6
        ),
    }


# ------------------------------------------------------------- the data

# Java's \s is [ \t\n\x0B\f\r]: \xa0 is not whitespace to split, \x0b is.
# İ lowercases to two code points, the Kelvin sign to k, and Σ to σ or
# to a final ς depending on its neighbours.
ALPHABET = "aBİKΣ \t\n\r\x0b\xa0.,'"
WORDS = ["the", "The", "THE", "of", "of the", "a", "an", "c++", "a.b", "A.B", "is"]
STOPWORD_SETS = [
    tx.DEFAULT_STOPWORDS,
    ("c++", "a.b", "The", "", "of the"),
    ("", "the"),
    ("of the",),
    (),
]

piece = st.one_of(st.text(alphabet=ALPHABET, max_size=5), st.sampled_from(WORDS))
doc = st.lists(piece, max_size=12).map("".join)
FIXED = [None, "", " ", "\t", "\n", " \t ", "\r\n", "a\r\nb\r\n\r\na\r", "ΣaΣ Σ"]


def _frame(spark, texts):
    rows = list(enumerate(FIXED + texts))
    return spark.createDataFrame(rows, "id long, text string").coalesce(1)


def _assert_same(df, pairs: dict[str, tuple[Column, Column]]):
    cols = [F.col("id"), F.col("text")]
    for name, (new, ref) in pairs.items():
        cols += [new.alias(f"{name}__new"), ref.alias(f"{name}__ref")]
    for r in df.select(*cols).collect():
        for name in pairs:
            assert r[f"{name}__new"] == r[f"{name}__ref"], (name, r.text)


# ------------------------------------------------------------ properties

# Planning a projection of lambda forms costs a few seconds per example
# and a row almost nothing, so each example is a batch of documents.
SETTINGS = settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
BATCH = st.lists(doc, min_size=1, max_size=150)


@given(texts=BATCH)
@SETTINGS
def test_ngram_kernels_match_the_lambda_forms(spark, texts):
    df = _frame(spark, texts)
    t = F.col("text")
    lines = ref_nonblank_lines(t)
    pairs = {"lines": (tx._nonblank_lines("text"), lines)}
    for n in NS:
        pairs[f"shingles{n}"] = (shingles("text", n), ref_shingles(t, n))
        for lc in (True, False):
            pairs[f"top{n}{lc}"] = (
                tx._token_ngrams("text", n, lc), ref_token_ngrams("text", n, lc)
            )
    _assert_same(df, pairs)
    # repetition_metrics end to end: its columns against the references
    rep = tx.repetition_metrics(df, id_col="id", ngram_sizes=NS)
    ref = df.select(
        "id",
        F.size(lines).alias("ref_n_lines"),
        ref_dup_ratio(lines).alias("ref_dup_line_ratio"),
        *[ref_dup_ratio(ref_repetition_grams(t, n)).alias(f"ref_dup_{n}gram_ratio")
          for n in NS],
    )
    want = {r.id: r for r in ref.collect()}
    for r in rep.collect():
        for c in ["n_lines", "dup_line_ratio"] + [f"dup_{n}gram_ratio" for n in NS]:
            assert r[c] == want[r.id][f"ref_{c}"], (c, r.id)


@given(texts=BATCH)
@SETTINGS
def test_quality_kernels_match_the_lambda_forms(spark, texts):
    df = _frame(spark, texts)
    pairs = {}
    for i, sw in enumerate(STOPWORD_SETS):
        new = tx._quality_feature_columns("text", sw)
        ref = ref_quality_features("text", sw)
        pairs[f"stop{i}"] = (new["stopword_ratio"], ref["stopword_ratio"])
    pairs["punct"] = (new["punct_ratio"], ref["punct_ratio"])
    _assert_same(df, pairs)


def test_stopword_pattern_edges():
    """A stopword holding whitespace can match no token, so a set of
    only such words (or none) builds no regex; quoting follows
    ``Pattern.quote``, ``\\E`` inside the word included."""
    assert tx._stopword_pattern(("of the",)) is None
    assert tx._stopword_pattern(()) is None
    assert tx._java_quote(r"a\Eb") == r"\Qa\E\\E\Qb\E"


def _ngram_rows(df):
    return sorted((r.ngram, r["count"], r.doc_freq) for r in df.collect())


def test_top_ngrams_end_to_end(spark):
    docs = spark.createDataFrame(
        [(1, "The cat. The cat\tsat"), (2, " the CAT the\n"), (3, ""), (4, None),
         (5, "\tΣa ΣΣ Σa\xa0the")],
        "doc_id long, text string",
    )
    for n, lc in ((1, True), (2, False), (3, True)):
        got = _ngram_rows(tx.top_ngrams(docs, n=n, k=100, lowercase=lc, id_col="doc_id"))
        ref = (
            docs.select("doc_id", F.explode(ref_token_ngrams("text", n, lc)).alias("ngram"))
            .groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("count"),
                 F.countDistinct("doc_id").alias("doc_freq"))
        )
        assert got == _ngram_rows(ref), (n, lc)


# -------------------------------------------------------------- plan pin

KERNELS = {
    "word_ngrams": lambda: [tx.word_ngrams("text", 3)],
    "shingles": lambda: [shingles("text", 3)],
    "_nonblank_lines": lambda: [tx._nonblank_lines("text")],
    "_token_ngrams": lambda: [tx._token_ngrams("text", 2, True)],
    "quality_score_column": lambda: [tx.quality_score_column("text")],
    "_quality_feature_columns": lambda: list(
        tx._quality_feature_columns("text", ("c++", "", "of the", "the")).values()
    ),
}


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString().lower()


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_plans_evaluate_no_lambda(spark, name):
    """A lambda higher-order function evaluates interpreted, one call per
    element, outside whole-stage codegen; none of the kernels has one."""
    df = spark.createDataFrame([(1, "a b")], "id long, text string")
    plan = _analyzed(df.select(*KERNELS[name]()))
    assert "lambdafunction" not in plan, plan


@pytest.mark.parametrize("build", ["top_ngrams", "repetition_metrics"])
def test_frame_kernel_plans_evaluate_no_lambda(spark, build):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    out = (
        tx.top_ngrams(df, n=2, id_col="doc_id")
        if build == "top_ngrams"
        else tx.repetition_metrics(df, ngram_sizes=NS)
    )
    plan = _analyzed(out)
    assert "lambdafunction" not in plan, plan
