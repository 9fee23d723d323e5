"""Text and corpus keys: text features, quality scoring, decontamination,
retrieval, corpus sampling and mixing, packing, curation funnels and
naive Bayes."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops import similarity as sim_ops
from metadata_etl_framework_spark.ops import text as text_ops

from driver_keys.common import _bm25_join_sql, _BM25_QUERIES, _t
from driver_keys.registry import oracle_of, register


def _corpus_source_entropy(spark, sf_dir):
    """Shannon entropy (bits) of the documents' source mix — the corpus
    diversity number a mixing plan is judged by
    (functions/aggregations.py::shannon_entropy; decimal-accumulated
    terms, order-independent)."""
    from metadata_etl_framework_spark.functions.aggregations import (
        shannon_entropy,
    )

    return shannon_entropy(_t(spark, sf_dir, "documents"), "source")


def _mi_docs_lang_source(spark, sf_dir):
    """Mutual information between document language and source (nats) —
    the corpus-mix dependence number χ² can't rank across pairs
    (functions/aggregations.py::mutual_information): one joint groupBy,
    marginals re-aggregated from it, decimal term accumulation."""
    from metadata_etl_framework_spark.functions.aggregations import (
        mutual_information,
    )

    return mutual_information(_t(spark, sf_dir, "documents"), "lang", "source")


_BM25_TERMS = ["merge", "stream", "window"]


def _text_bm25_join(spark, sf_dir):
    """Batch BM25 retrieval join (ops/text.py::bm25_join): three query
    rows as DATA (never collected), postings semi-joined against the
    query vocabulary, per-query deterministic top-5."""
    from metadata_etl_framework_spark.ops.text import bm25_join

    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id string, terms array<string>"
    )
    return bm25_join(_t(spark, sf_dir, "documents"), queries, k=5)


def _text_bm25_search(spark, sf_dir):
    """Okapi BM25 keyword retrieval (ops/text.py::bm25_topk): postings
    filtered to the query terms BEFORE any shuffle, document length
    carried through the explode, Lucene idf, decimal-summed per-doc
    scores, TakeOrdered top-10 — keyword-driven corpus selection."""
    from metadata_etl_framework_spark.ops.text import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


def _corpus_embed_decontaminate(spark, sf_dir):
    """Embedding-space eval-set decontamination (ops/similarity.py::
    embed_decontaminate): eval vectors (vec_id < 20) broadcast, corpus
    streamed once, exact decimal cosine, per-row max/count/nearest-id.
    The semantic complement of the n-gram decontaminate entry."""
    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    ev = emb.where(F.col("vec_id") < 20)
    corpus = emb.where(F.col("vec_id") >= 20)
    return sim_ops.embed_decontaminate(corpus, ev, threshold=0.3)


def _text_vocabulary(spark, sf_dir):
    """Corpus vocabulary (ops/text.py::vocabulary): top-100 tokens with
    count ≥ 2 — explode + one shuffled count, TakeOrderedAndProject head."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.vocabulary(docs, min_count=2, top_k=100)


def _corpus_release_report(spark, sf_dir):
    """One-call corpus release diff (ops/corpus.py::
    corpus_release_report): churn counts via the snapshot-diff
    fingerprint, per-source net deltas, and a length-distribution PSI —
    the pre-ship dashboard, as one tall oracle-checked frame."""
    from metadata_etl_framework_spark.ops.corpus import (
        corpus_release_report,
    )

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    new = docs.filter(k % 17 != 0).withColumn(
        "text",
        F.when(
            k % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    ins = docs.filter(k % 19 == 0).withColumn("doc_id", k + 1_000_000)
    return corpus_release_report(docs, new.unionByName(ins))


def _text_redact_pii(spark, sf_dir):
    """PII scrubbing pass (ops/text.py::redact_pii): emails/SSNs/phones/
    IPs/credit cards → typed placeholders, plus the redaction count."""
    docs = _t(spark, sf_dir, "documents")
    out = text_ops.redact_pii(docs)
    return out.select("doc_id", "text_redacted", "n_redactions")


def _text_chunks(spark, sf_dir):
    """Token-window chunking (ops/text.py::chunk_documents): 64-token
    chunks, 16-token overlap; chunk text compared via md5."""
    docs = _t(spark, sf_dir, "documents")
    out = text_ops.chunk_documents(docs, max_tokens=64, overlap=16)
    return out.select(
        "doc_id", "chunk_index",
        F.md5("chunk_text").alias("chunk_md5"), "n_chunk_tokens",
    )


def _pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (ops/packing.py::pack_sequences):
    global token stream in doc_id order cut into 1024-token training
    sequences via a two-phase distributed prefix sum (no single-task
    global window)."""
    from metadata_etl_framework_spark.ops.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    out = pack_sequences(docs, seq_len=1024)
    return out.select(
        "doc_id", "n_tokens", "start_offset", "seq_id", "end_seq_id", "straddles"
    )


def _text_unigram_logprob(spark, sf_dir):
    """LM-score proxy (ops/text.py::unigram_logprob): mean add-one
    unigram log-prob per doc under the corpus top-200 vocab model."""
    docs = _t(spark, sf_dir, "documents")
    vocab = text_ops.vocabulary(docs, top_k=200)
    return text_ops.unigram_logprob(docs, vocab)


def _corpus_summary(spark, sf_dir):
    """Dataset-card summary (ops/text.py::corpus_summary): per
    source × lang doc counts, token totals, shares."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.corpus_summary(docs)


# --------------------------------------------------------------------------
# text analysis / dedup / similarity (training-data ops)
# --------------------------------------------------------------------------

def _text_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = text_ops.token_count(docs)
    out = text_ops.bpe_ish_token_count(out)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
        F.length("text").alias("text_len"),
    )


def _text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = text_ops.quality_features(docs)
    return out.select("doc_id", "avg_token_len", "punct_ratio", "stopword_ratio")


def _text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text_ops.fingerprint(docs).select("doc_id", "fingerprint")


def _text_lang_distribution(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


def _text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (ops/text.py::decontaminate): docs with
    doc_id % 37 == 0 play the held-out eval set; every other doc sharing
    a 5-gram with it is flagged with overlap counts. Broadcast equi-join
    — the corpus side never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return text_ops.decontaminate(train, bench, n=5)


def _corpus_mixing_plan(spark, sf_dir):
    """Data-mixing plan (ops/text.py::mixing_plan): target shares derived
    formulaically from the source index (1 + idx%3, normalized) so the
    oracle can regenerate them; output is the per-source sampling
    fraction that realizes the token mix, capped by the scarcest
    source."""
    from pyspark.sql import Window as _W

    docs = _t(spark, sf_dir, "documents")
    srcs = docs.select("source").distinct()
    raw = (
        F.lit(1)
        + F.regexp_extract("source", r"(\d+)", 1).cast("int") % 3
    )
    weights = srcs.select(
        "source",
        (raw.cast("double") / F.sum(raw).over(
            _W.partitionBy()
        )).alias("share"),
    )
    return text_ops.mixing_plan(docs, weights)


def _text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (ops/text.py::repetition_metrics):
    duplicate-line ratio and duplicate 2/3-gram occurrence ratios per
    document — pure JVM array expressions, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.repetition_metrics(docs)


def _text_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = text_ops.lang_id_heuristic(docs)
    return out.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


def _text_features(spark, sf_dir):
    """Per-document token stats + quality features + fingerprint in ONE
    scan (merged text_token_stats + text_quality + text_fingerprint) —
    all pure JVM expressions, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    out = text_ops.token_count(docs)
    out = text_ops.bpe_ish_token_count(out)
    out = text_ops.quality_features(out)
    out = text_ops.fingerprint(out)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
        F.length("text").alias("text_len"),
        "avg_token_len", "punct_ratio", "stopword_ratio", "fingerprint",
    )


def _text_quality_score(spark, sf_dir):
    """Composite [0,1] quality score (ops/text.py::quality_score):
    weighted blend of capped length, stopword, punctuation-density, and
    Gopher line-repetition components — the single sortable number a
    corpus filter thresholds on. One JVM projection, no join."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.quality_score(docs)


def _pack_length_buckets(spark, sf_dir):
    """Padding-efficient batch assignment
    (ops/packing.py::length_bucketed_batches): exact-quantile length
    buckets via one broadcast aggregate — no global-sort ntile — then
    fixed-size batches filled in (length, id) order inside each bucket;
    batch_max_tokens is the pad target."""
    from metadata_etl_framework_spark.ops.packing import (
        length_bucketed_batches,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.size(text_ops.tokens("text")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    return length_bucketed_batches(docs, n_buckets=4, batch_size=32)


def _corpus_epoch_plan(spark, sf_dir):
    """Oversampling epoch plan (ops/text.py::epoch_plan): per-source
    epochs to realize equal shares of a 10M-token budget — the
    complement of corpus_mixing_plan when the budget exceeds what
    subsampling can supply."""
    docs = _t(spark, sf_dir, "documents")
    srcs = docs.select("source").distinct()
    weights = srcs.withColumn(
        "share",
        F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy()),
    )
    return text_ops.epoch_plan(docs, weights, budget_tokens=10_000_000)


def _corpus_sample_fraction(spark, sf_dir):
    """Deterministic md5-uniform fraction sample (the 'sample' config
    step's fraction mode): keep ~30% of documents, reproducible across
    runs and incremental over a grown corpus."""
    from metadata_etl_framework_spark.ops.corpus import md5_uniform

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return docs.filter(md5_uniform(F.col("doc_id"), salt="s1") < 0.3)


def _corpus_kl_by_source(spark, sf_dir):
    """Per-source unigram KL vs the whole corpus
    (ops/text.py::source_kl_divergence): add-one smoothed,
    observed-support sum, decimal-exact accumulation — the domain-shift
    diagnostic behind corpus-mixing decisions."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.source_kl_divergence(docs)


def _text_repeated_spans(spark, sf_dir):
    """ExactSubstr-style repeated-substring spans (ops/text.py::
    repeated_ngram_spans, Lee et al. 2021): maximal token ranges covered
    by 5-token windows that occur verbatim in ≥ 2 distinct documents.
    Window fingerprints collapse through one (hash, doc) distinct+count
    — the suffix-array semantics re-expressed as equi-join shapes —
    and overlapping hits fuse via the gaps-and-islands running-max
    window per document."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.repeated_ngram_spans(docs, n=5, min_docs=2)


def _text_remove_spans(spark, sf_dir):
    """The ExactSubstr remedy end-to-end (ops/text.py::remove_spans over
    repeated_ngram_spans): flagged token ranges are cut from every
    document via one (doc, pos) anti-join drop-list and the survivors
    reassemble in order."""
    docs = _t(spark, sf_dir, "documents")
    spans = text_ops.repeated_ngram_spans(docs, n=5, min_docs=2)
    return text_ops.remove_spans(docs, spans)


def _text_dedup_lines(spark, sf_dir):
    """C4-style corpus-global line dedup (ops/text.py::
    dedup_lines_global): every occurrence of the token ' value ' becomes
    a line break (deterministic literal replace, same in both engines),
    then any line whose trimmed form appears in more than 2 distinct
    documents is dropped corpus-wide and each document is reassembled
    from its surviving lines in order."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("replace(text, ' value ', '\n')").alias("text"),
    )
    return text_ops.dedup_lines_global(docs, max_docs=2)


def _corpus_dsir_weights(spark, sf_dir):
    """DSIR importance weights (ops/text.py::dsir_importance_weights,
    Xie et al. 2023): docs from src0 play the curated TARGET corpus, the
    rest the RAW pool; every raw doc scores Σ_f [log p_target(f) −
    log p_raw(f)] over md5-hashed-bigram feature buckets. Both bucket
    tables are ≤ n_buckets rows → broadcast; the raw corpus is touched
    by exactly one explode + groupBy."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    out = text_ops.dsir_importance_weights(raw, target, n_buckets=4096)
    return out.join(
        text_ops.dsir_resample(out, k=100, salt="ds6").select(
            "doc_id", F.lit(True).alias("resampled"), "priority"
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id", "n_features", "log_weight",
        F.coalesce("resampled", F.lit(False)).alias("resampled"),
        "priority",
    )


def _corpus_domain_cap(spark, sf_dir):
    """Per-source quota sampling (ops/corpus.py::domain_cap): at most 40
    documents per source, chosen by deterministic md5 priority. The
    skew-proof two-level selection first ranks within (source,
    xxhash-bucket) so a mega-domain splits across 32 window tasks, then
    re-ranks only the per-bucket survivors — exact same answer as the
    single window, without the one-task-per-domain bottleneck."""
    from metadata_etl_framework_spark.ops import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = corpus_ops.domain_cap(
        docs, group_col="source", cap=40, hash_cols=["doc_id"], salt="dc6"
    )
    return out.select("doc_id", "source", F.col("__rank").alias("rank"))


def _text_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (ops/text.py::tfidf_top_terms):
    smoothed sklearn-style idf, rank on the ROUNDED score with term
    tiebreak so selection is engine-deterministic. Reference parity:
    keyword extraction inside src/transform/transform_engine.py's text
    feature arm, re-expressed as two shuffles + one window."""
    docs = _t(spark, sf_dir, "documents")
    out = text_ops.tfidf_top_terms(docs, top_n=3)
    return out.select(
        "doc_id", "term", "tf", "score", F.col("rk").cast("long").alias("rk")
    )


def _corpus_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test assignment
    (ops/corpus.py::leakage_safe_split): split unit = exact-duplicate
    group (min doc_id per md5 fingerprint), so byte-identical documents
    can never land on opposite sides of the train/eval boundary; md5
    bucketing keeps assignment reproducible and incremental."""
    from metadata_etl_framework_spark.ops import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents")
    fp = text_ops.fingerprint(docs)
    clusters = (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("cluster_id"))
        .join(fp.select("doc_id", "fingerprint"), "fingerprint")
        .select(F.col("doc_id").alias("node"), "cluster_id")
    )
    split = corpus_ops.leakage_safe_split(
        docs.select("doc_id"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
        clusters=clusters,
        salt="r5",
    )
    return split.select("doc_id", "split_unit", "split")


def _corpus_weighted_sample(spark, sf_dir):
    """Deterministic PPS sampling without replacement (Efraimidis-
    Spirakis A-ES over an md5 uniform, ops/corpus.py::weighted_sample):
    50 documents weighted by length — global top-k by priority compiles
    to TakeOrderedAndProject, no full sort."""
    from metadata_etl_framework_spark.ops import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return corpus_ops.weighted_sample(
        docs, k=50, weight_col="n_chars", hash_cols=["doc_id"], salt="ws5"
    )


def _text_oov_rate(spark, sf_dir):
    """Per-document OOV rate vs a frequency-derived vocabulary
    (ops/text.py::oov_rate): the tokenizer-fit health check. The vocab
    here is the deterministic top-40 corpus tokens (count desc, token
    asc) — built as a FRAME, never collected."""
    from metadata_etl_framework_spark.ops.text import oov_rate, tokens

    docs = _t(spark, sf_dir, "documents")
    toks = F.coalesce(
        tokens("text"), F.array().cast("array<string>")
    )
    vocab = (
        docs.select(
            F.explode(F.transform(toks, lambda t: F.lower(t))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(40)
        .select("token")
    )
    return oov_rate(docs, vocab)


def _curation_funnel(spark, sf_dir):
    """Single-pass curation funnel over documents: five C4/Gopher-style
    stages, per-stage survivors/drops/retention from ONE projection +
    ONE aggregate (ops/curation.py::funnel_stats)."""
    from metadata_etl_framework_spark.ops.curation import (
        default_document_stages,
        funnel_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return funnel_stats(docs, default_document_stages())


def _curation_funnel_docs(spark, sf_dir):
    """Documents surviving the full default curation chain — one
    conjunctive pushdown-eligible filter (ops/curation.py::apply_funnel)."""
    from metadata_etl_framework_spark.ops.curation import (
        apply_funnel,
        default_document_stages,
    )

    docs = _t(spark, sf_dir, "documents")
    return apply_funnel(docs, default_document_stages()).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _text_top_bigrams(spark, sf_dir):
    """Corpus-wide top-20 bigrams with document frequency: one explode +
    one groupBy + TakeOrderedAndProject (ops/text.py::top_ngrams)."""
    from metadata_etl_framework_spark.ops.text import top_ngrams

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=20, id_col="doc_id")


def _text_top_bigrams_by_source(spark, sf_dir):
    """Top-5 bigrams per source: the per-group arm (row_number window
    partitioned by source, deterministic lexicographic tie-break)."""
    from metadata_etl_framework_spark.ops.text import top_ngrams

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=5, group_col="source")


def _corpus_curriculum_order(spark, sf_dir):
    """Quality-curriculum ordering: composite quality score, then the
    EXACT global rank via the two-phase range scan
    (ops/packing.py::global_row_number) — never a partitionless
    single-task window. doc_id breaks ties deterministically."""
    from metadata_etl_framework_spark.ops.corpus import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    return curriculum_order(docs).select(
        "doc_id", "quality_score", "curriculum_pos"
    )


def _corpus_temperature_mix(spark, sf_dir):
    """α=0.3 temperature-scaled source shares (XLM-R sampling rule)
    composed with the mixing plan: scarce sources upweighted, fractions
    sized so realized token counts hit the tempered shares exactly
    (ops/text.py::temperature_weights → mixing_plan)."""
    from metadata_etl_framework_spark.ops.text import (
        mixing_plan,
        temperature_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    tw = temperature_weights(docs, alpha=0.3)
    return mixing_plan(docs, tw.select("source", "share"))


def _text_normalize(spark, sf_dir):
    """Pre-dedup text normalization (ops/text.py::normalize_text):
    casefold + control strip + punctuation strip + whitespace collapse
    in one chained JVM projection; engine-identical regex classes."""
    from metadata_etl_framework_spark.ops.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    out = normalize_text(docs, strip_punct=True)
    return out.select("doc_id", "text_normalized", "was_changed")


def _text_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: declared lang × heuristic
    prediction with counts — the accuracy audit of the n-gram lang-ID
    pass (one projection + one groupBy)."""
    from metadata_etl_framework_spark.ops.text import lang_id_heuristic

    docs = _t(spark, sf_dir, "documents")
    return (
        lang_id_heuristic(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _corpus_kfold(spark, sf_dir):
    """Deterministic stratified k-fold assignment: fold id from the
    md5-uniform of the doc id (reproducible & incremental, same
    convention as the sample step), stratified within source so every
    fold sees every source's share (ops/corpus.py::kfold_assign)."""
    from metadata_etl_framework_spark.ops.corpus import kfold_assign

    docs = _t(spark, sf_dir, "documents")
    return kfold_assign(docs, k=5).select("doc_id", "source", "fold")


def _text_bpe_pairs(spark, sf_dir):
    """Top adjacent character pairs across the corpus — one BPE merge
    iteration's counting step (ops/text.py::bpe_pair_counts)."""
    from metadata_etl_framework_spark.ops.text import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, k=50)


def _text_bigram_logprob(spark, sf_dir):
    """Bigram-LM naturalness score per document (perplexity proxy one
    order above unigram, ops/text.py::bigram_logprob): shuffle join
    against the corpus bigram table, add-one-smoothed conditionals."""
    from metadata_etl_framework_spark.ops.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs)


def _text_ccnet_perplexity(spark, sf_dir):
    """CCNet-style reference-LM quality filter (ops/text.py::
    ngram_lm_perplexity): interpolated bigram LM trained on the
    English slice only (the trusted-corpus role), every document
    scored by perplexity under it and bucketed head/middle/tail at
    fixed cuts — the keep/sample/drop signal of Wenzek et al. 2020.
    Vocabulary-sized LM tables met in shuffle joins, per-doc
    distinct-bigram pre-aggregation, DECIMAL term accumulation."""
    from metadata_etl_framework_spark.ops.text import ngram_lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    return ngram_lm_perplexity(
        docs,
        reference=docs.where(F.col("lang") == "en"),
        bucket_cuts=(30.0, 33.0),
    )


def _text_heaps_growth(spark, sf_dir):
    """Vocabulary-growth curve (ops/text.py::heaps_growth): cumulative
    tokens and distinct vocabulary at 10 doc-id prefixes — ONE scan
    via each term's first-doc-id groupBy instead of n_points distinct
    counts."""
    from metadata_etl_framework_spark.ops.text import heaps_growth

    return heaps_growth(_t(spark, sf_dir, "documents"))


def _text_scaling_laws(spark, sf_dir):
    """Zipf + Heaps power-law fits (ops/text.py::corpus_scaling_laws):
    OLS on the log-log term-rank head (scale-safe global ROW_NUMBER)
    and on the vocabulary-growth grid, 12dp-DECIMAL OLS sums — the
    corpus-health numbers a data-mixing report quotes."""
    from metadata_etl_framework_spark.ops.text import corpus_scaling_laws

    return corpus_scaling_laws(_t(spark, sf_dir, "documents"))


def _text_readability_docs(spark, sf_dir):
    """Per-document readability + Flesch reading ease (ops/text.py::
    text_readability): whitespace words, [.!?]-run sentences,
    vowel-group syllables — one shuffle-free projection, no UDFs."""
    from metadata_etl_framework_spark.ops.text import text_readability

    return text_readability(_t(spark, sf_dir, "documents"))


register("corpus_source_entropy", build=_corpus_source_entropy, oracle="""
            WITH c AS (SELECT source, COUNT(*) AS c FROM documents
                       WHERE source IS NOT NULL GROUP BY source),
            t AS (SELECT SUM(c) AS n, COUNT(*) AS k FROM c)
            SELECT ROUND(CAST(SUM(CAST(-(c / n) * LN(c / n) / LN(2.0)
                                       AS DECIMAL(30,12))) AS DOUBLE), 6)
                     AS entropy,
                   CAST(k AS BIGINT) AS n_levels,
                   CAST(n AS BIGINT) AS n_rows
            FROM c, t GROUP BY n, k
        """)

register("text_bm25_join", build=_text_bm25_join, oracle=_bm25_join_sql())

register("text_bm25_search", build=_text_bm25_search, oracle=r"""
            WITH b AS (SELECT doc_id,
                   CASE WHEN text IS NULL OR TRIM(text) = ''
                        THEN []::VARCHAR[]
                        ELSE REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')
                   END AS toks
                 FROM documents),
            bl AS (SELECT doc_id, toks, LEN(toks) AS dl FROM b),
            stats AS (SELECT COUNT(*) AS n,
                             CAST(SUM(CAST(dl AS DECIMAL(30,10))) AS DOUBLE)
                               / COUNT(*) AS avgdl
                      FROM bl),
            p AS (SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
                  FROM (SELECT doc_id, dl, UNNEST(toks) AS t FROM bl)
                  WHERE t IN ('merge', 'stream', 'window')
                  GROUP BY 1, 2, 3),
            dft AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS dfv FROM p GROUP BY t),
            terms AS (SELECT doc_id,
                   CAST(LN(1.0 + (n - dfv + 0.5) / (dfv + 0.5))
                        * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
                        AS DECIMAL(28,12)) AS s
                FROM p JOIN dft USING (t), stats)
            SELECT doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 6) AS score,
                   CAST(COUNT(*) AS INT) AS n_terms_hit
            FROM terms GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 10
        """)

register("corpus_embed_decontaminate", build=_corpus_embed_decontaminate, oracle="""
            WITH ev AS (SELECT vec_id AS eid, embedding FROM embeddings
                        WHERE vec_id < 20 AND embedding IS NOT NULL),
            corpus AS (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id >= 20 AND embedding IS NOT NULL),
            prod AS (SELECT c.vec_id AS id, e.eid,
                            UNNEST(c.embedding) AS x, UNNEST(e.embedding) AS y
                     FROM corpus c, ev e),
            dots AS (SELECT id, eid,
                            CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                                          AS DECIMAL(30,15))) AS DOUBLE) AS dot
                     FROM prod GROUP BY 1, 2),
            norms AS (SELECT vec_id,
                             SQRT(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                                AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
                      FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings
                            WHERE embedding IS NOT NULL)
                      GROUP BY vec_id),
            cos AS (SELECT d.id, d.eid, d.dot / (nc.nrm * ne.nrm) AS c
                    FROM dots d
                    JOIN norms nc ON nc.vec_id = d.id
                    JOIN norms ne ON ne.vec_id = d.eid
                    WHERE d.dot / (nc.nrm * ne.nrm) >= 0.3),
            best AS (SELECT id, eid, c,
                            ROW_NUMBER() OVER (PARTITION BY id
                                               ORDER BY c DESC, eid ASC) AS rn,
                            COUNT(*) OVER (PARTITION BY id) AS nm
                     FROM cos)
            SELECT id AS vec_id, ROUND(c, 6) AS max_cosine,
                   CAST(nm AS BIGINT) AS n_matches,
                   eid AS nearest_eval_id
            FROM best WHERE rn = 1
        """)

register("mi_docs_lang_source", build=_mi_docs_lang_source, oracle="""
            WITH j AS (SELECT CAST(lang AS VARCHAR) AS a,
                              CAST(source AS VARCHAR) AS b,
                              COUNT(*) AS c
                       FROM documents
                       WHERE lang IS NOT NULL AND source IS NOT NULL
                       GROUP BY 1, 2),
            ma AS (SELECT a, SUM(c) AS ca FROM j GROUP BY a),
            mb AS (SELECT b, SUM(c) AS cb FROM j GROUP BY b),
            t AS (SELECT SUM(c) AS n, COUNT(*) AS k FROM j),
            terms AS (SELECT CAST(ROUND((c / n) * LN((c * n) / (ca * cb)),
                                        6) AS DECIMAL(18,6)) AS tm, n, k
                      FROM j JOIN ma USING (a) JOIN mb USING (b), t)
            SELECT ROUND(CAST(SUM(tm) AS DOUBLE), 6) AS mi,
                   CAST(k AS BIGINT) AS n_cells,
                   CAST(n AS BIGINT) AS n_rows
            FROM terms GROUP BY k, n
        """)

register("text_token_stats", build=_text_token_stats, oracle=r"""
            SELECT doc_id,
                   CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS INTEGER)
                     AS n_tokens,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                     AS INTEGER) AS n_bpe_tokens,
                   CAST(LENGTH(text) AS INTEGER) AS text_len
            FROM documents
        """)

register("text_quality", build=_text_quality, oracle=r"""
            WITH t AS (
              SELECT doc_id, text,
                     REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks,
                     LENGTH(text) AS n_chars,
                     LENGTH(REGEXP_REPLACE(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS n_punct
              FROM documents
            )
            SELECT doc_id,
                   ROUND(CASE WHEN LEN(toks) > 0
                              THEN CAST(n_chars AS DOUBLE) / LEN(toks) ELSE 0.0 END, 6)
                     AS avg_token_len,
                   ROUND(CASE WHEN n_chars > 0
                              THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6)
                     AS punct_ratio,
                   ROUND(CASE WHEN LEN(toks) > 0
                              THEN CAST(LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(
                                   ['the','a','an','of','to','in','and','is','it','for','on','with'],
                                   LOWER(t)))) AS DOUBLE) / LEN(toks)
                              ELSE 0.0 END, 6) AS stopword_ratio
            FROM t
        """)

register("text_fingerprint", build=_text_fingerprint, oracle=r"""
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))), '\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """)

register("text_lang_distribution", build=_text_lang_distribution, oracle="""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*)
                     AS avg_chars
            FROM documents GROUP BY lang
        """)

# List-comprehension n-grams; dup ratio = (occurrences - distinct)
# / occurrences, matching the Spark array_distinct formulation.
register("text_repetition", build=_text_repetition, oracle=r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(str_split(text, chr(10)),
                                   l -> regexp_matches(l, '\S')) AS lines,
                       CASE WHEN NOT regexp_matches(coalesce(text, ''), '\S')
                            THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(
                                regexp_replace(lower(text),
                                               '^\s+|\s+$', '', 'g'),
                                '\s+') END AS tk
                FROM documents
            ), g AS (
                SELECT doc_id, lines,
                       CASE WHEN len(tk) >= 2 THEN
                            [tk[i] || ' ' || tk[i+1]
                             for i in generate_series(1, len(tk)-1)]
                            ELSE []::VARCHAR[] END AS g2,
                       CASE WHEN len(tk) >= 3 THEN
                            [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                             for i in generate_series(1, len(tk)-2)]
                            ELSE []::VARCHAR[] END AS g3
                FROM base
            )
            SELECT doc_id,
                   len(lines) AS n_lines,
                   ROUND(CASE WHEN len(lines) > 0 THEN
                         CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                         / len(lines) ELSE 0.0 END, 6) AS dup_line_ratio,
                   ROUND(CASE WHEN len(g2) > 0 THEN
                         CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                         / len(g2) ELSE 0.0 END, 6) AS dup_2gram_ratio,
                   ROUND(CASE WHEN len(g3) > 0 THEN
                         CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                         / len(g3) ELSE 0.0 END, 6) AS dup_3gram_ratio
            FROM g
        """)

# Same tokenizer/shingle construction as the Spark side; the
# benchmark is the doc_id % 37 == 0 slice of the same corpus.
register(
    "text_decontaminate", build=_text_decontaminate, tags=("headline",),
    oracle=r"""
            WITH toks AS (
                SELECT doc_id,
                       REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
                FROM documents
            ), g AS (
                SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                       t[i+3] || ' ' || t[i+4] AS s
                FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 4)) AS u(i)
                WHERE LEN(t) >= 5
            ), bench AS (
                SELECT doc_id AS bid, s FROM g WHERE doc_id % 37 = 0
            ), train AS (
                SELECT doc_id, s FROM g WHERE doc_id % 37 <> 0
            )
            SELECT t.doc_id,
                   COUNT(DISTINCT t.s) AS n_contaminated_ngrams,
                   COUNT(DISTINCT b.bid) AS n_benchmark_docs_hit
            FROM train t JOIN bench b ON t.s = b.s
            GROUP BY t.doc_id
        """,
)

# Mirrors ops/text.py lang_id_heuristic: whitespace-tokenize lowered
# text, count marker hits per language (_LANG_MARKERS, sync manually),
# argmax with ties to the alphabetically-first language (hence the
# de→en→es→fr CASE order), zero hits → 'unknown'.
register("text_lang_id", build=_text_lang_id, oracle=r"""
            WITH scored AS (
              SELECT
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('der','die','und','ist','das'))) AS h_de,
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('the','and','of','to','is'))) AS h_en,
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('el','la','de','que','es'))) AS h_es,
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('le','la','et','est','les'))) AS h_fr
              FROM documents
            )
            SELECT CASE WHEN GREATEST(h_de,h_en,h_es,h_fr) <= 0 THEN 'unknown'
                        WHEN h_de = GREATEST(h_de,h_en,h_es,h_fr) THEN 'de'
                        WHEN h_en = GREATEST(h_de,h_en,h_es,h_fr) THEN 'en'
                        WHEN h_es = GREATEST(h_de,h_en,h_es,h_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred,
                   COUNT(*) AS n_docs
            FROM scored GROUP BY 1
        """)

register("text_vocabulary", build=_text_vocabulary, oracle=r"""
            SELECT token, COUNT(*) AS count FROM (
                SELECT LOWER(UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')))
                       AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token HAVING COUNT(*) >= 2
            ORDER BY count DESC, token LIMIT 100
        """)

register("corpus_release_report", build=_corpus_release_report, oracle="""
            WITH refn AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents),
            curn AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
                     WHERE doc_id % 17 <> 0
                     UNION ALL
                     SELECT CAST(n_chars AS DOUBLE) FROM documents
                     WHERE doc_id % 19 = 0),
            edges AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM refn),
            rb AS (SELECT CASE WHEN x < mn THEN -1
                               WHEN x > mx THEN 10
                               WHEN mx = mn THEN 0
                               ELSE LEAST(CAST(FLOOR((x - mn)
                                    / ((mx - mn) / 10.0)) AS INT), 9)
                          END AS bin, COUNT(*) AS rc
                   FROM refn, edges WHERE x IS NOT NULL GROUP BY 1),
            cb AS (SELECT CASE WHEN x < mn THEN -1
                               WHEN x > mx THEN 10
                               WHEN mx = mn THEN 0
                               ELSE LEAST(CAST(FLOOR((x - mn)
                                    / ((mx - mn) / 10.0)) AS INT), 9)
                          END AS bin, COUNT(*) AS cc
                   FROM curn, edges WHERE x IS NOT NULL GROUP BY 1),
            j AS (SELECT COALESCE(rb.bin, cb.bin) AS bin,
                         COALESCE(rc, 0) AS rc, COALESCE(cc, 0) AS cc
                  FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin),
            t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM j),
            terms AS (SELECT ROUND((cc / n_cur - rc / n_ref)
                        * LN(GREATEST(cc / n_cur, 0.000001)
                             / GREATEST(rc / n_ref, 0.000001)), 6) AS term
                      FROM j, t)
            SELECT 'counts' AS section, 'INSERT' AS key,
                   CAST(COUNT(*) AS DOUBLE) AS value
            FROM documents WHERE doc_id % 19 = 0
            UNION ALL
            SELECT 'counts', 'DELETE', CAST(COUNT(*) AS DOUBLE)
            FROM documents WHERE doc_id % 17 = 0
            UNION ALL
            SELECT 'counts', 'UPDATE', CAST(COUNT(*) AS DOUBLE)
            FROM documents
            WHERE doc_id % 13 = 0 AND doc_id % 17 <> 0 AND text IS NOT NULL
            UNION ALL
            SELECT 'source_delta', CAST(source AS VARCHAR), CAST(d AS DOUBLE)
            FROM (SELECT source,
                         SUM(CASE WHEN doc_id % 19 = 0 THEN 1 ELSE 0 END)
                         - SUM(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS d
                  FROM documents GROUP BY source)
            WHERE d <> 0
            UNION ALL
            SELECT 'drift', 'psi_n_chars',
                   (SELECT ROUND(SUM(term), 6) FROM terms)
        """)

register("text_redact_pii", build=_text_redact_pii, oracle=r"""
            WITH r AS (
              SELECT doc_id,
                     REGEXP_REPLACE(
                       REGEXP_REPLACE(
                         REGEXP_REPLACE(
                           REGEXP_REPLACE(
                             REGEXP_REPLACE(text,
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                               '<EMAIL>', 'g'),
                             '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                           '(\+?1[-.\s]?)?(\(\d{3}\)|\b\d{3})[-.\s]\d{3}[-.\s]\d{4}\b',
                           '<PHONE>', 'g'),
                         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                       '\b\d(?:[ -]?\d){12,15}\b', '<CC>', 'g') AS text_redacted
              FROM documents
            )
            SELECT doc_id, text_redacted,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text_redacted,
                        '<EMAIL>|<SSN>|<PHONE>|<IP>|<CC>')) AS INTEGER)
                     AS n_redactions
            FROM r
        """)

register("text_chunks", build=_text_chunks, oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN TRIM(text) = '' THEN []
                          ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                     END AS toks
              FROM documents
            ), n AS (
              SELECT doc_id, toks,
                     GREATEST(CAST(CEIL((LEN(toks) - 16) / 48.0) AS INT), 1) AS nc
              FROM t
            ), s AS (
              SELECT doc_id, toks,
                     UNNEST(generate_series(0, (nc - 1) * 48, 48)) AS st
              FROM n
            )
            SELECT doc_id, CAST(st / 48 AS INT) AS chunk_index,
                   MD5(ARRAY_TO_STRING(list_slice(toks, st + 1, st + 64), ' '))
                     AS chunk_md5,
                   CAST(LEN(list_slice(toks, st + 1, st + 64)) AS INT)
                     AS n_chunk_tokens
            FROM s
        """)

register("corpus_mixing_plan", build=_corpus_mixing_plan, oracle=r"""
            WITH w0 AS (
                SELECT source,
                       1 + CAST(REGEXP_EXTRACT(source, '(\d+)', 1) AS INT) % 3
                         AS raw
                FROM (SELECT DISTINCT source FROM documents)
            ), wn AS (
                SELECT source,
                       CAST(raw AS DOUBLE) / SUM(raw) OVER () AS share
                FROM w0
            ), t AS (
                SELECT source, COUNT(*) AS n_docs,
                       SUM(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')))
                         AS n_tokens
                FROM documents GROUP BY source
            ), j AS (
                SELECT t.source, n_docs, n_tokens, share
                FROM t JOIN wn ON t.source = wn.source
            ), budget AS (
                SELECT MIN(n_tokens / share) AS T FROM j WHERE share > 0
            )
            SELECT source, n_docs, n_tokens,
                   ROUND(share, 6) AS target_share,
                   ROUND(CASE WHEN n_tokens > 0
                         THEN LEAST(1.0, share * T / n_tokens)
                         ELSE 0.0 END, 6) AS sample_fraction,
                   CAST(FLOOR((CASE WHEN n_tokens > 0
                         THEN LEAST(1.0, share * T / n_tokens)
                         ELSE 0.0 END) * n_tokens) AS BIGINT)
                     AS expected_tokens
            FROM j, budget
        """)

register("text_features", build=_text_features, tags=("headline",), oracle=r"""
            WITH t AS (
              SELECT doc_id, text,
                     REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks,
                     LENGTH(text) AS n_chars,
                     LENGTH(REGEXP_REPLACE(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS n_punct
              FROM documents
            )
            SELECT doc_id,
                   CAST(LEN(toks) AS INTEGER) AS n_tokens,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                     AS INTEGER) AS n_bpe_tokens,
                   CAST(n_chars AS INTEGER) AS text_len,
                   ROUND(CASE WHEN LEN(toks) > 0
                              THEN CAST(n_chars AS DOUBLE) / LEN(toks) ELSE 0.0 END, 6)
                     AS avg_token_len,
                   ROUND(CASE WHEN n_chars > 0
                              THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6)
                     AS punct_ratio,
                   ROUND(CASE WHEN LEN(toks) > 0
                              THEN CAST(LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(
                                   ['the','a','an','of','to','in','and','is','it','for','on','with'],
                                   LOWER(t)))) AS DOUBLE) / LEN(toks)
                              ELSE 0.0 END, 6) AS stopword_ratio,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))), '\s+', ' ', 'g')) AS fingerprint
            FROM t
        """)

# two-phase prefix sum ≡ a plain global running total
register("pack_sequences", build=_pack_sequences, tags=("headline",), oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                          ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'))
                     END AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, n_tokens,
                     SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM t
            )
            SELECT doc_id,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(cum - n_tokens AS BIGINT) AS start_offset,
                   CAST(FLOOR((cum - n_tokens) / 1024.0) AS BIGINT) AS seq_id,
                   CAST(CASE WHEN n_tokens > 0 THEN FLOOR((cum - 1) / 1024.0)
                             ELSE FLOOR((cum - n_tokens) / 1024.0)
                        END AS BIGINT) AS end_seq_id,
                   CAST(CASE WHEN n_tokens > 0 THEN FLOOR((cum - 1) / 1024.0)
                             ELSE FLOOR((cum - n_tokens) / 1024.0)
                        END AS BIGINT)
                     > CAST(FLOOR((cum - n_tokens) / 1024.0) AS BIGINT)
                     AS straddles
            FROM c
        """)

register("text_unigram_logprob", build=_text_unigram_logprob, oracle=r"""
            WITH tok AS (
              SELECT doc_id, LOWER(t.tkn) AS tok
              FROM documents,
                   UNNEST(CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                               ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                          END) AS t(tkn)
              WHERE t.tkn <> ''
            ), vocab AS (
              SELECT tok, c FROM (
                SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
              ) ORDER BY c DESC, tok LIMIT 200
            ), tot AS (
              SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM vocab
            ), lp AS (
              SELECT tok.doc_id,
                     CAST(LN(CAST(COALESCE(vb.c, 0) + 1 AS DOUBLE)
                             / CAST(tot.n + tot.v AS DOUBLE))
                          AS DECIMAL(28,10)) AS l
              FROM tok LEFT JOIN vocab vb USING (tok), tot
            ), per AS (
              SELECT doc_id, COUNT(*) AS n_tokens, SUM(l) AS s
              FROM lp GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(n_tokens, 0) AS n_tokens,
                   ROUND(CASE WHEN COALESCE(n_tokens, 0) > 0
                              THEN CAST(s AS DOUBLE) / n_tokens
                         END, 6) AS mean_logprob
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """)

register("corpus_summary", build=_corpus_summary, oracle=r"""
            WITH per AS (
              SELECT source, lang, COUNT(*) AS n_docs,
                     CAST(SUM(CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                                   ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text),
                                                                  '\s+'))
                              END) AS BIGINT) AS total_tokens
              FROM documents GROUP BY source, lang
            ), tot AS (SELECT SUM(n_docs) AS all_docs FROM per)
            SELECT source, lang, n_docs, total_tokens,
                   ROUND(CAST(total_tokens AS DOUBLE) / n_docs, 6)
                     AS avg_tokens_per_doc,
                   ROUND(CAST(n_docs AS DOUBLE) / all_docs, 6) AS doc_share
            FROM per, tot
        """)

register(
    "text_tfidf_top_terms", build=_text_tfidf_top_terms, tags=("headline",),
    oracle=r"""
            WITH tok AS (
              SELECT doc_id, LOWER(t.tkn) AS term
              FROM documents,
                   UNNEST(CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                               ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                          END) AS t(tkn)
              WHERE t.tkn <> ''
            ), tf AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, term
            ), dft AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t
              FROM tf GROUP BY term
            ), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     ROUND(tf.tf * (LN(CAST(n.n_docs + 1 AS DOUBLE)
                                       / (dft.df_t + 1)) + 1.0), 6) AS score
              FROM tf JOIN dft USING (term), n
            )
            SELECT doc_id, term, tf, score, rk FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, term ASC) AS BIGINT) AS rk
              FROM scored
            ) WHERE rk <= 3
        """,
)

register("corpus_split_leakage_safe", build=_corpus_split_leakage_safe, oracle=r"""
            WITH fp AS (
              SELECT doc_id,
                     MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))), '\s+', ' ', 'g'))
                       AS f
              FROM documents
            ), cl AS (
              SELECT f, CAST(MIN(doc_id) AS VARCHAR) AS unit FROM fp GROUP BY f
            ), u AS (
              SELECT fp.doc_id, cl.unit,
                     CAST(CONCAT('0x', SUBSTRING(
                       MD5(CONCAT_WS('|', 'r5', cl.unit)), 1, 8)) AS BIGINT)
                     / 4294967296.0 AS h
              FROM fp JOIN cl USING (f)
            )
            SELECT doc_id, unit AS split_unit,
                   CASE WHEN h < 0.9 THEN 'train'
                        WHEN h < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
        """)

register(
    "corpus_weighted_sample", build=_corpus_weighted_sample, tags=("headline",),
    oracle=r"""
            SELECT doc_id, n_chars, priority FROM (
              SELECT doc_id, n_chars,
                     ROUND(POW(
                       (CAST(CONCAT('0x', SUBSTRING(
                          MD5(CONCAT_WS('|', 'ws5', CAST(doc_id AS VARCHAR))),
                          1, 8)) AS BIGINT) + 1) / 4294967296.0,
                       1.0 / CAST(n_chars AS DOUBLE)), 9) AS priority,
                     MD5(CONCAT_WS('|', 'ws5', CAST(doc_id AS VARCHAR))) AS tie
              FROM documents
              WHERE CAST(n_chars AS DOUBLE) > 0
            ) ORDER BY priority DESC, tie ASC LIMIT 50
        """,
)

register(
    "text_quality_score", build=_text_quality_score, tags=("headline",),
    oracle=r"""
            WITH base AS (
              SELECT doc_id, text,
                     CASE WHEN text IS NULL OR TRIM(text) = '' THEN []::VARCHAR[]
                          ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                     END AS tk,
                     COALESCE(LENGTH(text), 0) AS nc,
                     LIST_FILTER(STR_SPLIT(text, CHR(10)),
                                 l -> REGEXP_MATCHES(l, '\S')) AS lines
              FROM documents
            ), f AS (
              SELECT doc_id,
                     LEN(tk) AS ntok,
                     CASE WHEN LEN(tk) > 0 THEN
                          ROUND(CAST(LEN(LIST_FILTER(tk,
                            t -> LOWER(t) IN ('the','a','an','of','to','in',
                                              'and','is','it','for','on',
                                              'with'))) AS DOUBLE)
                                / LEN(tk), 6)
                          ELSE 0.0 END AS stop_r,
                     CASE WHEN nc > 0 THEN
                          ROUND(CAST(LENGTH(REGEXP_REPLACE(text,
                            '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
                                / nc, 6)
                          ELSE 0.0 END AS punct_r,
                     CASE WHEN COALESCE(LEN(lines), 0) > 0 THEN
                          ROUND(CAST(LEN(lines) - LEN(LIST_DISTINCT(lines))
                                     AS DOUBLE) / LEN(lines), 6)
                          ELSE 0.0 END AS dup_r
              FROM base
            )
            SELECT doc_id,
                   CAST(ntok AS BIGINT) AS n_tokens,
                   CAST(ROUND(
                     CAST(0.35 AS DECIMAL(16,6))
                       * CAST(LEAST(CAST(ntok AS DOUBLE) / 200.0, 1.0)
                              AS DECIMAL(16,6))
                     + CAST(0.25 AS DECIMAL(16,6))
                       * CAST(LEAST(stop_r * 3.0, 1.0) AS DECIMAL(16,6))
                     + CAST(0.2 AS DECIMAL(16,6))
                       * CAST(1.0 - LEAST(punct_r * 3.0, 1.0)
                              AS DECIMAL(16,6))
                     + CAST(0.2 AS DECIMAL(16,6))
                       * CAST(1.0 - dup_r AS DECIMAL(16,6)), 6)
                   AS DOUBLE) AS quality_score
            FROM f
        """,
)

register(
    "pack_length_buckets", build=_pack_length_buckets, tags=("headline",),
    oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     CAST(CASE WHEN text IS NULL OR TRIM(text) = '' THEN 0
                               ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text),
                                                              '\s+'))
                          END AS BIGINT) AS n_tokens
              FROM documents
            ), b AS (
              SELECT
                ROUND(QUANTILE_CONT(CAST(n_tokens AS DOUBLE), 0.25), 6) AS q1,
                ROUND(QUANTILE_CONT(CAST(n_tokens AS DOUBLE), 0.50), 6) AS q2,
                ROUND(QUANTILE_CONT(CAST(n_tokens AS DOUBLE), 0.75), 6) AS q3
              FROM toks
            ), assigned AS (
              SELECT doc_id, n_tokens,
                     CAST(CASE WHEN CAST(n_tokens AS DOUBLE) > q1
                               THEN 1 ELSE 0 END
                        + CASE WHEN CAST(n_tokens AS DOUBLE) > q2
                               THEN 1 ELSE 0 END
                        + CASE WHEN CAST(n_tokens AS DOUBLE) > q3
                               THEN 1 ELSE 0 END AS INTEGER) AS bucket
              FROM toks, b
            ), rn AS (
              SELECT doc_id, n_tokens, bucket,
                     CAST((ROW_NUMBER() OVER (
                             PARTITION BY bucket
                             ORDER BY n_tokens, doc_id) - 1) // 32
                          AS BIGINT) AS batch_index
              FROM assigned
            )
            SELECT doc_id, n_tokens, bucket, batch_index,
                   CAST(MAX(n_tokens) OVER (
                          PARTITION BY bucket, batch_index) AS BIGINT)
                     AS batch_max_tokens
            FROM rn
        """,
)

register("corpus_epoch_plan", build=_corpus_epoch_plan, oracle=r"""
            WITH tok AS (
              SELECT source,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN text IS NULL OR TRIM(text) = ''
                                   THEN 0
                                   ELSE LEN(REGEXP_SPLIT_TO_ARRAY(
                                            TRIM(text), '\s+'))
                              END) AS BIGINT) AS n_tokens
              FROM documents GROUP BY source
            ), w AS (
              -- double division (not DuckDB decimal) to match Spark's
              -- 1.0/count double arithmetic for non-terminating shares
              SELECT source,
                     CAST(1.0 AS DOUBLE) / (SELECT COUNT(*) FROM tok)
                       AS share
              FROM tok
            )
            SELECT tok.source, n_docs, n_tokens,
                   ROUND(share, 6) AS target_share,
                   CAST(FLOOR(share * 10000000.0) AS BIGINT)
                     AS target_tokens,
                   ROUND(CASE WHEN n_tokens > 0
                              THEN share * 10000000.0 / n_tokens END, 6)
                     AS epochs,
                   COALESCE(share * 10000000.0 / n_tokens > 1.0, FALSE)
                     AS is_oversampled
            FROM tok JOIN w USING (source)
        """)

register("corpus_sample_fraction", build=_corpus_sample_fraction, oracle=r"""
            SELECT doc_id, source FROM documents
            WHERE CAST(CONCAT('0x', SUBSTRING(
                    MD5(CONCAT_WS('|', 's1', CAST(doc_id AS VARCHAR))),
                    1, 8)) AS BIGINT) / 4294967296.0 < 0.3
        """)

register("corpus_kl_by_source", build=_corpus_kl_by_source, oracle=r"""
            WITH tok AS (
              SELECT source AS grp, LOWER(t.tkn) AS tok
              FROM documents,
                   UNNEST(CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                               ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                          END) AS t(tkn)
              WHERE t.tkn <> ''
            ), cells AS (
              SELECT grp, tok, CAST(COUNT(*) AS BIGINT) AS c_gt
              FROM tok GROUP BY 1, 2
            ), tt AS (
              SELECT tok, SUM(c_gt) AS c_t FROM cells GROUP BY 1
            ), gt AS (
              SELECT grp, SUM(c_gt) AS n_g FROM cells GROUP BY 1
            ), corpus AS (
              SELECT SUM(c_gt) AS n_all, COUNT(DISTINCT tok) AS v_all
              FROM cells
            ), terms AS (
              SELECT cells.grp, gt.n_g,
                     CAST(c_gt + 1 AS DOUBLE)
                       / (gt.n_g + corpus.v_all) AS p,
                     CAST(c_t + 1 AS DOUBLE)
                       / (corpus.n_all + corpus.v_all) AS q
              FROM cells
              JOIN tt USING (tok)
              JOIN gt USING (grp), corpus
            )
            SELECT grp AS source,
                   CAST(n_g AS BIGINT) AS n_tokens,
                   ROUND(CAST(SUM(CAST(p * LN(p / q) AS DECIMAL(28,12)))
                              AS DOUBLE), 6) AS kl_vs_corpus
            FROM terms
            GROUP BY grp, n_g
        """)

register("text_remove_spans", build=_text_remove_spans, oracle=r"""
            WITH toks AS (
              SELECT doc_id, text,
                     CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                          ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                     END AS t
              FROM documents
            ), wins AS (
              SELECT doc_id, i - 1 AS s,
                     MD5(ARRAY_TO_STRING(t[i:i+4], ' ')) AS h
              FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 4)) AS u(i)
              WHERE LEN(t) >= 5
            ), rep AS (
              SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
              GROUP BY h HAVING COUNT(*) >= 2
            ), covered AS (
              SELECT DISTINCT doc_id, s + j AS pos
              FROM wins, UNNEST(GENERATE_SERIES(0, 4)) AS g(j)
              WHERE h IN (SELECT h FROM rep)
            ), allpos AS (
              SELECT doc_id, i - 1 AS pos, t[i] AS tok
              FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t))) AS u(i)
            ), kept AS (
              SELECT a.doc_id, a.pos, a.tok
              FROM allpos a LEFT JOIN covered c
                ON a.doc_id = c.doc_id AND a.pos = c.pos
              WHERE c.doc_id IS NULL
            ), reasm AS (
              SELECT doc_id,
                     STRING_AGG(tok, ' ' ORDER BY pos) AS ct,
                     COUNT(*) AS nk
              FROM kept GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, COUNT(*) AS nt FROM allpos GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CASE WHEN d.text IS NOT NULL
                        THEN COALESCE(r.ct, '') END AS clean_text,
                   CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_tokens_kept,
                   CAST(COALESCE(t.nt, 0) - COALESCE(r.nk, 0) AS BIGINT)
                     AS n_tokens_removed
            FROM toks d
            LEFT JOIN reasm r ON d.doc_id = r.doc_id
            LEFT JOIN tot t ON d.doc_id = t.doc_id
        """)

register("text_repeated_spans", build=_text_repeated_spans, oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                          ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                     END AS t
              FROM documents
            ), wins AS (
              SELECT doc_id, i - 1 AS s,
                     MD5(ARRAY_TO_STRING(t[i:i+4], ' ')) AS h
              FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 4)) AS u(i)
              WHERE LEN(t) >= 5
            ), rep AS (
              SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
              GROUP BY h HAVING COUNT(*) >= 2
            ), hits AS (
              SELECT doc_id, s, s + 4 AS e
              FROM wins WHERE h IN (SELECT h FROM rep)
            ), marked AS (
              SELECT doc_id, s, e,
                     CASE WHEN MAX(e) OVER (
                              PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) IS NULL
                          OR s > MAX(e) OVER (
                              PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) + 1
                          THEN 1 ELSE 0 END AS nw
              FROM hits
            ), isl AS (
              SELECT doc_id, s, e,
                     SUM(nw) OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS island
              FROM marked
            )
            SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
                   CAST(MAX(e) AS BIGINT) AS span_end,
                   CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
            FROM isl GROUP BY doc_id, island
        """)

register("text_dedup_lines", build=_text_dedup_lines, oracle=r"""
            WITH src AS (
              SELECT doc_id, REPLACE(text, ' value ', CHR(10)) AS text
              FROM documents
            ), lines AS (
              SELECT doc_id, i AS pos, l[i] AS line
              FROM (SELECT doc_id, STR_SPLIT(text, CHR(10)) AS l FROM src),
                   UNNEST(GENERATE_SERIES(1, LEN(l))) AS u(i)
            ), dup AS (
              SELECT h FROM (
                SELECT DISTINCT doc_id, MD5(TRIM(line)) AS h
                FROM lines WHERE TRIM(line) <> ''
              ) GROUP BY h HAVING COUNT(*) > 2
            ), kept AS (
              SELECT doc_id, pos, line FROM lines
              WHERE TRIM(line) = ''
                 OR MD5(TRIM(line)) NOT IN (SELECT h FROM dup)
            ), reasm AS (
              SELECT doc_id,
                     STRING_AGG(line, CHR(10) ORDER BY pos) AS ct,
                     COUNT(*) AS nk
              FROM kept GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, COUNT(*) AS nt FROM lines GROUP BY doc_id
            )
            SELECT s.doc_id,
                   CASE WHEN s.text IS NOT NULL
                        THEN COALESCE(r.ct, '') END AS clean_text,
                   CAST(COALESCE(r.nk, 0) AS BIGINT) AS n_lines_kept,
                   CAST(COALESCE(t.nt, 0) - COALESCE(r.nk, 0) AS BIGINT)
                     AS n_lines_dropped
            FROM src s
            LEFT JOIN reasm r ON s.doc_id = r.doc_id
            LEFT JOIN tot t ON s.doc_id = t.doc_id
        """)

register(
    "corpus_dsir_weights", build=_corpus_dsir_weights, tags=("headline",),
    oracle=r"""
            WITH grams AS (
              SELECT doc_id, source,
                     LOWER(t[i]) || ' ' || LOWER(t[i+1]) AS g
              FROM (
                SELECT doc_id, source,
                       CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                            ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')
                       END AS t
                FROM documents
              ), UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS u(i)
            ), feat AS (
              SELECT doc_id, source,
                     CAST(CONCAT('0x', SUBSTRING(MD5(g), 1, 8)) AS BIGINT)
                       % 4096 AS b
              FROM grams
            ), tc AS (
              SELECT b, COUNT(*) AS c FROM feat WHERE source = 'src0' GROUP BY b
            ), rc AS (
              SELECT b, COUNT(*) AS c FROM feat WHERE source <> 'src0' GROUP BY b
            ), tn AS (SELECT COALESCE(SUM(c), 0) AS n FROM tc),
            rn AS (SELECT COALESCE(SUM(c), 0) AS n FROM rc),
            lw AS (
              SELECT f.doc_id,
                     CAST(LN(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE)
                             / CAST(tn.n + 4096 AS DOUBLE))
                          - LN(CAST(COALESCE(rc.c, 0) + 1 AS DOUBLE)
                               / CAST(rn.n + 4096 AS DOUBLE))
                          AS DECIMAL(28,10)) AS l
              FROM feat f
              LEFT JOIN tc ON f.b = tc.b
              LEFT JOIN rc ON f.b = rc.b, tn, rn
              WHERE f.source <> 'src0'
            ), per AS (
              SELECT doc_id, COUNT(*) AS n_features, SUM(l) AS s
              FROM lw GROUP BY doc_id
            ), scored AS (
              SELECT d.doc_id,
                     CAST(COALESCE(per.n_features, 0) AS BIGINT) AS n_features,
                     ROUND(CASE WHEN COALESCE(per.n_features, 0) > 0
                                THEN CAST(per.s AS DOUBLE) END, 6) AS log_weight
              FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
              WHERE d.source <> 'src0'
            ), pri AS (
              SELECT doc_id,
                     ROUND(log_weight
                           - LN(-LN((CAST(CONCAT('0x', SUBSTRING(
                                 MD5(CONCAT_WS('|', 'ds6',
                                     CAST(doc_id AS VARCHAR))), 1, 8))
                                 AS BIGINT) + 0.5) / 4294967296.0)), 9)
                       AS priority,
                     MD5(CONCAT_WS('|', 'ds6', CAST(doc_id AS VARCHAR))) AS tie
              FROM scored WHERE log_weight IS NOT NULL
            ), top AS (
              SELECT doc_id, priority FROM pri
              ORDER BY priority DESC, tie ASC LIMIT 100
            )
            SELECT s.doc_id, s.n_features, s.log_weight,
                   (top.doc_id IS NOT NULL) AS resampled,
                   top.priority
            FROM scored s LEFT JOIN top ON s.doc_id = top.doc_id
        """,
)

register("corpus_domain_cap", build=_corpus_domain_cap, tags=("headline",), oracle=r"""
            SELECT doc_id, source, rank FROM (
              SELECT doc_id, source,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY ROUND(CAST(CONCAT('0x', SUBSTRING(
                                  MD5(CONCAT_WS('|', 'dc6',
                                      CAST(doc_id AS VARCHAR))), 1, 8))
                                  AS BIGINT) / 4294967296.0, 9) ASC,
                                MD5(CONCAT_WS('|', 'dc6',
                                    CAST(doc_id AS VARCHAR))) ASC
                     ) AS INTEGER) AS rank
              FROM documents
            ) WHERE rank <= 40
        """)

register("text_oov_rate", build=_text_oov_rate, oracle=r"""
            WITH toks AS (SELECT doc_id,
                   UNNEST(CASE WHEN text IS NULL OR TRIM(text) = ''
                               THEN []::VARCHAR[]
                               ELSE REGEXP_SPLIT_TO_ARRAY(
                                        LOWER(TRIM(text)), '\s+')
                          END) AS t
                 FROM documents),
            vocab AS (SELECT t FROM (
                SELECT t, COUNT(*) AS c FROM toks
                GROUP BY t ORDER BY c DESC, t LIMIT 40)),
            per AS (SELECT d.doc_id,
                           COUNT(tk.t) AS n_tokens,
                           COUNT(CASE WHEN tk.t IS NOT NULL
                                       AND v.t IS NULL THEN 1 END) AS n_oov
                    FROM documents d
                    LEFT JOIN toks tk ON d.doc_id = tk.doc_id
                    LEFT JOIN vocab v ON tk.t = v.t
                    GROUP BY d.doc_id)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(n_oov AS BIGINT) AS n_oov,
                   ROUND(CASE WHEN n_tokens > 0
                              THEN CAST(n_oov AS DOUBLE) / n_tokens
                         END, 6) AS oov_rate
            FROM per
        """)


# ---- curation-funnel oracles ----------------------------------------------
# Masks mirror ops/curation.py::default_document_stages exactly.

_FUNNEL_MASKS = """
    d AS (SELECT doc_id, lang, source, n_chars,
                 COALESCE(text, '') AS t FROM documents),
    m AS (SELECT doc_id, lang, source, n_chars,
      (LENGTH(t) >= 100) AS m1,
      (LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(t), '\\s+')) <= 80) AS m2,
      ((CASE WHEN LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(t), '\\s+')) > 0
             THEN LENGTH(REGEXP_REPLACE(TRIM(t), '\\s+', '', 'g'))
                  / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(t), '\\s+'))
             ELSE 0.0 END) <= 6.0) AS m3,
      (NOT CONTAINS(t, 'dup')) AS m4,
      (COALESCE(lang = 'en', FALSE)) AS m5
     FROM d)
"""


register("curation_funnel", build=_curation_funnel, tags=("headline",), oracle=f"""
            WITH {_FUNNEL_MASKS},
            a AS (SELECT COUNT(*) AS n,
              SUM(CASE WHEN m1 THEN 1 ELSE 0 END) AS s1,
              SUM(CASE WHEN m1 AND m2 THEN 1 ELSE 0 END) AS s2,
              SUM(CASE WHEN m1 AND m2 AND m3 THEN 1 ELSE 0 END) AS s3,
              SUM(CASE WHEN m1 AND m2 AND m3 AND m4 THEN 1 ELSE 0 END) AS s4,
              SUM(CASE WHEN m1 AND m2 AND m3 AND m4 AND m5 THEN 1 ELSE 0 END) AS s5
             FROM m),
            stages(stage, stage_name, entering, surviving) AS (
              SELECT 1, 'min_chars', n, s1 FROM a
              UNION ALL SELECT 2, 'max_words', s1, s2 FROM a
              UNION ALL SELECT 3, 'mean_word_len', s2, s3 FROM a
              UNION ALL SELECT 4, 'no_dup_marker', s3, s4 FROM a
              UNION ALL SELECT 5, 'lang', s4, s5 FROM a)
            SELECT stage, stage_name,
                   CAST(entering AS BIGINT) AS entering,
                   CAST(surviving AS BIGINT) AS surviving,
                   CAST(entering - surviving AS BIGINT) AS dropped,
                   ROUND(CASE WHEN entering > 0
                              THEN surviving / entering ELSE 0.0 END, 6)
                     AS retention,
                   ROUND(CASE WHEN (SELECT n FROM a) > 0
                              THEN surviving / (SELECT n FROM a)
                              ELSE 0.0 END, 6) AS cumulative_retention
            FROM stages
        """)

register("curation_funnel_docs", build=_curation_funnel_docs, oracle=f"""
            WITH {_FUNNEL_MASKS}
            SELECT doc_id, lang, source, n_chars
            FROM m WHERE m1 AND m2 AND m3 AND m4 AND m5
        """)


_BIGRAM_CTES = r"""
    tok AS (SELECT doc_id, source,
                   LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
                                  x -> LOWER(x)) AS t
            FROM documents WHERE TRIM(COALESCE(text, '')) <> ''),
    g AS (SELECT doc_id, source, t[i] || ' ' || t[i+1] AS ngram
          FROM tok, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS u(i)
          WHERE LEN(t) >= 2)
"""


register("text_top_bigrams", build=_text_top_bigrams, oracle=f"""
            WITH {_BIGRAM_CTES}
            SELECT ngram, COUNT(*) AS count,
                   COUNT(DISTINCT doc_id) AS doc_freq
            FROM g GROUP BY ngram
            ORDER BY count DESC, ngram LIMIT 20
        """)

register("text_top_bigrams_by_source", build=_text_top_bigrams_by_source, oracle=f"""
            WITH {_BIGRAM_CTES},
            counts AS (SELECT source, ngram, COUNT(*) AS count
                       FROM g GROUP BY source, ngram),
            ranked AS (SELECT source, ngram, count,
                              ROW_NUMBER() OVER (PARTITION BY source
                                                 ORDER BY count DESC, ngram)
                                AS rn
                       FROM counts)
            SELECT source, ngram, count FROM ranked WHERE rn <= 5
        """)

# the scored CTE reuses the quality-score oracle verbatim, so the
# curriculum oracle can never drift from the score definition
register("corpus_curriculum_order", build=_corpus_curriculum_order, oracle=f"""
            WITH scored AS ({oracle_of('text_quality_score')})
            SELECT doc_id, quality_score,
                   ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id)
                     AS curriculum_pos
            FROM scored
        """)

register("corpus_temperature_mix", build=_corpus_temperature_mix, oracle=r"""
            WITH t AS (
                SELECT source, COUNT(*) AS n_docs,
                       CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')))
                            AS BIGINT) AS n_tokens
                FROM documents GROUP BY source
            ), tot AS (SELECT SUM(n_tokens) AS N FROM t),
            p AS (SELECT source,
                         CAST(POWER(n_tokens / N, 0.3) AS DECIMAL(28,15))
                           AS pd
                  FROM t, tot),
            z AS (SELECT SUM(pd) AS Z FROM p),
            wn AS (SELECT source,
                          ROUND(CAST(pd AS DOUBLE) / CAST(Z AS DOUBLE), 6)
                            AS share
                   FROM p, z),
            j AS (SELECT t.source, t.n_docs, t.n_tokens, wn.share
                  FROM t JOIN wn ON t.source = wn.source),
            budget AS (SELECT MIN(n_tokens / share) AS T FROM j
                       WHERE share > 0)
            SELECT source, n_docs, n_tokens,
                   ROUND(share, 6) AS target_share,
                   ROUND(CASE WHEN n_tokens > 0
                         THEN LEAST(1.0, share * T / n_tokens)
                         ELSE 0.0 END, 6) AS sample_fraction,
                   CAST(FLOOR((CASE WHEN n_tokens > 0
                         THEN LEAST(1.0, share * T / n_tokens)
                         ELSE 0.0 END) * n_tokens) AS BIGINT)
                     AS expected_tokens
            FROM j, budget
        """)

register("text_bigram_logprob", build=_text_bigram_logprob, oracle=r"""
            WITH tok AS (
              SELECT doc_id,
                     LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
                                    x -> LOWER(x)) AS t
              FROM documents WHERE TRIM(COALESCE(text, '')) <> ''),
            doc_bg AS (
              SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bg
              FROM tok, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS u(i)
              WHERE LEN(t) >= 2),
            uni AS (SELECT u.w AS w1, COUNT(*) AS uc
                    FROM tok, UNNEST(t) AS u(w)
                    WHERE u.w <> '' GROUP BY 1),
            big AS (SELECT bg, COUNT(*) AS bc FROM doc_bg GROUP BY 1),
            vs AS (SELECT COUNT(*) AS v FROM uni),
            probed AS (
              SELECT d.doc_id,
                     LN((COALESCE(b.bc, 0) + 1)
                        / CAST(COALESCE(u.uc, 0) + vs.v AS DOUBLE)) AS lp
              FROM doc_bg d
              LEFT JOIN big b ON d.bg = b.bg
              LEFT JOIN uni u ON d.w1 = u.w1, vs),
            per_doc AS (
              SELECT doc_id, COUNT(*) AS n_bigrams,
                     SUM(CAST(lp AS DECIMAL(28,10))) AS s
              FROM probed GROUP BY doc_id)
            SELECT doc.doc_id,
                   CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   ROUND(CASE WHEN p.n_bigrams > 0
                              THEN CAST(p.s AS DOUBLE) / p.n_bigrams END, 6)
                     AS mean_logprob
            FROM documents doc LEFT JOIN per_doc p ON doc.doc_id = p.doc_id
        """)

# CCNet reference-perplexity replay: English-slice bigram LM
# (ML bigram interpolated 0.9 with add-0.1 unigram over the
# +1-OOV-bucket denominator), per-doc distinct-bigram counts,
# DECIMAL(30,12) term quantization, perplexity from the
# published 6-dp mean, fixed 30/33 head/middle/tail cuts
register(
    "text_ccnet_perplexity", build=_text_ccnet_perplexity, tags=("headline",),
    oracle=r"""
            WITH tokall AS (
              SELECT doc_id, lang,
                     LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
                                    x -> LOWER(x)) AS t
              FROM documents WHERE TRIM(COALESCE(text, '')) <> ''),
            uni AS (SELECT u.w AS w, COUNT(*) AS c
                    FROM tokall, UNNEST(t) AS u(w)
                    WHERE lang = 'en' AND u.w <> '' GROUP BY 1),
            tv AS (SELECT SUM(c) AS T, COUNT(*) AS V FROM uni),
            big AS (
              SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS cb
              FROM tokall, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS u(i)
              WHERE lang = 'en' AND LEN(t) >= 2 GROUP BY 1, 2),
            dbg AS (
              SELECT doc_id, t[i] AS w1, t[i+1] AS w2, COUNT(*) AS cnt
              FROM tokall, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS u(i)
              WHERE LEN(t) >= 2 GROUP BY 1, 2, 3),
            probed AS (
              SELECT d.doc_id, d.cnt,
                     CAST(CAST(d.cnt AS DOUBLE) * -LN(
                       0.9 * (CASE WHEN u1.c IS NOT NULL THEN
                                CAST(COALESCE(b.cb, 0) AS DOUBLE)
                                / CAST(u1.c AS DOUBLE)
                              ELSE 0.0 END)
                       + (1.0 - 0.9)
                         * ((CAST(COALESCE(u2.c, 0) AS DOUBLE) + 0.1)
                            / (CAST(tv.T AS DOUBLE)
                               + 0.1 * CAST(tv.V + 1 AS DOUBLE)))
                     ) AS DECIMAL(30,12)) AS term
              FROM dbg d
              LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
              LEFT JOIN uni u1 ON d.w1 = u1.w
              LEFT JOIN uni u2 ON d.w2 = u2.w, tv),
            per_doc AS (
              SELECT doc_id, SUM(cnt) AS n_bigrams, SUM(term) AS s
              FROM probed GROUP BY doc_id),
            scored AS (
              SELECT doc.doc_id,
                     CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                     ROUND(CASE WHEN p.n_bigrams > 0 THEN
                             CAST(p.s AS DOUBLE)
                             / CAST(p.n_bigrams AS DOUBLE) END, 6)
                       AS avg_nll
              FROM (SELECT DISTINCT doc_id FROM documents) doc
              LEFT JOIN per_doc p ON doc.doc_id = p.doc_id),
            withp AS (
              SELECT doc_id, n_bigrams, avg_nll,
                     ROUND(EXP(avg_nll), 6) AS perplexity
              FROM scored)
            SELECT doc_id, n_bigrams, avg_nll, perplexity,
                   CASE WHEN perplexity IS NULL THEN NULL
                        WHEN perplexity <= 30.0 THEN 'head'
                        WHEN perplexity <= 33.0 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM withp
        """,
)

register("text_bpe_pairs", build=_text_bpe_pairs, oracle=r"""
            WITH tok AS (
              SELECT LOWER(u.t) AS t
              FROM documents,
                   UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS u(t)
              WHERE text IS NOT NULL AND TRIM(text) <> ''),
            p AS (
              SELECT SUBSTRING(t, CAST(i AS INT), 2) AS pair
              FROM tok, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS g(i)
              WHERE LEN(t) >= 2)
            SELECT pair, COUNT(*) AS count
            FROM p WHERE LEN(pair) = 2
            GROUP BY pair ORDER BY count DESC, pair LIMIT 50
        """)

register("text_lang_confusion", build=_text_lang_confusion, oracle=r"""
            WITH scored AS (
              SELECT lang,
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('der','die','und','ist','das'))) AS h_de,
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('the','and','of','to','is'))) AS h_en,
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('el','la','de','que','es'))) AS h_es,
                LEN(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                    t -> t IN ('le','la','et','est','les'))) AS h_fr
              FROM documents
            )
            SELECT lang,
                   CASE WHEN GREATEST(h_de,h_en,h_es,h_fr) <= 0 THEN 'unknown'
                        WHEN h_de = GREATEST(h_de,h_en,h_es,h_fr) THEN 'de'
                        WHEN h_en = GREATEST(h_de,h_en,h_es,h_fr) THEN 'en'
                        WHEN h_es = GREATEST(h_de,h_en,h_es,h_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred,
                   COUNT(*) AS n_docs
            FROM scored GROUP BY 1, 2
        """)

register("corpus_kfold", build=_corpus_kfold, oracle=r"""
            SELECT doc_id, source,
                   CAST(LEAST(FLOOR(
                     (CAST(CONCAT('0x', SUBSTRING(
                        MD5(CONCAT_WS('|', '', CAST(doc_id AS VARCHAR))),
                        1, 8)) AS BIGINT) / 4294967296.0) * 5), 4) AS INT)
                     AS fold
            FROM documents
        """)

register("text_normalize", build=_text_normalize, oracle=r"""
            WITH n AS (
              SELECT doc_id, text,
                     TRIM(REGEXP_REPLACE(
                       REGEXP_REPLACE(
                         LOWER(REGEXP_REPLACE(text,
                           '[\x00-\x08\x0B-\x1F\x7F]', ' ', 'g')),
                         '[!-/:-@\[-`{-~]', '', 'g'),
                       '\s+', ' ', 'g')) AS text_normalized
              FROM documents)
            SELECT doc_id, text_normalized,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE text_normalized <> text END AS was_changed
            FROM n
        """)


# corpus scaling-law oracles (ops/text.py::heaps_growth /
# corpus_scaling_laws): the first-doc-id vocabulary-growth trick and
# both log-log OLS fits replayed with the 12dp-DECIMAL sum convention
_HEAPS_GROWTH_SQL = r"""
  WITH base AS (
    SELECT doc_id AS did,
           list_transform(
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''),
             x -> lower(x)) AS toks
    FROM documents WHERE doc_id IS NOT NULL),
  doc_len AS (SELECT did, len(toks) AS n FROM base),
  first_doc AS (SELECT tok AS token, MIN(did) AS first_doc
                FROM (SELECT did, UNNEST(toks) AS tok FROM base)
                WHERE tok <> '' GROUP BY 1),
  mx AS (SELECT MAX(did) AS mx FROM doc_len),
  grid AS (SELECT CAST(p AS INTEGER) AS point,
                  CAST(FLOOR(mx * p / 10) AS BIGINT) AS threshold
           FROM (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS p), mx),
  v AS (SELECT g.point, g.threshold, COUNT(*) AS vocab
        FROM first_doc f, grid g
        WHERE f.first_doc <= g.threshold GROUP BY 1, 2),
  nn AS (SELECT g.point, g.threshold, SUM(d.n) AS n_tokens
         FROM doc_len d, grid g
         WHERE d.did <= g.threshold GROUP BY 1, 2)
  SELECT g.point, g.threshold,
         CAST(COALESCE(nn.n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(v.vocab, 0) AS BIGINT) AS vocab
  FROM grid g
  LEFT JOIN nn ON g.point = nn.point AND g.threshold = nn.threshold
  LEFT JOIN v ON g.point = v.point AND g.threshold = v.threshold
"""


def _loglog_ols_sql(src: str, x_expr: str, y_expr: str) -> str:
    """slope/intercept of y on x over ``src`` with the repo's
    12dp-DECIMAL OLS sum convention."""
    return f"""
      SELECT CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0
             THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) END AS slope,
             CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0
             THEN (sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx)
                  / n END AS intercept
      FROM (SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(28,12)))
                        AS DOUBLE) AS sx,
                   CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(28,12)))
                        AS DOUBLE) AS sy,
                   CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS sxx
            FROM (SELECT {x_expr} AS x, {y_expr} AS y FROM {src}))
    """


register("text_heaps_growth", build=_text_heaps_growth, oracle=_HEAPS_GROWTH_SQL)

register("text_scaling_laws", build=_text_scaling_laws, tags=("headline",), oracle=rf"""
            WITH tf AS (
              SELECT tok AS token, COUNT(*) AS cnt
              FROM (SELECT UNNEST(
                      list_transform(
                        list_filter(
                          string_split_regex(trim(text), '\s+'),
                          x -> x <> ''),
                        x -> lower(x))) AS tok
                    FROM documents)
              WHERE tok <> '' GROUP BY 1),
            ranked AS (SELECT cnt,
                              ROW_NUMBER() OVER (ORDER BY cnt DESC,
                                                 token) AS rank
                       FROM tf QUALIFY rank <= 1000),
            zf AS ({_loglog_ols_sql(
                "ranked",
                "LN(CAST(rank AS DOUBLE))",
                "LN(CAST(cnt AS DOUBLE))")}),
            growth AS (SELECT * FROM ({_HEAPS_GROWTH_SQL})
                       WHERE vocab > 0 AND n_tokens > 0),
            hp AS ({_loglog_ols_sql(
                "growth",
                "LN(CAST(n_tokens AS DOUBLE))",
                "LN(CAST(vocab AS DOUBLE))")}),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
                           CAST(SUM(cnt) AS BIGINT) AS n_tokens
                    FROM tf)
            SELECT tot.n_terms, tot.n_tokens,
                   ROUND(zf.slope, 6) AS zipf_slope,
                   ROUND(hp.slope, 6) AS heaps_beta,
                   ROUND(EXP(hp.intercept), 6) AS heaps_k
            FROM tot, zf, hp
        """)

# readability oracle (ops/text.py::text_readability): the word /
# sentence / vowel-group-syllable counts and the Flesch formula
register("text_readability_docs", build=_text_readability_docs, oracle=r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(trim(coalesce(text, '')),
                                          '\s+'),
                       x -> x <> '') AS toks,
                     list_filter(
                       string_split_regex(coalesce(text, ''),
                                          '[.!?]+'),
                       s -> trim(s) <> '') AS segs
              FROM documents),
            m AS (SELECT doc_id,
                         len(toks) AS w,
                         GREATEST(len(segs),
                                  CASE WHEN len(toks) > 0
                                       THEN 1 ELSE 0 END) AS s,
                         COALESCE(list_sum(list_transform(toks,
                           t -> GREATEST(len(regexp_extract_all(
                                  lower(t), '[aeiouy]+')), 1))), 0)
                           AS syl
                  FROM base)
            SELECT doc_id,
                   CAST(w AS BIGINT) AS n_words,
                   CAST(s AS BIGINT) AS n_sentences,
                   CAST(syl AS BIGINT) AS n_syllables,
                   ROUND(CASE WHEN w > 0 AND s > 0
                         THEN 206.835
                              - 1.015 * (CAST(w AS DOUBLE) / s)
                              - 84.6 * (CAST(syl AS DOUBLE) / w)
                         END, 6) AS flesch
            FROM m
        """)


# ---- round 11: RAKE keyword extraction (ops/text.py) ----


def _text_rake_keywords(spark, sf_dir):
    """Corpus-level RAKE keywords (ops/text.py::rake_keywords):
    stopword-delimited candidate phrases, deg/freq word scores with
    DECIMAL phrase accumulation, top-25 by (score desc, phrase)."""
    from metadata_etl_framework_spark.ops.text import rake_keywords

    docs = _t(spark, sf_dir, "documents")
    return rake_keywords(docs, "text", top_k=25, max_phrase_words=4)


_RAKE_SW = "the|a|an|of|to|in|and|is|it|for|on|with"


register(
    "text_rake_keywords", build=_text_rake_keywords, tags=("headline",),
    oracle=f"""
            WITH ph0 AS (
                SELECT TRIM(p) AS ph
                FROM (SELECT UNNEST(STRING_SPLIT(
                          REGEXP_REPLACE(
                              REGEXP_REPLACE(LOWER(text),
                                             '[^a-z0-9]+', ' ', 'g'),
                              '\\b({_RAKE_SW})\\b', '|', 'g'),
                          '|')) AS p
                      FROM documents WHERE text IS NOT NULL)),
            phl AS (SELECT ph,
                           LEN(STRING_SPLIT_REGEX(ph, '\\s+')) AS l
                    FROM ph0 WHERE ph <> ''),
            phf AS (SELECT * FROM phl WHERE l <= 4),
            wo AS (SELECT UNNEST(STRING_SPLIT_REGEX(ph, '\\s+')) AS w, l
                   FROM phf),
            ws AS (SELECT w, COUNT(*) AS freq, SUM(l) AS deg
                   FROM wo GROUP BY 1),
            wscore AS (SELECT w,
                              CAST(ROUND(CAST(deg AS DOUBLE) / freq, 6)
                                   AS DECIMAL(18,6)) AS s
                       FROM ws),
            pc AS (SELECT ph, COUNT(*) AS n_occ FROM phf GROUP BY 1),
            pw AS (SELECT ph, n_occ,
                          UNNEST(STRING_SPLIT_REGEX(ph, '\\s+')) AS w
                   FROM pc),
            sc AS (SELECT ph, n_occ, SUM(s) AS score
                   FROM pw JOIN wscore USING (w) GROUP BY 1, 2)
            SELECT ph AS phrase,
                   CAST(LEN(STRING_SPLIT_REGEX(ph, '\\s+')) AS INT)
                       AS n_words,
                   CAST(n_occ AS BIGINT) AS n_occurrences,
                   ROUND(CAST(score AS DOUBLE), 6) AS score
            FROM sc ORDER BY score DESC, ph LIMIT 25
        """,
)


def _nb_lang_docs(spark, sf_dir):
    """Multinomial Naive Bayes language ID trained INSIDE the engine
    (ops/classify.py::nb_train/nb_score): exact token-count sufficient
    statistics, Laplace smoothing, 12-dp log weights, DECIMAL score
    accumulation; resubstitution scoring over the same corpus — the
    oracle replays train AND score to the last bit."""
    from metadata_etl_framework_spark.ops.classify import (
        nb_score,
        nb_train,
    )

    d = _t(spark, sf_dir, "documents")
    model = nb_train(d, "text", "lang", smoothing=1.0, min_count=2)
    return nb_score(d, model, "text", "doc_id")


_NB_TRAIN_CTES = r"""base AS (
              SELECT lang AS c,
                     CASE WHEN TRIM(text) = '' THEN []
                          ELSE REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)),
                                                     '\s+') END AS toks
              FROM documents
              WHERE text IS NOT NULL AND lang IS NOT NULL),
            exploded AS (SELECT c, UNNEST(toks) AS t FROM base),
            vocab AS (SELECT t FROM exploded
                      GROUP BY t HAVING COUNT(*) >= 2),
            pair AS (SELECT c, t, COUNT(*) AS cnt
                     FROM exploded JOIN vocab USING (t)
                     GROUP BY 1, 2),
            totals AS (SELECT c, SUM(cnt) AS tc FROM pair GROUP BY 1),
            vv AS (SELECT COUNT(*) AS v FROM vocab),
            dc AS (SELECT c, COUNT(*) AS nc FROM base GROUP BY 1),
            nd AS (SELECT COUNT(*) AS n FROM base),
            priors AS (SELECT c AS label,
                              ROUND(LN(CAST(nc AS DOUBLE) / n), 12)
                                  AS prior
                       FROM dc, nd),
            tokw AS (SELECT pair.c AS label, pair.t,
                            ROUND(LN((CAST(cnt AS DOUBLE) + 1.0)
                                     / (CAST(tc AS DOUBLE) + 1.0 * v)),
                                  12) AS w
                     FROM pair JOIN totals ON pair.c = totals.c, vv),
            defaults AS (SELECT c AS label,
                                ROUND(LN(1.0
                                         / (CAST(tc AS DOUBLE)
                                            + 1.0 * v)), 12) AS d
                         FROM totals, vv)"""


register("nb_lang_docs", build=_nb_lang_docs, tags=("headline",), oracle=rf"""
            WITH {_NB_TRAIN_CTES},
            sdocs AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR TRIM(text) = '' THEN []
                          ELSE REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)),
                                                     '\s+') END AS toks
              FROM documents WHERE doc_id IS NOT NULL),
            dt AS (SELECT doc_id, u.t
                   FROM sdocs, UNNEST(toks) AS u(t)
                   WHERE u.t IN (SELECT t FROM vocab)),
            st AS (SELECT dt.doc_id, dl.label,
                          COALESCE(tw.w, dl.d) AS lw
                   FROM dt
                   CROSS JOIN defaults dl
                   LEFT JOIN tokw tw
                     ON tw.label = dl.label AND tw.t = dt.t),
            agg AS (SELECT doc_id, label,
                           SUM(CAST(lw AS DECIMAL(28,12))) AS s,
                           COUNT(*) AS nt
                    FROM st GROUP BY 1, 2),
            per_label AS (
              SELECT d.doc_id, p.label,
                     p.prior + COALESCE(CAST(a.s AS DOUBLE), 0.0)
                         AS score,
                     COALESCE(a.nt, 0) AS nt
              FROM sdocs d
              CROSS JOIN priors p
              LEFT JOIN agg a
                ON a.doc_id = d.doc_id AND a.label = p.label),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY doc_id
                          ORDER BY score DESC, label ASC) AS rk
              FROM per_label)
            SELECT doc_id, label AS predicted_label,
                   ROUND(score, 12) AS score,
                   CAST(nt AS BIGINT) AS n_tokens
            FROM ranked WHERE rk = 1
            ORDER BY doc_id
        """)


def _nb_top_terms_lang(spark, sf_dir):
    """Per-class discriminative tokens from the NB model
    (ops/classify.py::nb_top_terms): one-vs-rest decision margins over
    the defaults-completed (token × label) grid — the interpretability
    readout; pure frame math on the vocab-bounded model, replayed from
    the training CTEs."""
    from metadata_etl_framework_spark.ops.classify import (
        nb_top_terms,
        nb_train,
    )

    d = _t(spark, sf_dir, "documents")
    model = nb_train(d, "text", "lang", smoothing=1.0, min_count=2)
    return nb_top_terms(model, k=5)


register("nb_top_terms_lang", build=_nb_top_terms_lang, oracle=rf"""
            WITH {_NB_TRAIN_CTES},
            grid AS (SELECT v.t AS token, d.label,
                            COALESCE(tw.w, d.d) AS w
                     FROM (SELECT DISTINCT t FROM tokw) v
                     CROSS JOIN defaults d
                     LEFT JOIN tokw tw
                       ON tw.label = d.label AND tw.t = v.t),
            bo AS (SELECT g.token, g.label, g.w,
                          MAX(o.w) AS best_other
                   FROM grid g JOIN grid o
                     ON o.token = g.token AND o.label <> g.label
                   GROUP BY 1, 2, 3),
            ranked AS (SELECT label, token, w,
                              w - best_other AS margin,
                              ROW_NUMBER() OVER (
                                  PARTITION BY label
                                  ORDER BY w - best_other DESC,
                                           token ASC) AS rnk
                       FROM bo)
            SELECT label, token, ROUND(w, 12) AS weight,
                   ROUND(margin, 12) AS margin,
                   CAST(rnk AS INT) AS rank
            FROM ranked WHERE rnk <= 5
            ORDER BY label, rank
        """)


# ---- round 13 (cont.): TextRank keywords (ops/text.py) ----


def _text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (ops/text.py::textrank_keywords):
    word co-occurrence graph (window 2, support floor 2) -> 3-iteration
    weighted PageRank (ops/graph.py::pagerank, DECIMAL contribution
    sums) -> top-20 by (rank DESC, word). The oracle rebuilds the
    graph in SQL and unrolls the identical iteration loop — a fully
    replayed graph-NLP composition."""
    from metadata_etl_framework_spark.ops.text import textrank_keywords

    d = _t(spark, sf_dir, "documents")
    return textrank_keywords(
        d, text_col="text", window=2, iterations=3,
        damping=0.85, top_k=20, min_cooc=2,
    )


def _textrank_sql() -> str:
    ctes = [
        r"""tok AS (SELECT doc_id,
                          LIST_TRANSFORM(
                              REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'),
                              x -> LOWER(x)) AS t
                   FROM documents
                   WHERE TRIM(COALESCE(text, '')) <> '')""",
        """pos AS (SELECT doc_id, i, t[i] AS w
                   FROM tok, UNNEST(GENERATE_SERIES(1, LEN(t)))
                        AS u(i))""",
        """pr AS (SELECT LEAST(p.w, q.w) AS a,
                         GREATEST(p.w, q.w) AS b,
                         COUNT(*) AS n
                  FROM pos p JOIN pos q
                    ON p.doc_id = q.doc_id
                   AND q.i > p.i AND q.i <= p.i + 2
                   AND p.w <> q.w
                  GROUP BY 1, 2
                  HAVING COUNT(*) >= 2)""",
        """e0 AS (SELECT a AS src, b AS dst, CAST(n AS DOUBLE) AS w
                  FROM pr
                  UNION ALL
                  SELECT b, a, CAST(n AS DOUBLE) FROM pr)""",
        "nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)",
        "t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes)",
        """ow AS (SELECT src, CAST(SUM(CAST(w AS DECIMAL(30,10)))
                              AS DOUBLE) AS ow FROM e0 GROUP BY src)""",
        """e AS (SELECT e0.src, e0.dst, e0.w, ow.ow
                 FROM e0 JOIN ow ON e0.src = ow.src)""",
        "r0 AS (SELECT node, 1.0 / nn AS r FROM nodes, t)",
    ]
    for k in range(1, 4):
        ctes.append(
            f"""c{k} AS (SELECT e.dst,
                       CAST(SUM(CAST((p.r * e.w) / e.ow AS DECIMAL(28,12)))
                            AS DOUBLE) AS s
                 FROM e JOIN r{k - 1} p ON e.src = p.node GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{k} AS (SELECT node,
                       ((1.0 - 0.85) / nn) + 0.85 * COALESCE(s, 0.0) AS r
                 FROM nodes CROSS JOIN t
                 LEFT JOIN c{k} ON node = c{k}.dst)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT node AS word, ROUND(r, 6) AS rank FROM r3"
        + "\nORDER BY rank DESC, word LIMIT 20"
    )


register(
    "text_textrank_keywords", build=_text_textrank_keywords, tags=("headline",),
    oracle=_textrank_sql(),
)
