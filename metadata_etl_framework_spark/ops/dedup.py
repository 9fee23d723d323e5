"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design (the point of each):
- exact: hash-groupBy on a normalized fingerprint — one shuffle on a
  16-byte key, the cheapest possible full-corpus dedup.
- MinHash+LSH: shingles → K minhashes → B bands; candidate pairs come
  from a self-join on (band_id, band_hash) buckets, so the join touches
  only colliding documents instead of the O(n²) cross product.
- SimHash: 64-bit signature; near-dup candidates share signature bands.
- n-gram Jaccard: exact verification on candidate pairs only.

All hashing uses xxhash64/md5 built-ins (JVM-side, deterministic across
runs and cluster sizes). No Python in the hot path.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from pyspark.sql import types as T

from metadata_etl_framework_spark.ops.driver_exact import driver_table
from metadata_etl_framework_spark.ops.materialize import (
    Supersteps, checkpoint_leaf, release,
)
from metadata_etl_framework_spark.ops.text import fingerprint, word_ngrams


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: (fingerprint,
    dup_count, doc_ids). Downstream keeps min(doc_id) per group."""
    fp = fingerprint(df, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct, sorted for determinism).

    Tokens are the ``\\s+`` split of the lowercased, space-trimmed text,
    and a gram is ``n`` consecutive tokens joined by one space: the
    :func:`~metadata_etl_framework_spark.ops.text.word_ngrams` of that
    text. Documents with fewer than ``n`` tokens (NULL text included)
    yield an EMPTY shingle array.

    Every step is a codegen'd expression (regex replace and extract,
    ``array_distinct``, ``sort_array``), linear in document length, with
    no lambda evaluated per gram: ``sort_array`` orders a null-free
    string array as ``array_sort`` does."""
    c = F.col(col) if isinstance(col, str) else col
    grams = word_ngrams(F.trim(F.lower(c)), n)
    return F.sort_array(
        F.array_distinct(F.coalesce(grams, F.array().cast("array<string>")))
    )


def _seeded_hash(s: Column, seed: int, hash_fn: str) -> Column:
    """Deterministic 64-bit-ish hash of a string with an integer seed.

    ``xxhash64`` (default): JVM-native, fastest — the production arm.
    ``md5``: 60-bit value from the first 15 hex chars of md5(s + \\x01 +
    seed) — strictly slower, but computable bit-for-bit by any SQL
    engine (DuckDB: ``CAST('0x' || SUBSTR(MD5(..), 1, 15) AS UBIGINT)``),
    which makes every signature built on it cross-engine oracle-checkable.
    15 hex chars < 2^60 so the value is always a non-negative long and
    min/ordering semantics agree between signed and unsigned engines.
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(s, F.lit(seed))
    if hash_fn == "md5":
        return F.conv(
            F.substring(F.md5(F.concat_ws("\x01", s, F.lit(str(seed)))), 1, 15),
            16, 10,
        ).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r} (xxhash64 | md5)")


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 64, shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """K minhash values per doc: min over shingles of hash(shingle, seed_k).

    Seeded hashing gives K independent hash families without UDFs; the
    whole signature computes in one projection (no shuffle). Callers that
    already materialized the shingle projection pass it via ``_shingled``
    (an explicit parameter, not duck-typing on a ``_sh`` column — a
    caller whose frame coincidentally carries ``_sh`` must not silently
    bypass text_col/shingle_n). ``hash_fn="md5"`` selects the
    SQL-replayable hash family (see _seeded_hash) for oracle-backed runs.
    """
    # Materialize the shingle array in its own projection: inlining it
    # into all K hash expressions multiplies the codegen tree K-fold
    # (measured ~10s compile for K=32). CollapseProject keeps the split
    # because the producing expression is non-cheap and multiply-referenced.
    sh_df = (
        _shingled if _shingled is not None
        else df.select(id_col, shingles(text_col, shingle_n).alias("_sh"))
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("_sh"), lambda s: _seeded_hash(s, k, hash_fn))
            )
            for k in range(num_hashes)
        ]
    )
    return sh_df.select(id_col, sig.alias("minhash"))


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id",
    num_bands: int = 16, rows_per_band: int = 4,
) -> DataFrame:
    """MinHash-LSH banding: docs sharing any band bucket become candidate
    pairs (id_a < id_b). The self-join is on (band, band_hash) — at 100 TB
    this is a shuffle on small keys, never a cross join."""
    bands = F.posexplode(
        F.array(
            *[
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("minhash", b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    )
                )
                for b in range(num_bands)
            ]
        )
    )
    banded = signatures.select(id_col, bands.alias("band", "band_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates()
    )


def jaccard_similarity(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (verification stage)."""
    sh = df.select(F.col(id_col), shingles(text_col, shingle_n).alias("sh"))
    return _pair_jaccard(pairs, sh, id_col)


def _pair_jaccard(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, jaccard 6 dp) for candidate ``pairs``, each side's
    shingle array joined from the (``id_col``, sh) frame ``sh``."""
    j = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a", "id_b",
        F.round(
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)), 6
        ).alias("jaccard"),
    )


def _shingle_base(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int,
) -> DataFrame:
    """(id, shingle-array) projection, repartitioned to cluster
    parallelism BEFORE the CPU-bound n-gram transform (a small-file
    corpus arrives as 1-2 scan partitions).

    Lazy: a caller with several consumers materializes it once (the
    near-dup gate cuts it with :func:`_shingle_totals` as the fill), and
    a single consumer needs no cache (both sides of a self-join reuse
    one exchange)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df.select(F.col(id_col), shingles(text_col, shingle_n).alias("_sh"))


def _shingle_totals(base: DataFrame) -> DataFrame:
    """The near-dup gate's probe: one row (n rows, T shingles) of a
    shingle base, whose job fills the base's checkpoint leaf."""
    return base.agg(F.count(F.lit(1)), F.sum(F.size("_sh")))


def exact_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8, shingle_n: int = 3,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs via a shingle inverted index:
    explode distinct shingles → self equi-join on the shingle → the group
    count per (id_a, id_b) IS the intersection size, so
    ``J = c / (n_a + n_b - c)`` needs no second pass over the text.

    Every pair with J > 0 shares ≥ 1 shingle, so for any threshold > 0
    this is provably complete — no recall parameter. The cost is
    Σ_shingle df² over candidate pairs, which is what MinHash-LSH exists
    to avoid on web-scale corpora with high-frequency shingles; callers
    at that scale use the LSH regime of ``minhash_near_duplicates``.
    """
    if threshold <= 0:
        raise ValueError("exact_jaccard_pairs requires threshold > 0 "
                         "(J=0 pairs share no shingle and are unindexable)")
    # shingle arrays compute ONCE (the tokenize+n-gram transform is the
    # expensive projection): both self-join sides re-explode them through
    # one reused exchange, and sizes come from F.size — no groupBy
    # shuffle. Callers that already paid the projection
    # (the near-dup gate's checkpointed base) pass it in via _shingled.
    base = _shingle_base(df, id_col, text_col, shingle_n) \
        if _shingled is None else _shingled
    # each exploded row carries its doc's shingle count, and the counts
    # ride into the groupBy keys (functionally dependent on the ids) —
    # no join back to a sizes table after the aggregation
    sh = base.select(
        F.col(id_col), F.size("_sh").alias("_n"), F.explode("_sh").alias("_s")
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a._s") == F.col("b._s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    jac = F.round(
        F.col("_c").cast("double")
        / (F.col("_na") + F.col("_nb") - F.col("_c")),
        6,
    )
    return common.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    shingle_n: int = 3,
    max_shingle_df: int = 10_000,
    exact_max_rows: int = 100_000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle-set containment
    C(inner→outer) = |S(inner) ∩ S(outer)| / |S(inner)| — the
    statistic that catches a document EMBEDDED in a larger one
    (quote-with-commentary, boilerplate-wrapped reposts, chunk-of-a-
    bigger-page), which symmetric Jaccard structurally misses: a 100-
    shingle doc inside a 10k-shingle page has J ≈ 0.01 but C = 1.0.
    The directed complement to :func:`exact_jaccard_pairs`.

    Same shingle inverted index (explode → self equi-join on the
    shingle → the group count IS the intersection), emitting BOTH
    directions of each sharing pair and keeping those with
    C ≥ ``threshold``. ``max_shingle_df`` drops shingles whose
    document frequency exceeds the cap BEFORE the join — the lever
    that bounds the Σ df² index cost at corpus scale (dropped
    high-df shingles can only LOWER a containment score: the
    denominator stays the true shingle count, so the filter is
    conservative, never a false positive). df-1 shingles are also
    dropped (they cannot pair — pure cost, no effect on any score).
    ``exact_max_rows`` fails loud beyond the exact regime.

    Output: (id_inner, id_outer, inner_size long, n_common long,
    containment 6 dp), ordered by containment desc then ids.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    n_rows = df.count()
    if n_rows > exact_max_rows:
        raise ValueError(
            f"containment_pairs: {n_rows} rows > exact_max_rows="
            f"{exact_max_rows} — the inverted index costs Σ df² over "
            f"shingles; lower max_shingle_df and raise the gate "
            f"explicitly, or pre-block the corpus"
        )
    # the shingle arrays feed the document-frequency count AND both
    # join sides
    from pyspark.storagelevel import StorageLevel

    base = _shingle_base(df, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        sh = base.select(
            F.col(id_col),
            F.size("_sh").alias("_n"),
            F.explode("_sh").alias("_s"),
        )
        kept = (
            sh.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(
                (F.col("_df") >= 2)
                & (F.col("_df") <= int(max_shingle_df))
            )
            .select("_s")
        )
        sh = sh.join(kept, "_s")
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a._s") == F.col("b._s"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("_ida"),
                F.col(f"b.{id_col}").alias("_idb"),
                F.col("a._n").alias("_na"),
                F.col("b._n").alias("_nb"),
            )
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        both = common.select(
            F.col("_ida").alias("id_inner"),
            F.col("_idb").alias("id_outer"),
            F.col("_na").alias("_ni"),
            "_c",
        ).unionByName(
            common.select(
                F.col("_idb").alias("id_inner"),
                F.col("_ida").alias("id_outer"),
                F.col("_nb").alias("_ni"),
                "_c",
            )
        )
        cont = F.round(
            F.col("_c").cast("double") / F.col("_ni"), 6
        )
        out = (
            both.select(
                "id_inner",
                "id_outer",
                F.col("_ni").cast("long").alias("inner_size"),
                F.col("_c").cast("long").alias("n_common"),
                cont.alias("containment"),
            )
            .where(F.col("containment") >= float(threshold))
            .orderBy(
                F.desc("containment"), F.asc("id_inner"),
                F.asc("id_outer"),
            )
        )
        out = out.localCheckpoint(eager=True)
    finally:
        base.unpersist()
    return out


def minhash_near_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8, num_hashes: int = 64,
    num_bands: int = 16, shingle_n: int = 3,
    exact_max_rows: int = 100_000,
    exact_max_fanout: int = 50_000_000,
    persisted: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Near-duplicate pairs (n-gram Jaccard ≥ threshold), two regimes:

    * Corpus ≤ ``exact_max_rows`` AND estimated inverted-index join
      fan-out Σ df(shingle)² ≤ ``exact_max_fanout``:
      ``exact_jaccard_pairs`` — the shingle inverted index yields EVERY
      qualifying pair (no recall parameter), so the result is
      deterministic and oracle-checkable exactly. ``num_hashes`` /
      ``num_bands`` are IGNORED in this regime (no signatures exist).
      A shingle's df is at most n and the dfs sum to T (the corpus's
      shingle count), so Σdf² ≤ n·T: when that bound fits the cap the
      route is settled without a probe. Otherwise the fan-out probe, one
      aggregation over the exploded shingles, routes a
      small-but-boilerplate corpus (one shingle in nearly every doc →
      Σdf² ~ n²) to LSH instead of letting the self-join blow up — row
      count alone does not bound the join.
    * Otherwise: MinHash signatures → LSH banded candidates → exact
      Jaccard verify. Recall follows the banding S-curve
      ``1 - (1 - J^r)^b``; at web scale the inverted index's Σdf² blowup
      on high-frequency shingles makes this the only tractable path.

    The shingle projection is built once, as a checkpoint leaf filled by
    the one aggregate that gives n and T (so the corpus is scanned
    once), and the probe, the exact join or the LSH arm all read it. The
    LSH arm also cuts the signatures, which both self-join sides read.

    Leaf lifetime: the returned pairs are LAZY over those leaves. With
    ``persisted`` the caller owns them — they are appended there, and the
    caller frees them with ``ops/materialize.release`` once it has
    consumed the pairs (the dedup step frees them as soon as
    ``connected_components`` has returned; ``Dataset.unpersist()``
    cannot reach a checkpoint leaf's blocks). Without it the pairs are
    materialized here (``localCheckpoint``) and every other leaf is
    released before returning.

    Returns (id_a, id_b, jaccard). Mirrors the exact-below-gate /
    probabilistic-above design of similarity.embedding_near_dup_pairs."""
    args = (df, id_col, text_col, threshold, num_hashes, num_bands,
            shingle_n, exact_max_rows, exact_max_fanout)
    if persisted is not None:
        return _near_dup_pairs(*args, persisted)
    handles: list[DataFrame] = []
    try:
        return _near_dup_pairs(*args, handles).localCheckpoint(eager=True)
    finally:
        for h in handles:
            release(h)


def _near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float,
    num_hashes: int, num_bands: int, shingle_n: int, exact_max_rows: int,
    exact_max_fanout: int, persisted: "list[DataFrame]",
    _cut: "tuple[DataFrame, Row] | None" = None,
) -> DataFrame:
    """The lazy pairs of :func:`minhash_near_duplicates`; every leaf it
    cuts is appended to ``persisted``. Callers that already cut the
    shingle base pass ``checkpoint_leaf(_shingle_base(...),
    _shingle_totals)`` via ``_cut``, and keep and free its leaf."""
    if _cut is None:
        _cut = checkpoint_leaf(
            _shingle_base(df, id_col, text_col, shingle_n), _shingle_totals
        )
        persisted.append(_cut[0])
    base, (n, total) = _cut
    if threshold > 0 and 0 < n <= exact_max_rows:
        # Σdf² ≤ n·T settles the route unless the bound exceeds the cap
        fits = n * total <= exact_max_fanout
        if not fits:
            fanout = (
                base.select(F.explode("_sh").alias("_s"))
                .groupBy("_s")
                .agg(F.count(F.lit(1)).alias("_c"))
                .agg(F.sum(F.col("_c") * F.col("_c")).alias("_f"))
                .first()["_f"]
            )
            fits = fanout is None or fanout <= exact_max_fanout
        if fits:
            return exact_jaccard_pairs(
                df, id_col, text_col, threshold, shingle_n, _shingled=base
            )
    # signatures are id + K longs — tiny relative to the text they derive
    # from — and both sides of the banding self-join read them
    sigs, _ = checkpoint_leaf(minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, _shingled=base,
    ))
    persisted.append(sigs)
    pairs = lsh_candidate_pairs(sigs, id_col, num_bands, num_hashes // num_bands)
    return _pair_jaccard(
        pairs, base.withColumnRenamed("_sh", "sh"), id_col
    ).filter(F.col("jaccard") >= threshold)


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word tokens: bit b of the signature is the sign
    of the sum over tokens of ±1 per hash-bit.

    Tokens are hashed JVM-side (deterministic); the 64-way bit-vote
    tally runs in one Arrow-vectorized pandas UDF (numpy bit matrix +
    reduceat) — measured ~100× faster than the equivalent
    higher-order-function expression, whose lambdas evaluate interpreted
    per element. The signature assembles bits 0..62 (sign bit left 0 so
    the value stays in long range).

    ``hash_fn="xxhash64"`` (default) is the fast production arm.
    ``hash_fn="md5"`` hashes each token to the 60-bit value
    ``int(md5(token)[:15 hex], 16)`` — any SQL engine can recompute it,
    so the whole signature is cross-engine oracle-checkable (DuckDB
    replays the identical bit votes); bits 60..62 then never receive a
    positive vote and stay 0, an effectively-60-bit signature with the
    same banding/Hamming semantics.
    """
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    if hash_fn == "xxhash64":
        def tok_hash(t):
            return F.xxhash64(t)
    elif hash_fn == "md5":
        def tok_hash(t):
            return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (xxhash64 | md5)")
    hashed = df.select(
        id_col, F.transform(toks, tok_hash).alias("_h")
    )

    @F.pandas_udf("long")
    def _sig(hs: pd.Series) -> pd.Series:
        import numpy as np

        lens = hs.map(lambda a: 0 if a is None else len(a)).to_numpy(dtype=np.int64)
        out = np.zeros(len(hs), dtype=np.int64)
        nonempty = lens > 0
        if not nonempty.any():
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hs[nonempty]]
        ).view(np.uint64)
        # bit matrix (tokens × 64) → per-document vote sums via reduceat
        bits = (
            (flat[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
        ).astype(np.int32)
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        set_counts = np.add.reduceat(bits, starts, axis=0)
        votes = 2 * set_counts - lens[nonempty][:, None]
        sig_bits = (votes[:, :63] > 0).astype(np.uint64)
        sigs = (sig_bits << np.arange(63, dtype=np.uint64)[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out[nonempty] = sigs.view(np.int64)
        return pd.Series(out)

    return hashed.select(id_col, _sig("_h").alias("simhash"))


# Edge bound of the driver union-find fast path in connected_components
# (memory rationale in its docstring).
CC_DRIVER_MAX_EDGES = 500_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Near-duplicate CLUSTERS from pair output: connected components by
    iterative min-label propagation — each node's label converges to the
    smallest id reachable from it, which becomes the cluster id.

    Pair emitters (minhash/embedding near-dup) answer "which documents
    are similar"; an actual dedup pass needs "which single document do I
    KEEP per group", and similarity is not transitive-closed in the pair
    list (A~B, B~C without an A~C pair must still collapse to one
    cluster). Per iteration: join each node's current label against its
    neighbors', take the min — a self-equi-join + groupBy (two shuffles
    on node id) — then one pointer-jumping join (label ← label's label)
    that halves remaining path lengths, so convergence is O(log
    diameter) rounds rather than O(diameter). A superstep cut after
    each round (``ops/materialize.Supersteps``) truncates the
    exponentially-growing lineage and releases the superseded labels.
    Convergence detection exploits
    monotonicity: every step (min over neighbors, pointer jump to an
    ancestor) can only DECREASE a node's label, so the global
    sum(label) is strictly decreasing until the fixpoint — comparing it
    across rounds needs one cheap aggregate per round (the job that
    fills the round's cut), not a self-join + count.

    Returns (node, cluster_id, is_canonical): every node that appears in
    a pair, its component's min id, and whether it IS that min (the
    conventional keeper). Reference parity: the duplicate-group
    resolution arm of src/utils/data_deduplicator.py; algorithm is the
    textbook hash-min / "small-star" iteration (CC-MR, Vassilvitskii et
    al.), not a port.

    Small-graph fast path: pair sets up to ``CC_DRIVER_MAX_EDGES`` cross
    the ``driver_table`` seam as one Arrow table and are closed with
    driver-side union-find (path compression + union by min,
    O(E α(E))). Real driver cost is the Arrow table (~16 B/edge for
    numeric ids) plus the Python dict the union-find builds over
    touched NODES (~100 B/entry with boxed ints) — the 500k-edge gate
    stays well under ~100 MB of driver heap even for string ids.
    Near-dup pair lists are edge-sparse even for huge corpora (they're
    post-verification similarity hits, not raw candidates), so this
    path covers most real runs and skips the multi-round shuffle loop
    entirely; anything over the gate, or any
    run with ``SPARK_GRAFT_DRIVER_GATE=0``, takes the fully-distributed
    iteration, same results. The twin's result comes back as an Arrow
    table, so it plans as a ``LocalRelation``: a JVM-only leaf of known
    size that starts no Python worker when a later plan reads it.

    The pair frame is local-checkpointed on entry, so the pair
    computation runs once whichever arm runs: the seam's probe
    (``limit(cap + 1)``, one job) fills the checkpoint, and an over-cap
    graph falls through to the distributed arm, which reads it; with the
    gate off the distributed arm is its first reader. No count is needed
    for the gate.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    # `uv` stays bound until return: the lazy checkpoint's tasks report
    # SQL metrics to the plan it was cut from, and once that plan is
    # garbage-collected the driver logs "attempted to access non-existent
    # accumulator" for every task update (seen on the distributed arm)
    uv = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    half = uv.localCheckpoint(eager=False)
    out_type = half.schema["u"].dataType
    tbl = driver_table(half, CC_DRIVER_MAX_EDGES)
    if tbl is not None:
        # the twin holds every edge; the Arrow-built result never reads
        # the entry checkpoint
        release(half)
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        nodes: dict = {}  # insertion-ordered set
        for u, v in zip(
            tbl.column("u").to_pylist(), tbl.column("v").to_pylist()
        ):
            nodes[u] = nodes[v] = None
            ru, rv = find(u), find(v)
            if ru != rv:
                # root := min of merged roots, so by induction every
                # tree's root IS its component minimum (= cluster id)
                parent[max(ru, rv)] = min(ru, rv)
        roots = [find(n) for n in nodes]
        id_type = tbl.schema.field("u").type
        result = pa.table({
            "node": pa.array(list(nodes), id_type),
            "cluster_id": pa.array(roots, id_type),
            "is_canonical": pa.array(
                [n == r for n, r in zip(nodes, roots)], pa.bool_()
            ),
        })
        schema = T.StructType(
            [
                T.StructField("node", out_type),
                T.StructField("cluster_id", out_type),
                T.StructField("is_canonical", T.BooleanType()),
            ]
        )
        return pairs.sparkSession.createDataFrame(result, schema)
    edges = (
        half.select("u", "v")
        .unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .dropDuplicates()
        .persist()
    )
    labels = edges.select("u").dropDuplicates().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    # one aggregate fills each round's cut AND tests the fixpoint: labels
    # are per-node monotone non-increasing, so an unchanged global sum
    # <=> no label changed. Decimal accumulation so arbitrary 64-bit ids
    # can't overflow the sum. Non-numeric (string) ids can't sum — count
    # the labels that changed against the previous round's instead.
    numeric_ids = isinstance(out_type, T.NumericType)
    if numeric_ids:
        probe = lambda d: d.agg(  # noqa: E731
            F.sum(F.col("label").cast("decimal(38,0)"))
        )
    else:
        probe = lambda d: d.alias("n").join(  # noqa: E731
            prev.alias("o"), F.col("n.node") == F.col("o.node")
        ).agg(F.count_if(F.col("n.label") != F.col("o.label")))
    last = None  # the previous round's probe; None = first round
    steps = Supersteps(max_iterations)
    for _ in steps:
        # candidate label per node = min over (own label, neighbors' labels)
        # (join + least, not union + groupBy: Spark's
        # UnionBase.rewriteConstraints crashes with "key not found:
        # node#N" when the union children carry join-derived constraints
        # over re-aliased attributes — hit with minhash-derived pair
        # frames; the join formulation propagates the same min)
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .select(edges["u"].alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nl"))
        )
        propagated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jumping (path halving): label ← label's label. One small
        # self-join on the label frame halves remaining path lengths, so
        # a chain of diameter d converges in O(log d) rounds instead of
        # O(d) — each round is the expensive edges-join, so this is the
        # dominant cost lever on chain-shaped duplicate graphs.
        new_labels = (
            propagated.alias("l")
            .join(
                propagated.alias("m"),
                F.col("l.label") == F.col("m.node"),
                "left",
            )
            .select(
                F.col("l.node").alias("node"),
                F.coalesce(F.col("m.label"), F.col("l.label")).alias("label"),
            )
        )
        prev = labels
        labels, row = steps.cut(new_labels, probe)
        steps.retain(labels)
        if (row[0] == last) if numeric_ids else row[0] == 0:
            break
        last = row[0]
    edges.unpersist()
    release(half)
    return labels.select(
        F.col("node"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


def near_duplicate_clusters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.8, num_hashes: int = 64, num_bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate CLUSTERS of a corpus: :func:`connected_components`
    over :func:`minhash_near_duplicates`' pairs, as (node, cluster_id,
    is_canonical).

    The leaves the lazy pairs read are released as soon as the components
    exist: both arms of ``connected_components`` return a frame that no
    longer reads the pairs (the twin's Arrow table, or the distributed
    arm's materialized labels), so nothing stays persisted between
    calls."""
    handles: list[DataFrame] = []
    pairs = minhash_near_duplicates(
        df, id_col, text_col, threshold=threshold, num_hashes=num_hashes,
        num_bands=num_bands, shingle_n=shingle_n, persisted=handles,
    )
    try:
        return connected_components(pairs)
    finally:
        for h in handles:
            release(h)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pipeline: 63-bit signatures → band buckets →
    candidate pairs → exact Hamming verify ≤ ``max_hamming``.

    The signature splits into ``n_bands`` contiguous bit slices; by
    pigeonhole, any pair within Hamming distance < n_bands shares at
    least one identical band, so the equi-join on (band_index, band
    bits) is a COMPLETE candidate generator for max_hamming ≤
    n_bands - 1 (the default 3 < 4). Verification is a single JVM
    ``bit_count(xor)`` — no UDF. Same bucketed-self-join shape as
    MinHash-LSH banding: a shuffle on small keys, never a cross join.

    Returns (id_a, id_b, hamming). With ``hash_fn="md5"`` the signature
    is SQL-replayable and — because the band generator is COMPLETE for
    max_hamming < n_bands — the output equals the all-pairs Hamming
    filter, so a DuckDB oracle can hash-check it exactly. The xxhash64
    arm stays rows-only (completeness of the band generator is
    unit-tested by construction instead).
    """
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    sigs = simhash(df, id_col, text_col, hash_fn=hash_fn)
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * band_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_band", "_bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bits") == F.col("b._bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        cands.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """Dedupe a NEW batch against an already-ingested corpus — the daily
    incremental-crawl shape: yesterday's corpus is never re-deduped, only
    probed. Two signals per new document:

    * ``is_exact_dup`` — its md5 text fingerprint already exists in the
      seen corpus (left-semi-join-shaped probe; at production scale the
      seen side is the *stored fingerprint column*, not the text, so the
      historical corpus is never re-read, only its index).
    * ``is_near_dup`` — shares ≥ ``threshold`` n-gram Jaccard with some
      seen document, via the shingle inverted index JOINED ACROSS the
      two corpora (new explodes × seen explodes on the shingle) — the
      incremental analog of ``exact_jaccard_pairs``' self-join, complete
      for any threshold > 0. ``keep`` = neither flag.

    Both probes are equi-joins (fingerprint / shingle) with map-side
    pre-aggregation; nothing is quadratic in either corpus. Reference
    parity: the duplicate-detection arm of src/utils/data_deduplicator.py,
    extended to the two-corpus incremental case the reference handles by
    full recompute.
    """
    if threshold <= 0:
        raise ValueError("incremental_dedup requires threshold > 0")
    fp_new = fingerprint(new_docs, text_col).select(
        F.col(id_col), F.col(text_col), F.col("fingerprint")
    )
    fp_seen = fingerprint(seen_docs, text_col).select(
        F.col("fingerprint").alias("_seen_fp")
    ).dropDuplicates()
    exact = fp_new.join(
        fp_seen, fp_new["fingerprint"] == fp_seen["_seen_fp"], "left"
    ).select(
        id_col, text_col,
        F.col("_seen_fp").isNotNull().alias("is_exact_dup"),
    )

    # repartitioned shingle projections: the CPU-bound n-gram
    # transform must not serialize onto a small file's single scan split
    base_new = _shingle_base(new_docs, id_col, text_col, shingle_n)
    base_seen = _shingle_base(seen_docs, id_col, text_col, shingle_n)
    sh_new = base_new.select(
        F.col(id_col), F.size("_sh").alias("_n"), F.explode("_sh").alias("_s")
    )
    sh_seen = base_seen.select(
        F.col(id_col).alias("_sid"), F.size("_sh").alias("_m"),
        F.explode("_sh").alias("_s"),
    )
    near = (
        sh_new.join(sh_seen, "_s")
        .groupBy(id_col, "_sid", "_n", "_m")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_j",
            # rounded BEFORE the threshold compare so an ulp of double
            # division can't flip a boundary pair between engines
            F.round(
                F.col("_c").cast("double")
                / (F.col("_n") + F.col("_m") - F.col("_c")),
                6,
            ),
        )
        .filter(F.col("_j") >= threshold)
        .select(F.col(id_col).alias("_nid"))
        .dropDuplicates()
    )
    return (
        exact.join(near, exact[id_col] == near["_nid"], "left")
        .select(
            id_col,
            "is_exact_dup",
            F.col("_nid").isNotNull().alias("is_near_dup"),
            (~(F.col("is_exact_dup") | F.col("_nid").isNotNull())).alias(
                "keep"
            ),
        )
    )


# --------------------------------------------------------------- bloom filter
#
# At 100 TB the seen-corpus fingerprint index is billions of rows; probing a
# new crawl batch against it with a plain join shuffles the ENTIRE batch on
# the fingerprint key even though only ~1% of new documents are duplicates.
# A Bloom filter of the seen fingerprints (1.2 GB for 1e9 entries at 1% FP —
# broadcastable) lets every executor discard the ~99% definite-non-members
# map-side; only Bloom hits (true dups + the FP rate) enter the confirm
# join, cutting the probe shuffle by roughly the non-dup rate. The confirm
# join keeps the final answer EXACT: a Bloom filter has no false negatives,
# so prefilter + confirm ≡ plain join (property-tested).
#
# Hashing is Kirsch-Mitzenmacher double hashing — position_i = h1 + i*h2
# (mod m) — over two JVM-computed xxhash64 values, so signatures are
# deterministic across runs, partitionings, and cluster sizes, and the
# probe side recomputes the identical positions in vectorized numpy
# (uint64 wraparound arithmetic on both sides).


def _bloom_hash_cols(fp_col: Column) -> tuple[Column, Column]:
    """Two independent 64-bit hashes of a fingerprint, JVM-side."""
    safe = F.coalesce(fp_col, F.lit(""))
    return (
        F.xxhash64(safe),
        F.xxhash64(F.concat(safe, F.lit("#bloom2"))),
    )


def _bloom_positions(h1, h2, k: int, m_bits: int):
    """k bit positions via double hashing, vectorized uint64 numpy —
    wraparound arithmetic matches on build and probe because both run
    this exact function on the same JVM-produced hash pair."""
    import numpy as np

    u1 = h1.to_numpy(dtype="int64").view(np.uint64)
    u2 = h2.to_numpy(dtype="int64").view(np.uint64)
    m = np.uint64(m_bits)
    return [(u1 + np.uint64(i) * u2) % m for i in range(k)]


def build_bloom_filter(
    df: DataFrame,
    fp_col: str = "fingerprint",
    m_bits: int = 1 << 23,
    k: int = 5,
    reduce_partitions: int = 16,
) -> bytes:
    """Distributed, SHUFFLE-FREE Bloom filter build: each input partition
    sets its members' bits in a local bitmap inside one ``mapInPandas``
    pass (map-side complete — duplicate fingerprints are idempotent bit
    sets, so no distinct shuffle is needed), then the per-partition
    bitmaps are OR-combined. Wide inputs (> ``reduce_partitions`` tasks)
    get one intermediate OR level so the driver collects at most
    ``reduce_partitions`` bitmaps (m/8 bytes each), not one per task —
    at 1000 executors that is 16×1 MiB to the driver, not 1000×.

    Returns the bitmap as ``bytes`` (m_bits/8 long, packbits big-endian).
    """
    import numpy as np

    if m_bits % 8:
        raise ValueError("m_bits must be a multiple of 8")
    h1, h2 = _bloom_hash_cols(F.col(fp_col))
    hashed = df.select(h1.alias("_h1"), h2.alias("_h2"))

    def _emit(batches):
        bits = np.zeros(m_bits, dtype=bool)
        for pdf in batches:
            if len(pdf):
                for idx in _bloom_positions(pdf["_h1"], pdf["_h2"], k, m_bits):
                    bits[idx] = True
        yield pd.DataFrame({"bits": [np.packbits(bits).tobytes()]})

    parts = hashed.mapInPandas(_emit, "bits binary")

    def _combine(batches):
        acc = np.zeros(m_bits // 8, dtype=np.uint8)
        for pdf in batches:
            for b in pdf["bits"]:
                acc |= np.frombuffer(b, dtype=np.uint8)
        yield pd.DataFrame({"bits": [acc.tobytes()]})

    if hashed.rdd.getNumPartitions() > reduce_partitions:
        parts = parts.repartition(reduce_partitions).mapInPandas(
            _combine, "bits binary"
        )
    out = np.zeros(m_bits // 8, dtype=np.uint8)
    for b in parts.toPandas()["bits"]:
        out |= np.frombuffer(b, dtype=np.uint8)
    return out.tobytes()


def bloom_might_contain(
    df: DataFrame,
    bf: bytes,
    fp_col: str = "fingerprint",
    k: int = 5,
    out: str = "bf_hit",
) -> DataFrame:
    """Adds a boolean ``out`` column: True iff all k Bloom bits for the
    row's fingerprint are set (possible member — no false negatives).
    The bitmap ships once per executor via a Spark broadcast; the probe
    is an Arrow-batched pandas_udf doing pure numpy indexing (the
    unpacked bool array is cached per python worker, not per batch)."""
    import numpy as np

    m_bits = len(bf) * 8
    bc = df.sparkSession.sparkContext.broadcast(bf)
    cache: dict = {}

    @F.pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bits = cache.get("bits")
        if bits is None:
            bits = np.unpackbits(
                np.frombuffer(bc.value, dtype=np.uint8)
            ).astype(bool)
            cache["bits"] = bits
        hit = np.ones(len(h1), dtype=bool)
        for idx in _bloom_positions(h1, h2, k, m_bits):
            hit &= bits[idx]
        return pd.Series(hit)

    c1, c2 = _bloom_hash_cols(F.col(fp_col))
    return df.withColumn(out, _probe(c1, c2))


def bloom_incremental_dedup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 23,
    k: int = 5,
    confirm: bool = True,
) -> DataFrame:
    """EXACT incremental exact-dup probe of a new batch against the seen
    corpus, Bloom-prefiltered: build the filter over the seen
    fingerprints (shuffle-free), flag each new document map-side, and
    shuffle ONLY the Bloom hits into a left-semi confirm join that
    removes the false positives. Because Bloom filters have no false
    negatives, the output equals ``incremental_dedup``'s exact arm /
    a plain membership join (property-tested in tests/test_bloom.py).

    ``confirm=False`` skips the confirm join and returns the raw Bloom
    verdict (approximate, one-sided error) — the triage mode for
    pipelines that tolerate the FP rate in exchange for zero shuffle.

    Returns (id_col, is_exact_dup, keep). Reference parity: the
    incremental arm of src/utils/data_deduplicator.py, re-expressed with
    the standard big-data membership-sketch pattern.
    """
    fp_new = fingerprint(new_docs, text_col).select(id_col, "fingerprint")
    fp_seen = fingerprint(seen_docs, text_col).select("fingerprint")
    bf = build_bloom_filter(fp_seen, "fingerprint", m_bits, k)
    probed = bloom_might_contain(fp_new, bf, "fingerprint", k).persist()
    if not confirm:
        return probed.select(
            id_col,
            F.col("bf_hit").alias("is_exact_dup"),
            (~F.col("bf_hit")).alias("keep"),
        )
    hits = probed.filter(F.col("bf_hit"))
    confirmed = hits.join(fp_seen, "fingerprint", "left_semi").select(
        F.col(id_col).alias("_cid")
    )
    return (
        probed.join(confirmed, probed[id_col] == confirmed["_cid"], "left")
        .select(
            id_col,
            F.col("_cid").isNotNull().alias("is_exact_dup"),
            F.col("_cid").isNull().alias("keep"),
        )
    )


def lsh_tuning(
    threshold: float,
    num_hashes: int = 64,
    fn_weight: float = 5.0,
    fp_weight: float = 1.0,
) -> dict:
    """Recommend an LSH banding (bands × rows = num_hashes) for a target
    Jaccard ``threshold`` — the standard S-curve analysis: a pair with
    similarity s becomes a candidate with probability
    ``P(s) = 1 − (1 − s^r)^b``.

    Pure driver-side math (no data touched): every divisor pair (b, r)
    is scored by the weighted error ∫₀ᵗ P(s)ds (false-positive mass
    below the threshold) + ∫ₜ¹ (1−P(s))ds (false-negative mass above),
    numerically on a 1000-point grid. The default ``fn_weight=5``
    is recall-biased — for dedup, a missed duplicate is worse than an
    extra candidate (candidates are verified exactly downstream anyway);
    set the weights to 1/1 for a symmetric operating point.

    Returns {bands, rows, p_at_threshold, s50, fp_area, fn_area} where
    ``s50`` is the similarity at which P crosses 0.5 — the banding's
    effective threshold, ≈ (1/b)^(1/r).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        n = 1000
        fp = fn = 0.0
        for i in range(n):
            s = (i + 0.5) / n
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / n
            else:
                fn += (1.0 - p) / n
        cost = fp_weight * fp + fn_weight * fn
        if best is None or cost < best[0]:
            p_t = 1.0 - (1.0 - threshold ** r) ** b
            best = (cost, {
                "bands": b,
                "rows": r,
                "p_at_threshold": round(p_t, 6),
                "s50": round((1.0 / b) ** (1.0 / r), 6) if b > 1 or r > 1
                else 0.5,
                "fp_area": round(fp, 6),
                "fn_area": round(fn, 6),
            })
    return best[1]


def lsh_quality_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
    max_rows: int = 100_000,
) -> DataFrame:
    """Self-audit of the MinHash-LSH candidate generator against EXACT
    n-gram Jaccard ground truth, on corpora small enough for the
    inverted-index exact join (≤ ``max_rows`` — this is an evaluation
    harness, not a production path; it raises above the gate rather
    than silently sampling).

    Output: 1 row — (n_true_pairs, n_emitted_pairs, n_agreeing_pairs,
    precision, recall). ``precision`` is post-verification (the
    pipeline's emitted pairs vs truth); ``recall`` is what the banding
    lost. Use :func:`lsh_tuning` to pick a banding when recall is low.
    """
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"lsh_quality_report is an evaluation harness; corpus has "
            f"{n} rows > max_rows={max_rows}"
        )
    # both arms read one cut of the shingle base
    cut = checkpoint_leaf(
        _shingle_base(df, id_col, text_col, shingle_n), _shingle_totals
    )
    handles = [cut[0]]
    try:
        truth = exact_jaccard_pairs(
            df, id_col, text_col, threshold, shingle_n, _shingled=cut[0]
        ).select(F.col("id_a"), F.col("id_b"))
        # exact_max_rows=0 routes to the LSH arm
        lsh = _near_dup_pairs(
            df, id_col, text_col, threshold, num_hashes, num_bands,
            shingle_n, 0, 0, handles, cut,
        ).select(F.col("id_a"), F.col("id_b"))
        t = truth.count()
        v = lsh.count()
        hit = truth.join(lsh, ["id_a", "id_b"], "inner").count()
    finally:
        for h in handles:
            release(h)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(
            t, v, hit,
            round(hit / v, 6) if v else 1.0,
            round(hit / t, 6) if t else 1.0,
        )],
        "n_true_pairs long, n_emitted_pairs long, n_agreeing_pairs long, "
        "precision double, recall double",
    )
