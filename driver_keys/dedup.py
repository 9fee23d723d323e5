"""Deduplication keys: exact, fuzzy, MinHash, SimHash, embedding, Bloom and
containment dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_etl_framework_spark.functions import deduplicate_data
from metadata_etl_framework_spark.ops import dedup as dedup_ops
from metadata_etl_framework_spark.ops import similarity as sim_ops

from driver_keys.common import _t
from driver_keys.registry import register


def _dedup_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return deduplicate_data(li.select("l_returnflag", "l_linestatus"))


def _fuzzy_match_customers(spark, sf_dir):
    """Blocked fuzzy self-match over customer names (functions/joins.py::
    fuzzy_join_blocked): nation-key blocking turns the O(n²) fuzzy
    cross join into a per-block equi-join, JVM-side levenshtein ≤ 1,
    key-ordered pairs — the entity-resolution primitive."""
    from metadata_etl_framework_spark.functions.joins import (
        fuzzy_join_blocked,
    )

    cst = _t(spark, sf_dir, "customer")
    return fuzzy_join_blocked(
        cst, cst, ["c_nationkey"], "c_name", "c_name",
        max_distance=1, left_key="c_custkey", right_key="c_custkey",
    )


def _dedup_exact_groups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    groups = dedup_ops.exact_duplicates(docs)
    return groups.agg(
        F.count(F.lit(1)).alias("dup_groups"),
        F.count(F.when(F.col("dup_count") > 0, 1)).alias("nonempty_groups"),
    )


def _dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification over MinHash-LSH candidate
    pairs, on the md5 hash arm (ops/dedup.py::_seeded_hash): minhash_k =
    min over shingles of int(md5(shingle + \\x01 + k)[:15], 16), so the
    DuckDB oracle regenerates the identical signatures, replays the LSH
    banding (joining on the band's value tuple — equality of the tuple
    is what Spark's xxhash64 band-bucket key encodes), and verifies the
    same candidate set. The full pipeline — probabilistic-looking
    banding included — is hash-checked exactly."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, num_hashes=32, hash_fn="md5")
    pairs = dedup_ops.lsh_candidate_pairs(sigs, num_bands=8, rows_per_band=4)
    return dedup_ops.jaccard_similarity(docs, pairs).filter(
        F.col("jaccard") >= 0.2
    )

def _minhash_near_dups(spark, sf_dir):
    """Near-dup pairs by n-gram Jaccard ≥ 0.2. Below the row gate this is
    the EXACT shingle-inverted-index regime (ops/dedup.py::
    exact_jaccard_pairs — complete for any threshold > 0, hash-checked
    against an all-pairs DuckDB oracle); above it, MinHash→LSH banding→
    exact verify takes over for web-scale corpora."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.minhash_near_duplicates(docs, threshold=0.2, num_hashes=32,
                                             num_bands=8)


def _simhash_near_dups_pairs(spark, sf_dir):
    """SimHash banded candidates → exact Hamming verify ≤ 3 (ops/dedup.py
    ::simhash_near_duplicates), md5 hash arm. The band generator is
    COMPLETE for max_hamming < n_bands (pigeonhole), so the output
    equals the all-pairs Hamming-≤-3 filter — which the DuckDB oracle
    computes directly from the same md5-derived signatures. Hash-checked
    exactly; the banding is a pure candidate-pruning optimization."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.simhash_near_duplicates(docs, max_hamming=3, hash_fn="md5")


def _dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: the pair output of minhash_near_dups closed
    into connected components (ops/dedup.py::near_duplicate_clusters →
    connected_components, iterative hash-min label propagation; the pair
    caches are released once the components exist) — similarity pairs
    are not transitive, so actual dedup needs the component's min id as
    cluster id and a canonical-keeper flag. Oracle: DuckDB recursive CTE over
    the same exact-Jaccard pair set."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.near_duplicate_clusters(
        docs, threshold=0.2, num_hashes=32, num_bands=8
    ).select(F.col("node").alias("doc_id"), "cluster_id", "is_canonical")


def _simhash_signatures(spark, sf_dir):
    """64-bit SimHash signatures (ops/dedup.py::simhash) on the
    SQL-replayable md5 hash arm: token hash = int(md5(token)[:15], 16),
    so DuckDB regenerates the identical per-bit votes and the signature
    is hash-checked exactly. Production default stays xxhash64 (faster,
    same algorithm) — the arm switch changes only the hash family."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.simhash(docs, hash_fn="md5")


def _dedup_embedding_cosine_lsh(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (ops/similarity.py:
    embedding_near_dup_pairs). At graded scale the candidate set comes
    from an EXACT driver-side blocked GEMM (float eps 1e-6 vs decimal
    verify — provably no missed pair), so oracle parity no longer rides
    on LSH recall; corpora above the 200k-row gate switch to the
    multi-table hyperplane-LSH bucket equi-join (T=32 × r=4), which is
    cross-validated against the exact regime and plan-asserted
    cartesian-free in tests/test_plans.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.embedding_near_dup_pairs(
        emb, threshold=0.5, n_tables=32, planes_per_table=4, dim=64
    )


def _dedup_incremental(spark, sf_dir):
    """Incremental-crawl dedup (ops/dedup.py::incremental_dedup): docs
    with doc_id % 5 == 0 play the NEW batch, the rest the already-seen
    corpus; each new doc gets exact-fingerprint and cross-corpus
    n-gram-Jaccard near-dup flags via equi-join probes (the historical
    corpus is probed through its index, never re-deduped)."""
    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    seen_docs = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup_ops.incremental_dedup(new_docs, seen_docs, threshold=0.5)


def _dedup_bloom_probe(spark, sf_dir):
    """Bloom-prefiltered EXACT membership probe (ops/dedup.py::
    bloom_incremental_dedup): docs with doc_id % 5 == 0 are the new
    batch, the rest the seen corpus. The filter is built shuffle-free
    over the seen fingerprints (per-partition numpy bitmaps OR-combined);
    only Bloom hits enter the confirm join, so at 100 TB the probe
    shuffle carries ~the dup rate instead of the whole batch. Bloom
    filters have no false negatives and the confirm join removes false
    positives, so the result is exact and the oracle is the plain
    membership SQL."""
    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    seen_docs = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup_ops.bloom_incremental_dedup(
        new_docs, seen_docs, m_bits=1 << 18, k=5
    )


register("dedup_distinct", build=_dedup_distinct, tags=("headline",), oracle="""
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """)

register("fuzzy_match_customers", build=_fuzzy_match_customers, oracle="""
            SELECT a.c_nationkey,
                   a.c_name AS c_name_l, b.c_name AS c_name_r,
                   a.c_custkey AS c_custkey_l, b.c_custkey AS c_custkey_r,
                   CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
            WHERE a.c_custkey < b.c_custkey
              AND levenshtein(a.c_name, b.c_name) <= 1
        """)

register(
    "dedup_exact_groups", build=_dedup_exact_groups, tags=("headline",),
    oracle=r"""
            SELECT COUNT(*) AS dup_groups,
                   COUNT(CASE WHEN dup_count > 0 THEN 1 END) AS nonempty_groups
            FROM (
                SELECT MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))), '\s+', ' ', 'g')) AS fp,
                       COUNT(*) AS dup_count
                FROM documents GROUP BY 1 HAVING COUNT(*) > 1
            )
        """,
)

# Connected components over the exact-Jaccard pair set: DuckDB's
# recursive CTE computes min-reachable-id per node — the same
# fixpoint the Spark side reaches by iterative hash-min rounds.
register("dedup_clusters", build=_dedup_clusters, tags=("headline",), oracle=r"""
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
                FROM documents
            ), shg AS (
                SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
                WHERE LEN(t) >= 3
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM shg GROUP BY doc_id
            ), common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM shg a JOIN shg b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b FROM common
                JOIN sizes na ON na.doc_id = id_a
                JOIN sizes nb ON nb.doc_id = id_b
                WHERE ROUND(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) >= 0.2
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(node, r) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
            )
            SELECT node AS doc_id, MIN(r) AS cluster_id,
                   (node = MIN(r)) AS is_canonical
            FROM reach GROUP BY node
        """)

# Exact inverted-index Jaccard: the Spark side's below-gate regime
# is provably complete for threshold > 0 (every J>0 pair shares a
# shingle), so all-pairs n-gram Jaccard in SQL is the same set.
register("minhash_near_dups", build=_minhash_near_dups, tags=("headline",), oracle=r"""
            WITH toks AS (
                SELECT doc_id,
                       REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
                WHERE LEN(t) >= 3
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
            ), common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) AS jaccard
            FROM common
            JOIN sizes na ON na.doc_id = id_a
            JOIN sizes nb ON nb.doc_id = id_b
            WHERE ROUND(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) >= 0.2
        """)

register(
    "dedup_embedding_cosine", build=_dedup_embedding_cosine_lsh, tags=("headline",),
    oracle="""
            WITH prod AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     UNNEST(a.embedding) AS x, UNNEST(b.embedding) AS y
              FROM embeddings a, embeddings b
              WHERE a.vec_id < b.vec_id
            ),
            dots AS (
              SELECT id_a, id_b,
                     CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                                   AS DECIMAL(30,15))) AS DOUBLE) AS dot
              FROM prod GROUP BY id_a, id_b
            ),
            norms AS (
              SELECT vec_id,
                     SQRT(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                        AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
              FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
              GROUP BY vec_id
            )
            SELECT d.id_a, d.id_b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
            FROM dots d
            JOIN norms na ON na.vec_id = d.id_a
            JOIN norms nb ON nb.vec_id = d.id_b
            WHERE d.dot / (na.nrm * nb.nrm) >= 0.5
        """,
)

register("dedup_incremental", build=_dedup_incremental, tags=("headline",), oracle=r"""
            WITH newd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            seen AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
            fp_seen AS (
              SELECT DISTINCT MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))),
                                                 '\s+', ' ', 'g')) AS f
              FROM seen
            ), tok_n AS (
              SELECT doc_id,
                     REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
              FROM newd
            ), tok_s AS (
              SELECT doc_id,
                     REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
              FROM seen
            ), sh_n AS (
              SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM tok_n, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
              WHERE LEN(t) >= 3
            ), sh_s AS (
              SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM tok_s, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
              WHERE LEN(t) >= 3
            ), size_n AS (
              SELECT doc_id, COUNT(*) AS n FROM sh_n GROUP BY doc_id
            ), size_s AS (
              SELECT doc_id, COUNT(*) AS m FROM sh_s GROUP BY doc_id
            ), near AS (
              SELECT DISTINCT a.doc_id
              FROM (
                SELECT a.doc_id, b.doc_id AS sid, COUNT(*) AS c
                FROM sh_n a JOIN sh_s b ON a.s = b.s
                GROUP BY 1, 2
              ) a
              JOIN size_n na ON na.doc_id = a.doc_id
              JOIN size_s nb ON nb.doc_id = a.sid
              WHERE ROUND(CAST(c AS DOUBLE) / (na.n + nb.m - c), 6) >= 0.5
            )
            SELECT d.doc_id,
                   (MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(d.text, ''))),
                                   '\s+', ' ', 'g'))
                    IN (SELECT f FROM fp_seen)) AS is_exact_dup,
                   (d.doc_id IN (SELECT doc_id FROM near)) AS is_near_dup,
                   NOT (MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(d.text, ''))),
                                           '\s+', ' ', 'g'))
                        IN (SELECT f FROM fp_seen)
                        OR d.doc_id IN (SELECT doc_id FROM near)) AS keep
            FROM newd d
        """)

register("dedup_bloom_probe", build=_dedup_bloom_probe, tags=("headline",), oracle=r"""
            WITH newd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            seen AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
            fp_seen AS (
              SELECT DISTINCT MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))),
                                                 '\s+', ' ', 'g')) AS f
              FROM seen
            )
            SELECT doc_id,
                   COALESCE(MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))),
                                               '\s+', ' ', 'g'))
                            IN (SELECT f FROM fp_seen), FALSE) AS is_exact_dup,
                   NOT COALESCE(MD5(REGEXP_REPLACE(LOWER(TRIM(COALESCE(text, ''))),
                                                   '\s+', ' ', 'g'))
                                IN (SELECT f FROM fp_seen), FALSE) AS keep
            FROM newd
        """)


# SimHash / MinHash md5-arm oracles: the Spark entries run hash_fn="md5"
# (ops/dedup.py::_seeded_hash — token/shingle hash = first 15 hex chars of
# md5, < 2^60 so signed/unsigned min and shifts agree), which DuckDB
# recomputes bit-for-bit. _SIMHASH_SIGS is the shared signature CTE body.
_SIMHASH_SIGS = r"""
    toks AS (
      SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
      FROM documents
    ), tok AS (
      SELECT DISTINCT doc_id, t[i] AS tok
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t))) AS u(i)
    ), hashed AS (
      SELECT doc_id, CAST('0x' || SUBSTR(MD5(tok), 1, 15) AS UBIGINT) AS h
      FROM tok
    ), votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, (SELECT UNNEST(GENERATE_SERIES(0, 62)) AS bit) b
      GROUP BY doc_id, b.bit
    ), sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << bit
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ), allsig AS (
      SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
      FROM documents d LEFT JOIN sigs s USING (doc_id)
    )
"""


# Per-document signature: same bit votes, bits 0..62 assembled.
# NULL/empty-token docs get signature 0 on both engines.
register("simhash_signatures", build=_simhash_signatures, oracle=f"""
            WITH {_SIMHASH_SIGS}
            SELECT doc_id, simhash FROM allsig
        """)

# Spark emits banded candidates → Hamming verify; the 4-band
# generator is complete for hamming ≤ 3 (pigeonhole), so the
# all-pairs filter below is the same set.
register("simhash_near_dups_pairs", build=_simhash_near_dups_pairs, oracle=f"""
            WITH {_SIMHASH_SIGS}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   BIT_COUNT(XOR(a.simhash, b.simhash)) AS hamming
            FROM allsig a JOIN allsig b ON a.doc_id < b.doc_id
            WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
        """)

# MinHash-LSH on the md5 arm: regenerate the 32 seeded-min
# signatures, band them 8×4 joining on the band VALUE TUPLE
# (Spark's band_hash key encodes exactly this equality), then
# exact-Jaccard-verify the candidate pairs at ≥ 0.2.
register("dedup_ngram_jaccard", build=_dedup_ngram_jaccard, oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
              WHERE LEN(t) >= 3
            ), mh AS (
              SELECT doc_id, k.k AS k,
                     MIN(CAST('0x' || SUBSTR(
                           MD5(s || CHR(1) || CAST(k.k AS VARCHAR)), 1, 15)
                         AS UBIGINT)) AS v
              FROM sh, (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS k) k
              GROUP BY doc_id, k.k
            ), bands AS (
              SELECT doc_id, CAST(k // 4 AS INT) AS band,
                     STRING_AGG(CAST(v AS VARCHAR), ',' ORDER BY k) AS bkey
              FROM mh GROUP BY doc_id, CAST(k // 4 AS INT)
            ), cands AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bkey = b.bkey
               AND a.doc_id < b.doc_id
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
            ), common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT cd.id_a, cd.id_b,
                   ROUND(CAST(COALESCE(cm.c, 0) AS DOUBLE)
                         / (na.n + nb.n - COALESCE(cm.c, 0)), 6) AS jaccard
            FROM cands cd
            LEFT JOIN common cm ON cm.id_a = cd.id_a AND cm.id_b = cd.id_b
            JOIN sizes na ON na.doc_id = cd.id_a
            JOIN sizes nb ON nb.doc_id = cd.id_b
            WHERE ROUND(CAST(COALESCE(cm.c, 0) AS DOUBLE)
                        / (na.n + nb.n - COALESCE(cm.c, 0)), 6) >= 0.2
        """)


def _dedup_containment_docs(spark, sf_dir):
    """Asymmetric shingle-set containment pairs
    (ops/dedup.py::containment_pairs): the doc-embedded-in-doc
    statistic symmetric Jaccard structurally misses; df-capped
    inverted index, both directions emitted, C >= 0.6."""
    from metadata_etl_framework_spark.ops.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(d, threshold=0.6)


register(
    "dedup_containment_docs", build=_dedup_containment_docs, tags=("headline",),
    oracle=r"""
            WITH toks AS (
                SELECT doc_id,
                       REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS t
                FROM documents
            ), shg AS (
                SELECT DISTINCT doc_id,
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS u(i)
                WHERE LEN(t) >= 3
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM shg GROUP BY doc_id
            ), kept AS (
                SELECT s FROM shg GROUP BY s
                HAVING COUNT(*) >= 2 AND COUNT(*) <= 10000
            ), shf AS (
                SELECT shg.doc_id, shg.s, sizes.n
                FROM shg JOIN kept USING (s)
                JOIN sizes ON sizes.doc_id = shg.doc_id
            ), common AS (
                SELECT a.doc_id AS ida, b.doc_id AS idb,
                       a.n AS na, b.n AS nb, COUNT(*) AS c
                FROM shf a JOIN shf b
                  ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4
            ), dirs AS (
                SELECT ida AS id_inner, idb AS id_outer,
                       na AS ni, c FROM common
                UNION ALL
                SELECT idb, ida, nb, c FROM common
            )
            SELECT id_inner, id_outer,
                   CAST(ni AS BIGINT) AS inner_size,
                   CAST(c AS BIGINT) AS n_common,
                   ROUND(CAST(c AS DOUBLE) / ni, 6) AS containment
            FROM dirs
            WHERE ROUND(CAST(c AS DOUBLE) / ni, 6) >= 0.6
        """,
)
