"""Catalog entries for the 100 TB-extension operators (dedup family,
similarity search, text analysis, multimodal metadata), each with a
DuckDB oracle reproducing the exact same md5-based math.

Cost caps: the quadratic verifiers are bounded by id predicates that are
CONSTANT across scale factors, so sf0.1 bench times stay meaningful; the
linear operators (simhash, minhash signatures, text analysis) run over
the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import indexcache
from .operators import (
    bpe,
    dedup,
    dedupindex,
    editdist,
    editindex,
    gramindex,
    multimodal,
    similarity,
    spandedup,
    storeprotocol,
    textindex,
    textops,
)
from .queries import query
from .queries_clustering import _PQ_DSUB, _PQ_ITERS, _PQ_KC, _PQ_M, _pq_ctes
from .sources.parquet import load_table

# shared oracle SQL fragments ------------------------------------------------

_NORM = "substr(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), 1, 256)"
_NORM_FULL = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

_SHINGLES = f"""
  norm AS (
    SELECT doc_id, {_NORM} AS s FROM documents WHERE len({_NORM}) >= 5
  ),
  idx AS (SELECT doc_id, s, unnest(range(1, len(s)-3)) AS i FROM norm),
  sh AS (SELECT DISTINCT doc_id, substr(s, CAST(i AS INT), 5) AS g FROM idx)
"""

_PERM_VALUES = ", ".join(
    f"({p}, {a}, {b})" for p, (a, b) in enumerate(dedup.minhash_perm_constants(16))
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES},
    hashed AS (
      -- hashed-jaccard domain: the distinct 32-bit shingle hashes per doc
      SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h FROM sh
    ),
    perms(perm, a, b) AS (VALUES {_PERM_VALUES}),
    sigs AS (
      SELECT doc_id, perm, min((a * h + b) % {dedup.MINHASH_MOD}) AS sig
      FROM hashed CROSS JOIN perms GROUP BY doc_id, perm
    ),
    bands AS (
      -- NB: // (integer division) — DuckDB's / rounds half-even on cast,
      -- Spark's cast truncates
      SELECT doc_id, CAST(perm // 2 AS INT) AS band,
             string_agg(CAST(sig AS VARCHAR), ',' ORDER BY perm) AS band_key
      FROM sigs GROUP BY doc_id, CAST(perm // 2 AS INT)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c JOIN hashed a ON a.doc_id = c.id_a
                  JOIN hashed b ON b.doc_id = c.id_b AND b.h = a.h
      GROUP BY c.id_a, c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id)
    SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 3) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.25
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_dedup(docs, n_perm=16, rows_per_band=2, threshold=0.25)
    return out.select("id_a", "id_b", F.round("jaccard", 3).alias("jaccard"))


@query(
    "dedup_incremental_indexed",
    oracle=f"""
    WITH {_SHINGLES},
    hashed AS (
      SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h FROM sh
    ),
    perms(perm, a, b) AS (VALUES {_PERM_VALUES}),
    sigs AS (
      SELECT doc_id, perm, min((a * h + b) % {dedup.MINHASH_MOD}) AS sig
      FROM hashed CROSS JOIN perms GROUP BY doc_id, perm
    ),
    bands AS (
      SELECT doc_id, CAST(perm // 2 AS INT) AS band,
             string_agg(CAST(sig AS VARCHAR), ',' ORDER BY perm) AS band_key
      FROM sigs GROUP BY doc_id, CAST(perm // 2 AS INT)
    ),
    cand AS (
      -- CROSS pairs only: batch doc on the left, indexed corpus doc right
      SELECT DISTINCT b.doc_id AS id_a, c.doc_id AS id_b
      FROM bands b JOIN bands c ON b.band = c.band AND b.band_key = c.band_key
      WHERE b.doc_id % 10 = 9 AND c.doc_id % 10 <> 9
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c JOIN hashed a ON a.doc_id = c.id_a
                  JOIN hashed b ON b.doc_id = c.id_b AND b.h = a.h
      GROUP BY c.id_a, c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id)
    SELECT id_a AS doc_id, id_b AS dup_of,
           round(i * 1.0 / (sa.n + sb.n - i), 3) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.25
    """,
)
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup screening of a NEW batch against a DURABLE signature
    index (operators/dedupindex.py) — the dedup family's
    similarity_topk_ivf_indexed / bm25_indexed: the corpus's
    minhash signatures are persisted ONCE (band-partitioned band keys +
    bucket-partitioned hash sets + meta), and each ingest batch pays
    only batch-sized Python for its own signatures, an equi-join
    against the stored band keys, and a DPP-pruned verify read of the
    candidates' set buckets — at 100 TB the corpus is signed by one job
    and screened against by every nightly batch. Same signature kernel
    and band shape as the one-shot dedup_minhash_lsh, so the oracle is
    that query's arithmetic restricted to cross (batch, corpus) pairs.
    Index reuse across invocations is gated on the source CONTENT
    fingerprint stamped into meta (the bm25_indexed discipline): a
    regenerated fixture rebuilds instead of serving stale signatures.
    The cache dir is user-keyed and the check+build runs under an
    exclusive flock (functions/indexcache.py) so concurrent sessions
    over the same fixture serialize instead of racing a rebuild against
    a query (round-9 advice)."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    path = _store(spark, sf_dir, "dedup")
    out = dedupindex.query_dedup_index(spark, path, batch, threshold=0.25)
    return out.select(
        "doc_id", "dup_of", F.round("jaccard", 3).alias("jaccard")
    )


# Shared by dedup_ngram_jaccard (the quadratic exact baseline) and
# dedup_jaccard_prefix (prefix-filter pruning): the prefix filter is
# LOSSLESS by theorem, so both plans pin against the identical exact
# all-pairs SQL — the gate proves the pruned plan exact.
_NGRAM_JACCARD_ORACLE = f"""
    WITH {_SHINGLES},
    bounded AS (SELECT * FROM sh WHERE doc_id < 200),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM bounded GROUP BY doc_id)
    SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 3) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.25
    """


@query("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.25)
    return out.select("id_a", "id_b", F.round("jaccard", 3).alias("jaccard"))


@query("dedup_jaccard_prefix", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT jaccard pairs with prefix-filter pruning
    (dedup.jaccard_prefix_filter_pairs — Chaudhuri et al. 2006 / PPJoin
    family): same results as the quadratic baseline BY THEOREM (shared
    oracle pins it), but candidates come from an equi-join on each
    document's rare-first PREFIX shingles only, so the all-sharing-pairs
    blow-up on common shingles never happens — the exact-threshold
    alternative to MinHash-LSH when false negatives are unacceptable."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = dedup.jaccard_prefix_filter_pairs(docs, threshold=0.25)
    return out.select("id_a", "id_b", F.round("jaccard", 3).alias("jaccard"))


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES},
    bounded AS (SELECT * FROM sh WHERE doc_id < 200),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM bounded GROUP BY doc_id)
    SELECT id_a, id_b, round(i * 1.0 / sa.n, 3) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE i * 1.0 / sa.n >= 0.5
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle containment |A∩B|/|A| >= 0.5 with ONE-SIDED
    prefix-filter pruning (dedup.containment_pairs — Broder's
    containment, the asymmetric excerpt/quotation detector the
    symmetric jaccard threshold cannot see): contained-side prefixes
    join the full inventory, a size predicate prunes in-join, and the
    JVM-side (pair, g) groupBy verifies exactly — same brute-force SQL
    as the jaccard siblings, containment formula."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = dedup.containment_pairs(docs, threshold=0.5)
    return out.select(
        "id_a", "id_b", F.round("containment", 3).alias("containment")
    )


@query(
    "containment_screen",
    oracle=f"""
    WITH {_SHINGLES},
    bounded AS (SELECT * FROM sh WHERE doc_id < 200),
    inter AS (
      SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, count(*) AS i
      FROM bounded a JOIN bounded b
      ON a.g = b.g AND a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM bounded GROUP BY doc_id)
    SELECT i.doc_id, i.dup_of, round(i.i * 1.0 / sa.n, 3) AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_id
    WHERE i.i * 1.0 / sa.n >= 0.5
    """,
)
def containment_screen_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental containment screen (dedup.containment_screen): for
    each NEW batch document, the corpus documents it is mostly an
    excerpt of — the ingest-time complement of winnowing
    decontamination (scattered reuse counts here, not just contiguous
    runs). Probe-sided one-sided prefix filter: only the batch takes
    prefixes (rare-first under the CORPUS inventory — any order of the
    contained side is valid for the one-sided theorem), so a small
    batch pays batch-prefix x posting work, never a corpus self-join."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    out = dedup.containment_screen(corpus, batch, threshold=0.5)
    return out.select(
        "doc_id", "dup_of", F.round("containment", 3).alias("containment")
    )


# Edit-distance dedup family (operators/editdist.py): the oracle is the
# brute-force levenshtein self-join made tractable by two LOSSLESS
# prefilters — |len(a)-len(b)| <= k (an edit changes length by at most
# 1) and a character-histogram band (an edit changes any single
# character's count by at most 1, so the L1 distance of the counts of
# ANY fixed character subset is <= 2k). Both are provable supersets of
# the answer, so the filtered join returns EXACTLY the pairs with
# levenshtein <= k, at a cost DuckDB can pay at sf0.1.
_EDIT_K = 8
_EDIT_CHARS = [" ", "a", "e", "t", "s", "r", "l", "n", "o", "k", "w", "h"]


def _edit_d_cte(text_expr: str = "text") -> str:
    """The oracle's per-doc feature CTE over an arbitrary text
    expression (``text`` for strict matching, the _NORM_FULL chain for
    the normalised policy)."""
    return (
        f"d AS (SELECT doc_id, {text_expr} AS text, source, "
        f"length({text_expr}) AS len, "
        + ", ".join(
            f"length({text_expr})-length(replace({text_expr},'{c}','')) AS c{i}"
            for i, c in enumerate(_EDIT_CHARS)
        )
        + " FROM documents)"
    )


_EDIT_D_CTE = _edit_d_cte()
_EDIT_HIST_PRED = (
    "+".join(f"abs(a.c{i}-b.c{i})" for i in range(len(_EDIT_CHARS)))
    + f" <= {2 * _EDIT_K}"
)
_EDIT_PAIRS_CTE = f"""
    {_EDIT_D_CTE},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source AS source_x,
             b.source AS source_y, levenshtein(a.text, b.text) AS dist
      FROM d a JOIN d b
      ON a.doc_id < b.doc_id
         AND abs(a.len - b.len) <= {_EDIT_K}
         AND {_EDIT_HIST_PRED}
      WHERE levenshtein(a.text, b.text) <= {_EDIT_K}
    )
"""


@query(
    "dedup_edit_distance",
    oracle=f"""
    WITH {_EDIT_PAIRS_CTE}
    SELECT id_a, id_b, dist FROM pairs
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs levenshtein <= k via Ed-Join-style q-gram prefix
    filtering (operators/editdist.py — Gravano et al. 2001 / Xiao et
    al. 2008): the edit-distance member of the dedup family. Candidates
    come from an equi-join on each document's rare-first PREFIX q-grams
    (set form, q*k+1 per doc) plus a short-document length-bucket
    fallback; every candidate is verified with Spark's BANDED
    levenshtein (O(k*n), JVM-side). Exact by theorem — the oracle is
    the brute-force join behind two provably lossless prefilters."""
    docs = load_table(spark, sf_dir, "documents")
    return editdist.edit_distance_pairs(docs, k=_EDIT_K, q=4)


@query(
    "dedup_edit_apply",
    oracle=f"""
    WITH {_EDIT_PAIRS_CTE}
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    """,
)
def dedup_edit_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first near-dup removal at edit distance <= k: drop every
    document with a SMALLER-id neighbour (direct dominance — the
    standard single-pass LSH-dedup policy; operators/components.py owns
    transitive-closure semantics when cluster identity is wanted)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = editdist.edit_distance_keep_first(docs, k=_EDIT_K, q=4)
    return kept.select("doc_id", "source", "n_chars")


@query(
    "edit_distance_report",
    oracle=f"""
    WITH {_EDIT_PAIRS_CTE}
    SELECT least(source_x, source_y) AS source_a,
           greatest(source_x, source_y) AS source_b,
           count(*) AS n_pairs,
           min(dist) AS min_dist,
           round(avg(dist), 3) AS avg_dist
    FROM pairs GROUP BY 1, 2
    """,
)
def edit_distance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, source) near-dup governance for the edit-distance
    family — pair counts and distance stats with source pairs counted
    once (source_a <= source_b), the span_dedup_report sibling."""
    docs = load_table(spark, sf_dir, "documents")
    return editdist.edit_distance_report(docs, k=_EDIT_K, q=4)


@query(
    "dedup_edit_incremental",
    oracle=f"""
    WITH {_EDIT_D_CTE}
    SELECT a.doc_id, b.doc_id AS dup_of, levenshtein(a.text, b.text) AS dist
    FROM d a JOIN d b
    ON a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9
       AND abs(a.len - b.len) <= {_EDIT_K}
       AND {_EDIT_HIST_PRED}
    WHERE levenshtein(a.text, b.text) <= {_EDIT_K}
    """,
)
def dedup_edit_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental edit-distance screening of a NEW batch against the
    accepted corpus (operators/editdist.py edit_screen_batch): the
    family's nightly-ingest form — one shared rare-first gram order
    over the union, but a SIDE-AWARE candidate join (batch prefixes x
    corpus prefixes only), so a 1% batch pays cross-pair work, never
    the corpus x corpus screen."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    return editdist.edit_screen_batch(corpus, batch, k=_EDIT_K, q=4)


@query(
    "dedup_edit_normalised",
    oracle=f"""
    WITH {_edit_d_cte(_NORM_FULL)},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(a.text, b.text) AS dist
      FROM d a JOIN d b
      ON a.doc_id < b.doc_id
         AND abs(a.len - b.len) <= {_EDIT_K}
         AND {_EDIT_HIST_PRED}
      WHERE levenshtein(a.text, b.text) <= {_EDIT_K}
    )
    SELECT id_a, id_b, dist FROM pairs
    """,
)
def dedup_edit_normalised(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance pairs under the NORMALISED matching policy
    (functions.text.normalize_text before the distance — the span
    family's strict-vs-normalised dial applied to fuzzy matching):
    boilerplate differing only in case/punctuation/whitespace measures
    distance ~0 instead of punctuation-count. The oracle applies the
    identical normalisation chain, so a Spark/SQL divergence in the
    normaliser itself would hash-mismatch; the policy's differentiating
    cases (where normalised != strict answers) are pinned on hand-built
    corpora in tests/test_editdist.py."""
    docs = load_table(spark, sf_dir, "documents")
    return editdist.edit_distance_pairs(docs, k=_EDIT_K, q=4, normalise=True)


@query(
    "dedup_edit_indexed",
    oracle=f"""
    WITH {_EDIT_D_CTE}
    SELECT a.doc_id, b.doc_id AS dup_of, levenshtein(a.text, b.text) AS dist
    FROM d a JOIN d b
    ON a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9
       AND abs(a.len - b.len) <= {_EDIT_K}
       AND {_EDIT_HIST_PRED}
    WHERE levenshtein(a.text, b.text) <= {_EDIT_K}
    """,
)
def dedup_edit_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed edit-distance screen (operators/editindex.py, the sixth
    durable store): corpus prefixes persisted ONCE under a FROZEN gram
    order, each batch pays batch-sized gram work plus a
    partition-pruned equi-join against the stored prefixes and a
    DPP-pruned verify read of candidate texts. Same exact result set as
    the index-free edit_screen_batch over the same split, so the two
    share dedup_edit_incremental's oracle."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    path = _store(spark, sf_dir, "edit")
    return editindex.query_edit_index(spark, path, batch)


@query(
    "dedup_edit_clusters",
    oracle=f"""
    WITH RECURSIVE {_EDIT_PAIRS_CTE},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS cluster_size,
           (doc_id = component) AS is_keeper
    FROM comp
    """,
)
def dedup_edit_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance pairs -> dedup clusters via exact connected
    components (operators/components.py): the transitive-closure
    policy for the edit-distance family — direct dominance
    (dedup_edit_apply) under-merges chains a < b < c where a and c are
    individually beyond k but linked through b. Oracle recomputes the
    fixpoint with a recursive CTE over the same verified pair set."""
    from .operators.components import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = editdist.edit_distance_pairs(docs, k=_EDIT_K, q=4)
    return dedup_clusters(pairs)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM_FULL} AS s FROM documents),
    tok AS (
      SELECT doc_id, unnest(string_split(s, ' ')) AS t FROM norm
    ),
    th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h
      FROM tok WHERE t <> ''
    ),
    bits AS (SELECT unnest(range(0, 32)) AS bit),
    votes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN bits GROUP BY doc_id, bit
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=32)


@query(
    "dedup_simhash_near",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM_FULL} AS s FROM documents),
    tok AS (
      SELECT doc_id, unnest(string_split(s, ' ')) AS t FROM norm
    ),
    th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h
      FROM tok WHERE t <> ''
    ),
    bits AS (SELECT unnest(range(0, 32)) AS bit),
    votes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN bits GROUP BY doc_id, bit
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS s
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, s, band, (s >> CAST(band * 8 AS INT)) & 255 AS band_key
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs, bits=32, max_hamming=3, n_bands=4)


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 3) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 2000 AND b.vec_id < 2000
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return dedup.embedding_dup_pairs(emb, threshold=0.4)


@query(
    "dedup_embedding_cosine_lsh",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 3) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 2000 AND b.vec_id < 2000
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB cosine-dedup path: hyperplane-LSH bucketing composed
    into the blocked BLAS verify (operators/dedup.embedding_dup_pairs_lsh)
    — the block grid is an equi-join per (band, bucket), no global
    crossJoin. The oracle is the EXACT all-pairs cosine: the default
    24x4-bit banding has measured recall 1.0 on this fixture's
    qualifying pairs (all near cos 0.4 — the worst case for LSH), so
    the approximate path is value-checked against exact ground truth."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return dedup.embedding_dup_pairs_lsh(emb, threshold=0.4)


@query(
    "similarity_topk_bruteforce",
    oracle="""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id
             ) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, k=5, max_query_id=10)


_IVF_COS = (
    "list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
)

# Shared by similarity_topk_ivf (one-shot), similarity_topk_ivf_indexed
# (build/query split) and — with a candidate filter — the filtered
# probe: different Spark PLANS over the same IVF semantics pin against
# the template with only the filter clause swapped (the _BM25_ORACLE
# discipline).


def _ivf_oracle_sql(cand_filter: str = "", nprobe: int = 2) -> str:
    """The IVF probe oracle; ``cand_filter`` is an extra AND clause on
    the candidate set (e.g. an allowed-id metadata predicate) and
    ``nprobe`` the probed-cluster count (the recall dial
    ann_recall_filtered measures at two settings)."""
    return f"""
    WITH corpus AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 2000),
    cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM corpus WHERE vec_id % 100 = 0),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cv')} DESC, c.cent_id) AS rn
        FROM corpus e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cent_id AS probe FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cv')} DESC, c.cent_id) AS rn
        FROM corpus e CROSS JOIN cents c WHERE e.vec_id < 10
      ) WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cent_id = p.probe
      WHERE a.vec_id != p.query_id{cand_filter}
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY {_IVF_COS.format(a='q.embedding', b='n.embedding')} DESC, c.neighbor_id) AS rank
      FROM cand c JOIN corpus q ON q.vec_id = c.query_id
                  JOIN corpus n ON n.vec_id = c.neighbor_id
    ) WHERE rank <= 5
"""


_IVF_ORACLE = _ivf_oracle_sql()
_ALLOWED_FILTER = """
        AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"""
_IVF_FILTERED_ORACLE = _ivf_oracle_sql(cand_filter=_ALLOWED_FILTER)


@query("similarity_topk_ivf", oracle=_IVF_ORACLE)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scale path: probe nprobe coarse clusters instead of the whole
    corpus. Bounded to a constant id range so the oracle cost is fixed
    across scale factors (the operator itself has no such bound)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return similarity.ivf_topk(emb, k=5, centroid_stride=100, nprobe=2, max_query_id=10)


@query("similarity_topk_ivf_indexed", oracle=_IVF_ORACLE)
def similarity_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build/query split over the same IVF semantics
    (similarity.build_ivf_index + query_ivf): the posting-list relation
    is assigned, cluster-partitioned, and persisted ONCE per corpus
    (slot-cached, so re-invocations — bench's best-of-N, repeated query
    batches — skip the corpus-wide assignment entirely), and query-time
    broadcasts the probe set against it, moving no corpus rows except
    the probed candidates. This is the production 100 TB deployment
    shape — the index is built by one job and queried by many; the
    one-shot similarity_topk_ivf plan is for scan-once use. Identical
    results, identical oracle; query-time plan pinned Exchange-free on
    the corpus side by tests/test_plans.py."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    index, cents = similarity.build_ivf_index(emb, centroid_stride=100)
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.query_ivf(index, cents, q, nprobe=2, k=5)


@query(
    "similarity_topk_filtered",
    oracle="""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id
             ) AS rank
      FROM embeddings q
      JOIN embeddings c ON c.label = q.label AND q.vec_id != c.vec_id
      WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
)
def similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search, exact form (similarity.filtered_topk):
    top-5 cosine neighbors restricted to candidates sharing the query's
    label — the tenant/category filter every production vector system
    exposes. The equality filter turns the crossJoin into an equi-join
    on the filter key, so disallowed candidates are never scored (the
    join enforces the filter; work is per-group, not corpus-wide) —
    filtered search done right is CHEAPER than unfiltered, not a
    post-filter over it."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.filtered_topk(emb, filter_col="label", k=5, max_query_id=10)


@query(
    "dedup_embedding_incremental",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id < 2000 AND vec_id % 10 <> 9
    ),
    batch AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id < 2000 AND vec_id % 10 = 9
    ),
    cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM corpus WHERE vec_id % 100 = 0),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cv')} DESC, c.cent_id) AS rn
        FROM corpus e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS batch_id, cent_id AS probe FROM (
        SELECT b.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY b.vec_id
                 ORDER BY {_IVF_COS.format(a='b.embedding', b='c.cv')} DESC, c.cent_id) AS rn
        FROM batch b CROSS JOIN cents c
      ) WHERE rn <= 2
    )
    SELECT p.batch_id, a.vec_id AS corpus_id,
           round(CAST({_IVF_COS.format(a='b.embedding', b='n.embedding')} AS DOUBLE), 3) AS cos
    FROM probes p
    JOIN assign a ON a.cent_id = p.probe
    JOIN batch b ON b.vec_id = p.batch_id
    JOIN corpus n ON n.vec_id = a.vec_id
    WHERE {_IVF_COS.format(a='b.embedding', b='n.embedding')} >= 0.4
    """,
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EMBEDDING dedup served from the IVF index
    (similarity.ivf_near_dup): which vectors of a new batch (ids ending
    in 9) already have a semantic near-duplicate (cos >= 0.4) in the
    existing corpus — the embedding member of the incremental-dedup
    matrix (exact fingerprint anti-join: dedup_incremental_batch;
    durable MinHash bands: dedup_incremental_indexed; durable word
    8-grams: dedup_spans_indexed; THIS: the IVF posting probe). The
    oracle mirrors the probe geometry (deterministic stride centroids,
    nprobe=2), so the gate pins the probed semantics exactly; the probe
    visits nprobe/|clusters| of the corpus per batch vector instead of
    a batch x corpus cosine join."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    corpus = emb.filter(F.col("vec_id") % 10 != 9)
    batch = emb.filter(F.col("vec_id") % 10 == 9)
    index, cents = similarity.build_ivf_index(corpus, centroid_stride=100)
    return similarity.ivf_near_dup(index, cents, batch, nprobe=2, threshold=0.4)


@query(
    "ann_recall_filtered",
    oracle=f"""
    WITH corpus AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 2000),
    allowed AS (SELECT vec_id FROM corpus WHERE label % 2 = 0),
    fbrute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_COS.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id) AS rank
        FROM corpus q JOIN corpus c ON q.vec_id != c.vec_id
        JOIN allowed al ON al.vec_id = c.vec_id
        WHERE q.vec_id < 10
      ) WHERE rank <= 5
    ),
    approx AS (
      SELECT 2 AS nprobe, query_id, neighbor_id
      FROM ({_IVF_FILTERED_ORACLE})
      UNION ALL
      SELECT 4, query_id, neighbor_id
      FROM ({_ivf_oracle_sql(cand_filter=_ALLOWED_FILTER, nprobe=4)})
    ),
    inter AS (
      SELECT a.nprobe, b.query_id, count(*) AS hits
      FROM approx a JOIN fbrute b USING (query_id, neighbor_id)
      GROUP BY a.nprobe, b.query_id
    ),
    qs AS (
      SELECT np.nprobe, q.query_id
      FROM (SELECT DISTINCT query_id FROM fbrute) q
      CROSS JOIN (SELECT unnest([2, 4]) AS nprobe) np
    )
    SELECT q.nprobe, count(*) AS n_queries,
           floor(avg(coalesce(i.hits, 0) / 5.0) * 1000.0 + 0.5) / 1000.0
             AS mean_recall
    FROM qs q LEFT JOIN inter i ON i.nprobe = q.nprobe AND i.query_id = q.query_id
    GROUP BY q.nprobe
    """,
)
def ann_recall_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall governance for the FILTERED probe (the selectivity-vs-
    nprobe trade query_ivf's candidate_ids documents): recall@5 of the
    filtered IVF probe against exact ground truth computed over the
    SAME allowed set (label % 2 = 0) — the number an operator watches
    when tightening a metadata filter, because the probe's nprobe
    clusters are chosen by geometry alone and a selective filter can
    empty them. The dial is measured at TWO settings (nprobe 2 and 4)
    so the report shows not just the degradation but the recovery —
    one row per setting, (nprobe, n_queries, mean_recall). Complements
    ann_recall_report (unfiltered LSH/IVF/PQ recall); queries with no
    approximate hits still count as recall 0.

    Scale: exact ground truth only for the bounded query sample
    (broadcast side x the filtered corpus); the index is built ONCE and
    probed at both settings; everything after the probes is
    sample-sized."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    allowed = emb.filter(F.col("label") % 2 == 0).select("vec_id")
    q = emb.filter(F.col("vec_id") < 10)

    cand = emb.join(
        allowed.withColumnRenamed("vec_id", "_aid"),
        F.col("vec_id") == F.col("_aid"),
        "left_semi",
    )
    # exact filtered ground truth: broadcast query side x allowed corpus
    qs = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cs = cand.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    from pyspark.sql.window import Window as _W

    scored = (
        F.broadcast(qs)
        .crossJoin(cs)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", similarity.cosine(F.col("qv"), F.col("cv")))
    )
    w = _W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    fbrute = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )

    index, cents = similarity.build_ivf_index(emb, centroid_stride=100)

    def probe(nprobe: int) -> DataFrame:
        return similarity.query_ivf(
            index, cents, q, nprobe=nprobe, k=5, candidate_ids=allowed
        ).select(F.lit(nprobe).alias("nprobe"), "query_id", "neighbor_id")

    approx = probe(2).unionAll(probe(4))
    inter = (
        approx.join(fbrute, ["query_id", "neighbor_id"])
        .groupBy("nprobe", "query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qids = fbrute.select("query_id").distinct()
    grid = qids.select(F.lit(2).alias("nprobe"), "query_id").unionAll(
        qids.select(F.lit(4).alias("nprobe"), "query_id")
    )
    from .functions.portable import round_portable

    return (
        grid.join(inter, ["nprobe", "query_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            round_portable(
                F.avg(F.coalesce("hits", F.lit(0)) / F.lit(5.0)), 3
            ).alias("mean_recall"),
        )
    )


@query("similarity_topk_ivf_filtered", oracle=_IVF_FILTERED_ORACLE)
def similarity_topk_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED IVF probe (query_ivf's candidate_ids form): the probe
    visits the usual nprobe clusters, but posting rows are pruned by a
    LEFT SEMI join against the allowed-id set (label % 2 = 0 here — a
    metadata predicate resolved to ids) BEFORE any cosine is computed.
    Same centroids, same probes, same oracle template as
    similarity_topk_ivf with only the candidate filter added — pinning
    that filtering changes WHICH candidates rank, never how the probe
    geometry works. The recall caveat (selective filters want larger
    nprobe) is documented on the operator; at this fixture's 50%
    selectivity nprobe=2 recall is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    index, cents = similarity.build_ivf_index(emb, centroid_stride=100)
    q = emb.filter(F.col("vec_id") < 10)
    allowed = emb.filter(F.col("label") % 2 == 0).select("vec_id")
    return similarity.query_ivf(
        index, cents, q, nprobe=2, k=5, candidate_ids=allowed
    )


def _plane_sql(p: int, n_dims: int = 64) -> str:
    """The plane-p hyperplane as a DuckDB DOUBLE[] literal. The md5-derived
    components are dyadic rationals (h / 2^31 - 1), so repr() round-trips
    them exactly and both engines dot against bit-identical planes."""
    return (
        "["
        + ", ".join(repr(similarity._plane_component(p, d)) for d in range(n_dims))
        + "]"
    )


def _bucket_sql(vec: str, n_planes: int = 8) -> str:
    """Sign-bit bucket id of `vec` against the deterministic hyperplanes —
    the SQL mirror of similarity.random_hyperplane_bucket."""
    terms = [
        f"(CASE WHEN list_dot_product(CAST({vec} AS DOUBLE[]), {_plane_sql(p)}) > 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "similarity_topk_lsh",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    qprobes AS (
      SELECT vec_id AS query_id,
             CASE WHEN i = -1 THEN bucket
                  ELSE xor(bucket, (CAST(1 AS BIGINT) << i)) END AS bucket
      FROM bucketed CROSS JOIN (SELECT unnest(range(-1, 8)) AS i)
      WHERE vec_id < 10
    ),
    cand AS (
      SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
      FROM qprobes q JOIN bucketed b USING (bucket)
      WHERE b.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(n.embedding AS DOUBLE[])) DESC,
                        c.neighbor_id) AS rank
      FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
                  JOIN embeddings n ON n.vec_id = c.neighbor_id
    ) WHERE rank <= 5
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH scale path with 1-bit multiprobe. The oracle
    reproduces the bucketing exactly (md5-derived planes inlined as SQL
    literals), so even the approximate path is value-checked, not just
    rows-checked; recall vs brute force is additionally pinned by
    tests/test_extensions.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, k=5, n_planes=8, n_dims=64, max_query_id=10)


@query(
    "ann_recall_report",
    oracle=f"""
    WITH brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_COS.format(a='q.embedding', b='c.embedding')} DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 10
      ) WHERE rank <= 5
    ),
    bucketed AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    qprobes AS (
      SELECT vec_id AS query_id,
             CASE WHEN i = -1 THEN bucket
                  ELSE xor(bucket, (CAST(1 AS BIGINT) << i)) END AS bucket
      FROM bucketed CROSS JOIN (SELECT unnest(range(-1, 8)) AS i)
      WHERE vec_id < 10
    ),
    lcand AS (
      SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
      FROM qprobes q JOIN bucketed b USING (bucket)
      WHERE b.vec_id != q.query_id
    ),
    lshr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY {_IVF_COS.format(a='q.embedding', b='n.embedding')} DESC, c.neighbor_id) AS rank
        FROM lcand c JOIN embeddings q ON q.vec_id = c.query_id
                     JOIN embeddings n ON n.vec_id = c.neighbor_id
      ) WHERE rank <= 5
    ),
    cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id % 100 = 0),
    iassign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cv')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    iprobes AS (
      SELECT vec_id AS query_id, cent_id AS probe FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding', b='c.cv')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10
      ) WHERE rn <= 2
    ),
    icand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM iprobes p JOIN iassign a ON a.cent_id = p.probe
      WHERE a.vec_id != p.query_id
    ),
    ivfr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY {_IVF_COS.format(a='q.embedding', b='n.embedding')} DESC, c.neighbor_id) AS rank
        FROM icand c JOIN embeddings q ON q.vec_id = c.query_id
                     JOIN embeddings n ON n.vec_id = c.neighbor_id
      ) WHERE rank <= 5
    ),
    {_pq_ctes()},
    pqqs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
             FROM embeddings WHERE vec_id < 10),
    pqdtab AS (
      SELECT q.query_id, w.subspace, w.code,
             floor(list_aggregate(list_transform(range(1, {_PQ_DSUB + 1}), i ->
                 (q.qe[CAST(w.subspace * {_PQ_DSUB} + i AS INT)]
                  - w.cv[CAST(i AS INT)]) ^ 2), 'sum')
               * 1000000.0 + 0.5) / 1000000.0 AS d2
      FROM pqqs q CROSS JOIN cw w),
    pqscored AS (
      SELECT d.query_id, c.vec_id AS neighbor_id,
             floor(sum(d.d2) * 1000.0 + 0.5) / 1000.0 AS dist3
      FROM codes c JOIN pqdtab d ON d.subspace = c.subspace AND d.code = c.code
      WHERE c.vec_id != d.query_id
      GROUP BY 1, 2),
    pqr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist3 ASC, neighbor_id) AS rank
        FROM pqscored) WHERE rank <= 5
    ),
    approx AS (
      SELECT 'ivf' AS method, query_id, neighbor_id FROM ivfr
      UNION ALL
      SELECT 'lsh' AS method, query_id, neighbor_id FROM lshr
      UNION ALL
      SELECT 'pq' AS method, query_id, neighbor_id FROM pqr
    ),
    inter AS (
      SELECT a.method, a.query_id, count(*) AS hits
      FROM approx a JOIN brute b USING (query_id, neighbor_id)
      GROUP BY a.method, a.query_id
    ),
    grid AS (
      SELECT 'ivf' AS method, query_id FROM (SELECT DISTINCT query_id FROM brute)
      UNION ALL
      SELECT 'lsh' AS method, query_id FROM (SELECT DISTINCT query_id FROM brute)
      UNION ALL
      SELECT 'pq' AS method, query_id FROM (SELECT DISTINCT query_id FROM brute)
    )
    SELECT g.method, count(*) AS n_queries,
           floor(avg(coalesce(i.hits, 0) / 5.0) * 1000.0 + 0.5) / 1000.0 AS mean_recall
    FROM grid g LEFT JOIN inter i ON i.method = g.method AND i.query_id = g.query_id
    GROUP BY g.method
    ORDER BY g.method
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation as an engine query: recall@5 of the
    three approximate similarity indexes (hyperplane LSH with 1-bit
    multiprobe; IVF with nprobe=2; product quantisation searched by
    asymmetric distance) against exact brute-force ground truth, per
    method — (method, n_queries, mean_recall). This is the governance
    loop a production ANN deployment runs continuously on a sampled
    query set to catch index drift / parameter rot; queries returning
    NO approximate hits still count (recall 0), so a broken index reads
    as 0.0, not as absent rows.

    Scale: ground truth is computed only for the bounded sampled query
    set (broadcast side of brute_force_topk); the recall join keys on
    (query_id, neighbor_id) pairs — k rows per query per method — so
    everything after the index probes is sample-sized, and each index's
    probe cost is the same as its production query path. PQ recall is
    expected to trail LSH/IVF at the catalog's coarse m=4/k_codes=8
    settings — that gap being VISIBLE is the report's purpose."""
    from .functions.portable import round_portable
    from .operators._cache import swap_cache

    emb = load_table(spark, sf_dir, "embeddings")
    # ground truth feeds three consumers (the query grid and the hit
    # join for every method) — persist it once instead of re-running
    # the broadcast-crossJoin ranking per consumer (the winnowing
    # fingerprint-relation precedent; slot swaps on re-invocation)
    brute = swap_cache(
        "ann_recall_brute",
        similarity.brute_force_topk(emb, k=5, max_query_id=10).select(
            "query_id", "neighbor_id"
        ),
    )
    lsh = similarity.lsh_topk(
        emb, k=5, n_planes=8, n_dims=64, max_query_id=10
    )
    ivf = similarity.ivf_topk(
        emb, k=5, centroid_stride=100, nprobe=2, max_query_id=10
    )
    pq = similarity.pq_topk(
        emb, m=_PQ_M, k_codes=_PQ_KC, iters=_PQ_ITERS, k=5, max_query_id=10
    )
    # one union relation, ONE join against ground truth, one aggregation
    approx = (
        ivf.select(F.lit("ivf").alias("method"), "query_id", "neighbor_id")
        .unionAll(
            lsh.select(F.lit("lsh").alias("method"), "query_id", "neighbor_id")
        )
        .unionAll(
            pq.select(F.lit("pq").alias("method"), "query_id", "neighbor_id")
        )
    )
    inter = (
        approx.join(brute, ["query_id", "neighbor_id"])
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qs = brute.select("query_id").distinct()
    grid = (
        qs.select(F.lit("ivf").alias("method"), "query_id")
        .unionAll(qs.select(F.lit("lsh").alias("method"), "query_id"))
        .unionAll(qs.select(F.lit("pq").alias("method"), "query_id"))
    )
    per_q = grid.join(inter, ["method", "query_id"], "left").select(
        "method", F.coalesce("hits", F.lit(0)).alias("hits")
    )
    return (
        per_q.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            round_portable(F.avg(F.col("hits") / 5.0), 3).alias("mean_recall"),
        )
        .orderBy("method")
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < 2000
    ),
    m AS (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM v
    )
    SELECT vec_id, maxabs / 127.0 AS scale,
           '[' || array_to_string(
             CASE WHEN maxabs > 0 THEN
               list_transform(e, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS INT))
             ELSE list_transform(e, x -> 0) END, ',') || ']' AS q
    FROM m
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantisation
    (operators/similarity.quantize_int8) — the 4x storage/bandwidth
    lever for embedding corpora; portable floor(x+0.5) rounding makes
    the oracle bit-exact on the quantised vectors.

    The quantised vector is serialised to a canonical '[1,2,...]'
    string for the gate: the comparison harness canonicalises results
    through pandas sort/hash, which cannot hash array-typed cells, so
    catalog query outputs carry no top-level array/map columns (pinned
    by tests/test_catalog_lint.py). Library users call
    similarity.quantize_int8 directly for the typed array."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    out = similarity.quantize_int8(emb)
    return out.withColumn(
        "q",
        F.concat(
            F.lit("["),
            F.array_join(F.transform(F.col("q"), lambda x: x.cast("string")), ","),
            F.lit("]"),
        ),
    )


def _stoplist_sql(lang: str) -> str:
    from .functions.text import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


@query(
    "text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(list_intersect(list_distinct(string_split({_NORM_FULL}, ' ')), {_stoplist_sql('en')})) / 10.0 AS s_en,
             len(list_intersect(list_distinct(string_split({_NORM_FULL}, ' ')), {_stoplist_sql('de')})) / 10.0 AS s_de,
             len(list_intersect(list_distinct(string_split({_NORM_FULL}, ' ')), {_stoplist_sql('es')})) / 10.0 AS s_es,
             len(list_intersect(list_distinct(string_split({_NORM_FULL}, ' ')), {_stoplist_sql('fr')})) / 10.0 AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de > 0 AND s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
                WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                ELSE 'unknown' END AS lang_pred
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", textops.lang_id(F.col("text")).alias("lang_pred"))


@query(
    "text_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {_NORM_FULL} AS nt,
             len(text) AS n_chars_measured,
             CASE WHEN len({_NORM_FULL}) = 0 THEN 0
                  ELSE len(string_split({_NORM_FULL}, ' ')) END AS n_tokens,
             len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
      FROM documents
    ), feats AS (
      SELECT doc_id, n_chars_measured, n_tokens,
             CASE WHEN n_tokens > 0 THEN len(nt) * 1.0 / n_tokens ELSE 0.0 END AS mean_token_len,
             CASE WHEN n_chars_measured > 0 THEN punct * 1.0 / n_chars_measured ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tokens > 0 THEN
               len(list_filter(string_split(nt, ' '), t -> list_contains({_stoplist_sql('en')}, t))) * 1.0 / n_tokens
             ELSE 0.0 END AS stopword_ratio
      FROM base
    )
    SELECT doc_id, n_chars_measured, n_tokens,
           (floor((mean_token_len) * 1000.0 + 0.5) / 1000.0) AS mean_token_len,
           (floor((punct_ratio) * 10000.0 + 0.5) / 10000.0) AS punct_ratio,
           (floor((stopword_ratio) * 10000.0 + 0.5) / 10000.0) AS stopword_ratio,
           (floor((least(n_tokens / 100.0, 1.0) * 0.4
                 + least(stopword_ratio * 5, 1.0) * 0.3
                 + (1 - least(punct_ratio * 10, 1.0)) * 0.3) * 10000.0 + 0.5) / 10000.0) AS quality_score
    FROM feats
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.quality_features(docs)


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5(text) AS fp_raw, md5({_NORM_FULL}) AS fp_normalised
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.fingerprint(docs)


@query(
    "token_counts",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN len({_NORM_FULL}) = 0 THEN 0
                ELSE len(string_split({_NORM_FULL}, ' ')) END AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]{{1,6}}|[0-9]{{1,3}}|[^A-Za-z0-9\\s]')) AS n_bpe_ish
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("n_tokens"),
        textops.bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PII_PHONE = r"\+?[0-9][0-9()\-\s]{7,}[0-9]"


@query(
    "text_pii_redact",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
           len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ipv4,
           len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phone
    FROM documents
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + audit counts (operators/textops.redact_pii): emails,
    IPv4s, phone-shaped digit runs become typed tags. Pure chained
    regexp_replace/regexp_count — codegen'd, linear, portable patterns
    (same regex compiles in Java and RE2, which is what makes the DuckDB
    oracle byte-exact on the redacted text)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = textops.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        textops.redact_pii(F.col("text")).alias("redacted"),
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, substr({_NORM_FULL}, 1, 512) AS nt FROM documents
    ),
    toks AS (
      SELECT doc_id, text, nt,
             CASE WHEN len(nt) > 0 THEN string_split(nt, ' ') ELSE [] END AS t
      FROM base
    ),
    grams AS (
      SELECT doc_id, text,
             CASE WHEN len(t) >= 3 AND len(nt) > 0 THEN
               list_transform(range(1, len(t) - 1),
                              i -> array_to_string(t[i:i+2], ' '))
             ELSE [] END AS g
      FROM toks
    ),
    tops AS (
      SELECT doc_id, max(c) AS top FROM (
        SELECT doc_id, g3, count(*) AS c
        FROM (SELECT doc_id, unnest(g) AS g3 FROM grams)
        GROUP BY doc_id, g3
      ) GROUP BY doc_id
    )
    SELECT gr.doc_id,
           round(CASE WHEN len(string_split(gr.text, chr(10))) > 0 THEN
             1 - len(list_distinct(string_split(gr.text, chr(10)))) * 1.0
               / len(string_split(gr.text, chr(10)))
             ELSE 0.0 END, 4) AS dup_line_fraction,
           round(CASE WHEN len(gr.g) > 0 THEN
             1 - len(list_distinct(gr.g)) * 1.0 / len(gr.g)
             ELSE 0.0 END, 4) AS dup_gram_fraction,
           round(CASE WHEN len(gr.g) > 0 THEN
             COALESCE(tops.top, 0) * 1.0 / len(gr.g) ELSE 0.0 END, 4)
             AS top_gram_fraction
    FROM grams gr LEFT JOIN tops ON tops.doc_id = gr.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality metrics
    (operators/textops.repetition_features): duplicate-line fraction,
    duplicate word-3-gram fraction, and top-gram share — the filters
    that catch boilerplate and degenerate spam. Spark side is a linear
    run-length fold over sorted gram arrays (no shuffle, no UDF); the
    oracle reaches the same max-occurrence count via explode+group."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.repetition_features(docs)


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           unnest(generate_series(0,
                  least(octet_length(encode(text)) // 100 + 1, 300), 10)) AS frame_idx
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: bounded per-item frame fan-out."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media_columns(docs)
    return multimodal.frame_sample_plan(media, every_n=10)


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
           CAST((doc_id % 16) * 64 + 64 AS INT) AS width,
           CAST((doc_id % 9) * 64 + 64 AS INT) AS height,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS feature_hash
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media metadata + stub-decoded features. feature_hash = md5(payload
    bytes) = md5(text) since the fixture payload is utf-8 text bytes —
    which is exactly what makes this oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media_columns(docs)
    feats = multimodal.decode_and_featurize(media)
    return (
        media.select("media_id", F.col("meta.width").alias("width"), F.col("meta.height").alias("height"))
        .join(feats, "media_id")
        .select("media_id", "format", "width", "height", "n_bytes", "feature_hash")
    )


_NORM_512 = f"substr({_NORM_FULL}, 1, 512)"

_WORD_8GRAMS = f"""
      SELECT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, len(string_split({_NORM_512}, ' ')) - 6),
                 i -> array_to_string(string_split({_NORM_512}, ' ')[i:i+7], ' ')
               ))) AS g
        FROM documents
        WHERE len({_NORM_512}) > 0
          AND len(string_split({_NORM_512}, ' ')) >= 8
      )
"""


@query(
    "decontaminate_corpus",
    oracle=f"""
    WITH grams AS ({_WORD_8GRAMS}),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT c.doc_id, count(*) AS n_contaminated_grams
      FROM corpus c JOIN bench USING (g) GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_contaminated_grams, 0) AS n_contaminated_grams,
           COALESCE(h.n_contaminated_grams, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (operators/textops.decontaminate): every
    97th document stands in for a benchmark/eval set; corpus documents
    sharing any distinct word 8-gram with it are flagged. The benchmark
    gram set is broadcast — the corpus side never shuffles, which is the
    whole design at eval-set-vs-100 TB proportions."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return textops.decontaminate(corpus, bench, n=8, min_hits=1)


@query(
    "multimodal_audio_segments",
    oracle="""
    WITH audio AS (
      SELECT doc_id AS media_id,
             (octet_length(encode(text)) * 1000) //
             ((CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END)
              * (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END) * 2) AS dur
      FROM documents
    ),
    segs AS (
      SELECT media_id, dur,
             unnest(range(0, least((dur + 49) // 50, 300))) AS seg_idx
      FROM audio
    )
    SELECT media_id, seg_idx, seg_idx * 50 AS start_ms,
           least(seg_idx * 50 + 50, dur) AS end_ms
    FROM segs
    """,
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation plumbing (operators/multimodal.attach_audio_columns
    + audio_segment_plan): 50 ms windows over a 16-bit-PCM-derived
    duration, bounded fan-out, planned entirely from the metadata struct
    — payload bytes untouched."""
    docs = load_table(spark, sf_dir, "documents")
    audio = multimodal.attach_audio_columns(docs)
    return multimodal.audio_segment_plan(audio, segment_ms=50, max_segments=300)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES},
    bounded AS (SELECT * FROM sh WHERE doc_id < 200),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM bounded GROUP BY doc_id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.25
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS cluster_size,
           (doc_id = component) AS is_keeper
    FROM comp
    """,
)
def dedup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup CLUSTERS via exact connected components
    (operators/components.py): transitive closure of the n-gram-jaccard
    edge set, a canonical min-id keeper per cluster. The oracle computes
    the same fixpoint with a recursive CTE.

    Scale: the iterative min-label propagation converges in
    O(cluster diameter) distributed rounds — see the module docstring
    for the O(log n) large-star/small-star variant."""
    from .operators.components import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.25)
    return dedup_clusters(pairs)


@query(
    "dedup_clusters_alternating",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES},
    bounded AS (SELECT * FROM sh WHERE doc_id < 200),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM bounded GROUP BY doc_id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.25
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS cluster_size,
           (doc_id = component) AS is_keeper
    FROM comp
    """,
)
def dedup_clusters_alternating_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster semantics as dedup_clusters, computed by the
    large-star/small-star alternation
    (operators/components.connected_components_alternating) — the
    O(log n)-round scale path for adversarially deep near-dup graphs,
    value-checked against the identical recursive-CTE oracle (both
    algorithms canonicalise to the component min, so outputs are
    bit-identical)."""
    from .operators.components import connected_components_alternating
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.25)
    comp = connected_components_alternating(pairs)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


@query(
    "text_boilerplate_df",
    oracle=f"""
    WITH grams AS ({_WORD_8GRAMS}),
    df AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 3),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
    hits AS (
      SELECT doc_id, count(*) AS n_common_grams
      FROM grams JOIN df USING (g) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(t.n_grams, 0) AS n_grams,
           COALESCE(h.n_common_grams, 0) AS n_common_grams,
           ROUND(CASE WHEN COALESCE(t.n_grams, 0) > 0
                      THEN COALESCE(h.n_common_grams, 0) / CAST(t.n_grams AS DOUBLE)
                      ELSE 0 END, 4) AS boilerplate_fraction
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN tot t ON t.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def text_boilerplate_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal boilerplate scoring
    (operators/textops.boilerplate_ngram_df): documents scored by the
    fraction of their distinct word 8-grams appearing in >= 3 documents
    corpus-wide — the document-frequency counterpart to
    decontaminate_corpus's benchmark-overlap check."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.boilerplate_ngram_df(docs, n=8, min_df=3)


@query(
    "corpus_filter_pipeline",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {_NORM_FULL} AS nt,
             len(text) AS n_chars_measured,
             CASE WHEN len({_NORM_FULL}) = 0 THEN 0
                  ELSE len(string_split({_NORM_FULL}, ' ')) END AS n_tokens,
             len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
      FROM documents
    ), feats AS (
      SELECT doc_id, nt, n_tokens,
             (floor((least(n_tokens / 100.0, 1.0) * 0.4
                   + least(CASE WHEN n_tokens > 0 THEN
                       len(list_filter(string_split(nt, ' '), t -> list_contains({_stoplist_sql('en')}, t))) * 1.0 / n_tokens
                     ELSE 0.0 END * 5, 1.0) * 0.3
                   + (1 - least(CASE WHEN n_chars_measured > 0
                                     THEN punct * 1.0 / n_chars_measured
                                     ELSE 0.0 END * 10, 1.0)) * 0.3) * 10000.0 + 0.5) / 10000.0) AS quality_score
      FROM base
    ), ranked AS (
      SELECT doc_id, n_tokens, quality_score,
             row_number() OVER (PARTITION BY md5(nt) ORDER BY doc_id) > 1 AS is_dup
      FROM feats
    )
    SELECT doc_id, n_tokens, quality_score,
           n_tokens < 20 AS too_short,
           quality_score < 0.5 AS low_quality,
           is_dup,
           NOT (n_tokens < 20 OR quality_score < 0.5 OR is_dup) AS keep
    FROM ranked
    """,
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end C4/Gopher-style corpus filter verdict: per document a
    keep/drop decision with the REASON flags kept (too_short /
    low_quality / exact normalised dup, first-by-doc_id wins) — the
    composition a real pipeline ships, not just the individual signals.

    Scale: quality features are scan-fused codegen expressions (zero
    shuffle); the only exchange is the hash-partition on the normalised
    fingerprint for the keep-first window — the same single shuffle
    exact dedup pays, reused here for the dup flag. Keeping per-reason
    flags (instead of filtering) is deliberate: at 100 TB the audit of
    WHY documents dropped is as valuable as the surviving corpus, and
    downstream can filter on `keep` with zero recompute."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    q = textops.quality_features(docs).select("doc_id", "n_tokens", "quality_score")
    fp = textops.fingerprint(docs).select("doc_id", "fp_normalised")
    w = Window.partitionBy("fp_normalised").orderBy("doc_id")
    dup = fp.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", (F.col("rk") > 1).alias("is_dup")
    )
    too_short = F.col("n_tokens") < 20
    low_quality = F.col("quality_score") < 0.5
    return (
        q.join(dup, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "quality_score",
            too_short.alias("too_short"),
            low_quality.alias("low_quality"),
            "is_dup",
            (~(too_short | low_quality | F.col("is_dup"))).alias("keep"),
        )
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM_FULL}, ' ')) AS t
      FROM documents WHERE len({_NORM_FULL}) > 0
    ),
    tokens AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    freq AS (SELECT t, count(*) AS c FROM tokens GROUP BY t),
    total AS (SELECT sum(c) AS n FROM freq),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             round(avg(ln(c * 1.0 / n)), 3) AS avg_logprob
      FROM tokens JOIN freq USING (t) CROSS JOIN total
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           COALESCE(s.avg_logprob, 0.0) AS avg_logprob,
           round(exp(-COALESCE(s.avg_logprob, 0.0)), 3) AS perplexity
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN scored s ON s.doc_id = d.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM scoring (operators/textops.unigram_logprob):
    the reproducible form of the CCNet-style LM-perplexity quality
    filter — vocabulary-sized frequency table broadcast, corpus never
    shuffled for the lookup."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.unigram_logprob(docs)


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5({_NORM_FULL}) AS f FROM documents
    ),
    corpus AS (SELECT f FROM fp WHERE doc_id % 10 <> 9),
    batch AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 = 9)
    SELECT b.doc_id, b.f AS fp_normalised
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f)
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: which documents of a NEW batch (here
    every doc_id ending in 9) are unseen against the EXISTING corpus —
    the decision every nightly 100 TB ingest makes before appending.

    Spark shape: normalised-fingerprint anti-join. The batch side is the
    small side (a day's crawl vs the corpus), so it hash-shuffles on the
    16-byte fingerprint against the corpus's fingerprint projection —
    never the corpus text; with a fingerprint INDEX table maintained
    across runs (the natural production layout, bucketed by fp), the
    corpus side prunes to its fingerprint column alone and the join
    co-locates on the bucket. LEFT ANTI keeps exactly the unseen batch
    rows; deterministic md5 means retries make identical decisions."""
    docs = load_table(spark, sf_dir, "documents")
    fp = textops.fingerprint(docs).select("doc_id", "fp_normalised")
    corpus = fp.filter(F.col("doc_id") % 10 != 9).select("fp_normalised")
    batch = fp.filter(F.col("doc_id") % 10 == 9)
    return batch.join(corpus, "fp_normalised", "left_anti").select(
        "doc_id", "fp_normalised"
    )


_TOKENS_CTE = f"""
    tok AS (
      SELECT doc_id, unnest(string_split({_NORM_FULL}, ' ')) AS t
      FROM documents WHERE len({_NORM_FULL}) > 0
    ),
    tokens AS (SELECT doc_id, t FROM tok WHERE t <> '')
"""


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TOKENS_CTE},
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tokens GROUP BY doc_id, t),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, t AS term, round(score, 3) AS score, rank FROM (
      SELECT tf.doc_id, tf.t, tf.tf * ln(n.n_docs * 1.0 / d.df) AS score,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(n.n_docs * 1.0 / d.df) DESC, tf.t) AS rank
      FROM tf JOIN df d ON d.t = tf.t CROSS JOIN n
    ) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf keywords (operators/textops
    .tfidf_top_terms) — vocabulary-sized df stats broadcast onto the
    per-doc tf rows; the only corpus-sized shuffle is the (doc, term)
    aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.tfidf_top_terms(docs, top_n=3)


# shared by bm25_search (one-shot) and bm25_indexed (durable-index
# build/query split): two Spark PLANS over the same BM25 semantics pin
# against the identical oracle — the _IVF_ORACLE discipline for text.
_BM25_ORACLE = f"""
    WITH {_TOKENS_CTE},
    dlen AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
    avgdl AS (SELECT round(avg(dl), 6) AS avgdl FROM dlen),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tokens
           WHERE t IN ('table', 'scan', 'merge') GROUP BY doc_id, t),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id, count(*) AS n_terms_matched,
             round(sum(
               ln(1 + (n.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / a.avgdl))
             ), 6) AS score6
      FROM tf JOIN df d ON d.t = tf.t
              JOIN dlen dl ON dl.doc_id = tf.doc_id
              CROSS JOIN avgdl a CROSS JOIN n
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms_matched, round(score6, 3) AS score
    FROM scored ORDER BY score6 DESC, doc_id LIMIT 10
    """


@query("bm25_search", oracle=_BM25_ORACLE)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword search for a 3-term query (operators/textops
    .bm25_search): the scored relation is |query|*df rows, never the
    corpus; the global top-10 is TakeOrdered. Ranking keys on the
    6-decimal-rounded score so engine summation order can't reorder
    near-ties."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.bm25_search(docs, ["table", "scan", "merge"], top_n=10)


@query("bm25_indexed", oracle=_BM25_ORACLE)
def bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 build/query split over a DURABLE inverted index
    (operators/textindex.py) — the text modality's
    similarity_topk_ivf_indexed: one corpus pass persists term-bucketed
    postings (doc length denormalised into the posting row) plus df
    stats and a 1-row meta relation; query-time reads ONLY the query
    terms' buckets via a STATIC partition filter (pinned in
    tests/test_plans.py — no corpus scan, no Python), joins broadcast
    stats, and TakeOrdereds the top-10. Identical scoring arithmetic to
    the live path, so both pin against the same oracle. The index is
    built once per corpus and reused across invocations (bench's
    best-of-N pays the build exactly once); reuse is gated on a SOURCE
    CONTENT fingerprint stamped into the index meta — a regenerated
    fixture at the same path, or a different corpus whose directory
    shares this one's basename, fingerprints differently and triggers a
    rebuild instead of silently serving stale postings (pinned in
    tests/test_extensions.py). Cache dir user-keyed + check/build
    flock-serialized against concurrent sessions (round-9 advice; see
    functions/indexcache.py)."""
    path = _store(spark, sf_dir, "text")
    return textindex.query_text_index(
        spark, path, ["table", "scan", "merge"], top_n=10
    )


@query(
    "winnowing_overlap",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_NORM} AS s FROM documents WHERE len({_NORM}) >= 8
    ),
    arr AS (
      SELECT doc_id, list_transform(range(1, len(s) - 3), i ->
               CAST(('0x' || substr(md5(substr(s, CAST(i AS INT), 5)), 1, 8)) AS BIGINT))
               AS hs
      FROM norm
    ),
    fps AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(hs) - 2), j ->
               list_aggregate(hs[j:j+3], 'min')))) AS fp
      FROM arr
    ),
    rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY fp)
             WHERE df <= greatest(20, least(
               CAST(ceil(0.04 * (SELECT count(*) FROM documents)) AS BIGINT), 200))),
    good AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON r.fp = f.fp)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM good a JOIN good b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 5
    """,
)
def winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) partial-overlap pairs — shared local minima of
    windowed k-gram hashes, with corpus-common fingerprints dropped
    before the self-join (operators/textops.winnowing_overlap_pairs).
    Catches substring-level overlap (quotes, mirrored passages) that
    whole-doc hashing and set-jaccard both miss."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.winnowing_overlap_pairs(docs, min_shared=5)


@query(
    "dedup_apply",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES},
    bounded AS (SELECT * FROM sh WHERE doc_id < 200),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM bounded GROUP BY doc_id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.25
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node)
    SELECT d.doc_id, c.component,
           COALESCE(d.doc_id = c.component, TRUE) AS kept
    FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing END of the near-dup pipeline: materialise the
    deduplicated corpus decision — every document with its component
    (null when it has no near-dup) and whether it is KEPT (singleton,
    or its cluster's canonical min-id keeper). Downstream training
    reads `WHERE kept`; the audit trail of why each duplicate dropped
    is the component id.

    Scale: pairs -> components as in dedup_clusters; the final verdict
    is one left join of the corpus against the |duplicates|-sized
    component map — broadcastable whenever the duplicate fraction is
    small, which is the common case."""
    from .operators.components import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.25)
    comp = dedup_clusters(pairs).select("doc_id", "component", "is_keeper")
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "component",
            F.coalesce("is_keeper", F.lit(True)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer fitting (operators/bpe.py) — the DuckDB oracle unrolls
# the merge loop into CTE layers exactly like the k-means oracles:
# per step, a LATERAL pair count, a deterministic argmax (count desc,
# then lexicographic), and the same two-space-boundary single-replace
# merge application the Spark side uses (exact greedy incl. a == b
# self-merge runs — operators/bpe.py module docstring has the proof),
# so the whole iterative fit is value-checked.
# ---------------------------------------------------------------------------

_BPE_V, _BPE_N = 500, 6


def _bpe_rule(t: int) -> tuple[str, str]:
    """(pattern, replacement) SQL expressions for merge rule t — the
    two-space-boundary scheme: pattern takes ONE space of each flanking
    boundary, so one left-to-right replace is exact greedy."""
    a, b = f"(SELECT a FROM bb{t})", f"(SELECT b FROM bb{t})"
    return (
        f"' ' || {a} || '  ' || {b} || ' '",
        f"' ' || {a} || {b} || ' '",
    )


def _bpe_merge_sql(seq_expr: str, t: int) -> str:
    pat, rep = _bpe_rule(t)
    return f"replace({seq_expr}, {pat}, {rep})"


def _bpe_ctes(n: int = _BPE_N, top_v: int = _BPE_V) -> str:
    parts = [
        "bwords AS (SELECT w AS word FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents) WHERE len(w) BETWEEN 2 AND 12)",
        # MATERIALIZED: DuckDB inlines plain CTEs, and every bseq layer
        # references its bb rule several times — without materialisation
        # the expansion is exponential in the number of merge steps (the
        # first run exhausted the process fd limit re-opening the
        # documents parquet thousands of times)
        f"bwc AS MATERIALIZED (SELECT word, cnt FROM (SELECT word, count(*) AS cnt FROM bwords GROUP BY word) ORDER BY cnt DESC, word LIMIT {top_v})",
        "bseq0 AS (SELECT word, cnt, '  ' || array_to_string(list_transform(range(1, len(word)+1), i -> word[i]), '  ') || '  ' AS seq FROM bwc)",
    ]
    for t in range(1, n + 1):
        parts.append(
            f"""bp{t} AS (
      SELECT t[i] AS a, t[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS pc
      FROM (SELECT cnt, string_split(trim(seq), '  ') AS t FROM bseq{t-1}),
           LATERAL (SELECT unnest(range(1, len(t))) AS i) g
      GROUP BY 1, 2)"""
        )
        parts.append(
            f"bb{t} AS MATERIALIZED (SELECT a, b, pc FROM bp{t} ORDER BY pc DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"bseq{t} AS MATERIALIZED (SELECT word, cnt, {_bpe_merge_sql('seq', t)} AS seq FROM bseq{t-1})"
        )
    return ",\n    ".join(parts)


@query(
    "bpe_merges",
    oracle=f"""
    WITH {_bpe_ctes()}
    SELECT step, left_sym, right_sym, merged, pair_count FROM (
      {" UNION ALL ".join(
        f"SELECT {t} AS step, a AS left_sym, b AS right_sym, a || b AS merged, pc AS pair_count FROM bb{t}"
        for t in range(1, _BPE_N + 1)
      )}
    ) ORDER BY step
    """,
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer fitting (operators/bpe.py): the
    top-500 corpus vocabulary is built in ONE corpus-scale pass, then
    each of 6 merge steps runs one vocabulary-sized pair aggregation,
    collects the single argmax row (count desc, lexicographic ties —
    the kmeans driver-round-trip pattern), and applies the merge as a
    map-only doubled string replace. Returns the learned merge table
    (step, left_sym, right_sym, merged, pair_count) — what a tokenizer
    ships. At 100 TB only the word count touches the corpus; the merge
    loop scales with vocabulary size."""
    docs = load_table(spark, sf_dir, "documents")
    wc = bpe.word_counts(docs, top_v=_BPE_V)
    merges = bpe.fit_bpe(wc, n_merges=_BPE_N)
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
    )


def _bpe_encode_chain() -> str:
    """The 6 learned rules applied in order to a padded word sequence —
    the SQL mirror of bpe.encode's replace chain."""
    expr = "seq"
    for t in range(1, _BPE_N + 1):
        expr = _bpe_merge_sql(expr, t)
    return expr


@query(
    "bpe_token_counts",
    oracle=f"""
    WITH {_bpe_ctes()},
    bdoc AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents WHERE doc_id < 500
      ) WHERE len(w) BETWEEN 2 AND 12
    ),
    bpad AS (
      SELECT doc_id,
             '  ' || array_to_string(list_transform(range(1, len(w)+1), i -> w[i]), '  ') || '  ' AS seq
      FROM bdoc
    ),
    bcnt AS (
      SELECT doc_id,
             CAST(sum(len(string_split(trim({_bpe_encode_chain()}), '  '))) AS BIGINT) AS bpe_tokens
      FROM bpad GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(bcnt.bpe_tokens, 0) AS bpe_tokens
    FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
    LEFT JOIN bcnt USING (doc_id)
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bpe.encode composed with the learned merges: per-document BPE
    token counts under the 6-rule tokenizer fitted on the SAME corpus —
    the sizing signal sequence packing and mixture weighting consume
    (token_counts is the regex baseline; this one reflects the learned
    vocabulary). Map-only after the fit: one explode + a chain of
    codegen literal replaces, no Python. Bounded to a constant doc
    range so oracle cost is fixed across scale factors."""
    docs = load_table(spark, sf_dir, "documents")
    wc = bpe.word_counts(docs, top_v=_BPE_V)
    merges = bpe.fit_bpe(wc, n_merges=_BPE_N)
    sample = docs.filter(F.col("doc_id") < 500).select("doc_id", "text")
    return bpe.encode(sample, merges).select("doc_id", "bpe_tokens")


@query(
    "bpe_encode",
    oracle=f"""
    WITH {_bpe_ctes()},
    edoc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         w -> len(w) BETWEEN 2 AND 12) AS ws
      FROM documents WHERE doc_id < 200
    ),
    ewidx AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS word_idx, ws[i] AS w
      FROM edoc, LATERAL (SELECT unnest(range(1, len(ws)+1)) AS i) g
    ),
    eseq AS (
      SELECT doc_id, word_idx,
             string_split(trim({_bpe_encode_chain()}), '  ') AS toks
      FROM (SELECT doc_id, word_idx,
                   '  ' || array_to_string(list_transform(range(1, len(w)+1), i -> w[i]), '  ') || '  ' AS seq
            FROM ewidx)
    ),
    etok AS (
      SELECT doc_id, word_idx, CAST(i - 1 AS INT) AS tok_idx, toks[i] AS token
      FROM eseq, LATERAL (SELECT unnest(range(1, len(toks)+1)) AS i) g
    ),
    evocab AS (
      -- 26 base chars then merged symbols in learned order, dedup
      -- keep-first with dense ids: the SQL mirror of bpe.vocabulary
      SELECT token, CAST(row_number() OVER (ORDER BY mk) - 1 AS INT) AS token_id
      FROM (
        SELECT token, min(mk) AS mk FROM (
          SELECT chr(96 + CAST(i AS INT)) AS token, i - 1 AS mk
          FROM (SELECT unnest(range(1, 27)) AS i)
          UNION ALL
          {" UNION ALL ".join(
            f"SELECT (SELECT a || b FROM bb{t}) AS token, {25 + t} AS mk"
            for t in range(1, _BPE_N + 1)
          )}
        ) GROUP BY token
      )
    )
    SELECT e.doc_id, e.word_idx, e.tok_idx, e.token,
           COALESCE(v.token_id, -1) AS token_id
    FROM etok e LEFT JOIN evocab v USING (token)
    """,
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer APPLY (operators/bpe.py encode_tokens): the
    6-rule tokenizer fitted on the corpus encodes a bounded doc sample
    into ordered BPE token-id sequences — one row per (doc, word_idx,
    tok_idx) with the token string and its dense vocabulary id (26 base
    chars then merged symbols in learned order). This is the step an
    actual training pipeline runs at 100 TB: map-only codegen replaces
    per merge rule plus ONE broadcast join against the 32-row
    vocabulary — no corpus shuffle. Bounded to a constant doc range so
    oracle cost is fixed across scale factors."""
    docs = load_table(spark, sf_dir, "documents")
    wc = bpe.word_counts(docs, top_v=_BPE_V)
    merges = bpe.fit_bpe(wc, n_merges=_BPE_N)
    sample = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    return bpe.encode_tokens(sample, merges)


@query(
    "embedding_covariance",
    oracle="""
    WITH v AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 2000
    ),
    d AS (SELECT unnest(range(1, 9)) AS i),
    g AS (SELECT a.i AS i, b.i AS j FROM d a, d b WHERE a.i <= b.i)
    SELECT g.i - 1 AS dim_i, g.j - 1 AS dim_j,
           floor((sum(e[g.i] * e[g.j]) / count(*)
                  - (sum(e[g.i]) / count(*)) * (sum(e[g.j]) / count(*)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cov
    FROM v CROSS JOIN g
    GROUP BY g.i, g.j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment statistics (operators/pca.py): the
    upper-triangular covariance of the first 8 embedding dimensions,
    finished from ONE mapInPandas pass whose per-batch partials are a
    single BLAS gram matrix — the shuffle carries (dim_i, dim_j)
    moment entries, never vectors. This is the aggregation that feeds
    fit_pca's driver-side eigendecomposition (whitening /
    dimensionality reduction ahead of PQ or clustering); restricted to
    8 dims and a constant id range so the oracle's unnest-grid cost is
    fixed across scale factors — the operator itself computes all 64.
    Both engines compute cov as s_xy/n - (s_x/n)(s_y/n) in that
    order, then floor-round to 6, so summation noise stays below the
    rounding grid."""
    from .functions.portable import round_portable
    from .operators import pca

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    cov = pca.covariance(emb, n_dims=64)
    return cov.filter(F.col("dim_j") < 8).select(
        "dim_i", "dim_j", round_portable(F.col("cov"), 6).alias("cov")
    )


# ---------------------------------------------------------------------------
# Learned quality classifier (operators/logreg.py) — the oracle unrolls
# the full-batch gradient-descent iterations into MATERIALIZED CTE
# layers. Dot products round before the sigmoid and sigmoids round
# again (identical doubles reach exp on both engines; 1-ulp libm
# differences die in the grid), and weights re-round per iteration, so
# the entire fit is value-checked, not just shape-checked.
# ---------------------------------------------------------------------------

_LR_ITERS = 2


def _logreg_ctes(iters: int = _LR_ITERS) -> str:
    r6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    parts = [
        "lv AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, "
        "CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y "
        "FROM embeddings WHERE vec_id < 2000)",
        "ldims AS (SELECT unnest(range(1, 65)) AS j)",
        "lw0 AS MATERIALIZED (SELECT j, 0.0 AS w FROM ldims)",
    ]
    for t in range(1, iters + 1):
        prev = f"lw{t - 1}"
        wlist = f"(SELECT list(w ORDER BY j) FROM {prev})"
        dot6 = r6(f"list_dot_product(e, {wlist})")
        sig6 = r6(f"1.0 / (1.0 + exp(-({dot6})))")
        parts.append(
            f"lr{t} AS MATERIALIZED (SELECT vec_id, e, {sig6} - y AS r FROM lv)"
        )
        parts.append(
            f"lg{t} AS (SELECT d.j, sum(r.r * r.e[d.j]) AS g, count(*) AS n"
            f" FROM lr{t} r CROSS JOIN ldims d GROUP BY d.j)"
        )
        parts.append(
            f"lw{t} AS MATERIALIZED (SELECT p.j, "
            + r6("p.w - 1.0 * g.g / g.n")
            + f" AS w FROM {prev} p JOIN lg{t} g USING (j))"
        )
    return ",\n    ".join(parts)


@query(
    "quality_classifier_weights",
    oracle=f"""
    WITH {_logreg_ctes()}
    SELECT j - 1 AS dim, w FROM lw{_LR_ITERS} ORDER BY dim
    """,
)
def quality_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression fit (operators/logreg.py): a
    linear quality classifier trained on embedding features (target:
    label < 5) by full-batch gradient descent — per iteration one
    map-only residual pass (weights in the task closure) and one
    BLAS-partial gradient aggregation; only 64 gradient entries per
    Arrow batch ever shuffle. Returns the learned (dim, w) vector —
    what the corpus-scoring gate ships. The FastText/CCNet-style
    learned filter, expressed as two corpus passes per iteration at
    any scale."""
    from .operators import logreg

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    labelled = emb.withColumn(
        "y", (F.col("label") < 5).cast("double")
    )
    w = logreg.fit_logreg(labelled, "y", iters=_LR_ITERS)
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(w)], "dim int, w double"
    )


@query(
    "quality_classifier_scores",
    oracle=f"""
    WITH {_logreg_ctes()},
    wfin AS (SELECT list(w ORDER BY j) AS wl FROM lw{_LR_ITERS}),
    sc AS (
      SELECT vec_id,
             floor((1.0 / (1.0 + exp(-(floor(list_dot_product(e, (SELECT wl FROM wfin)) * 1000000.0 + 0.5) / 1000000.0)))) * 1000000.0 + 0.5) / 1000000.0 AS score
      FROM lv
    )
    SELECT vec_id, score, score >= 0.5 AS keep FROM sc
    """,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier APPLIED: every corpus vector scored by the
    trained weights (logreg.score — pure codegen expressions, no
    Python, no shuffle) with the keep/drop verdict at threshold 0.5.
    Training happens once; this scoring pass is the shape that runs
    over 100 TB."""
    from .operators import logreg

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    labelled = emb.withColumn("y", (F.col("label") < 5).cast("double"))
    w = logreg.fit_logreg(labelled, "y", iters=_LR_ITERS)
    scored = logreg.score(emb, w)
    return scored.select(
        "vec_id", "score", (F.col("score") >= 0.5).alias("keep")
    )


# ---------------------------------------------------------------------------
# Graph centrality (operators/graph_rank.py) — the iterative-algorithm
# family's ranking member, next to connected components (clustering) and
# k-means (quantisation). The oracle unrolls the fixed 3 iterations as a
# CTE chain, the same discipline as the logistic-regression fit oracle.
# ---------------------------------------------------------------------------

_PR_EDGES = """
    e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM deg)"""


def _pr_step(prev: str, this: str) -> str:
    return f"""
    {this} AS (
      SELECT d.id, d.outdeg,
             (1.0 - 0.85) / (SELECT n FROM nn)
             + 0.85 * coalesce(sum(r.rank / r.outdeg), 0) AS rank
      FROM deg d
      LEFT JOIN edges e ON e.dst = d.id
      LEFT JOIN {prev} r ON r.id = e.src
      GROUP BY d.id, d.outdeg
    )"""


@query(
    "pagerank_entities",
    oracle=f"""
    WITH {_PR_EDGES},
    r0 AS (SELECT id, outdeg, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
    {_pr_step('r0', 'r1')},
    {_pr_step('r1', 'r2')},
    {_pr_step('r2', 'r3')}
    SELECT id AS node_id, round(rank, 6) AS pr FROM r3
    """,
)
def pagerank_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer<->supplier trade graph (an edge per
    distinct customer-ordered-from-supplier relationship via
    orders |><| lineitem), 3 fixed synchronous iterations at damping
    0.85 — (node_id, pr) for every incident node, centrality a pipeline
    uses to weight sources / prioritise entities before sampling.

    Scale: each iteration is one edges-sized equi-join plus one
    map-side-combined (dst, contribution) shuffle; rank state is one
    row per node. localCheckpoint truncates the iterative lineage
    (operators/graph_rank.py). Final ranks rounded to 6 dp so
    cross-engine double-sum ordering (~1e-13 after 3 iterations) can't
    reach the value hash."""
    from .operators.graph_rank import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges).select("node_id", F.round("rank", 6).alias("pr"))


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH {_TOKENS_CTE},
    dlen AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
    avgdl AS (SELECT round(avg(dl), 6) AS avgdl FROM dlen),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tokens
           WHERE t IN ('table', 'scan', 'merge') GROUP BY doc_id, t),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1 + (n.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / a.avgdl))
             ), 6) AS score6
      FROM tf JOIN df d ON d.t = tf.t
              JOIN dlen dl ON dl.doc_id = tf.doc_id
              CROSS JOIN avgdl a CROSS JOIN n
      GROUP BY tf.doc_id
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(score6, 3) DESC, doc_id)
               AS rank_lex
      FROM (SELECT doc_id, score6 FROM scored
            ORDER BY score6 DESC, doc_id LIMIT 20)
    ),
    sem AS (
      SELECT doc_id, rank_sem FROM (
        SELECT c.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])) DESC,
                          c.vec_id) AS rank_sem
        FROM embeddings c,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE c.vec_id <> 0
      ) WHERE rank_sem <= 20
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.rank_lex, s.rank_sem,
             coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rank_lex), 0)
             + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.rank_sem), 0) AS rrf
      FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem, round(rrf, 6) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion (Cormack/Clarke/Buettcher
    2009, public literature) of a lexical and a semantic ranking, the
    standard RAG-retrieval composition: BM25 top-20 for a 3-term query
    fused with exact-cosine top-20 for a query vector (vec 0, doc ids
    row-aligned with the embeddings table), score = sum of 1/(60+rank)
    over the rankings that contain the document (k=60, the published
    constant). Rankings key on engine-stable values (3-decimal BM25
    score, cosine with id tiebreak), so ranks — and therefore the fused
    scores — are deterministic and bit-for-bit oracle-checkable.

    Scale: each leg is already 100 TB-shaped (BM25's scored relation is
    |query terms| x df rows; the cosine leg is a map-only broadcast-query
    scan + TakeOrdered); the fusion itself touches only 2 x 20 rank
    rows — a constant-size full-outer join regardless of corpus size.
    Swapping the exact-cosine leg for query_ivf/query_pq changes
    nothing downstream."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex = textops.bm25_search(docs, ["table", "scan", "merge"], top_n=20)
    from pyspark.sql.window import Window as _W

    lex = lex.select(
        "doc_id",
        F.row_number()
        .over(_W.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank_lex"),
    )
    sem = similarity.brute_force_topk(emb, k=20, max_query_id=1).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rank_sem")
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "rank_lex",
        "rank_sem",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_sem")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


# --------------------------------------------------------------------------
# Durable-store caches shared by the indexed queries and the recovery drill:
# name -> (source table, version token, spec, build(table, path, fp)).
# functions/indexcache.cached_store reuses a store while its stamped
# fingerprint matches the source and rebuilds it otherwise. The version
# token pins the artifact LAYOUT (bump it when the shape changes, so an
# older layout is never silently reused); the edit, dedup and gram stores
# index the corpus slice doc_id % 10 != 9, the other slice being the
# query batch.
# --------------------------------------------------------------------------


def _corpus(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % 10 != 9)


def _build_ivf(emb: DataFrame, path: str, fp: str) -> None:
    # centroid count is capped by build_ivf_index's max_centroids, so the
    # layout stays bounded under the scale sweep's replicated fixtures
    index, cents = similarity.build_ivf_index(emb)
    similarity.save_ivf_index(index, cents, path, fingerprint=fp)


def _build_pq(emb: DataFrame, path: str, fp: str) -> None:
    # codebooks fit on an id-bounded sample (constant work at every
    # scale); the encode pass is the corpus-sized cost paid once per
    # fingerprint
    books = similarity.pq_train(
        emb.filter(F.col("vec_id") < 5000), m=4, k_codes=8, iters=1
    )
    codes = similarity.pq_encode(emb, books)
    similarity.save_pq_index(codes, books, path, fingerprint=fp)


_STORES = {
    "text": (
        "documents",
        "spark_graft_textindex_v2",
        textindex.SPEC,
        lambda docs, path, fp: textindex.build_text_index(docs, path, fingerprint=fp),
    ),
    "dedup": (
        "documents",
        "spark_graft_dedupindex_v1",
        dedupindex.SPEC,
        lambda docs, path, fp: dedupindex.build_dedup_index(
            _corpus(docs), path, fingerprint=fp
        ),
    ),
    "edit": (
        "documents",
        "spark_graft_editindex_v1",
        editindex.SPEC,
        lambda docs, path, fp: editindex.build_edit_index(
            _corpus(docs), path, k=_EDIT_K, q=4, fingerprint=fp
        ),
    ),
    "gram": (
        "documents",
        "spark_graft_gramindex_v1",
        gramindex.SPEC,
        lambda docs, path, fp: gramindex.build_gram_index(
            _corpus(docs), path, n=8, fingerprint=fp
        ),
    ),
    # the normalisation policy is part of the artifact's identity (and
    # stamped into meta), so the normalised store has its own token
    "gram_norm": (
        "documents",
        "spark_graft_gramindex_norm_v1",
        gramindex.SPEC,
        lambda docs, path, fp: gramindex.build_gram_index(
            _corpus(docs), path, n=8, fingerprint=fp, normalise=True
        ),
    ),
    "ivf": ("embeddings", "spark_graft_ivfstore_v1", similarity.IVF_SPEC, _build_ivf),
    "pq": ("embeddings", "spark_graft_pqstore_v1", similarity.PQ_SPEC, _build_pq),
}


def _store(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The path of ``sf_dir``'s durable store ``name``, built once per
    source fingerprint and reused across invocations and sessions."""
    table, token, spec, build = _STORES[name]
    return indexcache.cached_store(spark, sf_dir, table, token, spec, build)


from .queries import bench_only  # noqa: E402


@bench_only("index_recovery_drill")
def index_recovery_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-case torn-append RECOVERY timed across all six durable
    stores (round-9 verdict #4: the recover_*_index_append machinery was
    correctness-tested but untimed, so a regression to corpus-sized
    recovery work had no tripwire). Per store: stage a fully-landed torn
    append — protocol-2 marker + committed ids record + ALL of the
    batch's store rows written, i.e. the maximal purge a recovery can
    face — then run the recovery (purge + stats/meta restore) and report
    its wall time.

    Cost contract this surface pins: staging is BATCH-sized CPU (the
    batch is an absolute-constant ~10% slice of replica-0 ids, so it
    does not grow under the scale sweep), and recovery is one
    anti-join pass over the store's leaves — store-I/O-bounded with ZERO
    re-tokenisation/re-signing/re-encoding — plus a constant-size meta
    restore. The scale-sweep row therefore measures pure store-I/O
    growth; a jump toward the build-time row means someone made recovery
    recompute corpus work. BENCH-ONLY by structure: the value is a
    timing of a filesystem mutation protocol; the recoveries' value-
    level evidence is pinned in tests/test_append_commit_protocol.py,
    tests/test_dedupindex.py, tests/test_extensions.py and
    tests/test_clustering.py (purged stores bit-identical to pre-append
    state). Stores are the fingerprint-gated shared caches (built once;
    bench best-of-N times recovery, not builds); each drill runs under
    the store's build flock so concurrent indexed queries serialize
    against the mid-drill marker instead of mistaking it for a torn
    store."""
    import time as _time

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # absolute-constant batch: replica-0 ids only (< 3000 predates the
    # sweep's 1e9 id offset), ~10% modulo slice — ~300 rows at sf0.01+
    # at EVERY sweep volume. Shift +500_000_000 keeps drill ids disjoint
    # from every real id at every replication factor (replica r spans
    # [r*1e9, r*1e9 + |corpus|]).
    _OFF = 500_000_000
    doc_delta = docs.filter(
        (F.col("doc_id") % 10 == 9) & (F.col("doc_id") < 3000)
    ).select((F.col("doc_id") + _OFF).alias("doc_id"), "text")
    vec_delta = emb.filter(
        (F.col("vec_id") % 10 == 9) & (F.col("vec_id") < 3000)
    ).select((F.col("vec_id") + _OFF).alias("vec_id"), "embedding")

    def _drill(store, plan, recover, purged) -> tuple:
        # stage the torn append exactly as a crash right after the store
        # insert leaves it — the protocol's own marker and ids record,
        # then the store's insert hook — and time the recovery
        path = _store(spark, sf_dir, store)
        with indexcache.build_lock(path):
            batch = plan(spark, path)
            try:
                storeprotocol.begin(_STORES[store][2], path, batch)
                batch.insert()
            finally:
                batch.release()
            t0 = _time.time()
            res = recover(spark, path)
            return (store, purged(res), round(_time.time() - t0, 3))

    drills = [
        # all-bucket purge + per-bucket df recompute + meta restore
        (
            "text",
            lambda sp, p: textindex._plan_append(sp, p, doc_delta),
            textindex.recover_text_index_append,
            lambda r: int(r["buckets_purged"]),
        ),
        # all-band purge + set-bucket purge + meta restore
        (
            "dedup",
            lambda sp, p: dedupindex._plan_append(sp, p, doc_delta),
            dedupindex.recover_dedup_index_append,
            lambda r: int(r["band_leaves_purged"]) + int(r["set_leaves_purged"]),
        ),
        # purge prunes to the batch's recorded clusters
        (
            "ivf",
            lambda sp, p: similarity._plan_ivf_append(sp, p, vec_delta),
            similarity.recover_ivf_index_append,
            lambda r: int(r["cluster_leaves_purged"]),
        ),
        # one anti-join rewrite of the flat codes store
        (
            "pq",
            lambda sp, p: similarity._plan_pq_append(sp, p, vec_delta),
            similarity.recover_pq_index_append,
            lambda r: int(bool(r["codes_purged"])),
        ),
        # all-leaf gh purge + meta restore on the span family's store
        (
            "gram",
            lambda sp, p: gramindex._plan_append(sp, p, doc_delta),
            gramindex.recover_gram_index_append,
            lambda r: int(r["leaves_purged"]),
        ),
        # two-store id purge (prefix/ + docs/) + meta restore on the
        # edit-distance family's frozen-order prefix store
        (
            "edit",
            lambda sp, p: editindex._plan_append(sp, p, doc_delta),
            editindex.recover_edit_index_append,
            lambda r: int(r["leaves_purged"]),
        ),
    ]

    # The six stores are fully independent (own directories, own
    # locks), exactly like a production maintenance window over many
    # artifacts — run them concurrently so the drill's wall-time tracks
    # the slowest store, not the sum of six.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(drills)) as ex:
        rows = [f.result() for f in [ex.submit(_drill, *d) for d in drills]]

    return spark.createDataFrame(
        rows, "store string, leaves_purged bigint, recover_sec double"
    )


# --- exact duplicated-span dedup (sub-document, Lee et al. 2022 style) ------

_SPAN_CTES = """
    docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS gh
      FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    dupg AS (
      SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM grams g JOIN dupg USING (gh),
           UNNEST(range(g.start, g.start + 8)) AS t(p)
    )
"""


@query(
    "duplicate_spans",
    oracle=f"""
    WITH {_SPAN_CTES},
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM covered
    ),
    spans AS (
      SELECT doc_id, grp, min(pos) AS span_start, max(pos) AS span_end,
             count(*) AS n_words
      FROM isl GROUP BY doc_id, grp
    )
    SELECT s.doc_id, s.span_start AS span_start, s.span_end AS span_end,
           s.n_words AS n_words,
           array_to_string(d.ws[s.span_start + 1 : s.span_end + 1], ' ')
             AS span_text
    FROM spans s JOIN docs d USING (doc_id)
    """,
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal word spans repeated verbatim across >= 2 documents
    (exact-substring dedup detection, word-8-gram granularity). The
    sub-document complement of the whole-record dedup family — see
    operators/spandedup.py for the 100 TB shuffle accounting."""
    docs = load_table(spark, sf_dir, "documents")
    return spandedup.duplicate_spans(docs, "text", "doc_id", n=8, min_docs=2)


@query(
    "dedup_spans_apply",
    oracle=f"""
    WITH {_SPAN_CTES},
    words AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS pos, ws[CAST(i AS INT)] AS w
      FROM docs, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    kept AS (
      SELECT wd.doc_id, wd.pos, wd.w
      FROM words wd ANTI JOIN covered c
        ON wd.doc_id = c.doc_id AND wd.pos = c.pos
    ),
    agg AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_deduped
      FROM kept GROUP BY doc_id
    ),
    ncov AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.text_deduped, '') AS text_deduped,
           CAST(coalesce(n.n_removed, 0) AS BIGINT) AS n_removed
    FROM docs d
      LEFT JOIN agg a USING (doc_id)
      LEFT JOIN ncov n USING (doc_id)
    """,
)
def dedup_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus with every cross-document duplicated 8-gram span
    removed (remove-all-copies policy, Lee et al. §4): every 8-gram
    shared by two input documents loses all its occurrences (junction
    text around removed spans is not re-examined — see
    operators/spandedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return spandedup.strip_duplicate_spans(docs, "text", "doc_id", n=8, min_docs=2)


# shared by dedup_spans_incremental (index-free) and dedup_spans_indexed
# (durable gram store): two Spark PLANS over the same batch-vs-corpus
# span semantics pin against one oracle — the _BM25_ORACLE discipline.
# Parametrised on the gram expression so the normalised-policy indexed
# form reuses the whole reviewed block with only the hash input changed.
def _span_incr_oracle(gram_sql: str) -> str:
    return f"""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5({gram_sql}) AS gh
      FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),""" + """
    bgrams AS (SELECT * FROM grams WHERE doc_id % 10 = 9),
    cgrams AS (SELECT gh FROM grams WHERE doc_id % 10 <> 9),
    dup AS (
      SELECT DISTINCT gh FROM bgrams WHERE gh IN (SELECT gh FROM cgrams)
      UNION
      SELECT gh FROM bgrams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM bgrams g JOIN dup USING (gh),
           UNNEST(range(g.start, g.start + 8)) AS t(p)
    ),
    bdocs AS (SELECT * FROM docs WHERE doc_id % 10 = 9),
    words AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS pos, ws[CAST(i AS INT)] AS w
      FROM bdocs, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    kept AS (
      SELECT wd.doc_id, wd.pos, wd.w
      FROM words wd ANTI JOIN covered c
        ON wd.doc_id = c.doc_id AND wd.pos = c.pos
    ),
    agg AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_deduped
      FROM kept GROUP BY doc_id
    ),
    ncov AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.text_deduped, '') AS text_deduped,
           CAST(coalesce(n.n_removed, 0) AS BIGINT) AS n_removed
    FROM bdocs d
      LEFT JOIN agg a USING (doc_id)
      LEFT JOIN ncov n USING (doc_id)
    """


_STRICT_GRAM_SQL = "array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')"
_NORM_GRAM_SQL = (
    "array_to_string(list_transform(ws[CAST(i AS INT):CAST(i AS INT)+7], "
    "w -> regexp_replace(lower(w), '[^a-z0-9]', '', 'g')), ' ')"
)
_SPAN_INCR_ORACLE = _span_incr_oracle(_STRICT_GRAM_SQL)


@query("dedup_spans_incremental", oracle=_SPAN_INCR_ORACLE)
def dedup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest form of span dedup: strip a NEW batch (every
    doc_id ending in 9, the dedup_incremental_batch split) of spans
    whose 8-gram already occurs anywhere in the accepted corpus or in
    two batch docs; the corpus is never rewritten. The corpus tokenise
    pass is what a durable gram index amortises — this is the
    index-free form (see operators/spandedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    return spandedup.strip_spans_against_corpus(
        batch, corpus, "text", "doc_id", n=8, min_docs=2
    )


@query("dedup_spans_indexed", oracle=_SPAN_INCR_ORACLE)
def dedup_spans_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_spans_incremental served from the DURABLE gram index
    (operators/gramindex.py — the span family's fifth store): the
    corpus's distinct gram hashes are persisted ONCE and each ingest
    batch pays only batch-sized gram work plus an equi-join against the
    stored hashes; bit-identical to the index-free form, so both pin
    against the same oracle."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    path = _store(spark, sf_dir, "gram")
    return gramindex.strip_spans_with_index(spark, path, batch, min_docs=2)


@query(
    "dedup_spans_keep_first",
    oracle="""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS gh
      FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    dup AS (
      SELECT gh, min(doc_id) AS canonical
      FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM grams g JOIN dup d USING (gh),
           UNNEST(range(g.start, g.start + 8)) AS t(p)
      WHERE g.doc_id <> d.canonical
    ),
    words AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS pos, ws[CAST(i AS INT)] AS w
      FROM docs, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    kept AS (
      SELECT wd.doc_id, wd.pos, wd.w
      FROM words wd ANTI JOIN covered c
        ON wd.doc_id = c.doc_id AND wd.pos = c.pos
    ),
    agg AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_deduped
      FROM kept GROUP BY doc_id
    ),
    ncov AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.text_deduped, '') AS text_deduped,
           CAST(coalesce(n.n_removed, 0) AS BIGINT) AS n_removed
    FROM docs d
      LEFT JOIN agg a USING (doc_id)
      LEFT JOIN ncov n USING (doc_id)
    """,
)
def dedup_spans_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP-ONE span policy: each duplicated 8-gram's canonical
    occurrence (smallest doc_id) survives, every other occurrence is
    stripped — the policy pair to dedup_spans_apply's remove-all-copies
    (operators/spandedup.py::strip_duplicate_spans_keep_first)."""
    docs = load_table(spark, sf_dir, "documents")
    return spandedup.strip_duplicate_spans_keep_first(
        docs, "text", "doc_id", n=8, min_docs=2
    )


@query(
    "span_dedup_report",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS gh
      FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    dupg AS (
      SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM grams g JOIN dupg USING (gh),
           UNNEST(range(g.start, g.start + 8)) AS t(p)
    ),
    per_doc AS (
      SELECT d.doc_id, d.source, len(d.ws) AS words,
             coalesce(c.n, 0) AS covered
      FROM docs d LEFT JOIN (
        SELECT doc_id, count(*) AS n FROM covered GROUP BY doc_id
      ) c USING (doc_id)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN covered > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_docs,
           CAST(sum(words) AS BIGINT) AS words,
           CAST(sum(covered) AS BIGINT) AS covered_words,
           round(sum(covered) * 1.0 / sum(words), 4) AS covered_ratio
    FROM per_doc GROUP BY source
    """,
)
def span_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplication monitoring: per source, how many documents
    carry cross-document duplicated 8-gram spans and what fraction of
    words they cover — the report an ingest operator reads before
    choosing the span policy (remove-all vs keep-one) and thresholds.
    Aggregation-only plan: the covered-position relation reduces to one
    bigint per doc before the per-source rollup."""
    docs = load_table(spark, sf_dir, "documents")
    staged = spandedup._cached_staged(docs, "text", "doc_id", 8)
    hits = staged.select(
        "doc_id", F.posexplode("ghs").alias("start", "gh")
    ).join(spandedup._dup_grams(staged, "doc_id", 2), "gh", "left_semi")
    # per-doc covered COUNT is just the size of the covered array — the
    # old exploded-position distinct + recount pair is one groupBy now
    per_doc_cov = spandedup._covered_starts(hits, 8, "doc_id").select(
        "doc_id", F.size("cov").alias("n")
    )
    base = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("words")
    )
    per_doc = base.join(per_doc_cov, "doc_id", "left").withColumn(
        "covered", F.coalesce(F.col("n"), F.lit(0))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("covered") > 0).cast("bigint")).alias("dup_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("covered").cast("bigint").alias("covered_words"),
        F.round(F.sum("covered") / F.sum("words"), 4).alias("covered_ratio"),
    )


def _span_strip_pass(src: str, k: str) -> str:
    """One remove-all-copies strip pass as DuckDB CTEs: relation ``{k}``
    (doc_id, text, n_removed) from ``{src}`` (doc_id, text, n_removed),
    n_removed accumulating across passes. The SQL twin of
    operators/spandedup.py::strip_duplicate_spans, factored so the
    residual monitor (1 pass) and the bounded fixpoint (k passes,
    unrolled — the engine's early exit fires only where a further pass
    is the identity, so the unrolled form hash-matches) share one
    reviewed block."""
    return f"""
    {k}_docs AS (
      SELECT doc_id, n_removed AS prev_removed, string_split(text, ' ') AS ws
      FROM {src}
    ),
    {k}_grams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS gh
      FROM {k}_docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    {k}_dupg AS (
      SELECT gh FROM {k}_grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    {k}_cov AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM {k}_grams g JOIN {k}_dupg USING (gh),
           UNNEST(range(g.start, g.start + 8)) AS t(p)
    ),
    {k}_words AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS pos, ws[CAST(i AS INT)] AS w
      FROM {k}_docs, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    {k}_kept AS (
      SELECT wd.doc_id, wd.pos, wd.w
      FROM {k}_words wd ANTI JOIN {k}_cov c
        ON wd.doc_id = c.doc_id AND wd.pos = c.pos
    ),
    {k}_agg AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_deduped
      FROM {k}_kept GROUP BY doc_id
    ),
    {k}_ncov AS (
      SELECT doc_id, count(*) AS n_removed FROM {k}_cov GROUP BY doc_id
    ),
    {k} AS (
      SELECT d.doc_id,
             coalesce(a.text_deduped, '') AS text,
             d.prev_removed + coalesce(n.n_removed, 0) AS n_removed
      FROM {k}_docs d
        LEFT JOIN {k}_agg a USING (doc_id)
        LEFT JOIN {k}_ncov n USING (doc_id)
    )"""


_P0 = """
    p0 AS (
      SELECT doc_id, text, CAST(0 AS BIGINT) AS n_removed FROM documents
    )"""


@query(
    "span_dedup_residual",
    oracle=f"""
    WITH {_P0},{_span_strip_pass("p0", "p1")},
    r_docs AS (
      SELECT p.doc_id, d.source, string_split(p.text, ' ') AS ws
      FROM p1 p JOIN documents d USING (doc_id)
    ),
    r_grams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS gh
      FROM r_docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    r_dupg AS (
      SELECT gh FROM r_grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    r_cov AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM r_grams g JOIN r_dupg USING (gh),
           UNNEST(range(g.start, g.start + 8)) AS t(p)
    ),
    per_doc AS (
      SELECT d.doc_id, d.source, len(d.ws) AS words,
             coalesce(c.n, 0) AS covered
      FROM r_docs d LEFT JOIN (
        SELECT doc_id, count(*) AS n FROM r_cov GROUP BY doc_id
      ) c USING (doc_id)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN covered > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS residual_dup_docs,
           CAST(sum(words) AS BIGINT) AS words,
           CAST(sum(covered) AS BIGINT) AS residual_covered_words,
           round(sum(covered) * 1.0 / sum(words), 4) AS residual_ratio
    FROM per_doc GROUP BY source
    """,
)
def span_dedup_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-strip residual-duplication monitor (round-10 verdict #2):
    re-run the duplicated-span report over the ONCE-stripped corpus, so
    the junction-gram non-fixpoint (words newly adjacent across removed
    spans re-forming shared 8-grams) is a measured per-source number
    instead of a docstring caveat. Reading it next to span_dedup_report
    tells an ingest operator whether one pass suffices or the bounded
    fixpoint (dedup_spans_fixpoint) is worth its extra passes."""
    docs = load_table(spark, sf_dir, "documents")
    stripped = spandedup.strip_duplicate_spans(docs, "text", "doc_id", 8, 2)
    rdocs = stripped.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id", "source", F.col("text_deduped").alias("text")
    )
    staged = spandedup._cached_staged(rdocs, "text", "doc_id", 8)
    hits = staged.select(
        "doc_id", F.posexplode("ghs").alias("start", "gh")
    ).join(spandedup._dup_grams(staged, "doc_id", 2), "gh", "left_semi")
    per_doc_cov = spandedup._covered_starts(hits, 8, "doc_id").select(
        "doc_id", F.size("cov").alias("n")
    )
    base = rdocs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("words")
    )
    per_doc = base.join(per_doc_cov, "doc_id", "left").withColumn(
        "covered", F.coalesce(F.col("n"), F.lit(0))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("covered") > 0).cast("bigint")).alias("residual_dup_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("covered").cast("bigint").alias("residual_covered_words"),
        F.round(F.sum("covered") / F.sum("words"), 4).alias("residual_ratio"),
    )


@query(
    "dedup_spans_fixpoint",
    oracle=f"""
    WITH {_P0},{_span_strip_pass("p0", "p1")},{_span_strip_pass("p1", "p2")},{_span_strip_pass("p2", "p3")}
    SELECT doc_id, text AS text_deduped, CAST(n_removed AS BIGINT) AS n_removed
    FROM p3
    """,
)
def dedup_spans_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-fixpoint span strip (max 3 passes, early exit when a
    pass finds no duplicated gram): closes dedup_spans_apply's
    junction-gram gap to a measured bound. The oracle is the 3-pass
    UNROLLED strip — hash-equal by the operator's determinism contract
    (operators/spandedup.py::strip_duplicate_spans_fixpoint: the early
    exit fires only where a further pass is the identity)."""
    docs = load_table(spark, sf_dir, "documents")
    return spandedup.strip_duplicate_spans_fixpoint(
        docs, "text", "doc_id", n=8, min_docs=2, max_passes=3
    )


_NORM_SQL = "regexp_replace(lower(w), '[^a-z0-9]', '', 'g')"


@query(
    "dedup_spans_normalised",
    oracle=f"""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(
               list_transform(ws[CAST(i AS INT):CAST(i AS INT)+7],
                              w -> {_NORM_SQL}), ' ')) AS gh
      FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    dupg AS (
      SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM grams g JOIN dupg USING (gh),
           UNNEST(range(g.start, g.start + 8)) AS t(p)
    ),
    words AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS pos, ws[CAST(i AS INT)] AS w
      FROM docs, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    kept AS (
      SELECT wd.doc_id, wd.pos, wd.w
      FROM words wd ANTI JOIN covered c
        ON wd.doc_id = c.doc_id AND wd.pos = c.pos
    ),
    agg AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_deduped
      FROM kept GROUP BY doc_id
    ),
    ncov AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.text_deduped, '') AS text_deduped,
           CAST(coalesce(n.n_removed, 0) AS BIGINT) AS n_removed
    FROM docs d
      LEFT JOIN agg a USING (doc_id)
      LEFT JOIN ncov n USING (doc_id)
    """,
)
def dedup_spans_normalised(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORMALISED span dedup (round-10 verdict #6): grams match on
    lowercased punctuation-stripped words, so boilerplate differing
    only in case/punctuation still dedups — while the strip removes
    positions from the ORIGINAL text (word count is unchanged by
    normalisation, keeping the position mapping exact). Same plan
    shape as dedup_spans_apply plus one narrow per-row transform."""
    docs = load_table(spark, sf_dir, "documents")
    return spandedup.strip_duplicate_spans(
        docs, "text", "doc_id", n=8, min_docs=2, normalise=True
    )


@query(
    "span_dedup_policy_report",
    oracle=f"""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sgrams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')) AS gh
      FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    ngrams AS (
      SELECT doc_id, CAST(i AS INT) - 1 AS start,
             md5(array_to_string(
               list_transform(ws[CAST(i AS INT):CAST(i AS INT)+7],
                              w -> {_NORM_SQL}), ' ')) AS gh
      FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i)
    ),
    scov AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM sgrams g
        JOIN (SELECT gh FROM sgrams GROUP BY gh
              HAVING count(DISTINCT doc_id) >= 2) USING (gh),
        UNNEST(range(g.start, g.start + 8)) AS t(p)
    ),
    ncov AS (
      SELECT DISTINCT g.doc_id, CAST(p AS INT) AS pos
      FROM ngrams g
        JOIN (SELECT gh FROM ngrams GROUP BY gh
              HAVING count(DISTINCT doc_id) >= 2) USING (gh),
        UNNEST(range(g.start, g.start + 8)) AS t(p)
    ),
    total AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS words FROM docs)
    SELECT policy, covered_words, words,
           round(covered_words * 1.0 / words, 4) AS covered_ratio
    FROM (
      SELECT 'strict' AS policy,
             CAST((SELECT count(*) FROM scov) AS BIGINT) AS covered_words,
             (SELECT words FROM total) AS words
      UNION ALL
      SELECT 'normalised' AS policy,
             CAST((SELECT count(*) FROM ncov) AS BIGINT) AS covered_words,
             (SELECT words FROM total) AS words
    )
    """,
)
def span_dedup_policy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-vs-normalised covered-ratio comparison (one row per
    policy): what fraction of corpus words each matching policy would
    strip. Normalised coverage is a superset of strict by
    construction (normalisation only merges gram classes), so
    covered_ratio(normalised) >= covered_ratio(strict) — the delta is
    exactly the case/punctuation-variant boilerplate the strict policy
    misses."""
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("words")
    )

    def _cov_count(normalise: bool, policy: str) -> DataFrame:
        staged = spandedup._cached_staged(
            docs, "text", "doc_id", 8, normalise=normalise
        )
        hits = staged.select(
            "doc_id", F.posexplode("ghs").alias("start", "gh")
        ).join(spandedup._dup_grams(staged, "doc_id", 2), "gh", "left_semi")
        cov = spandedup._covered_starts(hits, 8, "doc_id")
        return cov.agg(
            F.coalesce(F.sum(F.size("cov")), F.lit(0))
            .cast("bigint")
            .alias("covered_words")
        ).select(F.lit(policy).alias("policy"), "covered_words")

    both = _cov_count(False, "strict").unionByName(_cov_count(True, "normalised"))
    return both.crossJoin(total).select(
        "policy",
        "covered_words",
        "words",
        F.round(F.col("covered_words") / F.col("words"), 4).alias("covered_ratio"),
    )


@query("dedup_spans_indexed_normalised", oracle=_span_incr_oracle(_NORM_GRAM_SQL))
def dedup_spans_indexed_normalised(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_spans_indexed under the NORMALISED matching policy: the
    durable gram store persists lower+punct-stripped gram hashes (the
    policy stamped into meta — probes hash their batch the same way by
    construction), so case/punctuation-variant boilerplate dedups
    against the corpus at batch-sized incremental cost. The oracle is
    the shared batch-vs-corpus template with only the gram expression
    swapped — the same one-oracle-two-plans discipline as the strict
    pair, completing the policy x index matrix."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    path = _store(spark, sf_dir, "gram_norm")
    return gramindex.strip_spans_with_index(spark, path, batch, min_docs=2)
