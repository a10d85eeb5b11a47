"""Generated DuckDB oracle SQL for the hash-based dedup family.

Round-1 verdict item #2: the MinHash/SimHash/LSH queries used
``xxhash64`` (no DuckDB twin) and were stuck at rows-only checks. They
now run on the portable md5-derived 60-bit hash
(:func:`..functions.text.h60`) and the k universal-hash permutations
(:func:`..functions.text.rehash`), both of which DuckDB computes
identically — so these oracles replicate the *exact* signatures,
buckets, candidate pairs, and cluster labels, not an approximation.

The SQL is generated (f-string loops over hash indices / bit positions /
bands) from the same constants the Spark plans use, guaranteeing the two
sides can never drift.
"""

from __future__ import annotations

from ..functions import text as tf
from ..operators.dedup import SIMHASH_BITS
from ..operators.similarity import _hyperplanes

N_HASHES = 16
BANDS = 4
ROWS_PER_BAND = N_HASHES // BANDS

# Shared CTE prefix: documents → shingles → portable hash → MinHash
# signature → banded buckets → candidate pairs. Mirrors
# operators/dedup.py minhash_lsh_candidates() stage for stage.
_MINS = ",\n           ".join(
    f"MIN({tf.rehash_sql('h', i)}) AS m{i}" for i in range(N_HASHES)
)

_BAND_SELECTS = "\n    UNION ALL\n    ".join(
    "SELECT doc_id, {b} AS band, {bh} AS bh FROM sig".format(
        b=b,
        bh=tf.h60_sql(
            "concat_ws(',', "
            + ", ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            )
            + ")"
        ),
    )
    for b in range(BANDS)
)


def minhash_band_ctes(source: str) -> str:
    """CTEs toks .. buckets over the (doc_id, text) relation ``source``:
    3-gram shingles → portable hash → MinHash signature → banded
    buckets (doc_id, band, bh)."""
    return f"""toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM {source} WHERE trim(text) <> ''
),
sh AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
    FROM toks
),
h AS (SELECT doc_id, {tf.h60_sql('s')} AS h FROM sh),
sig AS (SELECT doc_id, {_MINS} FROM h GROUP BY doc_id),
buckets AS (
    {_BAND_SELECTS}
)"""


_MINHASH_CAND_CTES = (
    minhash_band_ctes("documents")
    + """,
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)"""
)

MINHASH_LSH_PAIRS_SQL = (
    "WITH " + _MINHASH_CAND_CTES + "\nSELECT id_a, id_b FROM cand"
)

# LSH candidates → exact 3-gram Jaccard verify (threshold on the
# 4-dp-rounded value, matching operators/dedup.py jaccard_pairs()).
_JACCARD_CTES = """shl AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sarr
    FROM toks
),
jac AS (
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(a.sarr, b.sarr)) AS DOUBLE)
                 / (len(a.sarr) + len(b.sarr)
                    - len(list_intersect(a.sarr, b.sarr))), 4) AS jaccard
    FROM cand c
    JOIN shl a ON a.doc_id = c.id_a
    JOIN shl b ON b.doc_id = c.id_b
)"""

MINHASH_VERIFIED_SQL = (
    "WITH "
    + _MINHASH_CAND_CTES
    + ",\n"
    + _JACCARD_CTES
    + "\nSELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.2"
)

# Full endgame: verified pairs → connected components (exact transitive
# closure via recursive CTE — the Spark side's min-label propagation
# raises on non-convergence, so both sides compute the true components)
# → keep the highest-quality doc per cluster (ties → smallest doc_id).
_QUALITY_SQL = """qual AS (
    SELECT doc_id, lang, source,
           string_split_regex(lower(trim(text)), '\\s+') AS ltoks,
           LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS np,
           LENGTH(text) AS nc
    FROM documents
),
qscore AS (
    SELECT doc_id, lang, source,
           ROUND((
             CASE WHEN (CASE WHEN len(ltoks) = 0 THEN 0.0
                        ELSE CAST(list_sum(list_transform(ltoks, x -> LENGTH(x)))
                                  AS DOUBLE) / len(ltoks) END) BETWEEN 3.0 AND 10.0
                  THEN 1.0 ELSE 0.5 END
             + LEAST(GREATEST(
                 (CASE WHEN len(ltoks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(ltoks, x -> x IN
                      ('the','a','an','and','or','of','to','in','is','it')))
                      AS DOUBLE) / len(ltoks) END) * 4.0, 0.0), 1.0)
             + 1.0 - LEAST(GREATEST(
                 (CASE WHEN nc = 0 THEN 0.0
                  ELSE CAST(np AS DOUBLE) / nc END) * 4.0, 0.0), 1.0)
           ) / 3.0, 4) AS q
    FROM qual
)"""

KEEP_BEST_CANONICAL_SQL = (
    "WITH RECURSIVE "
    + _MINHASH_CAND_CTES
    + ",\n"
    + _JACCARD_CTES
    + ",\n"
    + """edges AS (
    SELECT id_a AS src, id_b AS dst FROM jac WHERE jaccard >= 0.2
    UNION
    SELECT id_b AS src, id_a AS dst FROM jac WHERE jaccard >= 0.2
),
reach AS (
    SELECT src AS node, src AS lab FROM edges
    UNION
    SELECT e.dst AS node, r.lab AS lab
    FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
"""
    + _QUALITY_SQL
    + """,
lab AS (
    SELECT qscore.*, labels.label
    FROM qscore LEFT JOIN labels ON qscore.doc_id = labels.node
)
SELECT doc_id, lang, source, CAST(label AS BIGINT) AS cluster FROM (
    SELECT doc_id, lang, source, label,
           row_number() OVER (PARTITION BY label ORDER BY q DESC, doc_id) AS rn
    FROM lab WHERE label IS NOT NULL) WHERE rn = 1
UNION ALL
SELECT doc_id, lang, source, CAST(NULL AS BIGINT) AS cluster
FROM lab WHERE label IS NULL"""
)

# SimHash: per-token portable hash → per-bit ±1 votes → sign bits →
# 4 equal-width bands → candidate pairs within Hamming distance 3.
_VOTES = ",\n           ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(SIMHASH_BITS)
)
_SIGBITS = "\n             + ".join(
    f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for i in range(SIMHASH_BITS)
)
_CHUNK_BITS = SIMHASH_BITS // 4
_CHUNK_MASK = (1 << _CHUNK_BITS) - 1

SIMHASH_CANDIDATES_SQL = f"""WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents WHERE trim(text) <> ''
),
h AS (SELECT doc_id, {tf.h60_sql('tok')} AS h FROM toks),
votes AS (SELECT doc_id, {_VOTES} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, ({_SIGBITS}) AS simhash FROM votes),
bands AS (SELECT CAST(range AS INTEGER) AS band FROM range(4)),
chunks AS (
    SELECT doc_id, simhash, band,
           (simhash >> ({_CHUNK_BITS} * band)) & {_CHUNK_MASK} AS chunk
    FROM sig CROSS JOIN bands
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM chunks a JOIN chunks b
      ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3"""

# Random-hyperplane LSH over embeddings: the 16 Gaussian hyperplanes are
# plan-time literals from a fixed seed, so the oracle embeds the SAME
# floats (repr round-trips exactly) and reproduces signature, bands,
# candidates, and the exact-cosine verify.
_PLANES = _hyperplanes(16, 64, 1234)


def _plane_dot(plane: list[float]) -> str:
    # list_inner_product accumulates left-to-right like Spark's
    # aggregate-fold dot, and vectorizes (the per-element
    # literal-indexing lambda form ran ~20x slower in DuckDB).
    lit = "[" + ", ".join(repr(x) for x in plane) + "]"
    return f"list_inner_product(ev, {lit})"


_RHP_SIGBITS = "\n        + ".join(
    f"CASE WHEN {_plane_dot(p)} >= 0 THEN CAST({1 << j} AS BIGINT)"
    " ELSE CAST(0 AS BIGINT) END"
    for j, p in enumerate(_PLANES)
)

EMBEDDING_LSH_PAIRS_SQL = f"""WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
    FROM embeddings
),
sig AS (
    SELECT vec_id, ev, ({_RHP_SIGBITS}) AS s FROM v
),
bands AS (SELECT CAST(range AS INTEGER) AS band FROM range(4)),
bk AS (
    SELECT vec_id, band, (s >> (4 * band)) & 15 AS bits
    FROM sig CROSS JOIN bands
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bk a JOIN bk b
      ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id
),
scored AS (
    SELECT c.id_a, c.id_b,
           list_sum(list_transform(range(1, len(a.ev) + 1),
                    i -> a.ev[i] * b.ev[i]))
           / (sqrt(list_sum(list_transform(a.ev, x -> x * x)))
              * sqrt(list_sum(list_transform(b.ev, x -> x * x)))) AS cs
    FROM cand c JOIN v a ON a.vec_id = c.id_a JOIN v b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, ROUND(cs, 6) AS cosine FROM scored WHERE cs >= 0.3"""
