"""Extension-surface registry entries + DuckDB oracles.

Every oracle below is generated from the SAME Python constants as
the Spark plan it checks (hash permutations, thresholds, stopword
lists, the 64-term dot-product expansion), so the two sides cannot
drift independently.

Engine-parity rules applied throughout:
- md5-derived portable hashes (functions/text.py) instead of
  engine-native hash functions,
- explicit ::DOUBLE casts on fractional literals (DuckDB would
  otherwise compute in DECIMAL),
- regexp_replace(..., 'g') — DuckDB replaces only the first match
  by default, Spark always replaces all,
- integer outputs as BIGINT on both sides,
- ROUND(x, 6) before any threshold or ranking on derived doubles.
"""

from __future__ import annotations

from projet_etl_spark.functions import text as TX
from projet_etl_spark.functions import vectors as VEC
from projet_etl_spark.operators import (
    asof,
    clusters,
    composite,
    corpus,
    decontam,
    dedup,
    events_windows,
    kmeans,
    materialized,
    multimodal,
    olap,
    packing,
    quality_model,
    similarity,
    sketches,
    simple,
    stats,
    textstats,
    timeseries,
    topk,
)
from projet_etl_spark.plans.oracles import PARITY_ORACLES

# --- shared SQL fragments -------------------------------------------

_NORM = TX.SQL_NORMALIZED.format(col="text")
_TOK = TX.SQL_TOKENS.format(col="text")

_SHINGLE_CTES = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
sh AS (
    SELECT doc_id, unnest({TX.SQL_SHINGLES.format(t="t")}) AS s FROM tok
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
)"""

_JACCARD_FROM_CANDS = """
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT i.doc_a, i.doc_b,
           ROUND(i.inter / (sa.n + sb.n - i.inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    {extra_join}
)"""

_H30_OF = "((('0x' || substr(md5({col}), 1, 15))::BIGINT) % {mod})".format(
    col="{col}", mod=TX.H30_MOD
)

# --- minhash oracle --------------------------------------------------

_MIN_EXPRS = ",\n           ".join(
    f"MIN((h * {a} + {b}) % {TX.MINHASH_PRIME}) AS m{i}"
    for i, (a, b) in enumerate(TX.MINHASH_PERMS)
)
_BAND_SELECTS = "\n    UNION ALL ".join(
    "SELECT doc_id, {bi} AS band, concat_ws('-', {cols}) AS key FROM sigs".format(
        bi=bi,
        cols=", ".join(
            f"m{bi * TX.MINHASH_ROWS + r}" for r in range(TX.MINHASH_ROWS)
        ),
    )
    for bi in range(TX.MINHASH_BANDS)
)

# the CTE chain up to `jac` (minhash candidates + exact-jaccard
# verification) is shared between the pair query and the clusters
# oracle, which extends it with a recursive connected-components CTE
# CTEs up to the banded candidate set (shared by the jaccard-verified
# minhash query and the edit-distance-verified twin)
_CAND_CTES = (
    _SHINGLE_CTES
    + f""",
sdf AS (
    SELECT s, COUNT(*) AS df FROM sh GROUP BY s
),
nd AS (
    SELECT COUNT(DISTINCT doc_id) AS n_docs FROM sh
),
capped AS (
    -- document-frequency cap before the signature pass (skew guard;
    -- operators/dedup.df_capped_shingles) — verification below still
    -- scores the UNCAPPED shingle sets
    SELECT sh.doc_id, sh.s
    FROM sh JOIN sdf USING (s), nd
    WHERE sdf.df <= greatest({dedup.DF_CAP_MIN},
                             CEIL(nd.n_docs * {dedup.DF_CAP_FRAC}))
),
hashed AS (
    SELECT doc_id, {_H30_OF.format(col='s')} AS h FROM capped
),
sigs AS (
    SELECT doc_id,
           {_MIN_EXPRS}
    FROM hashed GROUP BY doc_id
),
bands AS (
    {_BAND_SELECTS}
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""
)

_MINHASH_CTES = (
    _CAND_CTES
    + ",\n"
    + _JACCARD_FROM_CANDS.format(
        extra_join="JOIN cands c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b"
    )
)

_MINHASH_SQL = (
    _MINHASH_CTES
    + f"""
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
"""
)

# connected components over the minhash near-dup edges as a recursive
# transitive closure: reach(v, l) holds every label l reachable from
# v, and MIN(l) per vertex is exactly the fixpoint the Spark side's
# iterative min-label propagation converges to (operators/clusters.py)
_RECURSIVE_MINHASH_CTES = _MINHASH_CTES.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
# Guard the string surgery: if the CTE header ever changes shape the
# replace would silently no-op and the oracle would become invalid SQL.
assert "WITH RECURSIVE" in _RECURSIVE_MINHASH_CTES, (
    "clusters oracle: failed to upgrade minhash CTEs to WITH RECURSIVE"
)

_CLUSTERS_SQL = (
    _RECURSIVE_MINHASH_CTES
    + f""",
pairs AS (
    SELECT doc_a, doc_b FROM jac WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS vertex, doc_id AS label FROM documents
    UNION
    SELECT e.src AS vertex, r.label
    FROM edges e JOIN reach r ON e.dst = r.vertex
)
SELECT vertex AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY vertex
"""
)

# duplicate mass per language: clusters CTE + one lang join
_DUP_MASS_SQL = f"""
WITH lab AS ({_CLUSTERS_SQL}),
j AS (
    SELECT d.lang,
           CASE WHEN lab.doc_id <> lab.cluster_id THEN 1 ELSE 0 END AS dup
    FROM lab JOIN documents d USING (doc_id)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_dups,
       ROUND(CAST(SUM(dup) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE), 6)
           AS dup_pct
FROM j GROUP BY lang ORDER BY lang
"""

# --- leakage-free split assignment oracle ----------------------------
# same recursive-CTE components as _CLUSTERS_SQL, then the portable
# 60-bit key hash of the CLUSTER label picks the split (80/10/10)
_SPLIT_BY_CLUSTER_SQL = f"""
SELECT doc_id, cluster_id,
       CASE WHEN b < {decontam.CLUSTER_SPLIT_TRAIN} THEN 'train'
            WHEN b = {decontam.CLUSTER_SPLIT_TRAIN} THEN 'val'
            ELSE 'test' END AS split
FROM (
    SELECT doc_id, cluster_id,
           (('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT
             % {decontam.CLUSTER_SPLIT_BUCKETS}) AS b
    FROM ({_CLUSTERS_SQL}) c
) t
ORDER BY doc_id
"""

# --- z-score anomaly oracle ------------------------------------------
# identical moment casts and expression association as the Spark plan;
# the GREATEST clamp + var > 0 pre-filter mirror the Spark plan's
# cancellation guard (Spark sqrt(neg)=NaN vs DuckDB sqrt(neg)=error)
_ANOMALY_SQL = f"""
WITH m AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
    FROM events GROUP BY event_type
)
SELECT event_id, event_type, value, z FROM (
    SELECT e.event_id, e.event_type, e.value,
           GREATEST(m.sxx / m.n - (m.sx / m.n) * (m.sx / m.n),
                    CAST(0 AS DOUBLE)) AS var,
           ROUND((e.value - m.sx / m.n)
                 / sqrt(GREATEST(m.sxx / m.n - (m.sx / m.n) * (m.sx / m.n),
                                 CAST(0 AS DOUBLE))), 6) AS z
    FROM events e JOIN m ON e.event_type = m.event_type
) s WHERE var > CAST(0 AS DOUBLE) AND abs(z) > {stats.Z_THRESHOLD}
"""

# --- multimodal binary dedup oracle ----------------------------------
# the payload is encode(text, UTF-8), so DuckDB's md5/strlen over the
# varchar see the identical bytes
_MM_DEDUP_SQL = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS dup_count,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
FROM documents
GROUP BY 1
"""

# --- quality-stratified filter oracle --------------------------------
# reuses the full quality query as a CTE so the score definitions
# cannot drift between the signal and the selection
_QUALITY_FILTER_SQL_TEMPLATE = """
WITH qx AS ({quality}),
scored AS (
    SELECT q.doc_id, d.lang, q.quality
    FROM qx q JOIN documents d ON q.doc_id = d.doc_id
),
ranked AS (
    SELECT doc_id, lang, quality,
           ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY quality DESC, doc_id
           ) AS lang_rank,
           COUNT(*) OVER (PARTITION BY lang) AS n_lang
    FROM scored
)
SELECT doc_id, lang, quality, lang_rank
FROM ranked
WHERE lang_rank <= ceil(n_lang * {keep})
"""

# --- repetition oracle -----------------------------------------------
_SHINGLE_LIST = TX.SQL_SHINGLES.format(t="t")
_REPETITION_SQL = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
staged AS (
    SELECT doc_id,
           CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_grams,
           CAST(len({_SHINGLE_LIST}) AS BIGINT) AS n_distinct
    FROM tok
)
SELECT doc_id, n_grams, n_distinct,
       ROUND(COALESCE((n_grams - n_distinct) / NULLIF(n_grams, 0),
                      CAST(0 AS DOUBLE)), 6) AS rep_ratio
FROM staged
"""

# --- sequence-packing oracle -----------------------------------------
# same hash-shard + partition-local cumulative window on both sides;
# DuckDB's windowed SUM promotes to HUGEINT, hence the BIGINT casts.
# Generated per shard count so tests can verify non-default packings;
# the registry fixture pins packing.N_SHARDS on both sides.


def pack_sql(n_shards: int) -> str:
    """DuckDB oracle for q_pack_sequences at a given shard count."""
    return f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
base AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           ({TX.SQL_HASH60.format(col="CAST(doc_id AS VARCHAR)")}
            % {int(n_shards)}) AS shard
    FROM tok
),
started AS (
    SELECT doc_id, shard, n_tokens,
           CAST(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS BIGINT) AS start_tok
    FROM base
)
SELECT doc_id, shard, n_tokens, start_tok,
       start_tok // {packing.PACK_BUDGET} AS pack_id
FROM started
"""


_PACK_SQL = pack_sql(packing.N_SHARDS)


def _q_pack_sequences_fixture(spark, sf_dir):
    """(doc_id, shard, n_tokens, start_tok, pack_id): where each doc's
    tokens begin in its shard's concatenated stream and which
    fixed-budget pack that start falls into (registry fixture: shard
    count pinned to packing.N_SHARDS so the oracle stays in lockstep;
    direct callers of q_pack_sequences get a cluster-derived
    default)."""
    return packing.q_pack_sequences(spark, sf_dir, n_shards=packing.N_SHARDS)

# the deduplicated corpus = one row per cluster label (the min doc_id
# representative) with its member count
_CANONICAL_SQL = f"""
SELECT cluster_id AS doc_id, COUNT(*) AS n_docs
FROM ({_CLUSTERS_SQL}) c
GROUP BY cluster_id
"""

# --- decontamination oracle ------------------------------------------

_DECONTAM_SHINGLES = TX.sql_shingles_k("t", decontam.CONTAM_K)
_DECONTAM_SQL = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
sh AS (
    SELECT doc_id, unnest({_DECONTAM_SHINGLES}) AS s FROM tok
),
ev AS (
    SELECT DISTINCT s FROM sh WHERE doc_id < {decontam.EVAL_DOCS}
)
SELECT a.doc_id, COUNT(*) AS n_overlap
FROM sh a JOIN ev ON a.s = ev.s
WHERE a.doc_id >= {decontam.EVAL_DOCS}
GROUP BY a.doc_id
"""

_NGRAM_SQL = (
    _SHINGLE_CTES
    + ",\n"
    + _JACCARD_FROM_CANDS.format(extra_join="")
    + f"""
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
"""
)

# --- simhash oracle --------------------------------------------------

_BITSUM_EXPRS = ",\n           ".join(
    f"SUM(((h >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(TX.SIMHASH_BITS)
)
_SIM_VALUE = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(TX.SIMHASH_BITS)
)
_N_SIM_BANDS = TX.SIMHASH_BITS // TX.SIMHASH_BAND_BITS
_SIM_BAND_VALUES = ", ".join(f"({k})" for k in range(_N_SIM_BANDS))
_SIM_MASK = (1 << TX.SIMHASH_BAND_BITS) - 1

_SIMHASH_SQL = (
    _SHINGLE_CTES
    + f""",
toh AS (
    SELECT doc_id, {_H30_OF.format(col='s')} AS h FROM sh
),
bitsums AS (
    SELECT doc_id,
           {_BITSUM_EXPRS}
    FROM toh GROUP BY doc_id
),
sims AS (
    SELECT doc_id, CAST({_SIM_VALUE} AS BIGINT) AS sim FROM bitsums
),
banded AS (
    SELECT doc_id, sim, k AS band,
           (sim >> ({TX.SIMHASH_BAND_BITS} * k)) & {_SIM_MASK} AS key
    FROM sims, (VALUES {_SIM_BAND_VALUES}) b(k)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 2
"""
)

# --- embedding / ANN oracles ----------------------------------------

_E_CTE = f"""
WITH e AS (
    SELECT vec_id, label, embedding AS v,
           {VEC.sql_norm2("embedding")} AS n2
    FROM embeddings
)"""


def _sql_cos(dot: str, na: str, nb: str) -> str:
    return f"ROUND(({dot}) / (sqrt({na}) * sqrt({nb})), 6)"


_EMB_COS_SQL = (
    _E_CTE
    + f""",
blk AS (
    -- same bounded deterministic audit block as the Spark side:
    -- the AUDIT_BLOCK smallest vec_ids by md5 order
    SELECT vec_id, v, n2 FROM e
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {dedup.AUDIT_BLOCK}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')} AS cos
FROM blk a, blk b
WHERE a.vec_id < b.vec_id
  AND {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')} >= {dedup.COSINE_THRESHOLD}
"""
)

def _rp_dot_sql(h: int) -> str:
    return " + ".join(
        f"embedding[{i}]::DOUBLE * CAST({float(dedup.rp_weight(h, i))!r} AS DOUBLE)"
        for i in range(1, VEC.DIM + 1)
    )


_RP_BITS_COLS = ",\n           ".join(
    f"CASE WHEN ({_rp_dot_sql(h)}) >= 0 THEN 1 ELSE 0 END AS b{h}"
    for h in range(dedup.RP_BITS)
)
# MSB-first key composition, generic over the band width (r11: the
# 4->6-bit/band widening is the LSH scale knob; same composition
# order as the Spark kernel's k = k*2 + bit loop)
_RP_BAND_ROWS = "\n    UNION ALL\n    ".join(
    f"SELECT vec_id, {b} AS band, "
    + " + ".join(
        f"b{dedup.RP_BAND_BITS * b + j} * {2 ** (dedup.RP_BAND_BITS - 1 - j)}"
        for j in range(dedup.RP_BAND_BITS)
    )
    + " AS key FROM bits"
    for b in range(dedup.RP_BANDS)
)
_EMB_LSH_CTES = (
    _E_CTE
    + f""",
bits AS MATERIALIZED (
    -- MATERIALIZED (r11): the 12 band branches each reference this
    -- CTE; inlined, the planner re-plans the 72 generated 64-term
    -- dot columns per branch (~30 s of optimizer time at ANY data
    -- size, measured) — materialized it plans and evaluates once
    SELECT vec_id,
           {_RP_BITS_COLS}
    FROM embeddings
),
bands AS MATERIALIZED (
    {_RP_BAND_ROWS}
),
cand AS (
    SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
    FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
    WHERE l.vec_id < r.vec_id
)"""
)
_EMB_LSH_PAIRS = f"""
SELECT vec_a, vec_b,
       {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')} AS cos
FROM cand
JOIN e a ON vec_a = a.vec_id
JOIN e b ON vec_b = b.vec_id
WHERE {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')} >= {dedup.COSINE_THRESHOLD}
"""
_EMB_LSH_SQL = _EMB_LSH_CTES + _EMB_LSH_PAIRS

# measured recall of the banded path vs the exact audit block (r11,
# added with the 6-bit band widening): both sides recomputed from
# scratch — the block pairs exactly as _EMB_COS_SQL, the LSH pairs
# exactly as _EMB_LSH_SQL — then one LEFT-join count
_EMB_LSH_RECALL_SQL = (
    _EMB_LSH_CTES
    + f""",
xblk AS (
    SELECT vec_id, v, n2 FROM e
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {dedup.AUDIT_BLOCK}
),
xpairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM xblk a, xblk b
    WHERE a.vec_id < b.vec_id
      AND {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')}
          >= {dedup.COSINE_THRESHOLD}
),
lpairs AS ({_EMB_LSH_PAIRS})
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_found,
       CAST(SUM(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS recall
FROM xpairs x
LEFT JOIN lpairs l ON x.vec_a = l.vec_a AND x.vec_b = l.vec_b
"""
)

# --- deployment-threshold planted corpus + hi-band oracles (r12,
# r11 verdict item 2). The planted corpus is the in-plan fixture
# device of operators/dedup.py (originals widened to float64 UNION
# md5-noise twins for every PLANT_MOD-th vec_id); the hi family is
# the same banded-LSH shape as the block above but over 192
# md5-derived planes in 12 x 16-bit bands at the SemDeDup-range
# threshold. PLANT_EPS and the weights are exact in float64, so both
# engines construct bit-identical planted vectors and every
# downstream fold is the shared left-associated sum.


def _plant_w_sql(i: int) -> str:
    """Plant noise weight for 1-based dim ``i`` — the SQL_HASH60
    md5->int recipe on the same seed string as dedup._plant_weight:
    seeded on the PLANTED (offset) id, spelled out as vec_id + OFFSET
    because DuckDB binds ``vec_id`` to the table column where Spark's
    lambda binds the projection alias (see planted_embeddings)."""
    return (
        f"CAST((('0x' || substr(md5('plant:' || "
        f"CAST(vec_id + {dedup.PLANT_OFFSET} AS VARCHAR) "
        f"|| ':{i}'), 1, 8))::BIGINT % 11 - 5) AS DOUBLE)"
    )


_ORIG_V = (
    "[" + ", ".join(f"embedding[{i}]::DOUBLE" for i in range(1, VEC.DIM + 1)) + "]"
)
_PLANT_V = (
    "["
    + ", ".join(
        f"embedding[{i}]::DOUBLE + {dedup.PLANT_EPS!r} * {_plant_w_sql(i)}"
        for i in range(1, VEC.DIM + 1)
    )
    + "]"
)

_EP_CTE = f"""
WITH ep AS MATERIALIZED (
    SELECT vec_id, v, {VEC.sql_norm2("v")} AS n2 FROM (
        SELECT vec_id, {_ORIG_V} AS v FROM embeddings
        UNION ALL
        SELECT vec_id + {dedup.PLANT_OFFSET} AS vec_id, {_PLANT_V} AS v
        FROM embeddings WHERE vec_id % {dedup.PLANT_MOD} = 0
    ) u
)"""


def _rphi_dot_sql(h: int) -> str:
    return " + ".join(
        f"v[{i}] * CAST({float(dedup.rphi_weight(h, i))!r} AS DOUBLE)"
        for i in range(1, VEC.DIM + 1)
    )


def _rphi_bits_cols(n_planes: int) -> str:
    return ",\n           ".join(
        f"CASE WHEN ({_rphi_dot_sql(h)}) >= 0 THEN 1 ELSE 0 END AS b{h}"
        for h in range(n_planes)
    )


def _rphi_band_rows(bands: int, band_bits: int) -> str:
    return "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(
            f"b{band_bits * b + j} * {2 ** (band_bits - 1 - j)}"
            for j in range(band_bits)
        )
        + " AS key FROM hbits"
        for b in range(bands)
    )


def _emb_hi_ctes(bands: int, band_bits: int) -> str:
    """The planted-corpus banded-candidate CTE chain at an arbitrary
    (bands, band_bits) geometry — the fixture 12 x 16 and the
    staircase-chosen wide geometry (r12 verdict item 2) share it."""
    return (
        _EP_CTE
        + f""",
hbits AS MATERIALIZED (
    -- MATERIALIZED: the band branches each reference this CTE;
    -- inlined, the planner would re-plan the {bands * band_bits}
    -- generated 64-term dot columns per branch (the r11 lesson,
    -- measured ~30 s at 72)
    SELECT vec_id,
           {_rphi_bits_cols(bands * band_bits)}
    FROM ep
),
hbands AS MATERIALIZED (
    {_rphi_band_rows(bands, band_bits)}
),
hcand AS (
    SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
    FROM hbands l JOIN hbands r ON l.band = r.band AND l.key = r.key
    WHERE l.vec_id < r.vec_id
)"""
    )


_EMB_HI_CTES = _emb_hi_ctes(dedup.RPHI_BANDS, dedup.RPHI_BAND_BITS)
_EMB_HI_PAIRS = f"""
SELECT vec_a, vec_b,
       {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')} AS cos
FROM hcand
JOIN ep a ON vec_a = a.vec_id
JOIN ep b ON vec_b = b.vec_id
WHERE {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')} >= {dedup.HI_COSINE_THRESHOLD}
"""
_EMB_HI_SQL = _EMB_HI_CTES + _EMB_HI_PAIRS

# recall audit at the deployment threshold: exact audit block over
# the PLANTED corpus vs the hi banded path — same LEFT-join count as
# _EMB_LSH_RECALL_SQL; the tail is geometry-free (the geometry lives
# in the CTE chain), so the fixture and wide audits share it
_EMB_HI_RECALL_TAIL = f""",
hxblk AS (
    SELECT vec_id, v, n2 FROM ep
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {dedup.AUDIT_BLOCK}
),
hxpairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM hxblk a, hxblk b
    WHERE a.vec_id < b.vec_id
      AND {_sql_cos(VEC.sql_dot('a.v', 'b.v'), 'a.n2', 'b.n2')}
          >= {dedup.HI_COSINE_THRESHOLD}
),
hlpairs AS ({_EMB_HI_PAIRS})
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_found,
       CAST(SUM(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS recall
FROM hxpairs x
LEFT JOIN hlpairs l ON x.vec_a = l.vec_a AND x.vec_b = l.vec_b
"""
_EMB_HI_RECALL_SQL = _EMB_HI_CTES + _EMB_HI_RECALL_TAIL

# the staircase-chosen WIDE geometry (r12 verdict item 2): same
# planted corpus, same pair/recall tails, wider bands + the band
# count that restores the recall target — the oracle mirrors the
# exact geometry the knob picks for RPHI_WIDE_N, pinned as constants
# in operators/dedup.py (a pytest ties them back to the knob)
_EMB_HI_WIDE_CTES = _emb_hi_ctes(
    dedup.RPHI_WIDE_BANDS, dedup.RPHI_WIDE_BAND_BITS
)
_EMB_HI_WIDE_SQL = _EMB_HI_WIDE_CTES + _EMB_HI_PAIRS
_EMB_HI_WIDE_RECALL_SQL = _EMB_HI_WIDE_CTES + _EMB_HI_RECALL_TAIL

# partition-disjoint sharded dedup (r13): the fixture-geometry hi
# CTEs plus the IVF medoid machinery — every planted vector is
# replicated into its SHARD_NPROBE nearest cells (the _ANN_IVF_SQL
# window form of the multi-probe selection, same round-6 fold cosine
# and (-cos, cell) tiebreak) and the banded candidate join gains
# `cell` as a leading key. The pair/recall tails are the shared hi
# ones with the candidate CTE swapped.
_EMB_SHARD_CTES = (
    _EMB_HI_CTES
    + f""",
eb AS (
    SELECT vec_id, label, {_ORIG_V} AS v FROM embeddings
),
ebn AS (
    SELECT vec_id, label, v, {VEC.sql_norm2("v")} AS n2 FROM eb
),
shcents AS (
    SELECT label AS cell,
           arg_min(v, vec_id) AS centv,
           arg_min(n2, vec_id) AS centn
    FROM ebn GROUP BY label
),
asgn AS (
    SELECT vec_id, cell FROM (
        SELECT ep.vec_id, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY ep.vec_id
                   ORDER BY {_sql_cos(VEC.sql_dot('ep.v', 'c.centv'), 'ep.n2', 'c.centn')} DESC,
                            c.cell) AS prn
        FROM ep, shcents c
    ) WHERE prn <= {dedup.SHARD_NPROBE}
),
sbands AS MATERIALIZED (
    SELECT h.vec_id, a.cell, h.band, h.key
    FROM hbands h JOIN asgn a USING (vec_id)
),
scand AS (
    SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
    FROM sbands l
    JOIN sbands r ON l.cell = r.cell AND l.band = r.band AND l.key = r.key
    WHERE l.vec_id < r.vec_id
)"""
)
_EMB_SHARD_PAIRS = _EMB_HI_PAIRS.replace("FROM hcand", "FROM scand")
assert "scand" in _EMB_SHARD_PAIRS
_EMB_SHARD_SQL = _EMB_SHARD_CTES + _EMB_SHARD_PAIRS
_EMB_SHARD_RECALL_SQL = _EMB_SHARD_CTES + _EMB_HI_RECALL_TAIL.replace(
    f"hlpairs AS ({_EMB_HI_PAIRS})", f"hlpairs AS ({_EMB_SHARD_PAIRS})"
)
assert "scand" in _EMB_SHARD_RECALL_SQL

# keep-one-per-cluster at the deployment threshold (r12): the same
# recursive transitive closure as the semantic oracle below, over the
# hi pairs and the PLANTED vertex set, reduced to the exemplar table
_RECURSIVE_EMB_HI_CTES = _EMB_HI_CTES.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
assert "WITH RECURSIVE" in _RECURSIVE_EMB_HI_CTES, (
    "hi exemplars oracle: failed to upgrade hi CTEs to WITH RECURSIVE"
)
_SEMANTIC_HI_EXEMPLARS_SQL = (
    _RECURSIVE_EMB_HI_CTES
    + f""",
hvpairs AS ({_EMB_HI_PAIRS}),
hvedges AS (
    SELECT vec_a AS src, vec_b AS dst FROM hvpairs
    UNION ALL
    SELECT vec_b AS src, vec_a AS dst FROM hvpairs
),
hvreach AS (
    SELECT vec_id AS vertex, vec_id AS label FROM ep
    UNION
    SELECT ed.src AS vertex, r.label
    FROM hvedges ed JOIN hvreach r ON ed.dst = r.vertex
),
hlabels AS (
    SELECT vertex AS vec_id, MIN(label) AS cluster_id
    FROM hvreach GROUP BY vertex
)
SELECT cluster_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM hlabels GROUP BY cluster_id ORDER BY vec_id
"""
)

# semantic connected components over the LSH cosine pairs, stated as
# the same recursive transitive closure as the text clusters oracle
_RECURSIVE_EMB_LSH_CTES = _EMB_LSH_CTES.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
assert "WITH RECURSIVE" in _RECURSIVE_EMB_LSH_CTES, (
    "semantic clusters oracle: failed to upgrade LSH CTEs to WITH RECURSIVE"
)
_SEMANTIC_CLOSURE = (
    _RECURSIVE_EMB_LSH_CTES
    + f""",
vpairs AS ({_EMB_LSH_PAIRS}),
vedges AS (
    SELECT vec_a AS src, vec_b AS dst FROM vpairs
    UNION ALL
    SELECT vec_b AS src, vec_a AS dst FROM vpairs
),
vreach AS (
    SELECT vec_id AS vertex, vec_id AS label FROM embeddings
    UNION
    SELECT ed.src AS vertex, r.label
    FROM vedges ed JOIN vreach r ON ed.dst = r.vertex
),
labels AS (
    SELECT vertex AS vec_id, MIN(label) AS cluster_id
    FROM vreach GROUP BY vertex
)"""
)
_SEMANTIC_SQL = (
    _SEMANTIC_CLOSURE
    + """
SELECT vec_id, cluster_id FROM labels ORDER BY vec_id
"""
)
_SEMANTIC_EXEMPLARS_SQL = (
    _SEMANTIC_CLOSURE
    + """
SELECT cluster_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM labels GROUP BY cluster_id ORDER BY vec_id
"""
)

_ANN_BRUTE_SQL = (
    _E_CTE
    + f""",
q AS (
    SELECT vec_id AS query_id, v AS qv, n2 AS qn FROM e
    WHERE vec_id < {similarity.N_QUERIES}
),
scored AS (
    SELECT q.query_id, e.vec_id AS cand_id,
           {_sql_cos(VEC.sql_dot('q.qv', 'e.v'), 'q.qn', 'e.n2')} AS cos
    FROM q, e WHERE e.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, cand_id, cos,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos DESC, cand_id) AS BIGINT)
           AS "rank"
    FROM scored
)
SELECT query_id, cand_id, cos, "rank" FROM ranked WHERE "rank" <= {similarity.TOP_K}
"""
)

_ANN_IVF_SQL = (
    _E_CTE
    + f""",
cents AS (
    SELECT label AS cell,
           arg_min(v, vec_id) AS centv,
           arg_min(n2, vec_id) AS centn
    FROM e GROUP BY label
),
assigned AS (
    -- same selection the Spark side computes with max_by over a
    -- (sim, -cell) struct; DuckDB 1.0's arg_max can't order by
    -- structs, so the oracle states the semantics as a window
    SELECT vec_id, v, n2, cell FROM (
        SELECT e.vec_id, e.v, e.n2, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cos(VEC.sql_dot('e.v', 'c.centv'), 'e.n2', 'c.centn')} DESC,
                            c.cell) AS arn
        FROM e, cents c
    ) WHERE arn = 1
),
probes AS (
    SELECT query_id, qv, qn, cell FROM (
        SELECT a.vec_id AS query_id, a.v AS qv, a.n2 AS qn, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_sql_cos(VEC.sql_dot('a.v', 'c.centv'), 'a.n2', 'c.centn')} DESC,
                            c.cell) AS prn
        FROM assigned a, cents c
        WHERE a.vec_id < {similarity.N_QUERIES}
    ) WHERE prn <= {similarity.NPROBE}
),
scored AS (
    SELECT p.query_id, a.vec_id AS cand_id,
           {_sql_cos(VEC.sql_dot('p.qv', 'a.v'), 'p.qn', 'a.n2')} AS cos
    FROM probes p JOIN assigned a ON p.cell = a.cell
    WHERE a.vec_id <> p.query_id
),
ranked AS (
    SELECT query_id, cand_id, cos,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos DESC, cand_id) AS BIGINT)
           AS "rank"
    FROM scored
)
SELECT query_id, cand_id, cos, "rank" FROM ranked WHERE "rank" <= {similarity.TOP_K}
"""
)

# --- quantized-ANN oracle -------------------------------------------

from projet_etl_spark.operators import quantized  # noqa: E402


def _sql_qscale(v: str) -> str:
    return "greatest(" + ", ".join(
        f"abs({v}[{i}]::DOUBLE)" for i in range(1, VEC.DIM + 1)
    ) + ")"


def _sql_qcode(v: str, scale: str, i: int) -> str:
    return f"CAST(round({v}[{i}]::DOUBLE / {scale} * 127.0, 0) AS BIGINT)"


def _sql_qdot(a: str, sa: str, b: str, sb: str) -> str:
    return " + ".join(
        f"{_sql_qcode(a, sa, i)} * {_sql_qcode(b, sb, i)}"
        for i in range(1, VEC.DIM + 1)
    )


def _sql_qnorm2(a: str, sa: str) -> str:
    return " + ".join(
        f"{_sql_qcode(a, sa, i)} * {_sql_qcode(a, sa, i)}"
        for i in range(1, VEC.DIM + 1)
    )


_QANN_SQL = f"""
WITH base AS (
    SELECT vec_id, embedding AS v, {_sql_qscale("embedding")} AS s
    FROM embeddings
),
withn AS (
    SELECT vec_id, v, s, {_sql_qnorm2("v", "s")} AS qn2 FROM base
),
q AS (
    SELECT vec_id AS query_id, v AS qv, s AS qs, qn2 AS qn FROM withn
    WHERE vec_id < {quantized.N_QUERIES}
),
scored AS (
    SELECT q.query_id, w.vec_id AS cand_id,
           ROUND(({_sql_qdot("q.qv", "q.qs", "w.v", "w.s")})
                 / (sqrt(q.qn) * sqrt(w.qn2)), 6) AS cos_q
    FROM q, withn w WHERE w.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, cand_id, cos_q,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_q DESC, cand_id) AS BIGINT)
           AS "rank"
    FROM scored
)
SELECT query_id, cand_id, cos_q, "rank" FROM ranked WHERE "rank" <= {quantized.TOP_K}
"""

# per-label int8 cosine loss; cos is scale-invariant so the codes
# stand in for the dequantized vector, and the mixed double/integer
# folds associate identically in both engines
def _sql_qdot_mixed(v: str, scale: str) -> str:
    return " + ".join(
        f"{v}[{i}]::DOUBLE * {_sql_qcode(v, scale, i)}"
        for i in range(1, VEC.DIM + 1)
    )


_QERR_SQL = f"""
WITH base AS (
    SELECT label, embedding AS v, {_sql_qscale("embedding")} AS s
    FROM embeddings
),
err AS (
    SELECT CAST(label AS BIGINT) AS label,
           CAST(floor((1.0 - ({_sql_qdot_mixed("v", "s")})
                       / (sqrt({VEC.sql_norm2("v")})
                          * sqrt(CAST({_sql_qnorm2("v", "s")} AS DOUBLE))))
                      * 1e9 + 0.5) AS BIGINT) AS e
    FROM base
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(e) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_err_nano,
       CAST(MAX(e) AS BIGINT) AS max_err_nano
FROM err GROUP BY label ORDER BY label
"""

# --- text-stats oracles ---------------------------------------------


def _sql_count_in(tok_expr: str, words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({tok_expr}, x -> list_contains({arr}, x)))"


_TOKENS_HIST_SQL = f"""
WITH per_doc AS (
    SELECT len({_TOK}) AS n_tok FROM documents
)
SELECT CAST(n_tok // {textstats.HIST_BAND_TOKENS} AS BIGINT) AS band,
       CAST((n_tok // {textstats.HIST_BAND_TOKENS})
            * {textstats.HIST_BAND_TOKENS} AS BIGINT) AS lo_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM per_doc GROUP BY 1, 2 ORDER BY 1
"""

_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_obs,
       CAST(len({_TOK}) AS BIGINT) AS n_tokens
FROM documents
"""

_QUALITY_SQL = f"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_obs,
           CAST(len({_TOK}) AS BIGINT) AS n_tokens,
           length(text) / len({_TOK}) AS chars_per_token,
           (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
               / length(text) AS punct_ratio,
           {_sql_count_in(_TOK, textstats.STOPWORDS['en'])} / len({_TOK})
               AS stopword_ratio
    FROM documents
)
SELECT doc_id,
       n_tokens,
       ROUND(chars_per_token, 6) AS chars_per_token,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       ROUND(least(n_tokens / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.4 AS DOUBLE)
             + stopword_ratio * CAST(0.4 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE)
                - least(punct_ratio * CAST(10.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))
                 * CAST(0.2 AS DOUBLE), 6) AS quality
FROM base
"""

_LANG_HITS = ",\n           ".join(
    f"{_sql_count_in(_TOK, words)} AS hits_{lang}"
    for lang, words in textstats.STOPWORDS.items()
)
_LANG_GREATEST = "greatest(" + ", ".join(
    f"hits_{lang}" for lang in textstats.STOPWORDS
) + ")"

_LANG_ID_SQL = f"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text)
                - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))
                AS BIGINT) AS cjk_chars,
           {_LANG_HITS}
    FROM documents
)
SELECT doc_id, cjk_chars,
       CASE WHEN cjk_chars > 0 THEN 'zh'
            WHEN hits_en = {_LANG_GREATEST} THEN 'en'
            WHEN hits_es = {_LANG_GREATEST} THEN 'es'
            WHEN hits_de = {_LANG_GREATEST} THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM base
"""

# margin = best - second-best stopword hit count (exact ints); the
# pred CASE is _LANG_ID_SQL's, verbatim
_LANG_MARGIN_SQL = f"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text)
                - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))
                AS BIGINT) AS cjk_chars,
           {_LANG_HITS}
    FROM documents
),
scored AS (
    SELECT CASE WHEN cjk_chars > 0 THEN 'zh'
                WHEN hits_en = {_LANG_GREATEST} THEN 'en'
                WHEN hits_es = {_LANG_GREATEST} THEN 'es'
                WHEN hits_de = {_LANG_GREATEST} THEN 'de'
                ELSE 'fr' END AS pred_lang,
           list_sort([{", ".join(f"hits_{lang}" for lang in textstats.STOPWORDS)}])
               AS s
    FROM base
)
SELECT pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s[{len(textstats.STOPWORDS)}]
                       = s[{len(textstats.STOPWORDS) - 1}]
                THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_margin,
       ROUND(CAST(SUM(s[{len(textstats.STOPWORDS)}]
                      - s[{len(textstats.STOPWORDS) - 1}]) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_margin
FROM scored GROUP BY pred_lang ORDER BY pred_lang
"""

_FINGERPRINT_SQL = f"""
SELECT doc_id, md5({_NORM}) AS fp FROM documents
"""

_BPE_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{textstats.BPE_PATTERN}')) AS BIGINT)
           AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '{textstats.BPE_PATTERN}')))
           AS BIGINT) AS n_unique_bpe_tokens
FROM documents
"""

_ROLLING_HASH_SQL = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length({_NORM}) + 1),
                              i -> CAST(unicode(substr({_NORM}, i, 1)) AS BIGINT))),
           (acc, cp) -> (acc * {textstats.RH_BASE} + cp) % {textstats.RH_MOD}
       ) AS rolling_hash
FROM documents
"""

_DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM}) AS fp,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY md5({_NORM})
"""

# --- vocab / resampling oracles -------------------------------------

from projet_etl_spark.operators import bpe as _bpe  # noqa: E402
from projet_etl_spark.operators import vocab  # noqa: E402

_VOCAB_SQL = f"""
WITH tokd AS (
    SELECT doc_id, unnest(list_distinct({_TOK})) AS token FROM documents
),
counts AS (
    SELECT token, COUNT(*) AS doc_freq FROM tokd GROUP BY token
),
ranked AS (
    SELECT token, doc_freq,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token) AS BIGINT)
           AS "rank"
    FROM counts
)
SELECT token, doc_freq, "rank" FROM ranked
WHERE "rank" <= {vocab.VOCAB_K} ORDER BY "rank"
"""

# coverage integerized as exact milli-ratios; the ranked-vocab CTE is
# _VOCAB_SQL's, verbatim
_VOCAB_COVERAGE_SQL = f"""
WITH tokd AS (
    SELECT doc_id, unnest(list_distinct({_TOK})) AS token FROM documents
),
counts AS (
    SELECT token, COUNT(*) AS doc_freq FROM tokd GROUP BY token
),
ranked AS (
    SELECT token,
           ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token) AS r
    FROM counts
),
vocab AS (
    SELECT token FROM ranked WHERE r <= {vocab.COVERAGE_VOCAB_K}
),
occ AS (
    SELECT doc_id, unnest({_TOK}) AS token FROM documents
),
per_doc AS (
    SELECT o.doc_id,
           COUNT(*) AS n_tot,
           SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS n_in
    FROM occ o LEFT JOIN vocab v USING (token)
    GROUP BY o.doc_id
),
milli AS (
    SELECT ({vocab.COVERAGE_MILLI} * n_in) // n_tot AS cov_milli
    FROM per_doc
)
SELECT CAST(LEAST(cov_milli // {vocab.COVERAGE_MILLI // vocab.COVERAGE_BANDS},
                  {vocab.COVERAGE_BANDS - 1}) AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(cov_milli) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_cov_milli
FROM milli GROUP BY 1 ORDER BY 1
"""

_RESAMPLE_SQL = f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
quotas AS (
    SELECT lang,
           CAST(round(pow((SELECT MIN(n) FROM counts) / n,
                          {1.0 - 1.0 / vocab.TEMPERATURE}) * 100.0, 0) AS BIGINT)
               AS keep_pct
    FROM counts
)
SELECT d.doc_id, d.lang,
       (('0x' || substr(md5(d.text), 1, 15))::BIGINT % 100) AS bucket
FROM documents d JOIN quotas q ON d.lang = q.lang
WHERE (('0x' || substr(md5(d.text), 1, 15))::BIGINT % 100) < q.keep_pct
"""

# --- stats / reshaping oracles --------------------------------------

_PCTL_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95
FROM events
GROUP BY event_type
ORDER BY event_type
"""

_PIVOT_COLS = ",\n       ".join(
    f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS \"{t}\""
    for t in stats.EVENT_TYPES
)
_PIVOT_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       {_PIVOT_COLS}
FROM events
GROUP BY 1
ORDER BY day
"""

_BIGRAM_SQL = f"""
WITH staged AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
bigrams AS (
    SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                  i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM staged
),
counts AS (
    SELECT bigram, COUNT(*) AS n FROM bigrams GROUP BY bigram
),
ranked AS (
    SELECT bigram, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS BIGINT) AS "rank"
    FROM counts
)
SELECT bigram, n, "rank" FROM ranked WHERE "rank" <= {stats.BIGRAM_K}
ORDER BY "rank"
"""

# --- inference / funnel / retention oracles -------------------------

from projet_etl_spark.operators import funnel, inference  # noqa: E402

_SCORE_EXPR = " + ".join(
    f"embedding[{i}]::DOUBLE * CAST({inference.WEIGHTS[i - 1]!r} AS DOUBLE)"
    for i in range(1, VEC.DIM + 1)
)
_INFER_SQL = f"""
SELECT vec_id,
       ROUND(({_SCORE_EXPR}) + CAST({inference.BIAS!r} AS DOUBLE), 6) AS score,
       (ROUND(({_SCORE_EXPR}) + CAST({inference.BIAS!r} AS DOUBLE), 6) > 0)
           AS positive
FROM embeddings
"""

_SALTED_COUNTS_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""

from projet_etl_spark.operators import curation  # noqa: E402

_STRAT_SAMPLE_SQL = f"""
WITH ranked AS (
    SELECT doc_id, lang,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS draw_rank
    FROM documents
)
SELECT doc_id, lang, draw_rank FROM ranked
WHERE draw_rank <= {curation.SAMPLE_N_PER_LANG}
ORDER BY lang, draw_rank
"""

_TRANSITIONS_SQL = """
WITH steps AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM steps WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
totals AS (
    SELECT from_type, SUM(n) AS n_from FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type,
       CAST(c.n AS BIGINT) AS n,
       CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
FROM counts c JOIN totals t USING (from_type)
ORDER BY c.from_type, c.to_type
"""

_FUNNEL_SQL = """
WITH per_user AS (
    SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
    FROM events GROUP BY user_id
),
s1 AS (SELECT user_id, t_signup FROM per_user WHERE t_signup IS NOT NULL),
step2 AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts > s1.t_signup
    GROUP BY e.user_id
),
step3 AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN step2 ON e.user_id = step2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > step2.t_click
    GROUP BY e.user_id
)
SELECT * FROM (
    SELECT '1_signup' AS stage, (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT '2_click_after', (SELECT COUNT(*) FROM step2)
    UNION ALL
    SELECT '3_purchase_after', (SELECT COUNT(*) FROM step3)
) ORDER BY stage
"""

_RETENTION_SQL = """
WITH ev AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first_day AS (
    SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(ev.day - f.cohort_day AS BIGINT) AS day_offset,
       COUNT(DISTINCT ev.user_id) AS n_users
FROM ev JOIN first_day f ON ev.user_id = f.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""

# --- star join / window-frame / tf-idf oracles ----------------------

from projet_etl_spark.operators import retrieval, star  # noqa: E402
from projet_etl_spark.params import DEFAULTS as _P2  # noqa: E402

_Q5_SQL = f"""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{star.REGION}'
  AND CAST(o_orderdate AS DATE)
      BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

_MOVING_AVG_SQL = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type, day, n,
       AVG(n) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS avg_7d,
       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cume_n
FROM daily
ORDER BY event_type, day
"""

_TFIDF_SQL = f"""
WITH terms AS (
    SELECT doc_id, lang, unnest({TX.SQL_TOKENS.format(col="text")}) AS token
    FROM documents
),
tf AS (SELECT lang, token, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT lang, tf.token,
           ROUND(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
               AS tfidf
    FROM tf JOIN df ON tf.token = df.token, n
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
    FROM scored
)
SELECT lang, token, tfidf, rnk FROM ranked
WHERE rnk <= {textstats.TFIDF_K}
ORDER BY lang, rnk
"""

_DOMINANT_SQL = """
WITH per_ps AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
    FROM lineitem GROUP BY 1, 2
),
per_part AS (
    SELECT l_partkey, SUM(q) AS total_q, MAX(q) AS max_q
    FROM per_ps GROUP BY 1
)
SELECT p_brand,
       COUNT(*) AS n_parts,
       CAST(SUM(CASE WHEN max_q * 2 >= total_q THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dominated,
       round(CAST(SUM(max_q) AS DOUBLE)
             / CAST(SUM(total_q) AS DOUBLE), 6) AS top_share
FROM per_part JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""

_Q7_SQL = f"""
WITH nations AS (
    SELECT n_nationkey, n_name FROM nation
    WHERE n_name IN ('{star.VOLUME_NATION_A}', '{star.VOLUME_NATION_B}')
)
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nations sn ON s_nationkey = sn.n_nationkey
JOIN nations cn ON c_nationkey = cn.n_nationkey
WHERE CAST(l_shipdate AS DATE)
      BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

_Q15_SQL = f"""
WITH per_supp AS (
    SELECT l_suppkey,
           SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,4))) AS rev_dec
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE)
          BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
    GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM per_supp)
ORDER BY s_suppkey
"""

_Q17_SQL = f"""
WITH li AS (
    SELECT l_partkey, l_quantity, l_extendedprice
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = '{star.SMALL_ORDER_BRAND}'
),
per_part AS (
    SELECT l_partkey AS t_partkey,
           {star.SMALL_ORDER_FRAC!r}
           * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
              / COUNT(*)) AS qty_threshold
    FROM li GROUP BY 1
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
           AS avg_yearly,
       COUNT(*) AS n_items
FROM li JOIN per_part ON l_partkey = t_partkey
WHERE l_quantity < qty_threshold
"""

_Q22_SQL = f"""
WITH pos_avg AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*) AS avg_bal
    FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
           AS total_acctbal
FROM customer, pos_avg
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '{_P2["as_of"]}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_Q3_SQL = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '{_P2["fin"]}'
  AND CAST(l_shipdate AS DATE) > DATE '{_P2["fin"]}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

_CORR_SQL = """
WITH m AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4)))
                AS DOUBLE) AS sxy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4)))
                AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4)))
                AS DOUBLE) AS syy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       (n * sxy - sx * sy)
           / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price
FROM m ORDER BY l_returnflag
"""

# --- corpus-pipeline oracle -----------------------------------------

_CORPUS_SQL = f"""
WITH scored AS (
    SELECT doc_id, lang,
           md5({_NORM}) AS fp,
           CAST(len({_TOK}) AS BIGINT) AS n_tokens,
           least(len({_TOK}) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
               * CAST(0.4 AS DOUBLE)
           + ({_sql_count_in(_TOK, textstats.STOPWORDS['en'])} / len({_TOK}))
               * CAST(0.4 AS DOUBLE)
           + (CAST(1.0 AS DOUBLE)
              - least(((length(text)
                        - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                       / length(text)) * CAST(10.0 AS DOUBLE),
                      CAST(1.0 AS DOUBLE)))
               * CAST(0.2 AS DOUBLE) AS quality
    FROM documents
),
filtered AS (
    SELECT * FROM scored WHERE quality >= {{cutoff}}
),
keep AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM filtered
    ) WHERE rn = 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(quality), 6) AS avg_quality
FROM keep
GROUP BY lang
ORDER BY lang
"""

# --- curation oracles -----------------------------------------------

from projet_etl_spark.operators import curation  # noqa: E402

_PII_DENSITY_SQL = f"""
WITH per_doc AS (
    SELECT lang,
           len(regexp_extract_all(text, '{curation.EMAIL_RE}'))
             + len(regexp_extract_all(text, '{curation.URL_RE}'))
             + len(regexp_extract_all(text, '{curation.LONG_DIGITS_RE}'))
               AS n_pii,
           len({_TOK}) AS n_tok
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_pii) AS BIGINT) AS n_pii,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(n_pii) AS DOUBLE) * 1000.0
             / CAST(SUM(n_tok) AS DOUBLE), 6) AS pii_per_kilotoken
FROM per_doc GROUP BY lang ORDER BY lang
"""

_SCRUB_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{curation.EMAIL_RE}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(text, '{curation.URL_RE}')) AS BIGINT)
           AS n_urls,
       CAST(len(regexp_extract_all(text, '{curation.LONG_DIGITS_RE}')) AS BIGINT)
           AS n_long_digits,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
                '{curation.EMAIL_RE}', '<EMAIL>', 'g'),
                '{curation.URL_RE}', '<URL>', 'g'),
                '{curation.LONG_DIGITS_RE}', '<NUM>', 'g')) AS BIGINT)
           AS scrubbed_chars,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
                '{curation.EMAIL_RE}', '<EMAIL>', 'g'),
                '{curation.URL_RE}', '<URL>', 'g'),
                '{curation.LONG_DIGITS_RE}', '<NUM>', 'g'))
           AS scrubbed_fp
FROM documents
"""

_CHUNK_STRIDE = curation.CHUNK_SIZE - curation.CHUNK_OVERLAP
_CHUNKS_SQL = f"""
WITH staged AS (
    SELECT doc_id, {_TOK} AS t, len({_TOK}) AS n FROM documents
),
exploded AS (
    SELECT doc_id, t, n,
           unnest(generate_series(0,
               CAST(greatest(floor((n - {curation.CHUNK_OVERLAP + 1})
                                   / {_CHUNK_STRIDE}), 0) AS BIGINT)
                   * {_CHUNK_STRIDE},
               {_CHUNK_STRIDE})) AS start
    FROM staged
)
SELECT doc_id,
       CAST(start / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_tok,
       CAST(len(list_slice(t, start + 1, start + {curation.CHUNK_SIZE})) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(list_slice(t, start + 1, start + {curation.CHUNK_SIZE}),
                           ' ')) AS chunk_fp
FROM exploded
"""

_SAMPLE_SQL = f"""
SELECT doc_id,
       (('0x' || substr(md5(text), 1, 15))::BIGINT % 100) AS bucket
FROM documents
WHERE (('0x' || substr(md5(text), 1, 15))::BIGINT % 100) < {curation.SAMPLE_PCT}
"""

# --- events-window oracles ------------------------------------------

_TUMBLING_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

# each event belongs to the two 1h windows starting at
# floor30(ts) and floor30(ts) - 30min
_SLIDING_SQL = """
WITH starts AS (
    SELECT event_type,
           unnest([make_timestamp(epoch_us(ts) // 1800000000 * 1800000000),
                   make_timestamp(epoch_us(ts) // 1800000000 * 1800000000 - 1800000000)])
               AS ws
    FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM starts
GROUP BY 1, 2
ORDER BY 1, 2
"""

_SESSION_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN epoch_us(ts)
                     - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                     > {events_windows.SESSION_GAP_MIN} * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
numbered AS (
    SELECT *, CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_no
    FROM flagged
)
SELECT user_id, session_no,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""

# --- OLAP-surface oracles -------------------------------------------

from projet_etl_spark.params import DEFAULTS as _DEFAULTS  # noqa: E402
from projet_etl_spark.sources.tables import ORACLE_VIEWS as _VIEWS  # noqa: E402

_ROLLUP_SQL = (
    _VIEWS
    + """
SELECT catid, fabid,
       COUNT(*) AS n_ventes,
       COUNT(DISTINCT prodid) AS n_produits,
       CAST(GROUPING(catid, fabid) AS BIGINT) AS gid
FROM points_de_vente
GROUP BY ROLLUP (catid, fabid)
"""
)

_CUBE_SQL = (
    _VIEWS
    + """
SELECT catid, fabid,
       COUNT(*) AS n_ventes,
       CAST(GROUPING(catid, fabid) AS BIGINT) AS gid
FROM points_de_vente
GROUP BY CUBE (catid, fabid)
"""
)

_EXCEPT_SQL = (
    _VIEWS
    + f"""
SELECT magid FROM points_de_vente
EXCEPT
SELECT magid FROM points_de_vente WHERE catid = '{_DEFAULTS["cat_id"]}'
ORDER BY magid
"""
)

_TOP3_SQL = (
    _VIEWS
    + """,
counts AS (
    SELECT catid, magid, COUNT(*) AS n_ventes
    FROM points_de_vente GROUP BY catid, magid
)
SELECT catid, magid, n_ventes, rnk FROM (
    SELECT catid, magid, n_ventes,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY catid ORDER BY n_ventes DESC, magid) AS BIGINT) AS rnk
    FROM counts
) WHERE rnk <= 3
ORDER BY catid, rnk
"""
)

# --- interval-join oracle -------------------------------------------

_ATTRIBUTION_SQL = """
WITH c AS (
    SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts,
           value AS amount
    FROM events WHERE event_type = 'purchase'
)
SELECT c_user AS user_id, click_id, purchase_id,
       ROUND(amount, 6) AS amount,
       (epoch_us(purchase_ts) - epoch_us(click_ts)) AS latency_us
FROM c JOIN p
  ON c_user = p_user
 AND purchase_ts > click_ts
 AND purchase_ts <= click_ts + INTERVAL 30 MINUTE
"""

# --- range-join oracle ----------------------------------------------

from projet_etl_spark.operators import rangejoin  # noqa: E402

_BAND_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in rangejoin.BANDS)
_RANGE_SQL = f"""
WITH bands(band, lo, hi) AS (VALUES {_BAND_VALUES})
SELECT band,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY band
ORDER BY band
"""

# --- as-of join oracle ----------------------------------------------

_ASOF_SQL = """
WITH cd AS (
    SELECT user_id, ts, MAX(event_id) AS click_id
    FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (
    SELECT user_id, event_id AS purchase_id, ts
    FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.purchase_id,
       cd.click_id AS asof_click_id,
       (epoch_us(p.ts) - epoch_us(cd.ts)) AS asof_latency_us
FROM p ASOF LEFT JOIN cd
  ON p.user_id = cd.user_id AND cd.ts <= p.ts
"""

# --- multimodal oracle ----------------------------------------------

_MULTIMODAL_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       upper(substr(hex(encode(text)), 1, 16)) AS head_hex
FROM documents
"""

_FRAME_SQL = f"""
WITH f AS (
    SELECT doc_id, text,
           CAST(ceil(length(text) / {multimodal.N_FRAMES}.0) AS BIGINT) AS stride
    FROM documents
),
frames AS (
    SELECT doc_id, i AS frame_idx,
           substr(text, i * stride + 1, stride) AS chunk
    FROM f, (VALUES {", ".join(f"({i})" for i in range(multimodal.N_FRAMES))}) v(i)
    WHERE length(substr(text, i * stride + 1, stride)) > 0
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(length(chunk) AS BIGINT) AS frame_chars,
       md5(chunk) AS frame_fp
FROM frames
"""


# TPC-H Q4 shape: EXISTS semi-join with a cross-table inequality
_Q4_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders
WHERE CAST(o_orderdate AS DATE)
      BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND CAST(l_shipdate AS DATE)
          > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# TPC-H Q13 shape: outer-join count distribution including the zero
# bucket (the order filter sits before the join, not in a WHERE after
# it — a WHERE would turn the outer join inner and drop the zeros)
_Q13_SQL = f"""
WITH filtered AS (
    SELECT o_custkey FROM orders
    WHERE CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
),
per_cust AS (
    SELECT c_custkey, COUNT(o_custkey) AS n_orders
    FROM customer LEFT JOIN filtered ON c_custkey = o_custkey
    GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""

# cross-document duplicated 5-grams (substring-dedup audit)
_CROSSDOC_SQL = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
grams AS (
    SELECT doc_id,
           unnest({TX.sql_shingles_k("t", textstats.CROSS_DOC_K)}) AS gram
    FROM tok
),
freq AS (SELECT gram, COUNT(*) AS n_docs FROM grams GROUP BY gram),
per_doc AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams
    FROM grams JOIN freq USING (gram)
    GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
       CAST(COALESCE(p.n_dup_grams, 0) AS DOUBLE)
           / CAST(COALESCE(p.n_grams, 0) AS DOUBLE) AS dup_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""

# sliding exact distinct actives: DAU / trailing-7-day WAU per day
_ROLLING_SQL = f"""
WITH ud AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
base AS (
    SELECT d.day,
           (SELECT COUNT(DISTINCT user_id) FROM ud WHERE ud.day = d.day)
               AS dau,
           (SELECT COUNT(DISTINCT user_id) FROM ud u
            WHERE u.day BETWEEN d.day - {events_windows.ROLLING_DAYS - 1}
                            AND d.day) AS wau
    FROM (SELECT DISTINCT day FROM ud) d
)
SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
       CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
FROM base
ORDER BY day
"""

# correlated scalar subquery (decorrelated): orders above their own
# customer's average order value, rolled up per market segment
_ABOVE_AVG_SQL = f"""
WITH o AS (
    SELECT o_custkey, o_totalprice FROM orders
    WHERE CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
),
a AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS cavg
    FROM o GROUP BY o_custkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_totalprice > cavg THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above,
       CAST(SUM(CASE WHEN o_totalprice > cavg THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS above_frac
FROM o
JOIN a USING (o_custkey)
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

# relational division: suppliers covering EVERY brand in the window
_DIVISION_SQL = f"""
WITH sb AS (
    SELECT DISTINCT l_suppkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE CAST(l_shipdate AS DATE)
          BETWEEN DATE '{star.COVERAGE_WINDOW[0]}'
              AND DATE '{star.COVERAGE_WINDOW[1]}'
)
SELECT l_suppkey, CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
FROM sb
GROUP BY l_suppkey
HAVING COUNT(DISTINCT p_brand) = (SELECT COUNT(DISTINCT p_brand) FROM part)
ORDER BY l_suppkey
"""

# maximal shared token spans per doc pair (substring-level dedup):
# runs of adjacent shared 5-grams merged on alignment diagonals
_SPAN_GRAM = " || ' ' || ".join(
    f"t[pos+{j}]" if j else "t[pos]" for j in range(textstats.CROSS_DOC_K)
)
_SPAN_SQL = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
pg AS (
    SELECT doc_id, unnest(range(1, len(t) - {textstats.CROSS_DOC_K - 2})) AS pos, t
    FROM tok WHERE len(t) >= {textstats.CROSS_DOC_K}
),
g AS (
    SELECT doc_id, pos, {_SPAN_GRAM} AS gram FROM pg
),
seeds AS (
    SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram
    ) WHERE df >= 2 AND df <= {textstats.SPAN_DF_CAP}
),
kept AS (
    SELECT g.doc_id, g.pos, g.gram FROM g JOIN seeds USING (gram)
),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, a.pos - b.pos AS diag
    FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
isl AS (
    SELECT doc_a, doc_b, diag,
           pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
    FROM p
),
spans AS (
    SELECT doc_a, doc_b, COUNT(*) + {textstats.CROSS_DOC_K - 1} AS span_tokens
    FROM isl GROUP BY doc_a, doc_b, diag, isl
)
SELECT doc_a, doc_b,
       CAST(MAX(span_tokens) AS BIGINT) AS longest_span_tokens,
       CAST(SUM(CASE WHEN span_tokens >= {textstats.MIN_SPAN_TOKENS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
FROM spans
GROUP BY doc_a, doc_b
HAVING MAX(span_tokens) >= {textstats.MIN_SPAN_TOKENS}
ORDER BY doc_a, doc_b
"""

# per-doc Shannon entropy of the token distribution
_ENTROPY_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOK}) AS tok FROM documents
),
counts AS (
    SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_unique_tokens,
       ROUND(log2(CAST(SUM(c) AS DOUBLE))
             - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
               / CAST(SUM(c) AS DOUBLE),
             6) AS entropy_bits
FROM counts
GROUP BY doc_id
ORDER BY doc_id
"""


# k-means oracle: the fixed-point Lloyd iteration replayed as a CTE
# chain — every quantity is exact BIGINT (see operators/kmeans.py),
# so K x ITERS of assignment/update CTEs reproduce the Spark result
# bit-for-bit, empty-cluster and tie-break semantics included.
def _kmeans_sql(k: int, iters: int, scale: int) -> str:
    half_up = (
        "CASE WHEN u.s >= 0 THEN (2*u.s + u.n) // (2*u.n) "
        "ELSE -((-2*u.s + u.n) // (2*u.n)) END"
    )
    ctes = [
        f"""xv AS (
    SELECT vec_id, pos,
           CAST(floor(CAST(v[pos] AS DOUBLE) * {scale}.0 + 0.5) AS BIGINT) AS x
    FROM (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
                 embedding AS v
          FROM embeddings)
)""",
        f"""init AS (
    SELECT vec_id,
           CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
    FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
)""",
        """c0 AS (
    SELECT i.cluster, q.pos, q.x AS c FROM init i JOIN xv q USING (vec_id)
)""",
    ]
    for t in range(1, iters + 1):
        ctes += [
            f"""d{t} AS (
    SELECT q.vec_id, c.cluster, SUM((q.x - c.c) * (q.x - c.c)) AS d
    FROM xv q JOIN c{t - 1} c ON q.pos = c.pos
    GROUP BY q.vec_id, c.cluster
)""",
            f"""a{t} AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM d{t}) WHERE rn = 1
)""",
            f"""u{t} AS (
    SELECT a.cluster, q.pos, SUM(q.x) AS s, COUNT(*) AS n
    FROM a{t} a JOIN xv q USING (vec_id)
    GROUP BY a.cluster, q.pos
)""",
            f"""c{t} AS (
    SELECT p.cluster, p.pos, COALESCE({half_up}, p.c) AS c
    FROM c{t - 1} p LEFT JOIN u{t} u
      ON p.cluster = u.cluster AND p.pos = u.pos
)""",
        ]
    ctes.append(
        f"""df AS (
    SELECT q.vec_id, c.cluster, SUM((q.x - c.c) * (q.x - c.c)) AS d
    FROM xv q JOIN c{iters} c ON q.pos = c.pos
    GROUP BY q.vec_id, c.cluster
)"""
    )
    ctes.append(
        """af AS (
    SELECT vec_id, cluster, d FROM (
        SELECT vec_id, cluster, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM df) WHERE rn = 1
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(d) AS BIGINT) AS sum_dist2,
       CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_dist2
FROM af
GROUP BY cluster
ORDER BY cluster
"""
    )


_KMEANS_SQL = _kmeans_sql(kmeans.K_CLUSTERS, kmeans.KMEANS_ITERS, kmeans.KMEANS_SCALE)


# fastText-style hashed-feature linear quality model: both twins
# (pandas / JVM) share this oracle — the logit is an exact BIGINT
# sum of md5-derived integer milli-weights, so the score is
# bit-equal across Spark, Python hashlib, and DuckDB
_QM_BUCKET = f"({_H30_OF.format(col='feat')} % {quality_model.N_BUCKETS})"
_QM_SALTED = f"('w#' || CAST({_QM_BUCKET} AS VARCHAR))"
_QM_WEIGHT = (
    f"({_H30_OF.format(col=_QM_SALTED)}"
    f" % {2 * quality_model.W_SPAN + 1}) - {quality_model.W_SPAN}"
)
_QMODEL_SQL = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
feats AS (
    SELECT doc_id,
           unnest(list_concat(
               list_transform(t, x -> 'u#' || x),
               list_transform(range(1, len(t)),
                              i -> 'b#' || t[i] || ' ' || t[i+1])
           )) AS feat
    FROM tok
),
w AS (
    SELECT doc_id, {_QM_WEIGHT} AS w FROM feats
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(w) AS BIGINT) AS logit_milli,
       CAST(SUM(w) AS DOUBLE)
           / CAST(COUNT(*) * {quality_model.W_SPAN} AS DOUBLE) AS score,
       SUM(w) > 0 AS keep
FROM w
GROUP BY doc_id
ORDER BY doc_id
"""


# approximation-audit twins: measured recall of the pruned/banded
# paths against their exact baselines, stated by nesting the two
# existing full queries as CTE subqueries (DuckDB scopes their inner
# WITHs) and joining the results
_IVF_RECALL_SQL = f"""
WITH brute AS ({_ANN_BRUTE_SQL}),
ivf AS ({_ANN_IVF_SQL})
SELECT b.query_id,
       CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / {float(similarity.TOP_K)} AS recall
FROM brute b
LEFT JOIN ivf i ON b.query_id = i.query_id AND b.cand_id = i.cand_id
GROUP BY b.query_id
ORDER BY b.query_id
"""

_LSH_RECALL_SQL = f"""
WITH exact_pairs AS ({_NGRAM_SQL}),
lsh AS ({_MINHASH_SQL})
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_found,
       CAST(SUM(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS recall
FROM exact_pairs e
LEFT JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
"""

# end-to-end clean-corpus budget: near-dedup canonical reps ∩ model
# keepers ∖ contaminated, replayed as ONE recursive statement over
# the shared minhash CTEs (tok is reused by the quality and 5-gram
# stages — same tokenization by construction)
# shared hygiene-chain CTE prefix: near-dedup canonical ∩ model keep
# ∖ contaminated, eval docs excluded → survivors(doc_id, lang, n_tok)
_SURVIVOR_CTES = (
    _RECURSIVE_MINHASH_CTES
    + f""",
cpairs AS (
    SELECT doc_a, doc_b FROM jac WHERE jaccard >= {dedup.JACCARD_THRESHOLD}
),
cedges AS (
    SELECT doc_a AS src, doc_b AS dst FROM cpairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM cpairs
),
creach AS (
    SELECT doc_id AS vertex, doc_id AS label FROM documents
    UNION
    SELECT e.src AS vertex, r.label
    FROM cedges e JOIN creach r ON e.dst = r.vertex
),
reps AS (
    SELECT vertex AS doc_id FROM creach
    GROUP BY vertex HAVING vertex = MIN(label)
),
qfeats AS (
    SELECT doc_id,
           unnest(list_concat(
               list_transform(t, x -> 'u#' || x),
               list_transform(range(1, len(t)),
                              i -> 'b#' || t[i] || ' ' || t[i+1])
           )) AS feat
    FROM tok
),
qw AS (
    SELECT doc_id, {_QM_WEIGHT} AS w FROM qfeats
),
keepers AS (
    SELECT doc_id FROM qw GROUP BY doc_id HAVING SUM(w) > 0
),
g5 AS (
    SELECT doc_id, unnest({TX.sql_shingles_k("t", decontam.CONTAM_K)}) AS s5
    FROM tok
),
ev5 AS (
    SELECT DISTINCT s5 FROM g5 WHERE doc_id < {decontam.EVAL_DOCS}
),
contam AS (
    SELECT DISTINCT doc_id FROM g5
    WHERE doc_id >= {decontam.EVAL_DOCS}
      AND s5 IN (SELECT s5 FROM ev5)
),
survivors AS (
    SELECT d.doc_id, d.lang, len({_TOK.replace("text", "d.text")}) AS n_tok
    FROM documents d
    JOIN reps USING (doc_id)
    JOIN keepers USING (doc_id)
    WHERE d.doc_id >= {decontam.EVAL_DOCS}
      AND d.doc_id NOT IN (SELECT doc_id FROM contam)
)"""
)

_CLEAN_CORPUS_SQL = (
    _SURVIVOR_CTES
    + """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM survivors GROUP BY lang ORDER BY lang
"""
)

# hygiene-funnel: one flags pass + nested conditional sums, then a
# 5-row unpivot — stage sets are the survivor CTEs' own relations
_SURVIVORSHIP_SQL = (
    _SURVIVOR_CTES
    + f""",
flags AS (
    SELECT d.doc_id >= {decontam.EVAL_DOCS} AS noneval,
           r.doc_id IS NOT NULL AS is_rep,
           k.doc_id IS NOT NULL AS is_keep,
           c.doc_id IS NOT NULL AS is_contam
    FROM documents d
    LEFT JOIN reps r ON d.doc_id = r.doc_id
    LEFT JOIN keepers k ON d.doc_id = k.doc_id
    LEFT JOIN contam c ON d.doc_id = c.doc_id
),
agg AS (
    SELECT COUNT(*) AS raw,
           SUM(CASE WHEN noneval THEN 1 ELSE 0 END) AS s1,
           SUM(CASE WHEN noneval AND is_rep THEN 1 ELSE 0 END) AS s2,
           SUM(CASE WHEN noneval AND is_rep AND is_keep
                    THEN 1 ELSE 0 END) AS s3,
           SUM(CASE WHEN noneval AND is_rep AND is_keep AND NOT is_contam
                    THEN 1 ELSE 0 END) AS s4
    FROM flags
),
nz AS (
    SELECT * FROM agg WHERE raw > 0
),
stages AS (
              SELECT 0 AS stage_ord, 'raw' AS stage, raw AS n_docs, raw FROM nz
    UNION ALL SELECT 1, 'eval-excluded', s1, raw FROM nz
    UNION ALL SELECT 2, 'dedup-canonical', s2, raw FROM nz
    UNION ALL SELECT 3, 'model-keep', s3, raw FROM nz
    UNION ALL SELECT 4, 'decontaminated', s4, raw FROM nz
)
SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
       CAST(n_docs AS BIGINT) AS n_docs,
       ROUND(CAST(n_docs AS DOUBLE) * 100.0 / CAST(raw AS DOUBLE), 6)
           AS retained_pct
FROM stages ORDER BY stage_ord
"""
)

# survivors → pack-sequences layout → (shard, pack) manifest
_EXPORT_SQL = (
    _SURVIVOR_CTES
    + f""",
sharded AS (
    SELECT doc_id, n_tok,
           ({TX.SQL_HASH60.format(col="CAST(doc_id AS VARCHAR)")}
            % {packing.N_SHARDS}) AS shard
    FROM survivors
),
started AS (
    SELECT shard, doc_id, n_tok,
           CAST(SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tok AS BIGINT) AS start_tok
    FROM sharded
)
SELECT shard,
       start_tok // {packing.PACK_BUDGET} AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM started
GROUP BY shard, pack_id
ORDER BY shard, pack_id
"""
)

# count-min sketch heavy-hitters audit: the sketch cells are built
# from the portable md5 hash, so the whole sketch is oracle-exact
_CMS_ROW_VALUES = ", ".join(f"({r})" for r in range(sketches.CMS_ROWS))


def _cms_bucket_sql(r: str, tok: str) -> str:
    return (
        f"({_H30_OF.format(col=f'(CAST({r} AS VARCHAR) || chr(35) || {tok})')}"
        f" % {sketches.CMS_WIDTH})"
    )


_CMS_SQL = f"""
WITH toks AS (
    SELECT unnest({_TOK}) AS tok FROM documents
),
occ AS (
    SELECT tok, v.r FROM toks, (VALUES {_CMS_ROW_VALUES}) v(r)
),
cells AS (
    SELECT r, {_cms_bucket_sql('r', 'tok')} AS bucket, COUNT(*) AS c
    FROM occ GROUP BY 1, 2
),
exact AS (
    SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok
),
topk AS (
    SELECT tok, exact_n FROM exact
    ORDER BY exact_n DESC, tok LIMIT {sketches.CMS_TOP_K}
),
probes AS (
    SELECT tok, exact_n, v.r AS r,
           {_cms_bucket_sql('v.r', 'tok')} AS bucket
    FROM topk, (VALUES {_CMS_ROW_VALUES}) v(r)
),
est AS (
    SELECT p.tok, p.exact_n, MIN(c.c) AS cms_n
    FROM probes p JOIN cells c USING (r, bucket)
    GROUP BY p.tok, p.exact_n
)
SELECT tok,
       CAST(exact_n AS BIGINT) AS exact_n,
       CAST(cms_n AS BIGINT) AS cms_n,
       CAST(cms_n - exact_n AS BIGINT) AS overcount
FROM est
ORDER BY exact_n DESC, tok
"""

# Bloom-filter decontamination: fixed-size filter of the eval grams,
# per-doc bloom/exact/false-positive accounting
_BLOOM_HASH_VALUES = ", ".join(f"({i})" for i in range(decontam.BLOOM_HASHES))


def _bloom_bit_sql(i: str, s: str) -> str:
    return (
        f"({_H30_OF.format(col=f'(CAST({i} AS VARCHAR) || chr(35) || {s})')}"
        f" % {decontam.BLOOM_BITS})"
    )


_BLOOM_SQL = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
sh AS (
    SELECT doc_id, unnest({TX.sql_shingles_k("t", decontam.CONTAM_K)}) AS s
    FROM tok
),
ev AS (
    SELECT DISTINCT s FROM sh WHERE doc_id < {decontam.EVAL_DOCS}
),
bits AS (
    SELECT DISTINCT {_bloom_bit_sql('v.i', 's')} AS bit
    FROM ev, (VALUES {_BLOOM_HASH_VALUES}) v(i)
),
train AS (
    SELECT doc_id, s FROM sh WHERE doc_id >= {decontam.EVAL_DOCS}
),
probes AS (
    SELECT doc_id, s, {_bloom_bit_sql('v.i', 's')} AS bit
    FROM train, (VALUES {_BLOOM_HASH_VALUES}) v(i)
),
bloom_pos AS (
    SELECT doc_id, s
    FROM probes JOIN bits USING (bit)
    GROUP BY doc_id, s
    HAVING COUNT(*) = {decontam.BLOOM_HASHES}
),
bloom_doc AS (
    SELECT doc_id, COUNT(*) AS n_bloom_hits FROM bloom_pos GROUP BY doc_id
),
exact_doc AS (
    SELECT doc_id, COUNT(*) AS n_exact_hits
    FROM train JOIN ev USING (s)
    GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_bloom_hits AS BIGINT) AS n_bloom_hits,
       CAST(COALESCE(e.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
       CAST(b.n_bloom_hits - COALESCE(e.n_exact_hits, 0) AS BIGINT)
           AS n_false_pos
FROM bloom_doc b LEFT JOIN exact_doc e USING (doc_id)
ORDER BY b.doc_id
"""

# token budget per (lang, keep) stratum after the quality model's cut
_BUDGET_SQL = f"""
WITH verdict AS (
{_QMODEL_SQL.replace("ORDER BY doc_id", "")}
)
SELECT d.lang, v.keep,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_TOK.replace("text", "d.text")})) AS BIGINT) AS n_tokens
FROM documents d JOIN verdict v ON d.doc_id = v.doc_id
GROUP BY d.lang, v.keep
ORDER BY d.lang, v.keep
"""


# --- round-5b additions ---------------------------------------------

# incremental dedup: raw-content hash partitions the corpus into an
# "incoming batch" (first INCREMENTAL_PCT buckets) and the existing
# store; dedup flags come from the NORMALIZED fingerprint.
_INCR_BUCKET = "(('0x' || substr(md5(text), 1, 15))::BIGINT % 100)"
_INCREMENTAL_SQL = f"""
WITH fps AS (
    SELECT doc_id, md5({_NORM}) AS fp, {_INCR_BUCKET} AS bucket FROM documents
),
incoming AS (
    SELECT doc_id, fp FROM fps WHERE bucket < {dedup.INCREMENTAL_PCT}
),
store AS (
    SELECT DISTINCT fp FROM fps WHERE bucket >= {dedup.INCREMENTAL_PCT}
),
flagged AS (
    SELECT i.doc_id, i.fp,
           CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_of_corpus,
           CASE WHEN row_number() OVER (PARTITION BY i.fp ORDER BY i.doc_id) > 1
                THEN 1 ELSE 0 END AS dup_in_batch
    FROM incoming i LEFT JOIN store s ON i.fp = s.fp
)
SELECT doc_id, fp,
       CAST(dup_of_corpus AS BIGINT) AS dup_of_corpus,
       CAST(dup_in_batch AS BIGINT) AS dup_in_batch,
       CAST(CASE WHEN dup_of_corpus = 0 AND dup_in_batch = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS keep
FROM flagged
"""

# Efraimidis–Spirakis A-ES weighted sample: same hash → uniform →
# -ln(u)/w key as curation.q_sample_weighted_n.
_WSAMPLE_U = (
    f"(((('0x' || substr(md5(text), 1, 15))::BIGINT % {TX.H30_MOD}) + 1)"
    f" / {float(TX.H30_MOD)})"
)
_WSAMPLE_SQL = f"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       round(-ln({_WSAMPLE_U}) / greatest(n_chars, 1), 9) AS skey
FROM documents
ORDER BY skey ASC, doc_id ASC
LIMIT {curation.SAMPLE_W_N}
"""

# capped-vocabulary unigram LM score (ln(tf/N), OOV floor ln(1/N))
_LM_SQL = f"""
WITH terms AS (
    SELECT doc_id, unnest({_TOK}) AS token FROM documents
),
freq AS (SELECT token, COUNT(*) AS tf FROM terms GROUP BY token),
vocab AS (
    SELECT token, tf FROM freq ORDER BY tf DESC, token ASC
    LIMIT {textstats.LM_VOCAB_K}
),
total AS (SELECT COUNT(*) AS n_total FROM terms),
scored AS (
    SELECT t.doc_id,
           coalesce(ln(v.tf / tot.n_total), ln(1.0 / tot.n_total)) AS lp
    FROM terms t
    LEFT JOIN vocab v ON t.token = v.token
    CROSS JOIN total tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(avg(lp), 6) AS avg_logprob
FROM scored
GROUP BY doc_id
"""

# dense day spine, zero-filled counts, last-observation carried forward
_GAPFILL_SQL = """
WITH daily AS (
    SELECT event_type, ts::DATE AS d,
           COUNT(*) AS n_obs,
           round(avg(value), 6) AS avg_val
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
spine AS (
    SELECT t.event_type,
           unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS d
    FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
)
SELECT s.event_type,
       strftime(s.d, '%Y-%m-%d') AS day,
       CAST(coalesce(dd.n_obs, 0) AS BIGINT) AS n,
       CAST(CASE WHEN dd.n_obs IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
       last_value(dd.avg_val IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
FROM spine s LEFT JOIN daily dd ON s.event_type = dd.event_type AND s.d = dd.d
ORDER BY 1, 2
"""

_Q18_SQL = f"""
WITH big AS (
    SELECT l_orderkey, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(l_quantity) > {star.LARGE_ORDER_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT {star.LARGE_ORDER_TOPN}
"""

_DECILE_BOUNDS = ",\n        ".join(
    f"MIN(CASE WHEN cum >= ({i} * n + 9) // 10 THEN spend END)" for i in range(1, 10)
)
_DECILES_SQL = f"""
WITH spend AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS spend
    FROM orders GROUP BY o_custkey
),
dist AS (
    SELECT spend, COUNT(*) AS c FROM spend GROUP BY spend
),
cum AS (
    SELECT spend, SUM(c) OVER (ORDER BY spend) AS cum FROM dist
),
n AS (
    SELECT COUNT(*) AS n FROM spend
),
bounds AS (
    SELECT [
        {_DECILE_BOUNDS}
    ] AS bs
    FROM cum CROSS JOIN n
),
bucketed AS (
    SELECT spend,
           CAST(len(list_filter(bs, b -> spend > b)) AS BIGINT) AS decile
    FROM spend CROSS JOIN bounds
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(spend) AS DOUBLE) AS min_spend,
       CAST(MAX(spend) AS DOUBLE) AS max_spend,
       CAST(CAST(SUM(spend) AS DECIMAL(18,2)) AS DOUBLE) AS total_spend
FROM bucketed
GROUP BY decile
ORDER BY decile
"""

def _typed_session_ctes(tag: str, event_type: str, sess_alias: str) -> str:
    """CTE chain reconstructing rangejoin._typed_sessions for one
    event type: lag-flag, running-sum numbering, per-session
    microsecond bounds."""
    gap_us = rangejoin.OVERLAP_GAP_MIN * 60 * 1000000
    return f"""
{tag}_flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch_us(ts)
                     - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                     > {gap_us}
                THEN 1 ELSE 0 END AS new_session
    FROM events WHERE event_type = '{event_type}'
),
{tag}_numbered AS (
    SELECT user_id,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS {sess_alias},
           epoch_us(ts) AS us
    FROM {tag}_flagged
),
{tag}_agg AS (
    SELECT user_id, {sess_alias},
           MIN(us) AS {tag}_start, MAX(us) AS {tag}_end
    FROM {tag}_numbered GROUP BY user_id, {sess_alias}
)"""


_OVERLAP_SQL = f"""
WITH {_typed_session_ctes("a", rangejoin.OVERLAP_TYPE_A, "err_session")},
{_typed_session_ctes("b", rangejoin.OVERLAP_TYPE_B, "view_session")}
SELECT a.user_id, a.err_session, b.view_session,
       strftime(make_timestamp(a_start), '%Y-%m-%d %H:%M:%S') AS err_start,
       strftime(make_timestamp(a_end), '%Y-%m-%d %H:%M:%S') AS err_end,
       strftime(make_timestamp(b_start), '%Y-%m-%d %H:%M:%S') AS view_start,
       strftime(make_timestamp(b_end), '%Y-%m-%d %H:%M:%S') AS view_end,
       least(a_end, b_end) - greatest(a_start, b_start) AS overlap_us
FROM a_agg a
JOIN b_agg b ON a.user_id = b.user_id
            AND a_start <= b_end AND b_start <= a_end
ORDER BY a.user_id, a.err_session, b.view_session
"""

_SCD2_SQL = """
WITH changes AS (
    SELECT user_id, ts, event_id, event_type
    FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        FROM events)
    WHERE prev_state IS NULL OR prev_state <> event_type
),
versioned AS (
    SELECT user_id, event_type AS state,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
               AS version_no,
           ts AS from_ts,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_ts
    FROM changes
)
SELECT user_id, state, version_no,
       strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(to_ts, '%Y-%m-%d %H:%M:%S') AS valid_to,
       CAST(CASE WHEN to_ts IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM versioned
ORDER BY user_id, version_no
"""

_SCD2_ASOF_SQL = f"""
WITH changes AS (
    SELECT user_id, ts, event_id, event_type
    FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        FROM events)
    WHERE prev_state IS NULL OR prev_state <> event_type
),
versioned AS (
    SELECT user_id, event_type AS state,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
               AS version_no,
           epoch_us(ts) AS from_us,
           epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS to_us
    FROM changes
)
SELECT user_id, state, version_no,
       strftime(make_timestamp(from_us), '%Y-%m-%d %H:%M:%S') AS valid_from
FROM versioned
WHERE from_us <= epoch_us(TIMESTAMP '{events_windows.ASOF_SNAPSHOT}')
  AND (to_us IS NULL
       OR to_us > epoch_us(TIMESTAMP '{events_windows.ASOF_SNAPSHOT}'))
ORDER BY user_id
"""

# KMV distinct sketch: estimate = (K-1)/u_(K) on portable md5 hashes
_KMV_POW60 = float(1 << 60)
_KMV_SQL = f"""
WITH hashes AS (
    SELECT DISTINCT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM events
),
ranked AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashes
),
per_type AS (
    SELECT event_type, COUNT(*) AS n_hashes,
           MAX(CASE WHEN rn = {sketches.KMV_K} THEN h END) AS h_k
    FROM ranked GROUP BY event_type
),
exact AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
    FROM events GROUP BY event_type
),
est AS (
    SELECT p.event_type, e.n_exact,
           CASE WHEN p.n_hashes < {sketches.KMV_K}
                THEN CAST(p.n_hashes AS DOUBLE)
                ELSE CAST({sketches.KMV_K - 1} AS DOUBLE)
                     / (CAST(p.h_k AS DOUBLE) / CAST({_KMV_POW60} AS DOUBLE))
           END AS raw_est
    FROM per_type p JOIN exact e ON p.event_type = e.event_type
)
SELECT event_type,
       CAST(n_exact AS BIGINT) AS n_exact,
       round(raw_est, 6) AS n_est,
       round(abs(raw_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
           AS rel_err
FROM est
ORDER BY event_type
"""

_TWA_SQL = """
WITH dted AS (
    SELECT user_id, value,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) AS dt_us
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(coalesce(SUM(dt_us), 0) AS BIGINT) AS span_us,
       round(SUM(value * CAST(dt_us AS DOUBLE)) / CAST(SUM(dt_us) AS DOUBLE), 6)
           AS twa
FROM dted
GROUP BY user_id
ORDER BY user_id
"""

_OHLC_SQL = """
WITH ev AS (
    SELECT date_trunc('hour', ts) AS h, event_type,
           epoch_us(ts) AS us, event_id, value
    FROM events
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY h, event_type
                              ORDER BY us, event_id) AS rn_a,
           row_number() OVER (PARTITION BY h, event_type
                              ORDER BY us DESC, event_id DESC) AS rn_d
    FROM ev
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       round(SUM(value), 6) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY h, event_type
ORDER BY 1, 2
"""

_Q6_ORACLE_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue_effect,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE)
      BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
  AND l_discount BETWEEN {star.Q6_DISCOUNT_LO} AND {star.Q6_DISCOUNT_HI}
  AND l_quantity < {star.Q6_MAX_QTY}
"""

_Q10_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey,
           SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
               AS rev_dec,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
    GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       CAST(p.rev_dec AS DOUBLE) AS returned_revenue,
       CAST(p.n_items AS BIGINT) AS n_items
FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
ORDER BY returned_revenue DESC, c.c_custkey ASC
LIMIT {star.RETURNED_TOPN}
"""

_Q14_SQL = f"""
WITH j AS (
    SELECT p.p_type,
           CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))
               AS rev
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE)
          BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
),
m AS (
    SELECT SUM(CASE WHEN p_type = '{star.PROMO_TYPE}' THEN rev
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_dec,
           SUM(rev) AS total_dec,
           COUNT(*) AS n_items
    FROM j
)
SELECT CAST(promo_dec AS DOUBLE) AS promo_revenue,
       CAST(total_dec AS DOUBLE) AS total_revenue,
       round(CAST(100.0 AS DOUBLE) * CAST(promo_dec AS DOUBLE)
             / CAST(total_dec AS DOUBLE), 6) AS promo_share,
       CAST(n_items AS BIGINT) AS n_items
FROM m
"""

_Q19_OR = " OR ".join(
    f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi}"
    f" AND l.l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in star.Q19_BLOCKS
)
_Q19_SQL = f"""
SELECT CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE {_Q19_OR}
"""

_SESSION_FUNNEL_GAP_US = events_windows.SESSION_GAP_MIN * 60 * 1000000
_SESSION_FUNNEL_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_us(ts)
                     - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                     > {_SESSION_FUNNEL_GAP_US}
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
numbered AS (
    SELECT *, CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_no
    FROM flagged
),
t1s AS (
    SELECT *, MIN(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id, session_no) AS t1
    FROM numbered
),
t2s AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id, session_no) AS t2
    FROM t1s
),
t3s AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id, session_no) AS t3
    FROM t2s
),
sessions AS (
    SELECT user_id, session_no,
           MAX(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS s3,
           MAX(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS s2,
           MAX(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS s1
    FROM t3s GROUP BY user_id, session_no
)
SELECT CAST(CASE WHEN s3 = 1 THEN 3 WHEN s2 = 1 THEN 2
                 WHEN s1 = 1 THEN 1 ELSE 0 END AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM sessions
GROUP BY 1
ORDER BY depth
"""

_CUSUM_SQL = f"""
WITH daily AS (
    SELECT event_type, ts::DATE AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS days,
           CAST(SUM(n) AS DOUBLE) AS sn,
           CAST(SUM(n * n) AS DOUBLE) AS snn
    FROM daily GROUP BY event_type
),
j AS (
    SELECT d.event_type, d.d, d.n,
           greatest(m.snn / m.days - (m.sn / m.days) * (m.sn / m.days),
                    CAST(0.0 AS DOUBLE)) AS var,
           (d.n - m.sn / m.days)
               / sqrt(greatest(m.snn / m.days
                               - (m.sn / m.days) * (m.sn / m.days),
                               CAST(0.0 AS DOUBLE))) AS z
    FROM daily d JOIN m USING (event_type)
),
c AS (
    SELECT *, SUM(round(z - CAST({stats.CUSUM_K} AS DOUBLE), 6)) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM j WHERE var > 0
),
s AS (
    SELECT *, round(cum - least(CAST(0.0 AS DOUBLE),
               MIN(cum) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)), 6) AS cusum
    FROM c
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n,
       cusum,
       CAST(CASE WHEN cusum > CAST({stats.CUSUM_H} AS DOUBLE)
                 THEN 1 ELSE 0 END AS BIGINT) AS drifted
FROM s
ORDER BY 1, 2
"""

_BOLLINGER_SQL = f"""
WITH daily AS (
    SELECT event_type, ts::DATE AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
framed AS (
    SELECT event_type, d, n,
           CAST(COUNT(*) OVER w AS DOUBLE) AS cnt,
           CAST(SUM(n) OVER w AS DOUBLE) AS sn,
           CAST(SUM(n * n) OVER w AS DOUBLE) AS snn
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN {stats.BOLLINGER_WINDOW - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n,
       round(sn / cnt, 6) AS ma,
       round(sn / cnt - CAST({stats.BOLLINGER_K} AS DOUBLE)
             * sqrt(greatest(snn / cnt - (sn / cnt) * (sn / cnt),
                             CAST(0.0 AS DOUBLE))), 6) AS band_lo,
       round(sn / cnt + CAST({stats.BOLLINGER_K} AS DOUBLE)
             * sqrt(greatest(snn / cnt - (sn / cnt) * (sn / cnt),
                             CAST(0.0 AS DOUBLE))), 6) AS band_hi,
       CAST(CASE WHEN CAST(n AS DOUBLE) >
                      round(sn / cnt + CAST({stats.BOLLINGER_K} AS DOUBLE)
                            * sqrt(greatest(snn / cnt - (sn / cnt) * (sn / cnt),
                                            CAST(0.0 AS DOUBLE))), 6)
                   OR CAST(n AS DOUBLE) <
                      round(sn / cnt - CAST({stats.BOLLINGER_K} AS DOUBLE)
                            * sqrt(greatest(snn / cnt - (sn / cnt) * (sn / cnt),
                                            CAST(0.0 AS DOUBLE))), 6)
                 THEN 1 ELSE 0 END AS BIGINT) AS outside
FROM framed
ORDER BY 1, 2
"""

_EWMA_DECAY = 1.0 - stats.EWMA_ALPHA
_EWMA_SQL = f"""
WITH daily AS (
    SELECT event_type, ts::DATE AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
framed AS (
    SELECT event_type, d, n,
           list(CAST(n AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN {stats.EWMA_WINDOW - 1} PRECEDING
               AND CURRENT ROW) AS vals
    FROM daily
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n,
       round(
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, len(vals) + 1),
                       i -> vals[i] * pow(CAST({_EWMA_DECAY} AS DOUBLE),
                                          CAST(len(vals) AS DOUBLE) - i))),
               (a, b) -> a + b)
           / list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, len(vals) + 1),
                       i -> pow(CAST({_EWMA_DECAY} AS DOUBLE),
                                CAST(len(vals) AS DOUBLE) - i))),
               (a, b) -> a + b), 6) AS ewma
FROM framed
ORDER BY 1, 2
"""

_ZIPF_SQL = f"""
WITH freq AS (
    SELECT token, COUNT(*) AS tf
    FROM (SELECT unnest({_TOK}) AS token FROM documents)
    GROUP BY token
),
pts AS (
    SELECT ln(CAST(row_number() OVER (ORDER BY tf DESC, token) AS DOUBLE)) AS x,
           ln(CAST(tf AS DOUBLE)) AS y
    FROM freq
),
m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pts
),
r AS (
    SELECT n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr
    FROM m
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       round(slope, 6) AS zipf_slope,
       round(corr * corr, 6) AS r2
FROM r
"""

_SEASONAL_SQL = """
WITH monthly AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           month(o_orderdate) AS moy,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
    FROM orders GROUP BY 1, 2
),
profile AS (
    SELECT moy,
           CAST(SUM(rev_dec) AS DOUBLE) / COUNT(*) AS seasonal_mean,
           COUNT(*) AS n_years
    FROM monthly GROUP BY moy
)
SELECT m.ym,
       CAST(m.moy AS BIGINT) AS moy,
       CAST(m.rev_dec AS DOUBLE) AS revenue,
       round(p.seasonal_mean, 6) AS seasonal_mean,
       CAST(p.n_years AS BIGINT) AS n_years,
       round(CAST(m.rev_dec AS DOUBLE) - p.seasonal_mean, 6) AS seasonal_dev
FROM monthly m JOIN profile p USING (moy)
ORDER BY m.ym
"""

_PARETO_SQL = f"""
WITH per_part AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
               AS rev_dec
    FROM lineitem GROUP BY l_partkey
),
total AS (
    SELECT SUM(rev_dec) AS total_dec, COUNT(*) AS n_parts FROM per_part
),
cum AS (
    SELECT CAST(SUM(rev_dec) OVER (
               ORDER BY rev_dec DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(t.total_dec AS DOUBLE) AS cum_share,
           CAST(rev_dec AS DOUBLE) / CAST(t.total_dec AS DOUBLE) AS share,
           t.n_parts
    FROM per_part, total t
)
SELECT CAST(SUM(CASE WHEN cum_share < {star.PARETO_TARGET} THEN 1 ELSE 0 END)
            + 1 AS BIGINT) AS n_parts_for_target,
       CAST(MAX(n_parts) AS BIGINT) AS n_parts,
       round(CAST(SUM(CASE WHEN cum_share < {star.PARETO_TARGET}
                           THEN 1 ELSE 0 END) + 1 AS DOUBLE)
             / CAST(MAX(n_parts) AS DOUBLE), 6) AS catalog_fraction,
       round(MAX(share), 6) AS top_part_share
FROM cum
"""

_MOM_GROWTH_SQL = """
WITH monthly AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
)
SELECT month,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(n_orders AS BIGINT) AS n_orders,
       round((CAST(rev_dec AS DOUBLE)
              - lag(CAST(rev_dec AS DOUBLE)) OVER (ORDER BY month))
             / lag(CAST(rev_dec AS DOUBLE)) OVER (ORDER BY month), 6)
           AS mom_growth
FROM monthly
ORDER BY month
"""

_CUMUSERS_SQL = """
WITH first_seen AS (
    SELECT user_id, MIN(ts::DATE) AS d0 FROM events GROUP BY user_id
),
per_day AS (
    SELECT d0, COUNT(*) AS new_users FROM first_seen GROUP BY d0
)
SELECT strftime(d0, '%Y-%m-%d') AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (
           ORDER BY d0 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS users_to_date
FROM per_day
ORDER BY day
"""

# median/MAD robust outliers (rounded robust-z thresholded identically)
_ROBUST_SQL = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
mad AS (
    SELECT e.event_type, MIN(m.med) AS med,
           quantile_cont(abs(e.value - m.med), 0.5) AS mad
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       round(t.med, 6) AS med,
       round(t.mad, 6) AS mad,
       round((e.value - t.med)
             / (CAST({stats.MAD_SCALE} AS DOUBLE) * t.mad), 6) AS robust_z
FROM events e JOIN mad t USING (event_type)
WHERE t.mad > 0
  AND abs(round((e.value - t.med)
                / (CAST({stats.MAD_SCALE} AS DOUBLE) * t.mad), 6))
      > CAST({stats.ROBUST_Z} AS DOUBLE)
"""

_DAILY_PCTL_SQL = """
SELECT event_type,
       strftime(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _corrmat_sql() -> str:
    cols = star._CORR_COLS
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in cols:
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) AS s_{c}")
        sums.append(
            f"CAST(SUM(CAST({c} * {c} AS DECIMAL(18,4))) AS DOUBLE) AS s_{c}_{c}"
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(
                f"CAST(SUM(CAST({a} * {b} AS DECIMAL(18,4))) AS DOUBLE) AS s_{a}_{b}"
            )
    selects = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            selects.append(
                f"SELECT '{a}' AS var_a, '{b}' AS var_b,\n"
                f"       round((n * s_{a}_{b} - s_{a} * s_{b})\n"
                f"             / sqrt((n * s_{a}_{a} - s_{a} * s_{a})\n"
                f"                    * (n * s_{b}_{b} - s_{b} * s_{b})), 6)"
                f" AS corr,\n"
                f"       CAST(n AS BIGINT) AS n_rows FROM m"
            )
    body = "\nUNION ALL\n".join(selects)
    return (
        "WITH m AS (\n    SELECT " + ",\n           ".join(sums)
        + "\n    FROM lineitem\n)\n"
        + body
        + "\nORDER BY var_a, var_b"
    )


_CORRMAT_SQL = _corrmat_sql()

# population-stability-index drift of each source's length profile
_PSI_EDGE = textstats.PSI_BUCKETS * textstats.PSI_BUCKET_WIDTH - 1
_PSI_HALF_B = 0.5 * textstats.PSI_BUCKETS
_PSI_SQL = f"""
WITH cnt AS (
    SELECT source,
           CAST(floor(least(n_chars, {_PSI_EDGE})
                      / {textstats.PSI_BUCKET_WIDTH}) AS BIGINT) AS b,
           COUNT(*) AS c
    FROM documents GROUP BY 1, 2
),
grid AS (
    SELECT s.source, v.b, coalesce(cnt.c, 0) AS c
    FROM (SELECT DISTINCT source FROM documents) s
    CROSS JOIN (SELECT unnest(range({textstats.PSI_BUCKETS})) AS b) v
    LEFT JOIN cnt ON cnt.source = s.source AND cnt.b = v.b
),
tot_src AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
tot_bucket AS (SELECT b, SUM(c) AS cb FROM grid GROUP BY b),
total AS (SELECT COUNT(*) AS n FROM documents),
terms AS (
    SELECT g.source, ts.n_s,
           ((g.c + 0.5) / (ts.n_s + {_PSI_HALF_B})
            - (tb.cb - g.c + 0.5) / (t.n - ts.n_s + {_PSI_HALF_B}))
           * ln(((g.c + 0.5) / (ts.n_s + {_PSI_HALF_B}))
                / ((tb.cb - g.c + 0.5) / (t.n - ts.n_s + {_PSI_HALF_B})))
               AS term
    FROM grid g
    JOIN tot_src ts ON g.source = ts.source
    JOIN tot_bucket tb ON g.b = tb.b
    CROSS JOIN total t
)
SELECT source,
       CAST(MAX(n_s) AS BIGINT) AS n_docs,
       round(SUM(term), 6) AS psi
FROM terms
GROUP BY source
ORDER BY source
"""

# edit-distance verification of the LSH candidates (filter applies
# to the ROUNDED relative distance on both sides)
_EDIT_SQL = (
    _CAND_CTES
    + f""",
nrm AS (
    SELECT doc_id, {_NORM} AS nt FROM documents
),
escored AS (
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS edit_dist,
           round(CAST(levenshtein(na.nt, nb.nt) AS DOUBLE)
                 / CAST(greatest(len(na.nt), len(nb.nt)) AS DOUBLE), 6)
               AS rel_dist
    FROM cands c
    JOIN nrm na ON c.doc_a = na.doc_id
    JOIN nrm nb ON c.doc_b = nb.doc_id
)
SELECT doc_a, doc_b, edit_dist, rel_dist
FROM escored
WHERE rel_dist <= {dedup.EDIT_REL_THRESHOLD}
"""
)

# percent-of-total over the Q5 revenue tree: share of the exact
# decimal grand total (the window form in SQL; the Spark side uses a
# one-row broadcast — same numbers, order-independent)
_SHARE_SQL = f"""
WITH rev AS (
    SELECT n_name,
           SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,4))) AS revenue_dec
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = '{star.REGION}'
      AND CAST(o_orderdate AS DATE)
          BETWEEN DATE '{_P2["debut"]}' AND DATE '{_P2["fin"]}'
    GROUP BY n_name
)
SELECT n_name,
       CAST(revenue_dec AS DOUBLE) AS revenue,
       round(CAST(revenue_dec AS DOUBLE)
             / CAST(SUM(revenue_dec) OVER () AS DOUBLE), 6) AS share
FROM rev
ORDER BY revenue DESC, n_name
"""

_INTERSECT_SQL = (
    _VIEWS
    + f"""
SELECT DISTINCT magid FROM points_de_vente WHERE catid = '{_DEFAULTS["cat_id"]}'
INTERSECT
SELECT DISTINCT magid FROM points_de_vente WHERE catid = '{olap.CAT_B}'
ORDER BY magid
"""
)

# RANGE frame over epoch-day numbers (calendar window, not row window)
_RANGE_FRAME_SQL = f"""
WITH daily AS (
    SELECT event_type, ts::DATE AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n,
       CAST(SUM(n) OVER (
           PARTITION BY event_type ORDER BY epoch(d) // 86400
           RANGE BETWEEN {stats.RANGE_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS sum_7d,
       CAST(COUNT(*) OVER (
           PARTITION BY event_type ORDER BY epoch(d) // 86400
           RANGE BETWEEN {stats.RANGE_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS days_present_7d
FROM daily
ORDER BY event_type, day
"""

# typed JSON extraction; DuckDB's json_extract ERRORS on malformed
# input where Spark's PERMISSIVE from_json yields NULL, so the oracle
# guards with json_valid to state the same NULL-on-bad semantics
_PROPS_SQL = """
WITH parsed AS (
    SELECT event_type,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract(props, '$.k') AS INTEGER)
           END AS k
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN k IS NULL THEN 1 END) AS BIGINT) AS n_bad,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       round(avg(k), 6) AS avg_k
FROM parsed
GROUP BY event_type
ORDER BY event_type
"""

_GSETS_SQL = (
    _VIEWS
    + """
SELECT catid, fabid,
       COUNT(*) AS n_ventes,
       CAST(COUNT(DISTINCT prodid) AS BIGINT) AS n_produits,
       CAST(GROUPING(catid, fabid) AS BIGINT) AS gid
FROM points_de_vente
GROUP BY GROUPING SETS ((catid), (fabid))
"""
)


def _attribution_batch(spark, sf_dir):
    from projet_etl_spark.streaming.joins import (
        q_click_purchase_attribution_batch,
    )

    return q_click_purchase_attribution_batch(spark, sf_dir)


from projet_etl_spark.sources import warehouse  # noqa: E402
from projet_etl_spark.streaming import storequery  # noqa: E402

# The store is maintained incrementally by the streaming path; its
# folded contents must equal a plain GROUP BY over the raw events —
# that equality IS the store→rescan parity the oracle checks.
_DAILY_STORE_SQL = """
SELECT event_type, ts::DATE AS d, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""

_HH_SQL = f"""
WITH per_user AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user
)
SELECT user_id, n,
       ROUND(CAST(n * n_users AS DOUBLE) / CAST(total AS DOUBLE), 6) AS x_mean
FROM per_user CROSS JOIN tot
WHERE n * n_users * 100 > total * {stats.HH_PCT}
ORDER BY n DESC, user_id ASC
"""

_STREAKS_SQL = f"""
WITH days AS (
    SELECT DISTINCT user_id, ts::DATE AS d FROM events
),
islands AS (
    SELECT user_id, d,
           d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INTEGER) AS g
    FROM days
),
streaks AS (
    SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS streak_days,
           MIN(d) AS start_d, MAX(d) AS end_d
    FROM islands GROUP BY user_id, g
),
best AS (
    SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY streak_days DESC, start_d ASC) AS rk
    FROM streaks
)
SELECT user_id, streak_days,
       strftime(start_d, '%Y-%m-%d') AS start_day,
       strftime(end_d, '%Y-%m-%d') AS end_day
FROM best WHERE rk = 1
ORDER BY streak_days DESC, user_id ASC
LIMIT {stats.STREAK_TOPN}
"""

_CONTAINMENT_SQL = (
    _SHINGLE_CTES
    + f""",
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, ROUND(i.inter / sa.n, 6) AS containment
FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
WHERE ROUND(i.inter / sa.n, 6) >= {dedup.CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""
)

_YOY_SQL = """
WITH monthly AS (
    SELECT date_trunc('month', o_orderdate) AS m,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS revenue
    FROM orders GROUP BY 1
)
SELECT strftime(a.m, '%Y-%m') AS month,
       CAST(a.revenue AS DOUBLE) AS revenue,
       CAST(b.revenue AS DOUBLE) AS revenue_prev_year,
       ROUND((CAST(a.revenue AS DOUBLE) - CAST(b.revenue AS DOUBLE))
             / CAST(b.revenue AS DOUBLE) * 100, 6) AS yoy_pct
FROM monthly a LEFT JOIN monthly b ON a.m = b.m + INTERVAL 12 MONTH
ORDER BY month
"""

_SEM_CONTAM_SQL = f"""
WITH ev AS (
    SELECT embedding AS evec,
           ({VEC.sql_norm2("embedding")}) AS ne
    FROM embeddings WHERE vec_id < {decontam.EVAL_VECS}
),
tr AS (
    SELECT vec_id, embedding AS v,
           ({VEC.sql_norm2("embedding")}) AS nt
    FROM embeddings WHERE vec_id >= {decontam.EVAL_VECS}
),
pairs AS (
    SELECT t.vec_id,
           {_sql_cos(VEC.sql_dot("t.v", "e.evec"), "t.nt", "e.ne")} AS cos
    FROM tr t CROSS JOIN ev e
)
SELECT vec_id, MAX(cos) AS max_cos,
       CAST(SUM(CASE WHEN cos >= {decontam.SEM_CONTAM_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_eval_hits
FROM pairs GROUP BY vec_id
HAVING MAX(cos) >= {decontam.SEM_CONTAM_THRESHOLD}
ORDER BY vec_id
"""

# layout-invariance contract: bucketing changes where rows live,
# never what they are — the oracle is the plain join + aggregate
_BUCKETED_JOIN_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS total_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
"""

# decimal-vs-double representation A/B pair: identical values, one
# emits decimal(18,2), one DOUBLE — the driver artifact adjudicates
# the scale-2-decimal hash-canonicalization theory (star.py twins)
_MONEY_TWIN_DEC_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS total_price
FROM orders GROUP BY 1 ORDER BY 1
"""

_MONEY_TWIN_DBL_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS total_price
FROM orders GROUP BY 1 ORDER BY 1
"""

# round-7 TPC-H shape adaptations (no partsupp / shipmode /
# commit-receipt dates in this schema — each oracle mirrors the
# adapted semantics documented on the operator)

_REV4 = (
    "CAST(l_extendedprice AS DECIMAL(18,4)) "
    "* (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"
)

_MINCOST_SQL = f"""
WITH eligible AS (
    SELECT p_partkey FROM part
    WHERE p_type = '{star.MINCOST_TYPE}' AND p_size <= {star.MINCOST_MAX_SIZE}
),
supp AS (
    SELECT s_suppkey, s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{star.MINCOST_REGION}'
),
cost AS (
    SELECT l_partkey, l_suppkey,
           CAST(SUM({_REV4}) AS DECIMAL(18,4)) AS cost_dec
    FROM lineitem
    JOIN eligible ON l_partkey = p_partkey
    JOIN supp ON l_suppkey = s_suppkey
    GROUP BY 1, 2
),
mins AS (SELECT l_partkey, MIN(cost_dec) AS min_cost FROM cost GROUP BY 1)
SELECT c.l_partkey AS p_partkey, c.l_suppkey AS s_suppkey, s.s_name,
       CAST(c.cost_dec AS DOUBLE) AS cost
FROM cost c
JOIN mins m ON c.l_partkey = m.l_partkey AND c.cost_dec = m.min_cost
JOIN supp s ON c.l_suppkey = s.s_suppkey
ORDER BY cost DESC, p_partkey, s_suppkey
LIMIT {star.MINCOST_TOPN}
"""

_MKTSHARE_SQL = f"""
WITH cust AS (
    SELECT c_custkey FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{star.MKT_REGION}'
),
supp AS (
    SELECT s_suppkey, n_name AS supp_nation FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
),
agg AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN supp_nation = '{star.MKT_NATION}'
                         THEN {_REV4} ELSE CAST(0 AS DECIMAL(18,4)) END)
                AS DECIMAL(18,4)) AS unat,
           CAST(SUM({_REV4}) AS DECIMAL(18,4)) AS utot
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supp ON l_suppkey = s_suppkey
    WHERE o_custkey IN (SELECT c_custkey FROM cust)
    GROUP BY 1
)
SELECT o_year,
       ROUND(CAST(unat AS DOUBLE) / CAST(utot AS DOUBLE), 6) AS mkt_share,
       CAST(utot AS DOUBLE) AS total_revenue
FROM agg ORDER BY o_year
"""

_PROFIT_SQL = f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(SUM({_REV4}
                     - CAST(p.p_retailprice AS DECIMAL(18,2))
                       * CAST(l.l_quantity AS DECIMAL(18,2)))
                 AS DECIMAL(18,4)) AS DOUBLE) AS profit,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '{star.PROFIT_NAME_PATTERN}'
GROUP BY 1, 2 ORDER BY 1, 2
"""

_DELAY_SQL = f"""
WITH j AS (
    SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
               AS delay,
           o_orderpriority IN {star.URGENT_PRIORITIES!r} AS u
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT CASE WHEN delay <= -1 THEN 'early'
            WHEN delay <= 30 THEN '0-30d'
            WHEN delay <= 90 THEN '31-90d'
            ELSE '90d+' END AS delay_band,
       CAST(SUM(CASE WHEN u THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(SUM(CASE WHEN u THEN 0 ELSE 1 END) AS BIGINT) AS n_other
FROM j GROUP BY 1 ORDER BY 1
"""

_DIVERSITY_SQL = f"""
SELECT p_brand,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type = '{star.DIVERSITY_TYPE}'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1 ORDER BY n_suppliers DESC, p_brand
"""

_SOLE_LATE_SQL = f"""
WITH per_os AS (
    SELECT l_orderkey, l_suppkey,
           MAX(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE))
                         > {star.LATE_SHIP_DAYS}
                    THEN 1 ELSE 0 END) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
per_o AS (
    SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
    FROM per_os GROUP BY 1
)
SELECT c.l_suppkey AS s_suppkey, s.s_name,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_os c
JOIN per_o o USING (l_orderkey)
JOIN supplier s ON c.l_suppkey = s.s_suppkey
WHERE c.late = 1 AND o.n_supp >= 2 AND o.n_late = 1
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey
LIMIT {star.SOLE_LATE_TOPN}
"""

_LTV_SQL = """
WITH orders_m AS (
    SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
           CAST(o_totalprice AS DECIMAL(18,2)) AS p
    FROM orders
),
first_m AS (
    SELECT o_custkey, MIN(m) AS cm FROM orders_m GROUP BY 1
),
sizes AS (
    SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_customers FROM first_m GROUP BY 1
),
cells AS (
    SELECT f.cm,
           CAST(date_diff('month', f.cm, o.m) AS BIGINT) AS k,
           CAST(SUM(o.p) AS DECIMAL(18,2)) AS rev_dec
    FROM orders_m o JOIN first_m f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
),
cum AS (
    SELECT cm, k,
           CAST(SUM(rev_dec) OVER (
               PARTITION BY cm ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,2)) AS cum_dec
    FROM cells
)
SELECT strftime(c.cm, '%Y-%m') AS cohort,
       c.k AS months_since,
       s.n_customers,
       CAST(c.cum_dec AS DOUBLE) AS cum_revenue,
       ROUND(CAST(c.cum_dec AS DOUBLE) / CAST(s.n_customers AS DOUBLE), 6)
           AS ltv_per_customer
FROM cum c JOIN sizes s ON c.cm = s.cm
ORDER BY cohort, months_since
"""

_LEADTIME_SQL = """
WITH delays AS (
    SELECT l_suppkey,
           date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
               AS delay
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
ranked AS (
    SELECT l_suppkey, delay,
           row_number() OVER (PARTITION BY l_suppkey ORDER BY delay) - 1 AS rn,
           count(*) OVER (PARTITION BY l_suppkey) AS n
    FROM delays
),
stats AS (
    SELECT l_suppkey,
           MAX(n) AS n_items,
           MAX(CASE WHEN rn = (50 * (n - 1)) // 100     THEN delay END) AS lo50,
           MAX(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN delay END) AS hi50,
           MAX(CASE WHEN rn = (95 * (n - 1)) // 100     THEN delay END) AS lo95,
           MAX(CASE WHEN rn = (95 * (n - 1)) // 100 + 1 THEN delay END) AS hi95
    FROM ranked GROUP BY 1
)
SELECT st.l_suppkey AS s_suppkey, s.s_name,
       CAST(n_items AS BIGINT) AS n_items,
       CAST(lo50 * 100 + (COALESCE(hi50, lo50) - lo50)
           * ((50 * (n_items - 1)) % 100) AS DOUBLE) / 100.0 AS p50_days,
       CAST(lo95 * 100 + (COALESCE(hi95, lo95) - lo95)
           * ((95 * (n_items - 1)) % 100) AS DOUBLE) / 100.0 AS p95_days
FROM stats st JOIN supplier s ON st.l_suppkey = s.s_suppkey
ORDER BY 1
"""

_AFFINITY_SQL = f"""
WITH ob AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
GROUP BY 1, 2
ORDER BY n_orders DESC, brand_a, brand_b
LIMIT {star.AFFINITY_TOPN}
"""

def _acf_sql() -> str:
    """Exact-integer ACF oracle: HUGEINT mirrors the plan's
    DECIMAL(38,0) terms, one double division per (type, lag)."""
    lag_cols = []
    selects = []
    for k in stats.ACF_LAGS:
        lag_cols.append(f"CAST(lead(x, {k}) OVER w AS HUGEINT) AS y{k}")
        selects.append(
            f"SUM(x * y{k}) AS sxy{k}, "
            f"SUM(CASE WHEN y{k} IS NOT NULL THEN x END) AS sa{k}, "
            f"SUM(y{k}) AS sb{k}"
        )
    outs = []
    for k in stats.ACF_LAGS:
        outs.append(
            f"ROUND(CAST(n * n * sxy{k} - n * sx * (sa{k} + sb{k})"
            f" + (n - {k}) * sx * sx AS DOUBLE)"
            f" / CAST(n * (n * sxx - sx * sx) AS DOUBLE), 6) AS acf{k}"
        )
    return f"""
WITH counts AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events
),
spine AS (
    SELECT CAST(UNNEST(generate_series(
        (SELECT lo FROM bounds), (SELECT hi FROM bounds),
        INTERVAL 1 DAY)) AS DATE) AS day
),
types AS (SELECT DISTINCT event_type FROM counts),
dense AS (
    SELECT t.event_type, s.day, CAST(COALESCE(c.x, 0) AS HUGEINT) AS x
    FROM types t CROSS JOIN spine s
    LEFT JOIN counts c ON t.event_type = c.event_type AND s.day = c.day
),
lagged AS (
    SELECT event_type, x, {", ".join(lag_cols)}
    FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
m AS (
    SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(x * x) AS sxx,
           {", ".join(selects)}
    FROM lagged GROUP BY 1
)
SELECT event_type, {", ".join(outs)}
FROM m ORDER BY event_type
"""


_ACF_SQL = _acf_sql()

_SHIFT_SQL = f"""
WITH h1 AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS r1
    FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '{star.SHIFT_SPLIT}'
    GROUP BY 1
),
h2 AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS r2
    FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '{star.SHIFT_SPLIT}'
    GROUP BY 1
),
joined AS (
    SELECT COALESCE(h1.l_partkey, h2.l_partkey) AS pk,
           COALESCE(r1, CAST(0 AS DECIMAL(18,4))) AS r1,
           COALESCE(r2, CAST(0 AS DECIMAL(18,4))) AS r2
    FROM h1 FULL OUTER JOIN h2 ON h1.l_partkey = h2.l_partkey
)
SELECT pk AS p_partkey, p.p_name,
       CAST(r1 AS DOUBLE) AS rev_before,
       CAST(r2 AS DOUBLE) AS rev_after,
       ROUND(CAST(r2 - r1 AS DOUBLE), 4) AS delta
FROM joined JOIN part p ON pk = p.p_partkey
ORDER BY ABS(ROUND(CAST(r2 - r1 AS DOUBLE), 4)) DESC, p_partkey
LIMIT {star.SHIFT_TOPN}
"""

_UNPIVOT_SQL = """
WITH wide AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(COUNT(*) AS DOUBLE) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users,
           ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY 1
)
SELECT strftime(d, '%Y-%m-%d') AS day, metric, value FROM (
    SELECT d, 'n_events' AS metric, n_events AS value FROM wide
    UNION ALL
    SELECT d, 'n_users', n_users FROM wide
    UNION ALL
    SELECT d, 'sum_value', sum_value FROM wide
)
ORDER BY day, metric
"""


def _pagerank_sql() -> str:
    """Unrolled fixed-iteration PageRank oracle mirroring
    operators/graph.py expression-for-expression: the uniform/base
    terms divide as DOUBLEs exactly like the Python-side literals,
    and every iteration is the same join + per-destination sum."""
    from projet_etl_spark.operators import graph as _g

    base = f"(CAST(1 AS DOUBLE) - CAST({_g.PR_DAMPING!r} AS DOUBLE))"
    d = f"CAST({_g.PR_DAMPING!r} AS DOUBLE)"
    iters = ""
    prev = "r0"
    for i in range(1, _g.PR_ITERS + 1):
        iters += f""",
r{i} AS (
    SELECT e.dst AS node,
           {base} / (SELECT nv FROM nn) + {d} * SUM(e.p * r.r) AS r
    FROM norm e JOIN {prev} r ON e.src = r.node
    GROUP BY 1
)"""
        prev = f"r{i}"
    return f"""
WITH pairs AS (
    SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
edges AS (
    SELECT c AS src, s AS dst, w FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst, w FROM pairs
),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
norm AS (
    SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS p
    FROM edges e JOIN outw o ON e.src = o.src
),
nn AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS nv FROM norm),
r0 AS (
    SELECT DISTINCT src AS node, CAST(1 AS DOUBLE) / (SELECT nv FROM nn) AS r
    FROM norm
){iters}
SELECT CAST((node - 1) // 2 AS BIGINT) AS s_suppkey, s.s_name,
       ROUND(r * (SELECT nv FROM nn), 6) AS rank_norm
FROM {prev} JOIN supplier s ON (node - 1) // 2 = s.s_suppkey
WHERE node % 2 = 1
ORDER BY rank_norm DESC, s_suppkey
LIMIT {_g.PR_TOPN}
"""


_PAGERANK_SQL = _pagerank_sql()


def _rfm_metric_ctes(metric: str) -> str:
    """Boundary CTEs for one RFM metric: distinct-grain cumulative
    rank -> four discrete quintile boundary values (the deciles
    order-statistics pattern)."""
    bounds = ",\n        ".join(
        f"MIN(CASE WHEN cum >= ({i} * n + 4) // 5 THEN v END) AS b{i}"
        for i in range(1, 5)
    )
    return f"""
{metric}_cum AS (
    SELECT v, SUM(c) OVER (ORDER BY v) AS cum
    FROM (SELECT {metric} AS v, COUNT(*) AS c FROM cust GROUP BY 1)
),
{metric}_b AS (
    SELECT {bounds}
    FROM {metric}_cum CROSS JOIN nn
)"""


_RFM_SQL = f"""
WITH cust AS (
    SELECT o_custkey,
           CAST(-date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                           DATE '{star.RFM_ASOF}') AS BIGINT) AS r_neg,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS mon
    FROM orders GROUP BY 1
),
nn AS (SELECT COUNT(*) AS n FROM cust),{_rfm_metric_ctes("r_neg")},{_rfm_metric_ctes("freq")},{_rfm_metric_ctes("mon")},
scored AS (
    SELECT c.mon,
           CAST(1 + (CASE WHEN c.r_neg > r.b1 THEN 1 ELSE 0 END
                   + CASE WHEN c.r_neg > r.b2 THEN 1 ELSE 0 END
                   + CASE WHEN c.r_neg > r.b3 THEN 1 ELSE 0 END
                   + CASE WHEN c.r_neg > r.b4 THEN 1 ELSE 0 END) AS BIGINT)
               AS r_score,
           CAST(1 + (CASE WHEN c.freq > f.b1 THEN 1 ELSE 0 END
                   + CASE WHEN c.freq > f.b2 THEN 1 ELSE 0 END
                   + CASE WHEN c.freq > f.b3 THEN 1 ELSE 0 END
                   + CASE WHEN c.freq > f.b4 THEN 1 ELSE 0 END) AS BIGINT)
               AS f_score,
           CAST(1 + (CASE WHEN c.mon > m.b1 THEN 1 ELSE 0 END
                   + CASE WHEN c.mon > m.b2 THEN 1 ELSE 0 END
                   + CASE WHEN c.mon > m.b3 THEN 1 ELSE 0 END
                   + CASE WHEN c.mon > m.b4 THEN 1 ELSE 0 END) AS BIGINT)
               AS m_score
    FROM cust c
    CROSS JOIN r_neg_b r CROSS JOIN freq_b f CROSS JOIN mon_b m
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(mon) AS DECIMAL(18,2)) AS DOUBLE) AS total_spend
FROM scored
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def _profile_branch(col: str, kind: str) -> str:
    base = (
        f"SELECT '{col}' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
        f"       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,\n"
        f"       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,\n"
    )
    if kind == "num":
        ext = (
            f"       CAST(MIN({col}) AS DOUBLE) AS min_num,\n"
            f"       CAST(MAX({col}) AS DOUBLE) AS max_num,\n"
            "       CAST(NULL AS VARCHAR) AS min_str,\n"
            "       CAST(NULL AS VARCHAR) AS max_str\n"
        )
    elif kind == "ts":
        ext = (
            "       CAST(NULL AS DOUBLE) AS min_num,\n"
            "       CAST(NULL AS DOUBLE) AS max_num,\n"
            f"       strftime(MIN({col}), '%Y-%m-%d %H:%M:%S') AS min_str,\n"
            f"       strftime(MAX({col}), '%Y-%m-%d %H:%M:%S') AS max_str\n"
        )
    else:
        ext = (
            "       CAST(NULL AS DOUBLE) AS min_num,\n"
            "       CAST(NULL AS DOUBLE) AS max_num,\n"
            f"       MIN({col}) AS min_str,\n"
            f"       MAX({col}) AS max_str\n"
        )
    return base + ext + "FROM events"


_PROFILE_SQL = (
    "\nUNION ALL\n".join(
        _profile_branch(c, k)
        for c, k in [
            ("event_id", "num"),
            ("ts", "ts"),
            ("user_id", "num"),
            ("event_type", "str"),
            ("value", "num"),
            ("props", "str"),
        ]
    )
    + "\nORDER BY col"
)

# layout-invariance: the JSONL round-trip changes nothing, so the
# oracle is the plain parquet scan
_JSONL_SCAN_SQL = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_chars
FROM documents
GROUP BY 1, 2
ORDER BY 1, 2
"""

_BACKLOG_SQL = """
WITH spans AS (
    SELECT CAST(o.o_orderdate AS DATE) AS day_o, ls.day_s,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
    FROM orders o JOIN (
        SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS day_s
        FROM lineitem GROUP BY 1) ls
    ON o.o_orderkey = ls.l_orderkey
),
deltas AS (
    SELECT day_o AS day, 1 AS dn, cents AS dc FROM spans
    UNION ALL
    SELECT day_s, -1, -cents FROM spans
),
per_day AS (
    SELECT day, CAST(SUM(dn) AS BIGINT) AS dn, CAST(SUM(dc) AS BIGINT) AS dc
    FROM deltas GROUP BY 1
),
spine AS (
    SELECT CAST(UNNEST(generate_series(
        (SELECT MIN(day_o) FROM spans),
        (SELECT MAX(day_s) FROM spans),
        INTERVAL 1 DAY)) AS DATE) AS day
),
series AS (
    SELECT s.day, COALESCE(p.dn, 0) AS dn, COALESCE(p.dc, 0) AS dc
    FROM spine s LEFT JOIN per_day p USING (day)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(SUM(dn) OVER w AS BIGINT) AS open_orders,
       ROUND(CAST(SUM(dc) OVER w AS DOUBLE) / 100.0, 2) AS open_value
FROM series
WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY day
"""

# embedding-quality audits (operators/embaudit.py): rank-based norm
# extremes (no float aggregation anywhere) and 1e-6-fixed-point
# centroid drift (exact BIGINT sums, one division per cell)
from projet_etl_spark.operators import embaudit as _embaudit  # noqa: E402

_NORM_EXTREMES_SQL = f"""
WITH v AS (
    SELECT vec_id, ({VEC.sql_norm2("embedding")}) AS n2 FROM embeddings
),
hi AS (
    SELECT 'high' AS side, vec_id, n2 FROM v
    ORDER BY n2 DESC, vec_id LIMIT {_embaudit.NORM_EXTREME_K}
),
lo AS (
    SELECT 'low' AS side, vec_id, n2 FROM v
    ORDER BY n2 ASC, vec_id LIMIT {_embaudit.NORM_EXTREME_K}
)
SELECT side, vec_id, ROUND(n2, 6) AS norm2
FROM (SELECT * FROM hi UNION ALL SELECT * FROM lo)
ORDER BY side, vec_id
"""

_CENTROID_SHIFT_SQL = f"""
WITH cells AS (
    SELECT label, CAST(t.i AS BIGINT) AS dim,
           CAST(floor(embedding[CAST(t.i AS INT) + 1]::DOUBLE
                      * {float(_embaudit.CENTROID_UNIT)!r} + 0.5) AS BIGINT) AS u
    FROM embeddings, range({VEC.DIM}) t(i)
),
agg AS (
    SELECT label, dim, SUM(u) AS su, COUNT(*) AS n FROM cells GROUP BY 1, 2
),
perl AS (
    SELECT label, dim,
           CAST(su AS DOUBLE) / CAST(n AS DOUBLE)
               / {float(_embaudit.CENTROID_UNIT)!r} AS m,
           n
    FROM agg
),
gcent AS (
    SELECT dim,
           CAST(SUM(su) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
               / {float(_embaudit.CENTROID_UNIT)!r} AS gm
    FROM agg GROUP BY 1
),
d AS (
    SELECT label, p.dim, (m - gm) * (m - gm) AS d2, n
    FROM perl p JOIN gcent g ON p.dim = g.dim
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(MAX(n) AS BIGINT) AS n_vecs,
       ROUND(list_reduce(list_prepend(0.0, list(d2 ORDER BY dim)),
                         (a, b) -> a + b), 6) AS centroid_shift2
FROM d GROUP BY label ORDER BY label
"""

# per-dimension moments in exact integer units; the squared moment
# accumulates as HUGEINT (DuckDB) / DECIMAL(38,0) (Spark) — both exact
_DIM_VARIANCE_SQL = f"""
WITH cells AS (
    SELECT CAST(t.i AS BIGINT) AS dim,
           CAST(floor(embedding[CAST(t.i AS INT) + 1]::DOUBLE
                      * {float(_embaudit.CENTROID_UNIT)!r} + 0.5) AS BIGINT) AS u
    FROM embeddings, range({VEC.DIM}) t(i)
),
agg AS (
    SELECT dim, SUM(u) AS su, SUM(u * u) AS squ,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cells GROUP BY 1
)
SELECT dim,
       ROUND(CAST(su AS DOUBLE) / CAST(n AS DOUBLE)
             / {float(_embaudit.CENTROID_UNIT)!r}, 6) AS mean_val,
       ROUND((CAST(squ AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(su AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(su AS DOUBLE) / CAST(n AS DOUBLE)))
             / {float(_embaudit.CENTROID_UNIT) ** 2!r}, 6) AS var_val,
       n
FROM agg ORDER BY dim
"""

# layout-invariance contract for the Z-ORDER copy: the oracle is the
# plain scan of raw lineitem over the same supplier band
from projet_etl_spark.operators import graph as _graph  # noqa: E402
from projet_etl_spark.operators import profile as _profile  # noqa: E402
from projet_etl_spark.sources import jsonl as _jsonl  # noqa: E402
from projet_etl_spark.sources import zorder as _zorder  # noqa: E402

_ZSCAN_SQL = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4))
                        - CAST(l_discount AS DECIMAL(18,4))))
                 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_suppkey BETWEEN {_zorder.ZSCAN_SUPP_LO} AND {_zorder.ZSCAN_SUPP_HI}
GROUP BY 1 ORDER BY 1
"""

from projet_etl_spark.operators import dq as _dq  # noqa: E402
from projet_etl_spark.sources import evolution as _evo  # noqa: E402

# NULL-vintage semantics derived from the SAME split constant the
# staged layout uses: early (even-id) shards predate source/n_chars
_EVOLUTION_SQL = f"""
WITH ev AS (
    SELECT doc_id, text, lang,
           CASE WHEN doc_id % {_evo.EVOLUTION_MOD} = 1 THEN source END AS source,
           CASE WHEN doc_id % {_evo.EVOLUTION_MOD} = 1 THEN n_chars END AS n_chars
    FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE source IS NULL) AS BIGINT) AS n_legacy,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars_v2,
       ROUND(CAST(COUNT(*) FILTER (WHERE source IS NOT NULL) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS migrated_frac
FROM ev GROUP BY lang ORDER BY lang
"""

_DQ_SQL = f"""
WITH o AS (
    SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS dk,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS nn
    FROM orders
),
l AS (
    SELECT COUNT(*) AS n,
           COUNT(*) FILTER (WHERE NOT (l_quantity >= {_dq.QTY_MIN}
                                       AND l_quantity <= {_dq.QTY_MAX})) AS qv,
           COUNT(*) FILTER (WHERE NOT (
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) >= 0
               AND CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                   <= {_dq.DISC_MAX_CENTS})) AS dv
    FROM lineitem
),
fko AS (
    SELECT COUNT(*) AS n, COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS miss
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
fkl AS (
    SELECT COUNT(*) AS n, COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS miss
    FROM lineitem li LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey
),
c AS (
    SELECT COUNT(*) AS n, COUNT(*) FILTER (WHERE c_acctbal IS NULL) AS nv
    FROM customer
),
longform AS (
    SELECT 'orders.pk-unique' AS expectation, n - dk AS violations,
           n AS checked FROM o
    UNION ALL SELECT 'orders.custkey-not-null', nn, n FROM o
    UNION ALL SELECT 'lineitem.qty-range', qv, n FROM l
    UNION ALL SELECT 'lineitem.discount-range', dv, n FROM l
    UNION ALL SELECT 'orders.fk-customer', miss, n FROM fko
    UNION ALL SELECT 'lineitem.fk-orders', miss, n FROM fkl
    UNION ALL SELECT 'customer.acctbal-not-null', nv, n FROM c
)
SELECT expectation, CAST(violations AS BIGINT) AS violations,
       CAST(checked AS BIGINT) AS checked,
       ROUND(CAST(violations AS DOUBLE) / CAST(checked AS DOUBLE), 6)
           AS violation_rate
FROM longform ORDER BY expectation
"""

_UPSERT_SQL = f"""
WITH base AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pu
    FROM orders
),
changes AS (
    SELECT o_orderkey, 'U' AS o_orderstatus,
           pu + {_dq.UPSERT_FEE_CENTS} AS pu
    FROM base
    WHERE o_orderkey % {_dq.UPSERT_UPDATE_MOD} = {_dq.UPSERT_UPDATE_RES}
    UNION ALL
    SELECT o_orderkey + {_dq.UPSERT_KEY_OFFSET}, 'N', pu
    FROM base WHERE o_orderkey % {_dq.UPSERT_INSERT_MOD} = 0
),
merged AS (
    SELECT * FROM changes
    UNION ALL
    SELECT b.* FROM base b ANTI JOIN changes c ON b.o_orderkey = c.o_orderkey
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(pu) AS DOUBLE) / 100.0, 2) AS revenue
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

# salt-invariance contract: the salted (orderkey, salt) join must
# equal the plain join bit for bit — so the oracle IS the plain join
_SALTED_JOIN_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4))
                   - CAST(l.l_discount AS DECIMAL(18,4))))
            AS DECIMAL(18,4)) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
"""


# --- train/test split leakage audit ------------------------------------
# split on the portable key hash (engine-identical md5 arithmetic, the
# sample-hash discipline); the pair set IS the minhash query's `jac`
# CTE, so the audit inherits its oracle-checked semantics verbatim
_LEAKAGE_SQL = (
    _MINHASH_CTES
    + f""",
split AS (
    SELECT doc_id,
           ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
             % {decontam.SPLIT_BUCKETS}) < {decontam.SPLIT_TRAIN} AS is_train
    FROM documents
),
leak AS (
    SELECT CASE WHEN sa.is_train THEN j.doc_b ELSE j.doc_a END AS test_doc_id,
           j.jaccard
    FROM jac j
    JOIN split sa ON j.doc_a = sa.doc_id
    JOIN split sb ON j.doc_b = sb.doc_id
    WHERE j.jaccard >= {dedup.JACCARD_THRESHOLD}
      AND sa.is_train <> sb.is_train
)
SELECT test_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_train_dups,
       ROUND(MAX(jaccard), 6) AS max_jaccard
FROM leak GROUP BY 1 ORDER BY 1
"""
)

# --- Theil-Sen robust daily-revenue trend -------------------------------
# integer cents + integer day index -> each pairwise slope is one
# correctly-rounded double division; the median is a discrete order
# statistic (two middle ranks averaged when even) — engine-identical,
# the supplier-lead-time discipline applied to a robust regressor
_THEILSEN_SQL = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY 1
),
pts AS (
    SELECT date_diff('day', DATE '{star.THEILSEN_EPOCH}', d) AS x, cents
    FROM daily
),
slopes AS (
    SELECT (b.cents - a.cents) / (b.x - a.x) AS slope
    FROM pts a JOIN pts b ON a.x < b.x
),
ranked AS (
    SELECT slope,
           row_number() OVER (ORDER BY slope) AS rn,
           count(*) OVER () AS n
    FROM slopes
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       ROUND(AVG(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                      THEN slope END) / 100.0, 6) AS slope_per_day
FROM ranked
"""


# --- data-mixture resampling weights ------------------------------------
# integer-percent target mix; every share/weight/budget is a ratio of
# exact integers with one final correctly-rounded double division
_MIX_VALUES = ", ".join(f"('{lang}', {t})" for lang, t in curation.TARGET_MIX)
_MIXTURE_SQL = f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1
),
mix(lang, t) AS (VALUES {_MIX_VALUES}),
joined AS (
    SELECT c.lang, c.n, m.t FROM counts c JOIN mix m USING (lang)
),
tot AS (SELECT SUM(n) AS total FROM joined),
bud AS (SELECT MIN((n * 100) // t) AS budget FROM joined)
SELECT j.lang,
       CAST(j.n AS BIGINT) AS n_docs,
       ROUND(CAST(j.n * 100 AS DOUBLE) / total, 6) AS actual_pct,
       CAST(j.t AS BIGINT) AS target_pct,
       ROUND(CAST(j.t * total AS DOUBLE) / (100 * j.n), 6) AS weight,
       ROUND(CAST(budget * j.t AS DOUBLE) / 100, 2) AS expected_docs
FROM joined j, tot, bud
ORDER BY j.lang
"""


# --- document-quality rule battery ---------------------------------------
from projet_etl_spark.operators import qualrules as _qr  # noqa: E402

_QUALRULES_SQL = f"""
WITH toks AS (
    SELECT doc_id, {TX.SQL_TOKENS.format(col='text')} AS t, text
    FROM documents
),
per_doc AS (
    SELECT len(t) AS nw,
           length(array_to_string(t, '')) AS chars,
           len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS alpha,
           len(regexp_extract_all(text, '#'))
             + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
           len(list_filter({list(_qr.STOP_WORDS)},
                           w -> list_contains(t, w))) AS stops
    FROM toks
),
agg AS (
    SELECT COUNT(*) AS n_docs,
           SUM(CASE WHEN nw < {_qr.WORDS_MIN} OR nw > {_qr.WORDS_MAX}
                    THEN 1 ELSE 0 END) AS f_wordcount,
           SUM(CASE WHEN chars < 3 * nw OR chars > 10 * nw
                    THEN 1 ELSE 0 END) AS f_meanwordlen,
           SUM(CASE WHEN 10 * symbols > nw THEN 1 ELSE 0 END)
               AS f_symbolratio,
           SUM(CASE WHEN 5 * alpha < 4 * nw THEN 1 ELSE 0 END)
               AS f_alphafrac,
           SUM(CASE WHEN stops < {_qr.STOP_MIN} THEN 1 ELSE 0 END)
               AS f_stopwords
    FROM per_doc
),
rules AS (
              SELECT 'word-count-range'     AS rule, f_wordcount   AS n_fail, n_docs FROM agg
    UNION ALL SELECT 'mean-word-length'     AS rule, f_meanwordlen AS n_fail, n_docs FROM agg
    UNION ALL SELECT 'symbol-to-word-ratio' AS rule, f_symbolratio AS n_fail, n_docs FROM agg
    UNION ALL SELECT 'alpha-word-fraction'  AS rule, f_alphafrac   AS n_fail, n_docs FROM agg
    UNION ALL SELECT 'stopword-floor'       AS rule, f_stopwords   AS n_fail, n_docs FROM agg
)
SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
       ROUND(CAST(n_fail * 100 AS DOUBLE) / n_docs, 6) AS fail_pct
FROM rules ORDER BY rule
"""


# rules-vs-model agreement: per-doc rule flags (the _QUALRULES_SQL
# counters, doc_id kept) joined with the JVM scorer's keep decision
# (_QMODEL_SQL nested verbatim, order stripped)
# shared CTE prefix for every rules-battery × learned-scorer report
# (confusion table, kappa, calibration curve) — one definition, so
# the three oracles cannot disagree about what either filter said
# rules-only prefix (toks/per_doc/rules) — also the base of the
# quality-by-domain rollup, so every consumer of the rule battery
# shares ONE definition of what "rules_pass" means
_RULES_CTES = f"""
WITH toks AS (
    SELECT doc_id, {TX.SQL_TOKENS.format(col='text')} AS t, text
    FROM documents
),
per_doc AS (
    SELECT doc_id,
           len(t) AS nw,
           length(array_to_string(t, '')) AS chars,
           len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS alpha,
           len(regexp_extract_all(text, '#'))
             + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
           len(list_filter({list(_qr.STOP_WORDS)},
                           w -> list_contains(t, w))) AS stops
    FROM toks
),
rules AS (
    SELECT doc_id,
           NOT (nw < {_qr.WORDS_MIN} OR nw > {_qr.WORDS_MAX}
                OR chars < 3 * nw OR chars > 10 * nw
                OR 10 * symbols > nw
                OR 5 * alpha < 4 * nw
                OR stops < {_qr.STOP_MIN}) AS rules_pass
    FROM per_doc
)"""

_RULES_MODEL_CTES = f"""{_RULES_CTES},
model AS (
    SELECT doc_id, keep, logit_milli
    FROM ({_QMODEL_SQL.replace("ORDER BY doc_id", "")}) m
)"""

_RULES_VS_MODEL_SQL = f"""{_RULES_MODEL_CTES}
SELECT r.rules_pass, m.keep AS model_keep,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM rules r JOIN model m USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# Cohen's kappa over the confusion table above: exact BIGINT margins,
# then po/pe/kappa with the identical IEEE expression shape as the
# Spark fold (qualrules.q_filter_agreement_kappa); pe = 1 degenerates
# to kappa = 1.0 via NULLIF/COALESCE in both engines.
_KAPPA_SQL = f"""
WITH ct AS ({_RULES_VS_MODEL_SQL.replace("GROUP BY 1, 2 ORDER BY 1, 2",
                                         "GROUP BY 1, 2")}),
m AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN rules_pass AND model_keep
                         THEN n_docs ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN NOT rules_pass AND NOT model_keep
                         THEN n_docs ELSE 0 END) AS BIGINT) AS d,
           CAST(SUM(CASE WHEN rules_pass THEN n_docs ELSE 0 END)
                AS BIGINT) AS r1,
           CAST(SUM(CASE WHEN model_keep THEN n_docs ELSE 0 END)
                AS BIGINT) AS m1
    FROM ct
),
p AS (
    SELECT n,
           CAST(a + d AS DOUBLE) / CAST(n AS DOUBLE) AS po,
           (CAST(r1 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE))
           + (CAST(n - r1 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(n - m1 AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
    FROM m
)
SELECT n AS n_docs,
       ROUND(po, 6) AS observed_agreement,
       ROUND(pe, 6) AS expected_agreement,
       ROUND(COALESCE((po - pe) / NULLIF(1.0 - pe, 0.0), 1.0), 6) AS kappa
FROM p
"""


# jaccard-threshold sensitivity sweep over the verified minhash
# candidates: band on the SAME rounded double, descending-cumulative
# pair counts over the <= 11-row band table
_SWEEP_SQL = (
    _MINHASH_CTES
    + f""",
swept AS (
    SELECT CAST(FLOOR(jaccard * {dedup.SWEEP_BANDS_PER_UNIT}) AS BIGINT) AS b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM jac WHERE jaccard >= {dedup.SWEEP_FLOOR}
    GROUP BY 1
)
SELECT CAST(b AS DOUBLE) / {dedup.SWEEP_BANDS_PER_UNIT} AS threshold_lo,
       n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY b DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_pairs
FROM swept ORDER BY threshold_lo
"""
)


# per-shard packing efficiency at the pinned shard count: exact
# integer ceil for pack counts, one presentation division per row
_PACK_EFF_SQL = f"""
WITH tok AS (
    SELECT doc_id, {_TOK} AS t FROM documents
),
base AS (
    SELECT CAST(len(t) AS BIGINT) AS n_tokens,
           ({TX.SQL_HASH60.format(col="CAST(doc_id AS VARCHAR)")}
            % {packing.N_SHARDS}) AS shard
    FROM tok
),
per AS (
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM base GROUP BY shard
)
SELECT shard, n_docs, n_tokens,
       CAST((n_tokens + {packing.PACK_BUDGET - 1}) // {packing.PACK_BUDGET}
            AS BIGINT) AS n_packs,
       ROUND(CAST(n_tokens * 100 AS DOUBLE)
             / CAST(((n_tokens + {packing.PACK_BUDGET - 1})
                     // {packing.PACK_BUDGET}) * {packing.PACK_BUDGET}
                    AS DOUBLE), 6) AS fill_pct
FROM per ORDER BY shard
"""


# per-language embedding coverage: LEFT join on the id contract
# (doc_id = vec_id), exact indicator sums
_EMB_COVERAGE_SQL = """
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_vec,
       ROUND(CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  * 100 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS coverage_pct
FROM documents d
LEFT JOIN (SELECT vec_id AS doc_id FROM embeddings) e USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""

from projet_etl_spark.operators import dsir as _dsir  # noqa: E402

# --- model-calibration oracle ------------------------------------------
# fixed milli-logit bands (constants shared with qualrules.py): the
# clamp and band index are pure non-negative integer arithmetic, so
# both engines band identically; one rounded ratio per output row
_CALIBRATION_SQL = f"""{_RULES_MODEL_CTES},
j AS (
    SELECT CASE WHEN r.rules_pass THEN 1 ELSE 0 END AS rp,
           GREATEST(LEAST(m.logit_milli, {_qr.CAL_HI_MILLI - 1}),
                    {_qr.CAL_LO_MILLI}) - ({_qr.CAL_LO_MILLI}) AS shifted
    FROM rules r JOIN model m USING (doc_id)
),
b AS (
    SELECT shifted // {_qr.CAL_BAND_MILLI} AS band, rp FROM j
)
SELECT band,
       CAST({_qr.CAL_LO_MILLI} + band * {_qr.CAL_BAND_MILLI} AS BIGINT)
           AS band_lo_milli,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(rp) AS BIGINT) AS n_rules_pass,
       ROUND(CAST(SUM(rp) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE), 6)
           AS rules_pass_pct
FROM b GROUP BY band ORDER BY band
"""

# --- DSIR importance oracle ------------------------------------------
# same hashed-bucket table, smoothing, and half-away microlog
# integerization as operators/dsir.py, generated from the SAME
# constants; per-document weights are exact BIGINT sums so no float
# accumulation order can disagree. The double arithmetic inside LN is
# written operation-for-operation as the Python driver computes it
# (each smoothed probability one division, the ratio one more) so both
# engines integerize the identical IEEE double.
_DSIR_TARGETS = ", ".join(f"'{s}'" for s in _dsir.DSIR_TARGET_SOURCES)
_DSIR_SQL = f"""
WITH tok AS (
    SELECT doc_id, source, unnest({_TOK}) AS tok FROM documents
),
tk AS (
    SELECT doc_id, source,
           ({TX.SQL_HASH60.format(col="tok")} % {_dsir.DSIR_BUCKETS}) AS bucket
    FROM tok WHERE tok <> ''
),
cnt AS (
    SELECT bucket,
           CAST(SUM(CASE WHEN source IN ({_DSIR_TARGETS}) THEN 1 ELSE 0 END)
                AS BIGINT) AS ct,
           CAST(COUNT(*) AS BIGINT) AS cr
    FROM tk GROUP BY bucket
),
tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt),
ratio AS (
    SELECT bucket,
           CAST(ROUND(LN(
               (CAST(ct + 1 AS DOUBLE) / CAST(tt + {_dsir.DSIR_BUCKETS} AS DOUBLE))
             / (CAST(cr + 1 AS DOUBLE) / CAST(tr + {_dsir.DSIR_BUCKETS} AS DOUBLE))
           ) * 1000000.0) AS BIGINT) AS mlog
    FROM cnt, tot
),
w AS (
    SELECT tk.doc_id, CAST(SUM(r.mlog) AS BIGINT) AS dsir_microlog
    FROM tk JOIN ratio r USING (bucket)
    GROUP BY tk.doc_id
)
SELECT d.doc_id, d.lang, d.source, w.dsir_microlog
FROM w JOIN documents d USING (doc_id)
ORDER BY w.dsir_microlog DESC, d.doc_id
LIMIT {_dsir.DSIR_TOP_K}
"""

# --- duplicate-mass-by-source oracle ---------------------------------
# clusters CTE + the member's source/chars and the canonical doc's
# source (cluster labels ARE doc_ids)
_SOURCE_ATTR_SQL = f"""
WITH lab AS ({_CLUSTERS_SQL}),
j AS (
    SELECT d.source, d.n_chars,
           CASE WHEN lab.doc_id <> lab.cluster_id THEN 1 ELSE 0 END AS dup,
           CASE WHEN lab.doc_id <> lab.cluster_id AND d.source <> c.source
                THEN 1 ELSE 0 END AS xdup
    FROM lab
    JOIN documents d ON lab.doc_id = d.doc_id
    JOIN documents c ON lab.cluster_id = c.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_dups,
       CAST(SUM(xdup) AS BIGINT) AS n_cross_dups,
       CAST(SUM(dup * n_chars) AS BIGINT) AS dup_chars,
       ROUND(CAST(SUM(dup) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE), 6)
           AS dup_pct
FROM j GROUP BY source ORDER BY source
"""

# --- cluster-size histogram oracle -----------------------------------
_CLUSTER_SIZE_HIST_SQL = f"""
WITH lab AS ({_CLUSTERS_SQL}),
sz AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM lab GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_dup_docs
FROM sz GROUP BY cluster_size ORDER BY cluster_size
"""

# --- quantized-recall oracle (brute twin vs int8 twin) ----------------
_QANN_RECALL_SQL = f"""
WITH brute AS ({_ANN_BRUTE_SQL}),
quant AS ({_QANN_SQL})
SELECT b.query_id,
       CAST(SUM(CASE WHEN q.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       CAST(SUM(CASE WHEN q.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / {float(similarity.TOP_K)} AS recall
FROM brute b
LEFT JOIN quant q ON b.query_id = q.query_id AND b.cand_id = q.cand_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


from projet_etl_spark.functions import web as _web  # noqa: E402
from projet_etl_spark.operators import domains as _domains  # noqa: E402

# --- domain-grain curation oracles (round-10) --------------------------
# URL derivation (fixture device) and host/registrable-domain
# extraction mirror functions/web.py from the SAME regex strings;
# tests/test_round10_ops.py drives URL literals through both engines.
_URL_EXPR = _web.sql_doc_url("source", "doc_id")
_DOM_CTES = f"""
u AS (
    SELECT doc_id, lang, n_chars, {_URL_EXPR} AS url FROM documents
),
dom AS (
    SELECT doc_id, lang, n_chars,
           {_web.sql_host_of("url")} AS host,
           {_web.sql_registrable_domain("url")} AS domain
    FROM u
)"""

_DOMAIN_PROFILE_SQL = f"""
WITH {_DOM_CTES}
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_chars
FROM dom GROUP BY domain ORDER BY domain
"""

_DOMAIN_ATTR_SQL = f"""
WITH lab AS ({_CLUSTERS_SQL}),
{_DOM_CTES},
j AS (
    SELECT d.domain, d.n_chars,
           CASE WHEN lab.doc_id <> lab.cluster_id THEN 1 ELSE 0 END AS dup,
           CASE WHEN lab.doc_id <> lab.cluster_id AND d.domain <> c.domain
                THEN 1 ELSE 0 END AS xdup
    FROM lab
    JOIN dom d ON lab.doc_id = d.doc_id
    JOIN dom c ON lab.cluster_id = c.doc_id
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_dups,
       CAST(SUM(xdup) AS BIGINT) AS n_cross_dups,
       CAST(SUM(dup * n_chars) AS BIGINT) AS dup_chars,
       ROUND(CAST(SUM(dup) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE), 6)
           AS dup_pct
FROM j GROUP BY domain ORDER BY domain
"""

# ppm arithmetic is exact 128-bit floor division on both engines
# (Spark DECIMAL(38,0) through IntegralDivide, DuckDB HUGEINT `//`)
# — no float in the share/rate path, and no BIGINT wrap past 9.2e12
# chars/domain (advisor r10)
_DOMAIN_BUDGET_SQL = f"""
WITH lab AS ({_CLUSTERS_SQL}),
{_DOM_CTES},
canon AS (
    SELECT d.domain, d.n_chars
    FROM lab JOIN dom d ON lab.doc_id = d.doc_id
    WHERE lab.doc_id = lab.cluster_id
),
per AS (
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_uniq,
           CAST(SUM(n_chars) AS BIGINT) AS uniq_chars
    FROM canon GROUP BY domain
),
tot AS (SELECT CAST(SUM(uniq_chars) AS BIGINT) AS t FROM per),
s AS (
    SELECT domain, n_uniq, uniq_chars,
           CAST(CAST(uniq_chars AS HUGEINT) * 1000000 // t AS BIGINT)
               AS share_ppm
    FROM per, tot
),
r AS (
    SELECT *, CAST(CASE WHEN share_ppm > {_domains.CAP_PPM}
                        THEN CAST({_domains.CAP_PPM} AS BIGINT) * 1000000
                             // share_ppm
                        ELSE 1000000 END AS BIGINT) AS sample_rate_ppm
    FROM s
)
SELECT domain, n_uniq, uniq_chars, share_ppm, sample_rate_ppm,
       CAST(CAST(uniq_chars AS HUGEINT) * sample_rate_ppm // 1000000
            AS BIGINT) AS budget_chars
FROM r ORDER BY domain
"""

# per-domain per-rule fail decomposition + pass gate: the shared
# rules-CTE counter definitions (ONE source for what each rule
# means) at per_doc grain, joined to the domain projection; the
# per-rule CASE forms are the _QUALRULES_SQL ones, generated from
# the same constants
_QUALITY_BY_DOMAIN_SQL = f"""{_RULES_CTES},
{_DOM_CTES},
j AS (
    SELECT d.domain, d.n_chars,
           CASE WHEN p.nw < {_qr.WORDS_MIN} OR p.nw > {_qr.WORDS_MAX}
                THEN 1 ELSE 0 END AS f_wordcount,
           CASE WHEN p.chars < 3 * p.nw OR p.chars > 10 * p.nw
                THEN 1 ELSE 0 END AS f_meanwordlen,
           CASE WHEN 10 * p.symbols > p.nw THEN 1 ELSE 0 END
               AS f_symbolratio,
           CASE WHEN 5 * p.alpha < 4 * p.nw THEN 1 ELSE 0 END
               AS f_alphafrac,
           CASE WHEN p.stops < {_qr.STOP_MIN} THEN 1 ELSE 0 END
               AS f_stopwords,
           CASE WHEN r.rules_pass THEN 1 ELSE 0 END AS p
    FROM per_doc p
    JOIN rules r USING (doc_id)
    JOIN dom d USING (doc_id)
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wordcount) AS BIGINT) AS f_wordcount,
       CAST(SUM(f_meanwordlen) AS BIGINT) AS f_meanwordlen,
       CAST(SUM(f_symbolratio) AS BIGINT) AS f_symbolratio,
       CAST(SUM(f_alphafrac) AS BIGINT) AS f_alphafrac,
       CAST(SUM(f_stopwords) AS BIGINT) AS f_stopwords,
       CAST(SUM(p) AS BIGINT) AS n_pass,
       CAST(SUM(p * n_chars) AS BIGINT) AS kept_chars,
       ROUND(CAST(SUM(p) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE), 6)
           AS pass_pct
FROM j GROUP BY domain ORDER BY domain
"""

# content identity = near-dup cluster (the recursive-CC labels CTE,
# recomputed from scratch — the oracle never reads the staged
# materialization); snapshots are doc_id mod SNAPSHOTS (ordered
# round-robin fixture device)
_INCR_RATE_SQL = f"""
WITH lab AS ({_CLUSTERS_SQL}),
d AS (
    SELECT cluster_id, doc_id % {_domains.SNAPSHOTS} AS snap FROM lab
),
g AS (
    SELECT cluster_id, snap, CAST(COUNT(*) AS BIGINT) AS n
    FROM d GROUP BY cluster_id, snap
),
f AS (SELECT cluster_id, MIN(snap) AS first_snap FROM g GROUP BY cluster_id),
j AS (SELECT g.snap, g.n, f.first_snap FROM g JOIN f USING (cluster_id))
SELECT CAST(snap AS BIGINT) AS snap,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN snap > first_snap THEN n ELSE 0 END) AS BIGINT)
           AS n_hist_dups,
       CAST(SUM(CASE WHEN snap = first_snap THEN n - 1 ELSE 0 END) AS BIGINT)
           AS n_batch_dups,
       CAST(SUM(CASE WHEN snap = first_snap THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_contents,
       ROUND(CAST(SUM(CASE WHEN snap > first_snap THEN n ELSE 0 END)
                  + SUM(CASE WHEN snap = first_snap THEN n - 1 ELSE 0 END)
                  AS DOUBLE)
             * 100.0 / CAST(SUM(n) AS DOUBLE), 6) AS dup_pct
FROM j GROUP BY snap ORDER BY snap
"""

# keep-first-fetch export at URL grain (r11b): one aggregate over
# the canonicalized crawl log
_URL_FETCHES_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_web.sql_crawl_url("doc_id")} AS url FROM documents
),
d AS (
    SELECT {_web.sql_canonical_url("url")} AS url, doc_id,
           doc_id % {_domains.SNAPSHOTS} AS snap
    FROM raw
)
SELECT url,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fetches,
       CAST(COUNT(DISTINCT snap) AS BIGINT) AS n_snapshots
FROM d GROUP BY url ORDER BY url
"""

# URL grain (r11): canonicalization mirror built from the SAME regex
# strings as functions/web.py (sql_canonical_url / sql_noisy_doc_url
# / sql_crawl_url); dedup-exact-url is the incremental-rate shape
# with canonical URL as the identity instead of the cluster label
_URL_CANON_SQL = f"""
WITH u AS (
    SELECT doc_id, {_web.sql_noisy_doc_url("source", "doc_id")} AS url
    FROM documents
)
SELECT doc_id, url,
       {_web.sql_canonical_url("url")} AS canonical_url,
       {_web.sql_registrable_domain(_web.sql_canonical_url("url"))} AS domain
FROM u ORDER BY doc_id
"""

_EXACT_URL_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_web.sql_crawl_url("doc_id")} AS url FROM documents
),
d AS (
    SELECT {_web.sql_canonical_url("url")} AS url,
           doc_id % {_domains.SNAPSHOTS} AS snap
    FROM raw
),
g AS (
    SELECT url, snap, CAST(COUNT(*) AS BIGINT) AS n
    FROM d GROUP BY url, snap
),
f AS (SELECT url, MIN(snap) AS first_snap FROM g GROUP BY url),
j AS (SELECT g.snap, g.n, f.first_snap FROM g JOIN f USING (url))
SELECT CAST(snap AS BIGINT) AS snap,
       CAST(SUM(n) AS BIGINT) AS n_fetches,
       CAST(SUM(CASE WHEN snap > first_snap THEN n ELSE 0 END) AS BIGINT)
           AS n_hist_dups,
       CAST(SUM(CASE WHEN snap = first_snap THEN n - 1 ELSE 0 END) AS BIGINT)
           AS n_batch_dups,
       CAST(SUM(CASE WHEN snap = first_snap THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_urls,
       ROUND(CAST(SUM(CASE WHEN snap > first_snap THEN n ELSE 0 END)
                  + SUM(CASE WHEN snap = first_snap THEN n - 1 ELSE 0 END)
                  AS DOUBLE)
             * 100.0 / CAST(SUM(n) AS DOUBLE), 6) AS dup_pct
FROM j GROUP BY snap ORDER BY snap
"""


def build():
    """Every registry query as ``(name, operator, oracle SQL, tags)``,
    in registry order; plans.registry wraps each one at module init.
    The 13 reference-parity queries come first."""
    return [
        # the reference's QUERY_MAP queries (views.py:9-89) and their
        # two -avg twins, each checked by its parity oracle
        *(
            (name, fn, PARITY_ORACLES[name], ("parity",))
            for name, fn in (
                ("cat", simple.q_cat),
                ("mag-cat", simple.q_mag_cat),
                ("fab-cat", simple.q_fab_cat),
                ("avg-prod-per-fab", simple.q_avg_prod_per_fab),
                ("top-magasins", topk.q_top_magasins),
                ("top-magasins-cat", topk.q_top_magasins_cat),
                ("top-1", topk.q_top_1),
                ("nb-mag-cat-date", timeseries.q_nb_mag_cat_date),
                ("score-evolution", timeseries.q_score_evolution),
                ("avg-cat-fab-10-mag", composite.q_avg_cat_fab_10_mag),
                ("avg-cat-fab-10-mag-avg", composite.q_avg_cat_fab_10_mag_avg),
                ("score-sante-touts-les-mois", composite.q_score_sante_mois),
                ("score-sante-touts-les-mois-avg", composite.q_score_sante_mois_avg),
            )
        ),
        ("dedup-exact", dedup.q_dedup_exact, _DEDUP_EXACT_SQL, ("dedup",)),
        ("dedup-ngram-jaccard", dedup.q_dedup_ngram_jaccard, _NGRAM_SQL, ("dedup",)),
        ("dedup-minhash-lsh", dedup.q_dedup_minhash_lsh, _MINHASH_SQL, ("dedup",)),
        ("dedup-simhash", dedup.q_dedup_simhash, _SIMHASH_SQL, ("dedup",)),
        (
            "dedup-embedding-cosine",
            dedup.q_dedup_embedding_cosine,
            _EMB_COS_SQL,
            ("dedup",),
        ),
        (
            "dedup-embedding-lsh",
            dedup.q_dedup_embedding_lsh,
            _EMB_LSH_SQL,
            ("dedup", "ann"),
        ),
        # the RP-banding recall audit (r11): keeps the widened-band
        # trade measured, the dedup-lsh-recall pattern at embedding
        # grain
        (
            "embedding-lsh-recall",
            dedup.q_embedding_lsh_recall,
            _EMB_LSH_RECALL_SQL,
            ("dedup", "ann"),
        ),
        # deployment-threshold regime (r12, r11 verdict item 2):
        # banded LSH at cosine >= 0.8 over the planted high-cosine
        # corpus, with its recall-audit twin (gate: recall >= 0.97)
        (
            "dedup-embedding-lsh-hi",
            dedup.q_dedup_embedding_lsh_hi,
            _EMB_HI_SQL,
            ("dedup", "ann"),
        ),
        (
            "embedding-lsh-recall-hi",
            dedup.q_embedding_lsh_recall_hi,
            _EMB_HI_RECALL_SQL,
            ("dedup", "ann"),
        ),
        # r13 (r12 verdict item 2): the staircase knob RUN, not just
        # stated — the banded path and its recall audit at the wide
        # geometry rphi_geometry_for(RPHI_WIDE_N) the knob prescribes
        # past the 16-bit fixture regime
        (
            "dedup-embedding-lsh-hi-wide",
            dedup.q_dedup_embedding_lsh_hi_wide,
            _EMB_HI_WIDE_SQL,
            ("dedup", "ann"),
        ),
        (
            "embedding-lsh-recall-hi-wide",
            dedup.q_embedding_lsh_recall_hi_wide,
            _EMB_HI_WIDE_RECALL_SQL,
            ("dedup", "ann"),
        ),
        # r13: the staircase's OTHER prescription run — past the
        # 24-bit band ceiling the plan is partition-disjoint sharding
        # (SemDeDup's cluster-then-dedup): multi-probe IVF-cell
        # replication, banded join with `cell` as a leading key, and
        # the sharding loss measured in the recall twin
        (
            "dedup-embedding-lsh-hi-sharded",
            dedup.q_dedup_embedding_lsh_hi_sharded,
            _EMB_SHARD_SQL,
            ("dedup", "ann"),
        ),
        (
            "embedding-shard-recall",
            dedup.q_embedding_shard_recall,
            _EMB_SHARD_RECALL_SQL,
            ("dedup", "ann"),
        ),
        # the prune EXPORT at the deployment threshold: pairs ->
        # components -> keep-min exemplar (what a SemDeDup-style run
        # materializes); completes the r12 hi family
        (
            "semantic-exemplars-hi",
            clusters.q_semantic_exemplars_hi,
            _SEMANTIC_HI_EXEMPLARS_SQL,
            ("dedup", "ann"),
        ),
        # the hi pairs served from the INCREMENTAL stream's sink
        # (vec_id-ordered replay -> every true pair crosses batches,
        # so the batch x STORE path is what the oracle certifies);
        # shares the one-shot query's oracle verbatim
        (
            "embedding-pairs-store",
            storequery.q_embedding_pairs_store,
            _EMB_HI_SQL,
            ("dedup", "ann", "streaming"),
        ),
        # r13 (r12 verdict item 3): the hi pairs served from the
        # COMPACTED sink — all three per-batch tables folded verbatim
        # into the reserved partition; same oracle, so the driver row
        # proves fold-then-serve == rescan
        (
            "embedding-pairs-store-compacted",
            storequery.q_embedding_pairs_store_compacted,
            _EMB_HI_SQL,
            ("dedup", "ann", "streaming"),
        ),
        ("ann-cosine-topk", similarity.q_ann_cosine_topk, _ANN_BRUTE_SQL, ("ann",)),
        ("ann-quantized-topk", quantized.q_ann_quantized_topk, _QANN_SQL, ("ann",)),
        # per-label int8 cosine-loss audit for the quantized path
        (
            "embedding-quantization-error",
            quantized.q_embedding_quantization_error,
            _QERR_SQL,
            ("ann", "dq"),
        ),
        ("ann-ivf-topk", similarity.q_ann_ivf_topk, _ANN_IVF_SQL, ("ann",)),
        # same serve stage over the streaming-maintained assignment:
        # index-maintenance-vs-rebuild parity, batch oracle verbatim
        (
            "ann-ivf-store",
            storequery.q_ann_ivf_store,
            _ANN_IVF_SQL,
            ("ann", "streaming"),
        ),
        (
            "ann-ivf-recall",
            similarity.q_ann_ivf_recall,
            _IVF_RECALL_SQL,
            ("ann", "audit"),
        ),
        (
            "dedup-lsh-recall",
            dedup.q_dedup_lsh_recall,
            _LSH_RECALL_SQL,
            ("dedup", "audit"),
        ),
        ("text-token-count", textstats.q_text_token_count, _TOKEN_COUNT_SQL, ("text",)),
        # doc-length distribution in 16-token bands (packing input)
        (
            "tokens-per-doc-histogram",
            textstats.q_tokens_per_doc_histogram,
            _TOKENS_HIST_SQL,
            ("text", "curation"),
        ),
        ("text-quality", textstats.q_text_quality, _QUALITY_SQL, ("text",)),
        ("text-lang-id", textstats.q_text_lang_id, _LANG_ID_SQL, ("text",)),
        # lang-id calibration: zero-margin (coin-flip) rate per bucket
        (
            "docs-lang-margin",
            textstats.q_docs_lang_margin,
            _LANG_MARGIN_SQL,
            ("text", "dq"),
        ),
        ("text-fingerprint", textstats.q_text_fingerprint, _FINGERPRINT_SQL, ("text",)),
        (
            "text-bpe-token-count",
            textstats.q_text_bpe_token_count,
            _BPE_SQL,
            ("text",),
        ),
        # distributed BPE merge learning (r11): the learner is the
        # oracled from-scratch builder (unrolled materialized-CTE
        # mirror, same argmax total order); the learned-count twin
        # consumes the fingerprint-staged segmentation
        (
            "bpe-learn-merges",
            _bpe.q_bpe_learn_merges,
            _bpe.sql_learn_merges(),
            ("text", "tokenizer"),
        ),
        (
            "bpe-learned-count",
            _bpe.q_bpe_learned_count,
            _bpe.sql_learned_count(),
            ("text", "tokenizer"),
        ),
        (
            "text-rolling-hash",
            textstats.q_text_rolling_hash,
            _ROLLING_HASH_SQL,
            ("text",),
        ),
        (
            "events-tumbling-1h",
            events_windows.q_events_tumbling_1h,
            _TUMBLING_SQL,
            ("windows",),
        ),
        (
            "events-sliding-1h-30m",
            events_windows.q_events_sliding_1h_30m,
            _SLIDING_SQL,
            ("windows",),
        ),
        ("events-session", events_windows.q_events_session, _SESSION_SQL, ("windows",)),
        (
            "multimodal-bytes",
            multimodal.q_multimodal_bytes,
            _MULTIMODAL_SQL,
            ("multimodal",),
        ),
        (
            "multimodal-frame-sample",
            multimodal.q_multimodal_frame_sample,
            _FRAME_SQL,
            ("multimodal",),
        ),
        (
            "multimodal-dedup",
            multimodal.q_multimodal_dedup,
            _MM_DEDUP_SQL,
            ("multimodal", "dedup"),
        ),
        (
            "pipeline-clean-corpus",
            corpus.q_pipeline_clean_corpus,
            _CLEAN_CORPUS_SQL,
            ("pipeline", "dedup", "curation", "inference"),
        ),
        # per-stage retention funnel over the same hygiene chain
        (
            "corpus-survivorship",
            corpus.q_corpus_survivorship,
            _SURVIVORSHIP_SQL,
            ("pipeline", "curation", "dq"),
        ),
        (
            "pipeline-corpus-stats",
            corpus.q_corpus_stats,
            _CORPUS_SQL.format(cutoff=corpus.QUALITY_CUTOFF),
            ("pipeline",),
        ),
        # (the HLL approx twins — simple.q_mag_cat_approx,
        # events_windows.q_rolling_active_users_approx — are library
        # helpers, not registry queries: their estimates are
        # engine-specific so they can never be oracle-green, and a
        # permanent rows-only row reads as an error in the driver's
        # correctness artifact. Accuracy vs the exact twins is pinned
        # by tests/test_quirks.py::test_approx_distinct_close_to_exact
        # and test_scale_patterns.py::test_rolling_approx_within_tolerance.)
        # iterative fixpoint on the Spark side; the oracle states the
        # same components as a recursive transitive closure
        ("dedup-clusters", clusters.q_dedup_clusters, _CLUSTERS_SQL, ("dedup",)),
        # duplicate mass per language (mixing-weight hygiene input)
        (
            "dedup-mass-by-lang",
            clusters.q_dedup_mass_by_lang,
            _DUP_MASS_SQL,
            ("dedup", "curation"),
        ),
        # leakage-free splits: hash the CLUSTER label so near-dup
        # classes land in one split whole (oracle composes the
        # recursive-CTE components with the same portable key hash)
        (
            "split-by-cluster",
            decontam.q_split_by_cluster,
            _SPLIT_BY_CLUSTER_SQL,
            ("dedup", "curation"),
        ),
        (
            "semantic-clusters",
            clusters.q_semantic_clusters,
            _SEMANTIC_SQL,
            ("dedup", "ann"),
        ),
        (
            "semantic-exemplars",
            clusters.q_semantic_exemplars,
            _SEMANTIC_EXEMPLARS_SQL,
            ("dedup", "ann"),
        ),
        ("dedup-canonical", clusters.q_dedup_canonical, _CANONICAL_SQL, ("dedup",)),
        (
            "decontaminate-ngram",
            decontam.q_decontaminate_ngram,
            _DECONTAM_SQL,
            ("curation",),
        ),
        ("pack-sequences", _q_pack_sequences_fixture, _PACK_SQL, ("curation",)),
        ("text-repetition", textstats.q_text_repetition, _REPETITION_SQL, ("text",)),
        (
            "quality-filter-per-lang",
            textstats.q_quality_filter,
            _QUALITY_FILTER_SQL_TEMPLATE.format(
                quality=_QUALITY_SQL, keep=textstats.KEEP_FRAC
            ),
            ("curation", "text"),
        ),
        ("text-scrub-pii", curation.q_text_scrub_pii, _SCRUB_SQL, ("curation",)),
        # per-language PII concentration (hits per 1k tokens)
        (
            "docs-pii-density",
            curation.q_docs_pii_density,
            _PII_DENSITY_SQL,
            ("curation", "dq"),
        ),
        (
            "events-click-attribution",
            _attribution_batch,
            _ATTRIBUTION_SQL,
            ("windows", "join"),
        ),
        ("events-asof-click", asof.q_purchase_asof_click, _ASOF_SQL, ("join",)),
        # rollup twins share the RAW queries' oracles: the gate proves
        # the materialized path answers identically
        (
            "score-evolution-rollup",
            materialized.q_score_evolution_rollup,
            PARITY_ORACLES["score-evolution"],
            ("materialized",),
        ),
        (
            "nb-mag-cat-date-rollup",
            materialized.q_nb_mag_cat_date_rollup,
            PARITY_ORACLES["nb-mag-cat-date"],
            ("materialized",),
        ),
        (
            "top-magasins-rollup",
            materialized.q_top_magasins_rollup,
            PARITY_ORACLES["top-magasins"],
            ("materialized",),
        ),
        (
            "events-value-bands",
            rangejoin.q_events_value_bands,
            _RANGE_SQL,
            ("join",),
        ),
        ("text-chunks", curation.q_text_chunks, _CHUNKS_SQL, ("curation",)),
        ("sample-hash-10pct", curation.q_sample_hash, _SAMPLE_SQL, ("curation",)),
        ("vocab-top100", vocab.q_vocab_top100, _VOCAB_SQL, ("curation",)),
        # tokenizer-vocab coverage distribution (exact milli-ratios)
        (
            "vocab-coverage",
            vocab.q_vocab_coverage,
            _VOCAB_COVERAGE_SQL,
            ("curation", "text"),
        ),
        ("value-percentiles", stats.q_value_percentiles, _PCTL_SQL, ("stats",)),
        ("events-pivot-daily", stats.q_events_pivot_daily, _PIVOT_SQL, ("stats",)),
        ("bigrams-top50", stats.q_bigrams_top, _BIGRAM_SQL, ("stats",)),
        ("daily-moving-avg", stats.q_daily_moving_avg, _MOVING_AVG_SQL, ("stats", "windows")),
        ("events-anomalies", stats.q_events_anomalies, _ANOMALY_SQL, ("stats",)),
        ("revenue-by-nation", star.q_revenue_by_nation, _Q5_SQL, ("join", "olap")),
        ("tfidf-top-terms", textstats.q_tfidf_top_terms, _TFIDF_SQL, ("text",)),
        (
            "embed-score-pandas",
            inference.q_embed_score_pandas,
            _INFER_SQL,
            ("inference",),
        ),
        ("embed-score-jvm", inference.q_embed_score_jvm, _INFER_SQL, ("inference",)),
        ("funnel-signup-click-purchase", funnel.q_funnel_signup_click_purchase, _FUNNEL_SQL, ("analytics",)),
        ("retention-cohorts", funnel.q_retention_cohorts, _RETENTION_SQL, ("analytics",)),
        ("event-transitions", funnel.q_event_transitions, _TRANSITIONS_SQL, ("analytics", "windows")),
        (
            "events-type-counts-salted",
            stats.q_events_type_counts_salted,
            _SALTED_COUNTS_SQL,
            ("stats", "skew"),
        ),
        (
            "sample-stratified-n",
            curation.q_sample_stratified_n,
            _STRAT_SAMPLE_SQL,
            ("curation",),
        ),
        ("resample-by-lang", vocab.q_resample_by_lang, _RESAMPLE_SQL, ("curation",)),
        ("sales-rollup", olap.q_sales_rollup, _ROLLUP_SQL, ("olap",)),
        ("sales-cube", olap.q_sales_cube, _CUBE_SQL, ("olap",)),
        ("pricing-summary", star.q_pricing_summary, _Q1_SQL, ("olap",)),
        ("top-unshipped-orders", star.q_top_unshipped_orders, _Q3_SQL, ("olap", "join")),
        ("corr-qty-price", star.q_corr_qty_price, _CORR_SQL, ("stats",)),
        (
            "stores-without-category",
            olap.q_stores_without_category,
            _EXCEPT_SQL,
            ("olap",),
        ),
        (
            "top3-stores-per-category",
            olap.q_top3_stores_per_category,
            _TOP3_SQL,
            ("olap",),
        ),
        (
            "late-shipment-priority",
            star.q_late_shipment_priority,
            _Q4_SQL,
            ("olap", "join"),
        ),
        (
            "customer-order-distribution",
            star.q_customer_order_distribution,
            _Q13_SQL,
            ("olap", "join"),
        ),
        (
            "dedup-cross-doc-ngrams",
            textstats.q_dedup_cross_doc_ngrams,
            _CROSSDOC_SQL,
            ("dedup", "text"),
        ),
        (
            "text-token-entropy",
            textstats.q_text_token_entropy,
            _ENTROPY_SQL,
            ("text",),
        ),
        (
            "rolling-active-users",
            events_windows.q_rolling_active_users,
            _ROLLING_SQL,
            ("windows", "stats"),
        ),
        (
            "orders-above-customer-avg",
            star.q_orders_above_customer_avg,
            _ABOVE_AVG_SQL,
            ("olap", "join"),
        ),
        (
            "supplier-brand-coverage",
            star.q_supplier_brand_coverage,
            _DIVISION_SQL,
            ("olap", "join"),
        ),
        (
            "token-freq-cms",
            sketches.q_token_freq_cms,
            _CMS_SQL,
            ("sketch", "text"),
        ),
        (
            "quantiles-hash-sample",
            sketches.q_quantiles_hash_sample,
            sketches.QSAMPLE_ORACLE_SQL,
            ("sketch", "stats"),
        ),
        (
            "decontaminate-bloom",
            decontam.q_decontaminate_bloom,
            _BLOOM_SQL,
            ("sketch", "curation"),
        ),
        (
            "corpus-quality-budget",
            quality_model.q_corpus_quality_budget,
            _BUDGET_SQL,
            ("curation", "pipeline"),
        ),
        (
            "kmeans-clusters",
            kmeans.q_kmeans_clusters,
            _KMEANS_SQL,
            ("ml", "ann"),
        ),
        (
            "dedup-longest-span",
            textstats.q_dedup_longest_span,
            _SPAN_SQL,
            ("dedup", "text"),
        ),
        (
            "text-quality-model",
            quality_model.q_text_quality_model,
            _QMODEL_SQL,
            ("curation", "text", "inference"),
        ),
        (
            "text-quality-model-jvm",
            quality_model.q_text_quality_model_jvm,
            _QMODEL_SQL,
            ("curation", "text", "inference"),
        ),
        (
            "dedup-incremental",
            dedup.q_dedup_incremental,
            _INCREMENTAL_SQL,
            ("dedup",),
        ),
        (
            "sample-weighted-n",
            curation.q_sample_weighted_n,
            _WSAMPLE_SQL,
            ("curation",),
        ),
        (
            "text-unigram-logprob",
            textstats.q_text_unigram_logprob,
            _LM_SQL,
            ("text", "curation", "inference"),
        ),
        (
            "events-gap-fill",
            stats.q_events_gap_fill,
            _GAPFILL_SQL,
            ("stats", "windows"),
        ),
        (
            "top-large-orders",
            star.q_top_large_orders,
            _Q18_SQL,
            ("olap", "join"),
        ),
        (
            "customer-spend-deciles",
            star.q_customer_spend_deciles,
            _DECILES_SQL,
            ("olap", "stats"),
        ),
        (
            "sales-grouping-sets",
            olap.q_sales_grouping_sets,
            _GSETS_SQL,
            ("olap",),
        ),
        (
            "events-session-overlap",
            rangejoin.q_events_session_overlap,
            _OVERLAP_SQL,
            ("join", "windows"),
        ),
        (
            "user-state-history",
            events_windows.q_user_state_history,
            _SCD2_SQL,
            ("windows", "analytics"),
        ),
        (
            "distinct-kmv",
            sketches.q_distinct_kmv,
            _KMV_SQL,
            ("sketch", "stats"),
        ),
        (
            "events-time-weighted-avg",
            events_windows.q_events_time_weighted_avg,
            _TWA_SQL,
            ("windows", "stats"),
        ),
        (
            "events-ohlc-hourly",
            events_windows.q_events_ohlc_hourly,
            _OHLC_SQL,
            ("windows", "olap"),
        ),
        (
            "events-props-parse",
            stats.q_events_props_parse,
            _PROPS_SQL,
            ("stats", "json"),
        ),
        (
            "pipeline-training-export",
            corpus.q_pipeline_training_export,
            _EXPORT_SQL,
            ("pipeline", "curation", "dedup"),
        ),
        (
            "stores-in-both-categories",
            olap.q_stores_in_both_categories,
            _INTERSECT_SQL,
            ("olap",),
        ),
        (
            "daily-trailing-range",
            stats.q_daily_trailing_range,
            _RANGE_FRAME_SQL,
            ("stats", "windows"),
        ),
        (
            "dedup-edit-distance",
            dedup.q_dedup_edit_distance,
            _EDIT_SQL,
            ("dedup",),
        ),
        (
            "revenue-share-by-nation",
            star.q_revenue_share_by_nation,
            _SHARE_SQL,
            ("olap", "join"),
        ),
        (
            "docs-length-drift",
            textstats.q_docs_length_drift,
            _PSI_SQL,
            ("stats", "curation", "quality"),
        ),
        (
            "events-anomalies-robust",
            stats.q_events_anomalies_robust,
            _ROBUST_SQL,
            ("stats",),
        ),
        (
            "daily-value-percentiles",
            stats.q_daily_value_percentiles,
            _DAILY_PCTL_SQL,
            ("stats", "windows"),
        ),
        (
            "lineitem-corr-matrix",
            star.q_lineitem_corr_matrix,
            _CORRMAT_SQL,
            ("stats", "olap"),
        ),
        (
            "forecast-revenue-change",
            star.q_forecast_revenue_change,
            _Q6_ORACLE_SQL,
            ("olap",),
        ),
        (
            "top-returned-customers",
            star.q_top_returned_customers,
            _Q10_SQL,
            ("olap", "join"),
        ),
        (
            "users-cumulative",
            events_windows.q_users_cumulative,
            _CUMUSERS_SQL,
            ("windows", "analytics"),
        ),
        (
            "promo-revenue-share",
            star.q_promo_revenue_share,
            _Q14_SQL,
            ("olap", "join"),
        ),
        (
            "disjunctive-parts-revenue",
            star.q_disjunctive_parts_revenue,
            _Q19_SQL,
            ("olap", "join"),
        ),
        (
            "orders-monthly-growth",
            timeseries.q_orders_monthly_growth,
            _MOM_GROWTH_SQL,
            ("olap", "windows"),
        ),
        (
            "session-funnel",
            funnel.q_session_funnel,
            _SESSION_FUNNEL_SQL,
            ("analytics", "windows"),
        ),
        (
            "events-cusum-drift",
            stats.q_events_cusum_drift,
            _CUSUM_SQL,
            ("stats", "windows", "quality"),
        ),
        (
            "daily-bollinger",
            stats.q_daily_bollinger,
            _BOLLINGER_SQL,
            ("stats", "windows"),
        ),
        (
            "daily-ewma",
            stats.q_daily_ewma,
            _EWMA_SQL,
            ("stats", "windows"),
        ),
        (
            "token-zipf-fit",
            textstats.q_token_zipf_fit,
            _ZIPF_SQL,
            ("text", "stats", "quality"),
        ),
        (
            "orders-seasonal-profile",
            star.q_orders_seasonal_profile,
            _SEASONAL_SQL,
            ("olap", "windows"),
        ),
        (
            "parts-pareto",
            star.q_parts_pareto,
            _PARETO_SQL,
            ("olap", "stats"),
        ),
        (
            "daily-counts-store",
            storequery.q_daily_counts_store,
            _DAILY_STORE_SQL,
            ("streaming", "stats"),
        ),
        # merged+compacted bottom-K partials must equal the batch
        # sample bit-identically: shares quantiles-hash-sample's oracle
        (
            "bottomk-store",
            storequery.q_bottomk_store,
            sketches.QSAMPLE_ORACLE_SQL,
            ("streaming", "sketch", "stats"),
        ),
        (
            "events-heavy-hitters",
            stats.q_events_heavy_hitters,
            _HH_SQL,
            ("stats", "curation"),
        ),
        (
            "users-active-streaks",
            stats.q_users_active_streaks,
            _STREAKS_SQL,
            ("stats", "windows"),
        ),
        (
            "dedup-containment",
            dedup.q_dedup_containment,
            _CONTAINMENT_SQL,
            ("dedup",),
        ),
        (
            "orders-yoy-window",
            star.q_orders_yoy_window,
            _YOY_SQL,
            ("olap", "windows"),
        ),
        (
            "lineitem-salted-join",
            star.q_lineitem_salted_join,
            _SALTED_JOIN_SQL,
            ("olap", "join", "skew"),
        ),
        (
            "orders-bucketed-join",
            warehouse.q_orders_bucketed_join,
            _BUCKETED_JOIN_SQL,
            ("olap", "join", "layout"),
        ),
        # the incremental stream's pair union must equal the one-shot
        # batch LSH — so it SHARES the batch query's oracle verbatim
        (
            "neardedup-pairs-store",
            storequery.q_neardedup_pairs_store,
            _MINHASH_SQL,
            ("streaming", "dedup"),
        ),
        (
            "decontaminate-embedding",
            decontam.q_decontaminate_embedding,
            _SEM_CONTAM_SQL,
            ("curation", "ann"),
        ),
        (
            "volume-shipping-pairs",
            star.q_volume_shipping,
            _Q7_SQL,
            ("olap", "join"),
        ),
        (
            "top-supplier-revenue",
            star.q_top_supplier_revenue,
            _Q15_SQL,
            ("olap",),
        ),
        (
            "small-order-revenue",
            star.q_small_order_revenue,
            _Q17_SQL,
            ("olap",),
        ),
        (
            "cold-customers-segments",
            star.q_cold_customers,
            _Q22_SQL,
            ("olap",),
        ),
        (
            "events-props-variant",
            stats.q_events_props_variant,
            _PROPS_SQL,
            ("stats", "variant"),
        ),
        (
            "distinct-kmv-intersect",
            sketches.q_distinct_kmv_intersect,
            sketches.KMV_INTERSECT_ORACLE_SQL,
            ("sketch", "stats"),
        ),
        (
            "bm25-store",
            storequery.q_bm25_store,
            retrieval.BM25_ORACLE_SQL,
            ("streaming", "retrieval"),
        ),
        (
            "dominant-supplier-parts",
            star.q_dominant_supplier_parts,
            _DOMINANT_SQL,
            ("olap",),
        ),
        (
            "bm25-topk",
            retrieval.q_bm25_topk,
            retrieval.BM25_ORACLE_SQL,
            ("retrieval", "text"),
        ),
        (
            "money-twin-decimal",
            star.q_money_twin_decimal,
            _MONEY_TWIN_DEC_SQL,
            ("olap", "diagnostic"),
        ),
        (
            "money-twin-double",
            star.q_money_twin_double,
            _MONEY_TWIN_DBL_SQL,
            ("olap", "diagnostic"),
        ),
        (
            "lineitem-zorder-scan",
            _zorder.q_lineitem_zorder_scan,
            _ZSCAN_SQL,
            ("olap", "layout"),
        ),
        # the SCD2 store fold must equal the batch window rebuild —
        # so it SHARES user-state-history's oracle verbatim
        (
            "user-state-store",
            storequery.q_user_state_store,
            _SCD2_SQL,
            ("streaming", "windows"),
        ),
        (
            "user-state-asof",
            events_windows.q_user_state_asof,
            _SCD2_ASOF_SQL,
            ("windows", "olap"),
        ),
        # the stream-stream join store fold must equal the batch
        # interval join — shares events-click-attribution's oracle
        (
            "attribution-store",
            storequery.q_attribution_store,
            _ATTRIBUTION_SQL,
            ("streaming", "join"),
        ),
        # the sessionization store fold must equal the batch
        # gaps-and-islands rebuild — shares events-session's oracle
        (
            "sessions-store",
            storequery.q_sessions_store,
            _SESSION_SQL,
            ("streaming", "windows"),
        ),
        # compacted-layout invariance: shares bm25-topk's oracle
        (
            "bm25-store-compacted",
            storequery.q_bm25_store_compacted,
            retrieval.BM25_ORACLE_SQL,
            ("streaming", "retrieval", "layout"),
        ),
        (
            "min-cost-supplier-per-part",
            star.q_min_cost_supplier_per_part,
            _MINCOST_SQL,
            ("olap", "join"),
        ),
        (
            "nation-market-share",
            star.q_nation_market_share,
            _MKTSHARE_SQL,
            ("olap", "join"),
        ),
        (
            "part-type-profit",
            star.q_part_type_profit,
            _PROFIT_SQL,
            ("olap", "join"),
        ),
        (
            "shipping-delay-priority",
            star.q_shipping_delay_priority,
            _DELAY_SQL,
            ("olap",),
        ),
        (
            "part-supplier-diversity",
            star.q_part_supplier_diversity,
            _DIVERSITY_SQL,
            ("olap", "join"),
        ),
        (
            "sole-late-supplier",
            star.q_sole_late_supplier,
            _SOLE_LATE_SQL,
            ("olap", "join"),
        ),
        (
            "embedding-norm-extremes",
            _embaudit.q_embedding_norm_extremes,
            _NORM_EXTREMES_SQL,
            ("ann", "curation"),
        ),
        (
            "embedding-centroid-shift",
            _embaudit.q_embedding_centroid_shift,
            _CENTROID_SHIFT_SQL,
            ("ann", "curation", "stats"),
        ),
        # feature-collapse audit: exact integer first/second moments
        (
            "embedding-dim-variance",
            _embaudit.q_embedding_dim_variance,
            _DIM_VARIANCE_SQL,
            ("ann", "curation", "stats"),
        ),
        (
            "parts-revenue-shift",
            star.q_parts_revenue_shift,
            _SHIFT_SQL,
            ("olap", "join", "analytics"),
        ),
        (
            "daily-metrics-unpivot",
            stats.q_daily_metrics_unpivot,
            _UNPIVOT_SQL,
            ("stats", "olap"),
        ),
        (
            "events-autocorr",
            stats.q_events_autocorr,
            _ACF_SQL,
            ("stats", "windows", "analytics"),
        ),
        (
            "supplier-pagerank",
            _graph.q_supplier_pagerank,
            _PAGERANK_SQL,
            ("graph", "join", "analytics"),
        ),
        (
            "customer-rfm-segments",
            star.q_customer_rfm_segments,
            _RFM_SQL,
            ("olap", "stats", "analytics"),
        ),
        (
            "events-profile",
            _profile.q_events_profile,
            _PROFILE_SQL,
            ("stats", "pipeline"),
        ),
        (
            "documents-jsonl-scan",
            _jsonl.q_documents_jsonl_scan,
            _JSONL_SCAN_SQL,
            ("sources", "text", "layout"),
        ),
        (
            "orders-backlog-daily",
            star.q_orders_backlog_daily,
            _BACKLOG_SQL,
            ("olap", "windows", "analytics"),
        ),
        (
            "customer-ltv-cohorts",
            star.q_customer_ltv_cohorts,
            _LTV_SQL,
            ("olap", "windows", "analytics"),
        ),
        (
            "supplier-lead-time",
            star.q_supplier_lead_time,
            _LEADTIME_SQL,
            ("olap", "stats"),
        ),
        (
            "brand-affinity",
            star.q_brand_affinity,
            _AFFINITY_SQL,
            ("olap", "join", "analytics"),
        ),
        (
            "dq-expectations",
            _dq.q_dq_expectations,
            _DQ_SQL,
            ("pipeline", "stats", "join"),
        ),
        (
            "orders-upsert-type1",
            _dq.q_orders_upsert_type1,
            _UPSERT_SQL,
            ("pipeline", "join", "cdc"),
        ),
        (
            "documents-schema-evolution",
            _evo.q_documents_schema_evolution,
            _EVOLUTION_SQL,
            ("sources", "layout", "pipeline"),
        ),
        # prefix filtering is EXACT-recall: identical result set to the
        # all-pairs ngram query, so it shares that query's oracle — the
        # value-match pins the algorithm's exactness guarantee, not
        # just its plumbing
        (
            "dedup-prefix-filter",
            dedup.q_dedup_prefix_filter,
            _NGRAM_SQL,
            ("dedup",),
        ),
        (
            "split-leakage-audit",
            decontam.q_split_leakage_audit,
            _LEAKAGE_SQL,
            ("dedup", "pipeline", "curation"),
        ),
        (
            "orders-theilsen-trend",
            star.q_orders_theilsen_trend,
            _THEILSEN_SQL,
            ("olap", "stats", "analytics"),
        ),
        (
            "corpus-mixture-weights",
            curation.q_corpus_mixture_weights,
            _MIXTURE_SQL,
            ("curation", "pipeline"),
        ),
        (
            "docs-quality-rules",
            _qr.q_docs_quality_rules,
            _QUALRULES_SQL,
            ("curation", "pipeline", "dq"),
        ),
        # filter-agreement confusion table (rules battery × learned
        # scorer)
        (
            "quality-rules-vs-model",
            _qr.q_quality_rules_vs_model,
            _RULES_VS_MODEL_SQL,
            ("curation", "dq"),
        ),
        # round-9 additions: filter agreement statistic, dedup
        # threshold sensitivity, packing efficiency, modality coverage
        (
            "filter-agreement-kappa",
            _qr.q_filter_agreement_kappa,
            _KAPPA_SQL,
            ("curation", "dq"),
        ),
        (
            "dedup-threshold-sweep",
            dedup.q_dedup_threshold_sweep,
            _SWEEP_SQL,
            ("dedup",),
        ),
        (
            "pack-efficiency",
            packing.q_pack_efficiency,
            _PACK_EFF_SQL,
            ("curation", "pipeline"),
        ),
        (
            "embedding-coverage-audit",
            _embaudit.q_embedding_coverage,
            _EMB_COVERAGE_SQL,
            ("similarity", "dq"),
        ),
        # round-9 late additions: DSIR resampling weights, dedup
        # source attribution + size histogram, int8 recall audit
        (
            "dsir-importance",
            _dsir.q_dsir_importance,
            _DSIR_SQL,
            ("curation", "text"),
        ),
        (
            "dedup-source-attribution",
            clusters.q_dedup_source_attribution,
            _SOURCE_ATTR_SQL,
            ("dedup", "curation"),
        ),
        (
            "dedup-cluster-size-histogram",
            clusters.q_dedup_cluster_size_histogram,
            _CLUSTER_SIZE_HIST_SQL,
            ("dedup",),
        ),
        (
            "ann-quantized-recall",
            quantized.q_ann_quantized_recall,
            _QANN_RECALL_SQL,
            ("ann", "audit"),
        ),
        # per-band reliability curve behind the kappa summary
        (
            "quality-model-calibration",
            _qr.q_quality_model_calibration,
            _CALIBRATION_SQL,
            ("curation", "dq"),
        ),
        # DSIR importance served from the stream-maintained bucket
        # statistics — shares the batch DSIR oracle verbatim, so a
        # green row proves statistics-maintenance-vs-rescan parity
        (
            "dsir-store",
            storequery.q_dsir_store,
            _DSIR_SQL,
            ("curation", "streaming"),
        ),
        # round-10 additions: domain-grain curation rollups (verdict
        # item 7 — the FineWeb-style per-domain duplicate-mass and
        # mixing-budget tables) + the inter-snapshot incremental
        # dedup-rate audit
        (
            "docs-domain-profile",
            _domains.q_docs_domain_profile,
            _DOMAIN_PROFILE_SQL,
            ("curation", "text"),
        ),
        (
            "dedup-domain-attribution",
            _domains.q_dedup_domain_attribution,
            _DOMAIN_ATTR_SQL,
            ("dedup", "curation"),
        ),
        (
            "corpus-domain-budget",
            _domains.q_corpus_domain_budget,
            _DOMAIN_BUDGET_SQL,
            ("curation", "pipeline"),
        ),
        (
            "dedup-incremental-rate",
            _domains.q_dedup_incremental_rate,
            _INCR_RATE_SQL,
            ("dedup", "streaming"),
        ),
        (
            "quality-by-domain",
            _domains.q_quality_by_domain,
            _QUALITY_BY_DOMAIN_SQL,
            ("curation", "dq"),
        ),
        # round-11 additions: URL-grain canonicalization + exact-URL
        # dedup (verdict item 4 — the crawl-pipeline step upstream of
        # content dedup)
        (
            "url-canonicalize",
            _domains.q_url_canonicalize,
            _URL_CANON_SQL,
            ("curation", "text"),
        ),
        (
            "dedup-exact-url",
            _domains.q_dedup_exact_url,
            _EXACT_URL_SQL,
            ("dedup", "curation"),
        ),
        # r11b family completers: the keep-first-fetch URL export and
        # the per-language tokenizer fertility table
        (
            "url-canonical-fetches",
            _domains.q_url_canonical_fetches,
            _URL_FETCHES_SQL,
            ("dedup", "curation"),
        ),
        # r12 (r11 verdict item 4): the same frontier served from the
        # incremental micro-batch store — shares the batch export's
        # oracle verbatim, so the driver row IS the stream-vs-rescan
        # parity proof
        (
            "url-frontier-store",
            storequery.q_url_frontier_store,
            _URL_FETCHES_SQL,
            ("dedup", "curation", "streaming"),
        ),
        # r13 (r12 verdict item 3): the frontier served from the
        # COMPACTED store — partials folded with their own merge
        # algebra into the reserved partition; same oracle, so the
        # driver row proves fold-then-serve == rescan
        (
            "url-frontier-store-compacted",
            storequery.q_url_frontier_store_compacted,
            _URL_FETCHES_SQL,
            ("dedup", "curation", "streaming"),
        ),
        (
            "bpe-fertility-by-lang",
            _bpe.q_bpe_fertility_by_lang,
            _bpe.sql_fertility_by_lang(),
            ("text", "tokenizer"),
        ),
    ]
