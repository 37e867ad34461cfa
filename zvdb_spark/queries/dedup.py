"""Deduplication declared queries — the training-data-pipeline dedup
family over documents and embeddings:

- q_doc_dedup          exact duplicate canonicalization (md5 hash-groupBy)
- q_dedup_minhash      MinHash signatures -> LSH band join -> exact
                       Jaccard verification (the sub-quadratic path)
- q_dedup_simhash      32-bit SimHash + Hamming-distance pair join
- q_dedup_ngram_jaccard exact n-gram Jaccard similarity join (the
                       quadratic ground-truth twin of minhash)
- q_dedup_embedding    embedding-cosine near-duplicate pairs
- q_dedup_groups       connected components over the near-dup graph
                       (iterative min-label propagation; oracle via
                       recursive CTE)

All hashing uses the portable md5-based H (see queries/text.py), so
every stage — signatures, bands, verification — is bit-identical in
the DuckDB oracle: the LSH pipeline itself is oracle-checked, not
just its final answer.

Scale: minhash/simhash signatures are per-row HOF expressions (no
shuffle); the LSH band join shuffles once on (band_idx, key) and only
co-bucketed candidates reach the exact verifier — this is the 100 TB
dedup path. The exact ngram join is the declared quadratic oracle twin
kept for ground truth at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zvdb_spark.functions.vector import as_double_array
from zvdb_spark.operators.banding import bounded_band_pairs
from zvdb_spark.queries.registry import register
from zvdb_spark.queries.text import H_DUCK, H_SPARK
from zvdb_spark.sources.tables import load

P = 2_147_483_647  # 2^31 - 1
# Fixed seeds for the 8 minhash permutations h_i(x) = (a*x + b) % P.
MINHASH_AB = (
    (1_000_003, 12_345),
    (999_983, 54_321),
    (1_000_033, 98_765),
    (999_979, 13_579),
    (1_000_037, 24_680),
    (999_961, 86_420),
    (1_000_039, 11_111),
    (999_959, 77_777),
)
N_BANDS = 4  # 4 bands x 2 rows
JACCARD_TAU = 0.8
SIMHASH_BITS = 32
HAMMING_TAU = 3
COSINE_TAU = 0.35
# Band buckets above this spread over salt blocks (operators/banding.py);
# module-level so tests can monkeypatch it down to force the salted path.
BAND_BUCKET_CAP = 10_000


# ---------------------------------------------------------------- exact

@register(
    "q_doc_dedup",
    oracle="""
WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents)
SELECT doc_id, text_hash,
       min(doc_id) OVER (PARTITION BY text_hash) AS rep_id,
       count(*) OVER (PARTITION BY text_hash) AS group_size
FROM h
""",
    tags=("dedup", "exact"),
)
def q_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate canonicalization: hash the full text, every doc
    mapped to the min doc_id of its hash group. One shuffle on the
    hash; at 100 TB this is the first pass of any dedup pipeline."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("text_hash")
    return d.select(
        "doc_id",
        "text_hash",
        F.min("doc_id").over(w).alias("rep_id"),
        F.count("*").over(w).alias("group_size"),
    )


# ------------------------------------------------------------- shingles

def _shingles_spark(
    spark: SparkSession,
    sf_dir: str,
    n: int = 2,
    only_ids: DataFrame | None = None,
    broadcast_ids: bool = True,
) -> DataFrame:
    """doc_id + distinct n-word shingle array, pure HOF (no explode).

    Docs with fewer than n tokens get an empty shingle array (guarded:
    an unguarded ``sequence(1, size(tok)-n+1)`` yields a DESCENDING
    sequence for short docs and element_at then throws). Matches the
    DuckDB twin, where ``range()`` returns empty for the same inputs.

    ``only_ids`` (a (doc_id) DataFrame) prunes the corpus BEFORE the
    shingle transform — the join runs under the projection, so
    shingles are computed only for surviving rows. ``broadcast_ids``
    forces the broadcast when the id set is KNOWN-small (the minhash
    verify stage's candidate set); callers whose id set scales with
    the corpus (the curation funnel's survivor set) pass False and
    let AQE size the join.
    """
    # The docs parquet is a single small file -> one input partition;
    # everything downstream (per-shingle md5, signature aggs) would run
    # single-threaded without this spread. One cheap shuffle of raw
    # text parallelizes the whole hash pipeline across the cluster.
    d = load(spark, sf_dir, "documents")
    if only_ids is not None:
        ids = only_ids.select("doc_id")
        d = d.join(F.broadcast(ids) if broadcast_ids else ids, "doc_id")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", F.split("text", " ").alias("tok")
    )
    parts = ", ".join(f"element_at(tok, i + {j})" for j in range(n))
    return d.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(tok) >= {n} THEN "
            f"array_distinct(transform(sequence(1, size(tok) - {n - 1}),"
            f" i -> concat_ws('_', {parts}))) "
            f"ELSE cast(array() as array<string>) END"
        ).alias("shingles"),
    )


def _shingles_duck(n: int = 2) -> str:
    parts = " || '_' || ".join(f"tok[i + {j}]" for j in range(n))
    return f"""
d AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
sh AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(tok) - {n - 2}),
                                           i -> {parts})) AS shingles
       FROM d)"""


_JACCARD_DUCK = (
    "len(list_intersect(sa.shingles, sb.shingles)) * 1.0"
    " / len(list_distinct(list_concat(sa.shingles, sb.shingles)))"
)


# -------------------------------------------------------------- minhash

# The md5 per shingle is the expensive part: hash once into an int
# array (hs), then each permutation is a cheap arithmetic min-reduce.
def _minhash_cols_spark() -> list[str]:
    return [
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {P})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    ]


_HS_SPARK = (
    f"transform(shingles, s -> {H_SPARK.format(x='s')} % {P}) AS hs"
)


def _minhash_cols_duck() -> str:
    return ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )


_HS_DUCK = (
    f"list_transform(shingles, s -> {H_DUCK.format(x='s')} % {P}) AS hs"
)


def _bands_union_duck() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, {j} AS band_idx, mh{2 * j} AS x, mh{2 * j + 1} AS y FROM sig"
        for j in range(N_BANDS)
    )


_MINHASH_ORACLE = f"""
WITH {_shingles_duck(2)},
hsh AS (SELECT doc_id, shingles, {_HS_DUCK} FROM sh),
sig AS (SELECT doc_id, shingles, {_minhash_cols_duck()} FROM hsh),
bands AS ({_bands_union_duck()}),
cand AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.x = b.x AND a.y = b.y
   AND a.doc_id < b.doc_id
),
ver AS (
  SELECT ia, ib, {_JACCARD_DUCK} AS j
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.ia
  JOIN sh sb ON sb.doc_id = cand.ib
)
SELECT ia AS id_a, ib AS id_b, round(j, 4) AS jaccard
FROM ver WHERE j >= {JACCARD_TAU}
"""


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs via LSH bands, verified by exact Jaccard."""
    # ONE eager checkpoint of (doc_id, mh0..7) — 8 ints per doc, tiny:
    # both band-join sides read it. The shingle arrays themselves are
    # NEVER materialized corpus-wide; the verify stage recomputes them
    # only for the candidate set (pruned broadcast join), which is the
    # posture that holds at 100 TB — signatures are the index,
    # documents re-read on demand.
    sig = (
        _shingles_spark(spark, sf_dir, 2)
        .selectExpr("doc_id", "shingles", _HS_SPARK)
        .selectExpr("doc_id", *_minhash_cols_spark())
        .localCheckpoint(eager=True)
    )
    # one explode instead of an N_BANDS-way union: each join side
    # scans the checkpoint once, not once per band
    band_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.col(f"mh{2 * j}").alias("x"),
                F.col(f"mh{2 * j + 1}").alias("y"),
            )
            for j in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_arr).alias("b")).select(
        "doc_id", "b.band_idx", "b.x", "b.y"
    )
    # hot-bucket-bounded self-join: a boilerplate mega-cluster that
    # survives the exact pass can put millions of docs in one band
    # bucket — triangle salting spreads that bucket's quadratic work
    # (see operators/banding.py; pair set identical at any cap)
    cand = bounded_band_pairs(
        bands, "doc_id", ["band_idx", "x", "y"], cap=BAND_BUCKET_CAP
    ).localCheckpoint(eager=True)  # tiny pair list, read 3x below
    ids = (
        cand.select(F.col("ia").alias("doc_id"))
        .unionAll(cand.select(F.col("ib").alias("doc_id")))
        .distinct()
    )
    sh = _shingles_spark(spark, sf_dir, 2, only_ids=ids)
    sa = sh.select(F.col("doc_id").alias("ia"), F.col("shingles").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("ib"), F.col("shingles").alias("shb"))
    jac = F.size(F.array_intersect("sha", "shb")) * F.lit(1.0) / F.size(
        F.array_union("sha", "shb")
    )
    return (
        cand.join(sa, "ia")
        .join(sb, "ib")
        .withColumn("j", jac)
        .filter(F.col("j") >= JACCARD_TAU)
    )


@register("q_dedup_minhash", oracle=_MINHASH_ORACLE, tags=("dedup", "minhash"))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate detection: 2-word shingles -> 8
    portable-hash min-signatures (per-row HOFs, no shuffle) -> 4-band
    LSH join (the only shuffle) -> exact Jaccard verification of
    candidates. Deterministic given the fixed permutation seeds, so
    the whole pipeline is oracle-checked."""
    return _minhash_pairs(spark, sf_dir).select(
        "ia", "ib", F.round("j", 4).alias("jaccard")
    ).withColumnsRenamed({"ia": "id_a", "ib": "id_b"})


# -------------------------------------------------------------- simhash

def _simhash_votes(col_h: str) -> list[str]:
    return [
        f"sum(CASE WHEN ({col_h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    ]


def _simhash_assemble() -> str:
    return " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )


_SIMHASH_ORACLE = f"""
WITH {_shingles_duck(2)},
e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hh AS (SELECT doc_id, {H_DUCK.format(x='s')} AS h FROM e),
v AS (SELECT doc_id, {', '.join(_simhash_votes('h'))} FROM hh GROUP BY doc_id),
sim AS (SELECT doc_id, {_simhash_assemble()} AS simhash FROM v),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM sim a, sim b WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM p WHERE hamming <= {HAMMING_TAU}
"""


@register("q_dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup", "simhash"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 32-bit signature from per-shingle
    hash bit votes, pairs within Hamming distance <= 3.

    The signature is ONE per-row higher-order expression (fold over
    the hashed shingle array accumulating a 32-slot vote vector, then
    assembling the sign bits) — no explode, no 32-aggregate groupBy,
    no shuffle; measured ~2x faster than the grouped-votes plan, whose
    32 aggregates also blow past JVM codegen method limits when fused.

    The pair stage is byte-band blocked, never all-pairs: the 32-bit
    signature splits into 4 bytes, and Hamming <= 3 guarantees at
    least one byte matches exactly (pigeonhole: 3 differing bits
    cannot touch all 4 bytes), so an equi-join on (band_idx, byte)
    finds every qualifying pair; exact bit_count verification then
    filters candidates. Same result as the oracle's quadratic
    ground-truth form, with one shuffle on the band key — the shape
    that survives corpus scale."""
    hof = (
        f"aggregate(transform(shingles, s -> {H_SPARK.format(x='s')}), "
        f"array_repeat(0L, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), "
        f"(a, j) -> a + IF((h >> j) & 1 = 1, 1L, -1L)), "
        f"acc -> aggregate(zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), "
        f"(v, j) -> IF(v > 0, shiftleft(1L, j), 0L)), 0L, (s, x) -> s + x))"
    )
    # checkpoint the shingle arrays: the filter and the HOF signature
    # would otherwise each re-evaluate the shingle-build expression
    # (projection collapse inlines it), and the band-join branches
    # would recompute everything again
    sh = _shingles_spark(spark, sf_dir, 2).localCheckpoint(eager=True)
    # empty-shingle docs carry no votes and are excluded (the
    # explode-based oracle drops them the same way)
    sim = (
        sh.filter(F.size("shingles") > 0)
        .select("doc_id", F.expr(hof).alias("simhash"))
        .localCheckpoint(eager=True)
    )
    n_bands = HAMMING_TAU + 1  # pigeonhole: tau diffs can't hit all bands
    band_bits = SIMHASH_BITS // n_bands
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.expr(
                            f"(simhash >> {band_bits * j}) & {(1 << band_bits) - 1}"
                        ).alias("bv"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.bv")
    # hot-bucket-bounded band self-join (operators/banding.py); the
    # signatures rejoin from the checkpointed `sim` (2 ints per doc)
    # only for the candidate set
    cand = bounded_band_pairs(
        bands, "doc_id", ["band_idx", "bv"], cap=BAND_BUCKET_CAP
    )
    sa = sim.select(
        F.col("doc_id").alias("ia"), F.col("simhash").alias("sa")
    )
    sb = sim.select(
        F.col("doc_id").alias("ib"), F.col("simhash").alias("sb")
    )
    return (
        cand.join(sa, "ia")
        .join(sb, "ib")
        .withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("int"))
        .filter(F.col("hamming") <= HAMMING_TAU)
        .select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            "hamming",
        )
    )


# ------------------------------------------------------- exact n-gram

_NGRAM_ORACLE = f"""
WITH {_shingles_duck(3)},
p AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, {_JACCARD_DUCK} AS j
  FROM sh sa, sh sb WHERE sa.doc_id < sb.doc_id
)
SELECT id_a, id_b, round(j, 4) AS jaccard
FROM p WHERE j >= {JACCARD_TAU}
"""


@register(
    "q_dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tags=("dedup", "ngram")
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity join via an inverted shingle
    index (the PPJoin-style formulation): explode shingles ->
    self-join on the shingle -> per-pair common count c ->
    J = c / (|A| + |B| - c). Exactly the crossJoin+array_intersect
    result, but only pairs sharing >=1 shingle are ever materialized —
    the formulation that survives at corpus scale (the oracle keeps
    the naive quadratic form as ground truth)."""
    sh = _shingles_spark(spark, sf_dir, 3).localCheckpoint(eager=True)
    sizes = sh.select("doc_id", F.size("shingles").alias("sz"))
    posts = sh.select("doc_id", F.explode("shingles").alias("s"))
    a = posts.select(F.col("doc_id").alias("id_a"), "s")
    b = posts.select(F.col("doc_id").alias("id_b"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    sza = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    return (
        common.join(sza, "id_a")
        .join(szb, "id_b")
        .withColumn(
            "j", F.col("c") * F.lit(1.0) / (F.col("sza") + F.col("szb") - F.col("c"))
        )
        .filter(F.col("j") >= JACCARD_TAU)
        .select("id_a", "id_b", F.round("j", 4).alias("jaccard"))
    )


# ---------------------------------------------------- embedding cosine

_DOT = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]))"
_NORM = "sqrt(list_sum(list_transform({a}, x -> x*x)))"

_EMB_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT.format(a='a.emb', b='b.emb')}
           / ({_NORM.format(a='a.emb')} * {_NORM.format(a='b.emb')}) AS c
  FROM e a, e b WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(c, 4) AS cosine
FROM p WHERE c >= {COSINE_TAU}
"""


@register("q_dedup_embedding", oracle=_EMB_ORACLE, tags=("dedup", "embedding"))
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (semantic dedup), via the
    DataFrame-native threshold join (cosine metric, both sides
    DataFrames — no corpus data on the driver). Exact result contract;
    the candidate-pruned variant for scale composes the LSH band
    pattern with the same verifier."""
    from zvdb_spark.operators.knn import threshold_join_blocked
    from zvdb_spark.sources.tables import table_row_count

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    n = table_row_count(sf_dir, "embeddings")  # footer read, no scan job
    probes = e.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    return threshold_join_blocked(
        e, probes, tau=COSINE_TAU, metric="cosine", upper_only=True,
        n_corpus=n, n_probes=n,
    ).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.round("score", 4).alias("cosine"),
    )


# ------------------------------------- embedding hyperplane LSH (scale)

LSH_BITS = 64  # sign bits per vector
LSH_BAND_BITS = 8  # bits per band -> 8 bands
LSH_GAP_MARGIN = 0.15  # tau must clear the bulk's q99 by this much
LSH_STRUCT_SAMPLE = 1024  # rows in the driver-side structure probe


def _lsh_sign_rows(dim: int, n_bits: int = LSH_BITS) -> list[list[float]]:
    """Deterministic Rademacher hyperplanes from the portable md5
    hash (the text.H recipe, keyed by plane/coordinate index):
    sign(j, i) = +1 iff H('hp_{j}_{i}') is even. Mixing quality
    matters: an LCG-parity variant produced near-identical planes
    (measured: candidate fraction pinned at 0.5 for every parameter
    setting — all 500 fixture vectors in two buckets)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [1.0 if h(f"hp_{j}_{i}") % 2 == 0 else -1.0 for i in range(dim)]
        for j in range(n_bits)
    ]


def _embedding_lsh_candidates(
    e: DataFrame,
    dim: int,
    n_bits: int = LSH_BITS,
    band_bits: int = LSH_BAND_BITS,
) -> DataFrame:
    """Candidate pairs (ia < ib) whose sign-bit signatures collide in
    at least one band. Signatures are one per-row HOF expression (all
    n_bits projections inline, JVM-side, no shuffle); the band-key
    equi-join is the single shuffle — the same shape as the minhash
    pipeline at _minhash_pairs, cosine metric instead of Jaccard."""
    signs = _lsh_sign_rows(dim, n_bits)
    band_structs = []
    for el in range(n_bits // band_bits):
        key_terms = []
        for j in range(band_bits):
            arr = (
                "array("
                + ",".join(f"{v}D" for v in signs[el * band_bits + j])
                + ")"
            )
            proj = (
                f"aggregate(zip_with(emb, {arr}, (x, s) -> x * s),"
                " 0D, (a, x) -> a + x)"
            )
            key_terms.append(
                f"(CASE WHEN {proj} > 0D THEN {1 << j}L ELSE 0L END)"
            )
        band_structs.append(
            f"struct({el} AS band_idx, {' + '.join(key_terms)} AS key)"
        )
    # tiny (vec_id, band_idx, key) table checkpointed once: both join
    # sides read the signatures, never recompute the projections
    bands = (
        e.selectExpr(
            "vec_id",
            f"explode(array({', '.join(band_structs)})) AS b",
        )
        .select("vec_id", "b.band_idx", "b.key")
        .localCheckpoint(eager=True)
    )
    # hot-bucket-bounded band self-join (operators/banding.py)
    return bounded_band_pairs(
        bands, "vec_id", ["band_idx", "key"], cap=BAND_BUCKET_CAP
    )


def _embedding_lsh_pairs(
    e: DataFrame,
    dim: int,
    tau: float,
    n_bits: int = LSH_BITS,
    band_bits: int = LSH_BAND_BITS,
) -> DataFrame:
    """Hyperplane-LSH candidates + EXACT cosine verification (the
    minhash pattern with the cosine verifier): only band-colliding
    pairs are scored, so the quadratic verify runs on the candidate
    set, not the corpus."""
    cand = _embedding_lsh_candidates(e, dim, n_bits, band_bits)
    ea = e.select(F.col("vec_id").alias("ia"), F.col("emb").alias("ea"))
    eb = e.select(F.col("vec_id").alias("ib"), F.col("emb").alias("eb"))
    dot = "aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    nrm = "sqrt(aggregate({v}, 0D, (a, x) -> a + x * x))"
    return (
        cand.join(ea, "ia")
        .join(eb, "ib")
        .withColumn(
            "cosine",
            F.expr(
                f"{dot} / ({nrm.format(v='ea')} * {nrm.format(v='eb')})"
            ),
        )
        .filter(F.col("cosine") >= tau)
        .select("ia", "ib", "cosine")
    )


def _pair_cosine_q99(e: DataFrame, n_rows: int) -> float:
    """Structure probe: 99th percentile of pairwise cosines over a
    bounded deterministic sample (driver-side, ≤ LSH_STRUCT_SAMPLE
    rows — metadata-scale work, like GraphIndex's structure ratio).
    If the dedup threshold does not clear this bulk quantile, the
    corpus has no near-duplicate GAP and no banding scheme can
    separate τ-pairs from everything else."""
    import numpy as np

    from zvdb_spark.operators.arrowvec import matrix

    k = int(min(n_rows, LSH_STRUCT_SAMPLE))
    m = matrix(e.orderBy("vec_id").limit(k).toArrow()["emb"], name="emb")
    mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    c = (mn @ mn.T)[np.triu_indices(len(m), 1)]
    return float(np.quantile(c, 0.99)) if len(c) else 1.0


@register("q_dedup_embedding_lsh", tags=("dedup", "embedding", "lsh"))
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic semantic dedup, structure-routed: hyperplane
    (sign-bit) LSH banding prunes candidates when the corpus has a
    real near-duplicate gap (τ above the sampled pair-cosine bulk);
    on gapless corpora — the fixtures measure q99 ≈ 0.29 against
    τ = 0.35 — banding cannot separate τ-pairs from the bulk at ANY
    parameter setting (measured recall/candidate curves in
    SCALING.md), so the query serves the exact blocked GEMM instead,
    full recall, same output contract. The same measured-structure
    honesty as GraphIndex.search_routed. Pair-set parity on both
    paths is pinned by tests/test_embedding_lsh.py."""
    from zvdb_spark.sources.tables import table_row_count

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    n = table_row_count(sf_dir, "embeddings")
    if COSINE_TAU < _pair_cosine_q99(e, n) + LSH_GAP_MARGIN:
        return q_dedup_embedding(spark, sf_dir)
    dim = len(e.select("emb").head()[0])
    return _embedding_lsh_pairs(e, dim, COSINE_TAU).select(
        F.col("ia").alias("id_a"),
        F.col("ib").alias("id_b"),
        F.round("cosine", 4).alias("cosine"),
    )


# ------------------------------------- semantic dedup (SemDeDup-style)

SEM_CELLS = 8  # k-means cells (scale: pick k ~ N / target cell size)
SEM_ITERS = 4
SEM_TAU = COSINE_TAU  # same near-duplicate threshold as the pair ops


@register(
    "q_dedup_semantic",
    oracle=None,  # past the driver cap; numpy full-pipeline recompute
    # parity via tests/test_semantic_dedup.py (kmeans is not
    # SQL-expressible, so the gate is an independent-recompute, the
    # same pattern as tests/test_pq.py)
    tags=("dedup", "vector", "pipeline"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings (deterministic
    seeded Lloyd's, ``operators/kmeans.py``), then WITHIN each cell
    keep a greedy min-id set of representatives — a vector is dropped
    iff its cosine to an already-kept representative in its cell
    clears τ. Returns per-cell (size, kept, dropped, kept-id-sum,
    max dropped-cosine).

    The existing pair ops (``q_dedup_embedding`` exact GEMM,
    ``q_dedup_embedding_lsh`` hyperplane-routed) emit the duplicate
    PAIRS; this op emits the deduplicated KEPT SET — the artifact a
    training run consumes — with cluster routing as the candidate
    pruner, so cross-cell duplicates are out of scope by design
    (the paper's recall/efficiency trade).

    Scale posture: assignment is one broadcast-centroid Arrow-batch
    argmin (no shuffle); the greedy pass is one shuffle on cell_id
    into an ``applyInArrow`` whose per-group work is
    O(cell_size × kept) — bounded by choosing k ~ N / target cell
    size exactly as the paper does (11k clusters at 100M docs), never
    corpus-quadratic. Within-cell greedy order is ascending vec_id,
    so GIVEN the fitted centroids, assignment and the kept set are
    fully deterministic. The centroid fit itself sums float partials
    whose shuffle-merge order can vary with partition layout (ULP
    drift can flip a boundary vector's cell) — so this declared query
    routes through the persistence layer itself: fit once →
    ``save_centroids`` to a scratch dir (conf ``zvdb.export.scratch``,
    same knob as the shard export) → ``load_centroids`` →
    ``semantic_dedup_with_centroids``. Everything downstream of the
    save is pinned to the on-disk float64 matrix, so the declared
    artifact is bit-stable given the saved file — exactly what an IVF
    deployment does with its quantizer."""
    import shutil
    import tempfile

    from zvdb_spark.operators.kmeans import (
        kmeans_fit,
        load_centroids,
        save_centroids,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    fitted = kmeans_fit(e, k=SEM_CELLS, n_iter=SEM_ITERS)
    scratch = spark.conf.get("zvdb.export.scratch", None)
    out = tempfile.mkdtemp(prefix="zvdb_sem_", dir=scratch or None)
    try:
        save_centroids(fitted, f"{out}/centroids")
        cents = load_centroids(f"{out}/centroids")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return semantic_dedup_with_centroids(spark, sf_dir, cents)


def semantic_dedup_with_centroids(
    spark: SparkSession, sf_dir: str, cents
) -> DataFrame:
    """The deterministic tail of q_dedup_semantic GIVEN a centroid
    matrix: assignment + per-cell greedy kept set. Production entry
    point for bit-stable cross-session dedup — fit once, persist via
    kmeans.save_centroids, load_centroids here every run."""
    import numpy as np
    import pyarrow as pa

    from zvdb_spark.operators.arrowvec import matrix
    from zvdb_spark.operators.kmeans import assign_cells

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("emb")
    )
    assigned = assign_cells(e, cents)
    tau = SEM_TAU

    def _greedy(key, cell):
        ids = cell["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        x = matrix(cell["emb"], name="emb")[order]
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
        kept_rows: list[int] = []
        kept = np.zeros(len(ids), dtype=bool)
        drop_cos = np.full(len(ids), np.nan)
        for i in range(len(ids)):
            if kept_rows:
                sims = x[kept_rows] @ x[i]
                j = int(np.argmax(sims))
                if sims[j] >= tau:
                    drop_cos[i] = sims[j]
                    continue
            kept[i] = True
            kept_rows.append(i)
        return pa.table(
            {
                "cell_id": pa.array([key[0].as_py()], pa.int32()),
                "n_vecs": pa.array([len(ids)], pa.int64()),
                "n_kept": pa.array([int(kept.sum())], pa.int64()),
                "n_dropped": pa.array([int((~kept).sum())], pa.int64()),
                "kept_id_sum": pa.array([int(ids[kept].sum())], pa.int64()),
                # NULL when the cell dropped nothing
                "max_drop_cos": pa.array(
                    [float(np.round(np.nanmax(drop_cos), 4))
                     if (~kept).any() else None],
                    pa.float64(),
                ),
            }
        )

    return assigned.groupBy("cell_id").applyInArrow(
        _greedy,
        schema=(
            "cell_id int, n_vecs long, n_kept long, n_dropped long, "
            "kept_id_sum long, max_drop_cos double"
        ),
    )


# ------------------------------------------------ connected components

_GROUPS_ORACLE = f"""
WITH RECURSIVE {_shingles_duck(2)},
hsh AS (SELECT doc_id, shingles, {_HS_DUCK} FROM sh),
sig AS (SELECT doc_id, shingles, {_minhash_cols_duck()} FROM hsh),
bands AS ({_bands_union_duck()}),
cand AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.x = b.x AND a.y = b.y
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT ia, ib FROM cand
  JOIN sh sa ON sa.doc_id = cand.ia
  JOIN sh sb ON sb.doc_id = cand.ib
  WHERE {_JACCARD_DUCK} >= {JACCARD_TAU}
),
edges AS (
  SELECT ia AS src, ib AS dst FROM pairs
  UNION SELECT ib, ia FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(root, node) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node
)
SELECT root AS doc_id, min(node) AS group_id, count(*) AS component_size
FROM reach GROUP BY root
"""


@register("q_dedup_groups", oracle=_GROUPS_ORACLE, tags=("dedup", "groups"))
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate grouping: connected components over
    the minhash pair graph via iterative min-label propagation
    (the standard large-graph CC algorithm: O(diameter) shuffle
    rounds). Oracle: recursive-CTE reachability closure."""
    pairs = _minhash_pairs(spark, sf_dir).select("ia", "ib")
    edges = (
        pairs.union(pairs.select(F.col("ib").alias("ia"), F.col("ia").alias("ib")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # The near-dup edge graph is usually orders of magnitude smaller
    # than the corpus (only verified pairs); when it is, collapse to
    # one partition so the O(diameter) iteration rounds don't each pay
    # a full shuffle. Gated on actual edge count so the declared query
    # is scale-safe as written: a big graph keeps its partitioning and
    # the same loop is the standard distributed CC algorithm.
    small = edges.count() <= 2_000_000
    if small:
        edges = edges.coalesce(1).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("ia").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    if small:
        labels = labels.coalesce(1)
    # Component sizes are tiny here; bound iterations by a safe cap
    # and stop early at fixpoint. Fixpoint detection is a LABEL-SUM
    # CHECKSUM, not a join: min-propagation only ever DECREASES a
    # label, so the exact (decimal, overflow-free) sum of labels is
    # strictly monotone until convergence — an unchanged sum IS the
    # fixpoint. One tiny aggregate over the just-checkpointed labels
    # per round, where a diff-join would re-shuffle both label
    # generations every iteration of the declared scale contract.
    # No pre-loop seed aggregate: labels are id-seeded and edges are
    # symmetrized, so any non-empty graph lowers at least one label in
    # round 1 (the min-id endpoint's neighbors) — a seeded checksum
    # can never match after round 1 and only costs one extra
    # aggregate job per call; the empty-graph case breaks after one
    # round against prev_sum=None anyway (sum of zero rows is NULL).
    prev_sum = None
    for _ in range(20):
        nbr_min = (
            edges.join(labels, edges.ib == labels.id)
            .groupBy("ia")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.ia, "left")
            .select(
                "id",
                F.least(
                    "label", F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        labels = new_labels.localCheckpoint(eager=True)
        label_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).head()["s"]
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    sizes = labels.groupBy("label").agg(F.count("*").alias("component_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("group_id"),
            "component_size",
        )
    )


# ---------------------------------------------- canonical selection

# The production choice q_dedup_groups leaves open: WHICH duplicate
# to keep. min-id is arbitrary; real pipelines keep the best-quality
# member of each near-dup cluster (e.g. the least-truncated variant
# of a boilerplate page). Quality here is the integer distinct-token
# count — deterministic, cross-engine-exact, and a reasonable proxy
# (truncated/duplicated-content variants lose distinct tokens).
# Oracle: the q_dedup_groups recursive-CTE closure extended with a
# per-group argmax window.
_CANONICAL_ORACLE = _GROUPS_ORACLE.rsplit("SELECT root AS doc_id", 1)[
    0
] + """, g AS (
  SELECT root AS doc_id, min(node) AS group_id,
         count(*) AS component_size
  FROM reach GROUP BY root
),
q AS (
  SELECT doc_id,
         len(list_distinct(string_split(text, ' '))) AS quality
  FROM documents
),
r AS (
  SELECT g.group_id, g.component_size, g.doc_id, q.quality,
         row_number() OVER (
           PARTITION BY g.group_id ORDER BY q.quality DESC, g.doc_id
         ) AS rn
  FROM g JOIN q USING (doc_id)
)
SELECT group_id,
       max(component_size) AS component_size,
       max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
       max(CASE WHEN rn = 1 THEN quality END) AS canonical_quality,
       sum(CASE WHEN rn > 1 THEN doc_id ELSE 0 END) AS dropped_id_sum
FROM r GROUP BY group_id
"""


@register(
    "q_dedup_canonical",
    oracle=None,  # past the driver cap; DuckDB parity via
    # tests/test_pipeline_queries.py against _CANONICAL_ORACLE
    tags=("dedup", "groups", "pipeline"),
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per near-dup group: within
    each connected component of the verified minhash pair graph, keep
    the member with the highest quality (distinct-token count,
    doc_id tie-break) — the keep-the-best-variant policy a curation
    pipeline actually wants, vs q_dedup_groups' neutral min-id label.
    One row per group: canonical id + quality, component size, and
    the dropped-members id-sum checksum.

    Scale: the groups frame is the (small) near-dup cluster set;
    quality joins from one documents projection on doc_id; the
    argmax is a per-group window over component-size rows."""
    from pyspark.sql import Window as W

    groups = q_dedup_groups(spark, sf_dir)
    quality = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).alias("quality"),
    )
    wq = W.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    r = groups.join(quality, "doc_id").withColumn(
        "rn", F.row_number().over(wq)
    )
    return r.groupBy("group_id").agg(
        F.max("component_size").alias("component_size"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
            "canonical_id"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias(
            "canonical_quality"
        ),
        F.coalesce(
            F.sum(F.when(F.col("rn") > 1, F.col("doc_id"))), F.lit(0)
        ).alias("dropped_id_sum"),
    )


# -------------------------------------------------- incremental dedup

# "Dedupe the new crawl against the corpus" — the shape a production
# ingestion pipeline actually runs: the corpus is the standing index,
# the batch is today's arrivals, and the output is a per-arrival
# verdict (exact duplicate of corpus doc X / near-duplicate of corpus
# doc Y at Jaccard j / genuinely new). Deterministic split so the
# whole flow is DuckDB-oracle-checkable: every doc_id % BATCH_MOD == 0
# plays the arriving batch, the rest is the standing corpus.
BATCH_MOD = 5

INCREMENTAL_ORACLE = f"""
WITH {_shingles_duck(2)},
doc AS (SELECT doc_id, md5(text) AS fp,
               (doc_id % {BATCH_MOD}) = 0 AS is_batch
        FROM documents),
hsh AS (SELECT doc_id, shingles, {_HS_DUCK} FROM sh),
sig AS (SELECT doc_id, shingles, {_minhash_cols_duck()} FROM hsh),
bands AS ({_bands_union_duck()}),
bb AS (SELECT bands.* FROM bands JOIN doc USING (doc_id) WHERE doc.is_batch),
cb AS (SELECT bands.* FROM bands JOIN doc USING (doc_id) WHERE NOT doc.is_batch),
cand AS (
  SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
  FROM bb JOIN cb
    ON bb.band_idx = cb.band_idx AND bb.x = cb.x AND bb.y = cb.y
),
ver AS (
  SELECT bid, cid, {_JACCARD_DUCK} AS j
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.bid
  JOIN sh sb ON sb.doc_id = cand.cid
),
near AS (
  SELECT bid, cid, j,
         row_number() OVER (PARTITION BY bid ORDER BY j DESC, cid) AS rn
  FROM ver WHERE j >= {JACCARD_TAU}
),
ex AS (
  SELECT b.doc_id AS bid, min(c.doc_id) AS mid
  FROM doc b JOIN doc c ON b.fp = c.fp AND NOT c.is_batch
  WHERE b.is_batch GROUP BY b.doc_id
)
SELECT d.doc_id,
       CASE WHEN ex.mid IS NOT NULL THEN 'exact_dup'
            WHEN nr.cid IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       coalesce(ex.mid, nr.cid) AS match_id,
       CASE WHEN ex.mid IS NULL THEN round(nr.j, 4) END AS jaccard
FROM doc d
LEFT JOIN ex ON ex.bid = d.doc_id
LEFT JOIN (SELECT * FROM near WHERE rn = 1) nr ON nr.bid = d.doc_id
WHERE d.is_batch
"""


@register(
    "q_dedup_incremental",
    oracle=None,  # past the driver cap; DuckDB parity via
    # tests/test_pipeline_queries.py against INCREMENTAL_ORACLE
    tags=("dedup", "minhash", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: verdict each arriving doc against
    the standing corpus — exact (fingerprint equi-join against the
    corpus fingerprint index) first, then MinHash-LSH near-dup
    (batch bands joined to corpus bands, exact Jaccard only on
    co-bucketed candidates), else 'new'.

    Scale shape: the corpus side contributes only its 8-int
    signatures and 16-byte fingerprints (the signature-index posture
    of q_dedup_minhash — at 100 TB these are precomputed and stored,
    not re-derived); the band join shuffles on (band_idx, key) only,
    and full shingle arrays are materialized solely for the verified
    candidate set. Per-arrival cost is O(batch) + candidates, never
    O(corpus x batch).
    """
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("fp"),
        ((F.col("doc_id") % BATCH_MOD) == 0).alias("is_batch"),
    )
    batch = docs.filter(F.col("is_batch"))
    corpus = docs.filter(~F.col("is_batch"))
    # exact: min corpus doc per fingerprint (the fingerprint index)
    corpus_fp = corpus.groupBy("fp").agg(F.min("doc_id").alias("mid"))
    ex = batch.join(corpus_fp, "fp", "left").select("doc_id", "mid")

    # signatures for all docs in one pass, split by side afterwards
    sig = (
        _shingles_spark(spark, sf_dir, 2)
        .selectExpr("doc_id", "shingles", _HS_SPARK)
        .selectExpr("doc_id", *_minhash_cols_spark())
        .localCheckpoint(eager=True)
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.col(f"mh{2 * j}").alias("x"),
                F.col(f"mh{2 * j + 1}").alias("y"),
            )
            for j in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_arr).alias("b")).select(
        "doc_id", "b.band_idx", "b.x", "b.y"
    )
    is_b = (F.col("doc_id") % BATCH_MOD) == 0
    bb = bands.filter(is_b).select(
        F.col("doc_id").alias("bid"), "band_idx", "x", "y"
    )
    cb = bands.filter(~is_b).select(
        F.col("doc_id").alias("cid"), "band_idx", "x", "y"
    )
    cand = (
        bb.join(cb, ["band_idx", "x", "y"])
        .select("bid", "cid")
        .distinct()
        .localCheckpoint(eager=True)  # tiny pair list, read twice below
    )
    ids = (
        cand.select(F.col("bid").alias("doc_id"))
        .unionAll(cand.select(F.col("cid").alias("doc_id")))
        .distinct()
    )
    sh = _shingles_spark(spark, sf_dir, 2, only_ids=ids)
    sa = sh.select(F.col("doc_id").alias("bid"), F.col("shingles").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("cid"), F.col("shingles").alias("shb"))
    jac = F.size(F.array_intersect("sha", "shb")) * F.lit(1.0) / F.size(
        F.array_union("sha", "shb")
    )
    ver = (
        cand.join(sa, "bid")
        .join(sb, "cid")
        .withColumn("j", jac)
        .filter(F.col("j") >= JACCARD_TAU)
    )
    w = W.partitionBy("bid").orderBy(F.col("j").desc(), "cid")
    near = (
        ver.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("bid").alias("doc_id"), "cid", "j")
    )
    return ex.join(near, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("mid").isNotNull(), F.lit("exact_dup"))
        .when(F.col("cid").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.coalesce("mid", "cid").alias("match_id"),
        F.when(F.col("mid").isNull(), F.round("j", 4)).alias("jaccard"),
    )


# -------------------------------------------------- decontamination

# "Remove the eval set from the training data" — the pre-training
# hygiene step every LLM data pipeline runs alongside dedup: a
# training document sharing too many long n-grams with a held-out
# benchmark/eval document leaks test answers into the weights, so
# each training doc gets a contamination ratio (fraction of ITS
# distinct n-grams that appear anywhere in the eval set) and a
# keep/drop verdict. Distinct from dedup: the comparison is
# asymmetric (training vs a privileged eval universe, not pairwise),
# the unit is the n-gram universe of the WHOLE eval side, and a doc
# is dropped for overlapping many eval docs a little as surely as
# one eval doc a lot. Deterministic split so the flow is
# DuckDB-parity-checkable: doc_id % EVAL_MOD == 0 plays the held-out
# eval set (distinct from incremental dedup's % 5 batch split), the
# rest is the training corpus.
EVAL_MOD = 13
DECON_N = 3  # longer n-grams than dedup's 2: membership, not similarity
DECON_TAU = 0.2

DECON_ORACLE = f"""
WITH {_shingles_duck(DECON_N)},
ev AS (SELECT DISTINCT unnest(shingles) AS g FROM sh
       WHERE doc_id % {EVAL_MOD} = 0),
evl AS (SELECT coalesce(list(g), []) AS gl FROM ev),
tr AS (SELECT doc_id, shingles FROM sh WHERE doc_id % {EVAL_MOD} <> 0),
r AS (SELECT doc_id, len(shingles) AS n_grams,
             len(list_intersect(shingles, evl.gl)) AS n_eval_grams
      FROM tr, evl)
SELECT doc_id, n_grams, n_eval_grams,
       CASE WHEN n_grams > 0
            THEN round(n_eval_grams * 1.0 / n_grams, 4)
            ELSE 0.0 END AS contamination,
       CASE WHEN n_grams > 0
             AND n_eval_grams * 1.0 / n_grams >= {DECON_TAU}
            THEN 'drop' ELSE 'keep' END AS verdict
FROM r
"""


@register(
    "q_decontaminate",
    oracle=None,  # past the driver cap; DuckDB parity via
    # tests/test_pipeline_queries.py against DECON_ORACLE
    tags=("dedup", "decontamination", "pipeline"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination against a held-out eval set:
    every training doc's distinct word 3-grams (DECON_N) are checked
    for membership in the union of the eval set's n-grams, and docs
    whose contamination ratio reaches DECON_TAU are verdict 'drop'.

    Scale shape: the eval side collapses to its DISTINCT n-gram
    universe once (real eval sets are benchmark-sized — metadata
    next to a 100 TB corpus — though the declared doc_id % 13
    (EVAL_MOD) stand-in scales with the fixture, so the membership
    join is left
    to AQE rather than force-broadcast; with a production eval set
    the broadcast is the expected plan). The training side is ONE
    shingle pass — per-doc gram count and eval-hit count come out of
    a single aggregation over the exploded grams joined against the
    eval universe — never doc x doc, and the eval universe is never
    re-derived per training partition. Semantics follow the
    published n-gram-collision decontamination recipe (cf.
    PAPERS.md); the reference engine has no text surface at all
    (`src/zvdb.zig:1` exposes only vector insert/search), so this is
    north-star pipeline coverage, not reference parity.

    Rows-only at the driver (past the 50-entry cap);
    tests/test_pipeline_queries.py pins DuckDB value parity
    (DECON_ORACLE), the verdict/threshold consistency, and the
    eval-exclusion invariant.
    """
    sh = _shingles_spark(spark, sf_dir, DECON_N)
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    eval_grams = (
        sh.filter(is_eval)
        .select(F.explode("shingles").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # ONE pass over the training side: n_grams rides the exploded
    # rows (explode_outer keeps zero-shingle docs as a null-gram row,
    # which the left join can never match), so denominator and hit
    # count come out of the same aggregation — the training shingle
    # transform is never recomputed for a second lineage use.
    grams = sh.filter(~is_eval).select(
        "doc_id",
        F.size("shingles").alias("n_grams"),
        F.explode_outer("shingles").alias("g"),
    )
    agg = (
        grams.join(eval_grams, "g", "left")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("hit").alias("n_eval_grams"))
    )
    ratio = F.col("n_eval_grams") * F.lit(1.0) / F.col("n_grams")
    return agg.select(
        "doc_id",
        "n_grams",
        "n_eval_grams",
        F.when(F.col("n_grams") > 0, F.round(ratio, 4))
        .otherwise(F.lit(0.0))
        .alias("contamination"),
        F.when(
            (F.col("n_grams") > 0) & (ratio >= DECON_TAU),
            F.lit("drop"),
        )
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )
