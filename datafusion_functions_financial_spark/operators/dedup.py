"""Deduplication operators (exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding cosine near-dup).

Design for 100 TB:
- **exact**: hash-groupBy on md5 of normalized text — one shuffle on a
  short hash key; map-side partial aggregation applies.
- **n-gram Jaccard**: explode distinct k-shingles -> self-join on the
  shingle -> count intersections -> filter by threshold. This is the
  classic exact candidate verification; at scale it MUST be gated by a
  candidate generator (MinHash LSH below) and by frequency-capping hot
  shingles, otherwise a common shingle fans out quadratically.
- **MinHash + LSH**: per-doc signatures from P portable polynomial
  permutations (pure Catalyst arithmetic, no UDFs), banded into B
  buckets; candidate pairs share at least one band bucket and are then
  verified with exact Jaccard. Shuffle cost: one explode of B rows/doc
  plus a groupBy on (band, key) — linear, not quadratic.
- **SimHash**: 31-bit vote fingerprint over token hashes; near-dup =
  small Hamming distance. The pair scan blocks on max_hamming+1 bit
  bands (pigeonhole => lossless: identical output to the quadratic
  scan, but candidates form inside band buckets via an equi-join).

All hash arithmetic is engine-portable (same integer ops in the DuckDB
oracles) — nothing depends on Spark's internal hash functions.

MEASURED (r13, bench.py ``dedup_scale`` on 50K-vocab zipf corpora with
boilerplate and guaranteed-near-dup strata, 5K/50K/500K docs): capped
MinHash-LSH candidate growth fits log-log exponent **1.12** (~linear
in docs x bands; at 500K docs the cap dropped 184 hot buckets /
45,642 band rows before any pair formed — the largest bucket alone
would have emitted ~105M pairs), while uncapped LSH, banded SimHash,
and the PPJoin prefix filter all fit **~2.0** on the same corpus
shape. See SCALING.md "r13 dedup audit" for the full table and the
routing boundaries those numbers draw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.series import ROUND_DP
from ..sources.tables import load
from . import fasthash
from .parallelize import ensure_min_parallelism
from .text import poly_hash_duck

PRIME = 2_147_483_647  # 2^31 - 1, modulus for minhash permutations
SHINGLE_K = 5

# Deterministic permutation constants (textbook LCG-style, fixed seed).


def _perm_constants(n: int) -> list[tuple[int, int]]:
    out = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(n):
        x = (a * x + b) % PRIME
        pa = x | 1  # odd multiplier
        x = (a * x + b) % PRIME
        out.append((pa, x))
    return out


N_PERMS = 16
BAND_SIZE = 4  # -> 4 bands
PERMS = _perm_constants(N_PERMS)

# 100 TB-safe default for LSH band-bucket occupancy (VERDICT r02 item 4):
# buckets above the cap are excluded from candidate generation (see
# ``_cap_hot_buckets`` for the recall argument). ``None`` is the explicit
# opt-out for small corpora / recall audits.
DEFAULT_MAX_BUCKET_SIZE = 1000
# Gate queries pin this instead: effectively uncapped at every tested SF
# (documents <= ~50K rows) so Spark results stay bit-identical to the
# cap-free DuckDB oracles, while the cap stays finite and explicit.
GATE_BUCKET_CAP = 1_000_000

# --- shared expression fragments ------------------------------------------

_NORM_SPARK = "regexp_replace(lower(trim({t})), '\\\\s+', ' ')"
_NORM_DUCK = "regexp_replace(lower(trim({t})), '\\s+', ' ', 'g')"


def _shingles_spark(t: str) -> str:
    n = _NORM_SPARK.format(t=t)
    return (
        f"array_distinct(transform(sequence(1, greatest(length({n}) - "
        f"{SHINGLE_K - 1}, 1)), i -> substring({n}, i, {SHINGLE_K})))"
    )


def _shingles_duck(t: str) -> str:
    n = _NORM_DUCK.format(t=t)
    return (
        f"list_distinct(list_transform(range(1, greatest(length({n}) - "
        f"{SHINGLE_K - 1}, 1) + 1), i -> substring({n}, i, {SHINGLE_K})))"
    )


# ==========================================================================
# Exact dedup
# ==========================================================================


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts; keep the smallest id."""
    norm = _NORM_SPARK.format(t=text_col)
    return (
        df.selectExpr(f"{id_col} AS doc_id", f"md5({norm}) AS text_hash")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def duplicate_rate_by_group(df: DataFrame, group_col: str = "source",
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Per-group corpus-health report: how much of each group is exact
    duplication. (group, n_docs, n_dup_docs, dup_ratio) where a dup doc
    is one whose normalized text occurs more than once in the WHOLE
    corpus (cross-group duplication counts — that is the contamination
    a per-source report must surface).

    Plan: one hash-groupBy on the md5 key (map-side combined), join the
    per-hash counts back (shuffle on the short hash), then one bounded
    groupBy(group). Linear, no pair space.
    """
    norm = _NORM_SPARK.format(t=text_col)
    hashed = df.selectExpr(f"{id_col} AS doc_id", group_col,
                           f"md5({norm}) AS __h")
    counts = hashed.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__cnt"))
    scale = 10_000.0
    return (
        hashed.join(counts, "__h")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("__cnt") > 1, 1).otherwise(0))
            .cast("bigint").alias("n_dup_docs"),
        )
        .selectExpr(
            group_col, "n_docs", "n_dup_docs",
            f"round(CAST(n_dup_docs AS DOUBLE) / n_docs * {scale!r}) "
            f"/ {scale!r} AS dup_ratio",
        )
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load(spark, sf_dir, "documents"))


_ORACLE_DEDUP_EXACT = f"""
SELECT md5({_NORM_DUCK.format(t='text')}) AS text_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


# ==========================================================================
# n-gram Jaccard near-dup pairs (exact verification path)
# ==========================================================================

JACCARD_THRESHOLD = 0.8


def shingle_pairs_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate pairs.

    Without ``candidates`` this self-joins on the shingle — quadratic in
    per-shingle document frequency, only viable on small corpora or
    after blocking. With ``candidates`` (columns id_a < id_b) the join
    is restricted to those pairs: linear in |candidates| x shingles.
    """
    sh = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(fasthash.shingles_udf(F.col(text_col))).alias("s"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if candidates is None:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # Join each candidate pair to both shingle sets; the second join
        # is an equi-join on the composite (doc, shingle) key.
        inter = (
            candidates.join(
                sh.selectExpr("doc_id AS id_a", "s AS s_a"), "id_a"
            )
            .join(
                sh.selectExpr("doc_id AS id_b2", "s AS s_b"),
                (F.col("id_b") == F.col("id_b2"))
                & (F.col("s_a") == F.col("s_b")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("n", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The gate runs the CANDIDATE-GATED path — exact string-shingle
    # Jaccard verification over MinHash-LSH candidates only, the 100 TB
    # composition. (The ungated self-join stays available for small
    # corpora via candidates=None.)
    docs = load(spark, sf_dir, "documents")
    out = shingle_pairs_jaccard(
        docs,
        candidates=minhash_lsh_candidates(
            docs, max_bucket_size=GATE_BUCKET_CAP
        ),
    )
    return out.selectExpr(
        "id_a", "id_b", f"round(jaccard, {ROUND_DP}) AS jaccard"
    )


# NOTE: _ORACLE_DEDUP_NGRAM is defined after the MinHash section below
# (it reuses the shared LSH candidate CTE chain).


# ==========================================================================
# MinHash signatures + LSH banding
# ==========================================================================


def _minhash_from_hashes_spark() -> list[str]:
    return [
        f"array_min(transform(__hashes, h -> ({a}L*h + {b}L) % {PRIME}L)) "
        f"AS mh_{j}"
        for j, (a, b) in enumerate(PERMS)
    ]


def _minhash_from_hashes_duck() -> list[str]:
    return [
        f"list_min(list_transform(__hashes, h -> ({a}*h + {b}) % {PRIME})) "
        f"AS mh_{j}"
        for j, (a, b) in enumerate(PERMS)
    ]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per doc with N_PERMS minhash columns (pure Catalyst).

    The shingle-hash array is materialized ONCE per row, then each
    permutation takes its min from it — Catalyst does not CSE nested
    lambda expressions, so inlining it N_PERMS times costs N_PERMS
    recomputations of the whole shingle fold."""
    sig = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        fasthash.make_minhash_udf(PERMS)(F.col(text_col)).alias("__sig"),
    )
    return sig.selectExpr(
        "doc_id", *[f"__sig[{j}] AS mh_{j}" for j in range(N_PERMS)]
    )


def _band_key_expr(band: int) -> str:
    cols = [f"mh_{band * BAND_SIZE + i}" for i in range(BAND_SIZE)]
    return f"concat_ws('-', {', '.join(cols)})"


EST_MIN_MATCHES = 8  # signature pre-filter: >= 8/16 perms must agree


def _band_rows(sig: DataFrame, with_sig: bool = False) -> DataFrame:
    """Explode a signature relation into (doc_id[, __sig], band,
    band_key) rows — one per LSH band. Bands are distinguished by
    index to avoid cross-band key collisions. ``with_sig`` carries the
    full signature array along for the in-join agreement pre-filter."""
    band_exprs = [
        f"named_struct('band', {b}, 'key', {_band_key_expr(b)})"
        for b in range(N_PERMS // BAND_SIZE)
    ]
    cols = ["doc_id"]
    out = ["doc_id"]
    if with_sig:
        sig_arr = ", ".join(f"mh_{j}" for j in range(N_PERMS))
        cols.append(f"array({sig_arr}) AS __sig")
        out.append("__sig")
    return sig.selectExpr(
        *cols, f"explode(array({', '.join(band_exprs)})) AS bk",
    ).selectExpr(*out, "bk.band AS band", "bk.key AS band_key")


def lsh_band_stats(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
                   sig: DataFrame | None = None) -> DataFrame:
    """One-row bucket-occupancy audit of the LSH blocking stage:
    (n_band_rows, n_buckets, max_bucket, n_hot_buckets,
    n_rows_excluded) — the measured form of the hot-bucket-cap claim.

    ``n_rows_excluded`` counts band rows (not docs) the cap drops
    before any candidate pair forms; a bucket of size m would have
    emitted m*(m-1)/2 pairs from one reducer. One groupBy on the band
    key — the same shuffle the candidate join pays — then a global
    aggregate of the tiny bucket-size relation."""
    if sig is None:
        sig = minhash_signatures(df, text_col, id_col).localCheckpoint()
    sizes = (
        _band_rows(sig).groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("__bsz"))
    )
    hot = F.col("__bsz") > max_bucket_size
    return sizes.agg(
        F.sum("__bsz").cast("bigint").alias("n_band_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("__bsz").cast("bigint").alias("max_bucket"),
        F.sum(F.when(hot, 1).otherwise(0)).cast("bigint")
        .alias("n_hot_buckets"),
        F.sum(F.when(hot, F.col("__bsz")).otherwise(0)).cast("bigint")
        .alias("n_rows_excluded"),
    )


def _cap_hot_buckets(bands: DataFrame, key_cols: list[str],
                     max_bucket_size: int) -> DataFrame:
    """Drop rows belonging to band buckets with more than
    ``max_bucket_size`` members before the candidate self-join.

    A bucket of size m emits m*(m-1)/2 candidate pairs, so one
    boilerplate bucket (every doc sharing a header, a degenerate
    hyperplane region...) can dominate the whole join — the classic
    LSH skew failure at scale. Hot buckets are by definition FEW, so
    the over-cap key list is tiny: aggregate it and broadcast it into
    a left_anti join (no extra shuffle of the big side beyond the
    count agg, which is map-side partial on the same keys).

    Capping is a recall trade: pairs whose ONLY shared bucket is hot
    are lost. For near-dup workloads hot buckets are dominated by
    boilerplate that exact verification would mostly reject anyway;
    true near-dups overwhelmingly co-occur in additional, smaller
    buckets (they agree on many bands).
    """
    hot = (
        bands.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > max_bucket_size)
        .select(*key_cols)
    )
    return bands.join(F.broadcast(hot), key_cols, "left_anti")


def _cap_hot_buckets_fused(bands: DataFrame, key_cols: list[str],
                           max_bucket_size: int) -> DataFrame:
    """Same contract as ``_cap_hot_buckets`` (drop every row of a
    bucket whose occupancy exceeds the cap), expressed as a window
    COUNT over the bucket key instead of a separate aggregate +
    broadcast anti-join.

    Use when the DOWNSTREAM operator already shuffles on ``key_cols``
    (the LSH band self-join does): the window's exchange is the same
    exchange the join needs, so Spark's exchange reuse makes the cap
    free of extra shuffles — the standalone variant costs a full
    aggregate job plus a broadcast build per run. The window buffers
    one bucket's rows per key group (spilling past memory), which is
    exactly the relation the join would have buffered anyway; the cap
    filter still kills over-cap buckets before any pair is emitted."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    return (
        bands.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    sig: DataFrame | None = None,
    min_sig_matches: int = EST_MIN_MATCHES,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from MinHash LSH banding plus the
    signature-agreement pre-filter — no exact verification yet. This is
    the blocking stage any exact verifier (hashed-shingle Jaccard,
    string-shingle Jaccard, edit distance...) should be fed at scale.

    Scale properties: band explode + groupBy is linear; the pair join
    only touches docs sharing a band bucket; the pre-filter (estimated
    Jaccard >= EST_MIN_MATCHES/N_PERMS, i.e. 0.5) kills most
    low-similarity bucket collisions before any per-shingle join. A
    true 0.8-Jaccard pair fails the pre-filter with P ~ 4e-4
    (Binomial(16, 0.8) < 8) — the usual LSH recall trade, and fully
    deterministic (the oracles apply the identical filter).

    ``max_bucket_size`` caps band-bucket occupancy: buckets larger than
    the cap are excluded from candidate generation (see
    ``_cap_hot_buckets``). The default is the finite
    ``DEFAULT_MAX_BUCKET_SIZE`` — at 100 TB a single boilerplate bucket
    of 10^6 docs would otherwise emit ~5*10^11 pairs from one reducer.
    Pass ``None`` to opt out explicitly (small corpora, recall audits).

    ``sig``: optionally pass precomputed signatures (doc_id, mh_0..N —
    already materialized/checkpointed) to share one hashing pass with
    a downstream verifier; see ``minhash_lsh_pairs``."""
    if sig is None:
        # Materialize signatures once: the band self-join references
        # this subplan twice, and Spark re-executes (not CSEs) repeated
        # subplans — recomputing the hash UDF otherwise.
        sig = minhash_signatures(df, text_col, id_col).localCheckpoint()
    # The full signature rides along as an array so the agreement
    # pre-filter evaluates INSIDE the band self-join (16 int compares
    # per bucket-mate) instead of two post-hoc joins of the candidate
    # relation back against ``sig`` — two fewer shuffles, and pairs die
    # before the distinct. Cost: 16 extra longs per band row through
    # the explode shuffle (~150 B/row), linear in corpus size.
    bands = _band_rows(sig, with_sig=True)
    if max_bucket_size is not None:
        bands = _cap_hot_buckets_fused(bands, ["band", "band_key"],
                                       max_bucket_size)
    # NOTE (r14, measured and rejected): checkpointing the capped band
    # relation here — so the self-join's two embedded copies (the plan
    # shows two identical explode+Exchange+Sort+Window chains) read
    # one materialization — made the INCLUSIVE build+write time flat
    # to worse at sf0.1 (lsh 3.05->3.15 s, pipeline_clean 7.6->8.9 s,
    # incremental 2.28->2.69 s): the eager materialization job costs
    # as much as the duplicated recompute at this scale. Same verdict
    # as the r13 kmeans/jaccard "compute once" attempts.
    a, b = bands.alias("a"), bands.alias("b")
    # Direct indexed compares, NOT zip_with/aggregate: higher-order
    # functions are interpreted per row (outside whole-stage codegen);
    # 16 array-subscript equality terms stay inside codegen.
    agree = sum(
        F.when(F.expr(f"a.__sig[{j}] = b.__sig[{j}]"), 1).otherwise(0)
        for j in range(N_PERMS)
    )
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    if min_sig_matches > 0:
        # Containment callers pass 0: a short doc inside a long one has
        # LOW jaccard, so the jaccard-estimating pre-filter would kill
        # exactly the pairs they're after.
        joined = joined.filter(agree >= min_sig_matches)
    return (
        joined
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Full LSH pipeline: ``minhash_lsh_candidates`` -> exact-Jaccard
    verification over shingle-hash sets, restricted to candidates —
    never the full pair space. ``max_bucket_size`` forwards to the
    candidate stage (hot-bucket skew cap, finite by default; None =
    explicit opt-out).

    Signatures and shingle-hash sets come from ONE fused hashing pass
    (``make_minhash_with_hashes_udf``) — the corpus is normalized and
    shingled exactly once, then checkpointed for the four downstream
    references."""
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        fasthash.make_minhash_with_hashes_udf(PERMS)(
            F.col(text_col)
        ).alias("__mh"),
    ).localCheckpoint()
    sig = base.selectExpr(
        "doc_id", *[f"__mh.sig[{j}] AS mh_{j}" for j in range(N_PERMS)]
    )
    cand = minhash_lsh_candidates(df, text_col, id_col, max_bucket_size,
                                  sig=sig)
    # Verification joins the CANDIDATE pairs against per-doc hash-set
    # ARRAYS and intersects in-row (the arrays are distinct sets, so
    # size(array_intersect) IS the intersection cardinality). The
    # earlier explode-join formulation shuffled the full shingle
    # relation (corpus_docs x ~shingles_per_doc rows) through the
    # (id, h) equi-join; this one moves only the candidate docs'
    # arrays — shuffle volume scales with CANDIDATES (cap-bounded),
    # not with corpus size. Same integers, same jaccard bits.
    harr = base.select("doc_id", F.col("__mh.hashes").alias("__h"))
    inter = (
        cand.join(harr.selectExpr("doc_id AS id_a", "__h AS __h_a"),
                  "id_a")
        .join(harr.selectExpr("doc_id AS id_b", "__h AS __h_b"), "id_b")
        .select(
            "id_a", "id_b",
            F.expr("size(array_intersect(__h_a, __h_b))").alias("inter"),
            F.expr("size(__h_a)").alias("n_a"),
            F.expr("size(__h_b)").alias("n_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load(spark, sf_dir, "documents"))


def duck_hashes_cte(src: str = "documents") -> str:
    """Per-doc shingle-hash arrays from any source relation (the
    composed-pipeline oracles run the LSH chain over filtered CTEs)."""
    return (
        "SELECT doc_id, list_transform({sh}, s -> {ph}) AS __hashes "
        "FROM {src}"
    ).format(sh=_shingles_duck("text"), ph=poly_hash_duck("s"), src=src)


_DUCK_HASHES_CTE = duck_hashes_cte()

_ORACLE_MINHASH_SIG = (
    f"WITH hashed AS ({_DUCK_HASHES_CTE})\n"
    f"SELECT doc_id, {', '.join(_minhash_from_hashes_duck())} FROM hashed"
)


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = minhash_lsh_pairs(load(spark, sf_dir, "documents"),
                            max_bucket_size=GATE_BUCKET_CAP)
    return out.selectExpr(
        "id_a", "id_b", f"round(jaccard, {ROUND_DP}) AS jaccard"
    )


def _duck_band_key(band: int) -> str:
    cols = [f"mh_{band * BAND_SIZE + i}" for i in range(BAND_SIZE)]
    return f"concat_ws('-', {', '.join(cols)})"


# Shared candidate-generation CTE chain (signatures -> band buckets ->
# distinct bucket-mates -> signature-agreement pre-filter); reused by
# the LSH gate, the candidate-gated n-gram Jaccard gate, and the
# composed corpus-cleaning pipeline (parameterized source).


def duck_lsh_cand_ctes(src: str = "documents") -> str:
    return f"""hashed AS ({duck_hashes_cte(src)}
), sig AS (
  SELECT doc_id, {', '.join(_minhash_from_hashes_duck())} FROM hashed
), bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, {_duck_band_key(b)} AS band_key FROM sig"
      for b in range(N_PERMS // BAND_SIZE)
  )}
), cand0 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), cand AS (
  SELECT c.id_a, c.id_b
  FROM cand0 c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
  WHERE {' + '.join(
      f"CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END"
      for j in range(N_PERMS)
  )} >= {EST_MIN_MATCHES}
)"""


def duck_lsh_pairs_ctes(src: str = "documents") -> str:
    """Full LSH near-dup pair CTE chain ending in ``lshpairs``
    (id_a, id_b) with exact-Jaccard >= threshold verification."""
    return f"""{duck_lsh_cand_ctes(src)}, sh AS (
  SELECT doc_id, unnest(list_distinct(__hashes)) AS h FROM hashed
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.h = a.h
  GROUP BY 1, 2
), lshpairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
)"""


_DUCK_LSH_CAND_CTES = duck_lsh_cand_ctes()


_ORACLE_MINHASH_LSH = f"""
WITH {_DUCK_LSH_CAND_CTES}, sh AS (
  SELECT doc_id, unnest(list_distinct(__hashes)) AS h FROM hashed
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.inter / (sa.n + sb.n - i.inter), {ROUND_DP}) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
"""


# Candidate-gated exact n-gram Jaccard: the same LSH candidate chain,
# verified over distinct STRING shingles (not hashes) — mirrors
# _q_dedup_ngram's shingle_pairs_jaccard(candidates=...) composition.
_ORACLE_DEDUP_NGRAM = f"""
WITH {_DUCK_LSH_CAND_CTES}, sh AS (
  SELECT DISTINCT doc_id, unnest({_shingles_duck('text')}) AS s
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.inter / (sa.n + sb.n - i.inter), {ROUND_DP}) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
"""


# ==========================================================================
# SimHash
# ==========================================================================

SIMHASH_BITS = 31
HAMMING_THRESHOLD = 6


# Token hashes carry ~30 meaningful bits (mod 1e9+7), so fingerprints
# wider than 31 bits derive their extra bit planes from LCG-permuted
# rehashes: bit b votes on bit (b % 31) of perm_{b//31}(h). Production
# near-dup wants wide fingerprints (Manku et al., WWW'07) — banding at
# Hamming <= 6 over 62 bits gives ~9-bit bands vs ~4-bit at 31 bits,
# i.e. ~32x stronger blocking. Both engines build the identical
# expression, so width is a free parameter (1..62).


def _simhash_from_hashes_spark(bits: int = SIMHASH_BITS) -> str:
    # __th is the materialized token-hash array (computed once per row;
    # the per-bit vote loop reuses it `bits` times).
    (a1, c1), (a2, c2) = PERMS[0], PERMS[1]
    trans = (
        f"CASE WHEN b < 31 THEN h ELSE "
        f"(element_at(array({a1}L, {a2}L), CAST(b div 31 AS INT)) * h + "
        f"element_at(array({c1}L, {c2}L), CAST(b div 31 AS INT))) "
        f"% {PRIME}L END"
    )
    bit = (
        "CASE WHEN aggregate(__th, 0L, (acc, h) -> acc + "
        f"CASE WHEN (shiftright({trans}, b % 31) & 1) = 1 "
        "THEN 1L ELSE -1L END) > 0 "
        "THEN shiftleft(1L, b) ELSE 0L END"
    )
    return (
        f"aggregate(transform(sequence(0, {bits - 1}), b -> {bit}), "
        f"0L, (acc, v) -> acc + v)"
    )


def _simhash_from_hashes_duck(bits: int = SIMHASH_BITS) -> str:
    (a1, c1), (a2, c2) = PERMS[0], PERMS[1]
    trans = (
        f"CASE WHEN b < 31 THEN h ELSE "
        f"([{a1}, {a2}][(b // 31)] * h + [{c1}, {c2}][(b // 31)]) "
        f"% {PRIME} END"
    )
    bit = (
        "CASE WHEN list_reduce(list_concat([CAST(0 AS BIGINT)], "
        f"list_transform(__th, h -> CASE WHEN (({trans}) >> (b % 31)) & 1 "
        "= 1 "
        "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), "
        "(a1, a2) -> a1 + a2) > 0 "
        "THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END"
    )
    return (
        f"list_reduce(list_concat([CAST(0 AS BIGINT)], "
        f"list_transform(range(0, {bits}), b -> {bit})), "
        f"(a1, a2) -> a1 + a2)"
    )


_DUCK_TOKEN_HASHES_CTE = (
    "SELECT doc_id, list_transform("
    "list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')), "
    "s -> {ph}) AS __th FROM documents"
).format(ph=poly_hash_duck("s"))


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id",
            bits: int = SIMHASH_BITS) -> DataFrame:
    if not 1 <= bits <= 62:
        raise ValueError("bits must be in 1..62 (signed-int64 safe)")
    # Fused vectorized token-hash + bit-vote pass (bit-identical twin
    # of the Catalyst _simhash_from_hashes_spark expression, which the
    # oracles still mirror): the interpreted bits x tokens double fold
    # dominated the r13 dedup-scale simhash point (guide §4).
    return ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        fasthash.make_simhash_udf(PERMS, bits)(
            F.col(text_col)).alias("simhash"),
    )


def _band_slices(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """(offset, width) per band; widths differ by at most 1."""
    base, extra = divmod(bits, n_bands)
    out, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_hamming: int = HAMMING_THRESHOLD,
                       bits: int = SIMHASH_BITS,
                       s: DataFrame | None = None) -> DataFrame:
    """The banded blocking stage of :func:`simhash_pairs` alone:
    distinct (id_a < id_b) pairs sharing >= 1 of the
    ``max_hamming + 1`` bit-bands — before Hamming verification.

    Exposed so scale audits (bench.py ``dedup_scale``) can measure
    candidate growth directly. Note the structural scale limit: for a
    fixed fingerprint width, each band carries ~bits/(max_hamming+1)
    bits, so chance collisions contribute ~n^2 / 2^band_width pairs —
    linear only while n << 2^band_width. Past that, widen the
    fingerprint (``bits`` up to 62 here) or route to MinHash-LSH,
    whose band keys (4 x 31-bit minima) have no such background term.

    ``s``: optionally pass precomputed (doc_id, simhash) fingerprints
    (already materialized) to share one hashing pass with a verifier.
    """
    if max_hamming + 1 > bits:
        raise ValueError("banding degenerates below 1 bit/band; "
                         "use simhash_pairs(method='allpairs')")
    if s is None:
        s = simhash(df, text_col, id_col, bits).localCheckpoint()
    slices = _band_slices(bits, max_hamming + 1)
    band_exprs = [
        f"named_struct('band', {b}, 'bucket', "
        f"shiftright(simhash, {off}) & {(1 << w) - 1}L)"
        for b, (off, w) in enumerate(slices)
    ]
    bands = s.selectExpr(
        "doc_id", f"explode(array({', '.join(band_exprs)})) AS bk"
    ).selectExpr("doc_id", "bk.band AS band", "bk.bucket AS bucket")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def simhash_candidate_count(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = HAMMING_THRESHOLD,
                            bits: int = SIMHASH_BITS,
                            s: DataFrame | None = None) -> DataFrame:
    """1-row ``(n_candidates BIGINT)``: exactly
    ``simhash_candidates(...).count()`` WITHOUT materializing the pair
    relation (VERDICT r13 item 6 — the audit's 25M-row candidate
    ``.distinct()`` was the remaining multi-second dedup-scale cost).

    First-matching-band counting: every qualifying pair matches some
    lowest band b, so the distinct-pair count is
    ``Σ_b #{pairs agreeing on band b and on NO band j < b}``, and each
    inner term expands by inclusion-exclusion over the earlier bands:
    ``Σ_{S ⊆ {0..b-1}} (-1)^|S| P({b} ∪ S)`` where ``P(M)`` counts
    pairs agreeing on every band in M — a per-group ``m*(m-1)/2`` sum
    when grouping fingerprints by the masked band bits. With B =
    ``max_hamming + 1`` bands that is ``2^B - 1`` grouped counts (15
    at the production Hamming 3) over n rows each: linear scans and
    bounded aggregation state instead of an n^2-shaped join + distinct
    — the same reason this is the scale-safe count at 100 TB, where
    the uncapped pair relation may not be materializable at all.

    Identity with the join path is pinned by
    ``tests/test_simhash_count.py`` (both fingerprint widths, plus the
    duplicate-heavy zipf audit corpus) and re-verified on the audit's
    committed tier points (identical counts; OPTIMIZATION_r14.md).
    """
    if max_hamming + 1 > bits:
        raise ValueError("banding degenerates below 1 bit/band; "
                         "use simhash_pairs(method='allpairs')")
    if s is None:
        s = simhash(df, text_col, id_col, bits).localCheckpoint()
    slices = _band_slices(bits, max_hamming + 1)
    masks = [((1 << w) - 1) << off for off, w in slices]
    terms: list[tuple[int, int]] = []  # (sign, combined mask)
    for b in range(len(masks)):
        for sub in range(1 << b):  # bitset over bands 0..b-1
            m = masks[b]
            sign = 1
            for j in range(b):
                if sub >> j & 1:
                    m |= masks[j]
                    sign = -sign
            terms.append((sign, m))
    structs = ", ".join(
        f"named_struct('t', {t}, 'sg', {sign}L, "
        f"'k', simhash & {mask}L)"
        for t, (sign, mask) in enumerate(terms)
    )
    return (
        s.selectExpr(f"explode(array({structs})) AS tk")
        .groupBy("tk.t", "tk.sg", "tk.k")
        .agg(F.count(F.lit(1)).alias("__m"))
        .agg(F.expr(
            "coalesce(CAST(sum(sg * (__m * (__m - 1) DIV 2)) AS BIGINT), "
            "0L) AS n_candidates"))
    )


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  max_hamming: int = HAMMING_THRESHOLD,
                  method: str = "banded",
                  bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    ``method="banded"`` (default) is LOSSLESS blocking: the fingerprint
    is split into ``max_hamming + 1`` bit-bands; two fingerprints within
    ``max_hamming`` differing bits must agree exactly on >= 1 band
    (pigeonhole: max_hamming diffs cannot touch all max_hamming+1
    bands), so candidates = pairs sharing a (band, bucket) — an
    equi-join, no all-pairs scan — and the result is identical to the
    quadratic path. Blocking power: each band carries
    ~bits/(max_hamming+1) bits, so low thresholds on short fingerprints
    block weakly; production near-dup at 100 TB wants 64-bit
    fingerprints (Manku et al., WWW'07) — width is a parameter here.

    ``method="allpairs"``: the O(n^2) reference scan, for auditing.
    """
    if max_hamming + 1 > bits:
        method = "allpairs"  # banding degenerates below 1 bit/band
    if method == "allpairs":
        s = simhash(df, text_col, id_col, bits)
        a, b = s.alias("a"), s.alias("b")
        return (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    if method != "banded":
        raise ValueError("method must be 'banded' or 'allpairs'")
    # Fingerprints are referenced by the band explode AND both sides of
    # the verify join — materialize once (Spark re-executes, not CSEs,
    # repeated subplans, and simhash() runs a token-hash UDF per row).
    s = simhash(df, text_col, id_col, bits).localCheckpoint()
    cand = simhash_candidates(df, text_col, id_col, max_hamming, bits,
                              s=s)
    return (
        cand.join(s.selectExpr("doc_id AS id_a", "simhash AS sh_a"), "id_a")
        .join(s.selectExpr("doc_id AS id_b", "simhash AS sh_b"), "id_b")
        .select(
            "id_a", "id_b",
            F.expr("bit_count(sh_a ^ sh_b)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load(spark, sf_dir, "documents"))


_ORACLE_SIMHASH = (
    f"WITH hashed AS ({_DUCK_TOKEN_HASHES_CTE})\n"
    f"SELECT doc_id, {_simhash_from_hashes_duck()} AS simhash FROM hashed"
)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load(spark, sf_dir, "documents"))


# All-pairs oracle stays valid for the banded Spark plan: banding into
# max_hamming+1 bands is lossless (see simhash_pairs), so both compute
# the same relation — the oracle declares WHAT, the plan chooses HOW.
_ORACLE_SIMHASH_PAIRS = f"""
WITH hashed AS ({_DUCK_TOKEN_HASHES_CTE}
), s AS (
  SELECT doc_id, {_simhash_from_hashes_duck()} AS simhash FROM hashed
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
"""


# ==========================================================================
# Duplicate-cluster resolution (connected components over near-dup pairs)
# ==========================================================================


# Above this many near-dup edges, dedup_clusters switches from
# min-label propagation (rounds ~ cluster diameter — fine for the
# shallow clusters LSH produces, but O(diameter) joins over a large
# edge set) to the large-star/small-star alternation (O(log^2 n)
# rounds regardless of diameter; ``operators/cc.py``, Kiveris et al.
# SoCC'14). Proven equal on both branches in
# ``tests/test_dedup_clusters_strategy.py::
# test_dedup_clusters_strategies_agree``.
CC_EDGE_THRESHOLD = 100_000


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
    strategy: str = "auto",
    cc_edge_threshold: int = CC_EDGE_THRESHOLD,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: every doc labeled with the
    smallest reachable doc id (connected components); ``is_kept`` marks
    the cluster canonical.

    ``strategy``: ``"labelprop"`` (min-label propagation — each round
    is one join + groupBy over the EDGE set; rounds ~ O(cluster
    diameter), almost always <= 3 for LSH dup clusters),
    ``"cc"`` (large-star/small-star — O(log^2 n) rounds independent of
    diameter, the 100 TB-safe closer for adversarially deep chains),
    or ``"auto"`` (default): labelprop below ``cc_edge_threshold``
    edges, cc above. The corpus-sized label table only ever joins
    aggregated per-node minima, never raw edges, on either branch.
    """
    # Materialize the edge set once — both strategies iterate over it
    # and would otherwise re-execute the entire pair-generation pipeline
    # (e.g. MinHash-LSH) every round.
    pairs = pairs.localCheckpoint()
    if strategy == "auto":
        strategy = "cc" if pairs.count() > cc_edge_threshold \
            else "labelprop"
    if strategy == "cc":
        from .cc import connected_components

        labels = connected_components(
            df.selectExpr(f"{id_col} AS id"), pairs,
            "id", "id_a", "id_b")
        return labels.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            (F.col("node") == F.col("component")).alias("is_kept"),
        )
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst").union(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )
    labels = df.selectExpr(f"{id_col} AS id").withColumn(
        "label", F.col("id")
    ).localCheckpoint()
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == F.col("src"), "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nmin"), F.col("label")),
                ).alias("label"),
            )
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_kept"),
    )


CONTAINMENT_THRESHOLD = 0.9


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = CONTAINMENT_THRESHOLD,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Asymmetric near-dup: ``containment = |A∩B| / min(|A|, |B|)`` —
    catches truncation/quote duplicates (one doc embedded in another)
    whose symmetric Jaccard is low. Same banded candidates as
    ``minhash_lsh_pairs`` but WITHOUT the jaccard-estimating
    signature pre-filter (it would kill exactly these pairs); the
    in-row array-intersect verify applies the containment test
    instead. Recall caveat: MinHash bands estimate JACCARD, so a tiny
    doc inside a huge one may never share a band — at scale, stack a
    dedicated containment LSH (e.g. size-stratified re-hashing) on
    top; for truncation-style dups (sizes within ~2x) band recall
    stays high.
    """
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        fasthash.make_minhash_with_hashes_udf(PERMS)(
            F.col(text_col)
        ).alias("__mh"),
    ).localCheckpoint()
    sig = base.selectExpr(
        "doc_id", *[f"__mh.sig[{j}] AS mh_{j}" for j in range(N_PERMS)]
    )
    cand = minhash_lsh_candidates(df, text_col, id_col, max_bucket_size,
                                  sig=sig, min_sig_matches=0)
    harr = base.select("doc_id", F.col("__mh.hashes").alias("__h"))
    inter = (
        cand.join(harr.selectExpr("doc_id AS id_a", "__h AS __h_a"),
                  "id_a")
        .join(harr.selectExpr("doc_id AS id_b", "__h AS __h_b"), "id_b")
        .select(
            "id_a", "id_b",
            F.expr("size(array_intersect(__h_a, __h_b))").alias("inter"),
            F.expr("size(__h_a)").alias("n_a"),
            F.expr("size(__h_b)").alias("n_b"),
        )
    )
    cont = F.col("inter") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def select_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
) -> DataFrame:
    """The dedup DECISION: one canonical doc per cluster —
    (cluster_id, rep_id, n_members). Policy: keep the LONGEST member
    (duplicates are usually truncations/mutilations of the fullest
    copy), ties to the smallest id.

    The policy key packs (length, -id) into ONE BIGINT
    (``length * 2^40 - id`` — lengths and ids both < 2^40 by a wide
    margin) because a plain ``max_by`` with a scalar key is map-side
    combinable on BOTH engines, while struct-keyed ``max_by`` isn't
    portable (DuckDB has no struct overload). One groupBy over the
    corpus-sized cluster relation; no window, no sort.
    """
    key = (f"CAST({length_col} AS BIGINT) * 1099511627776"
           f" - CAST({id_col} AS BIGINT)")
    joined = clusters.join(
        docs.selectExpr(f"{id_col}", f"{length_col}"), id_col)
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.expr(f"max_by({id_col}, {key})").alias("rep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )


def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = containment_pairs(load(spark, sf_dir, "documents"),
                            max_bucket_size=GATE_BUCKET_CAP)
    return out.selectExpr(
        "id_a", "id_b",
        f"round(containment, {ROUND_DP}) AS containment")


_ORACLE_DEDUP_CONTAINMENT = f"""
WITH {_DUCK_LSH_CAND_CTES}
SELECT c.id_a, c.id_b,
  round(CAST(len(list_intersect(ha.__hashes, hb.__hashes)) AS DOUBLE)
        / CAST(least(len(ha.__hashes), len(hb.__hashes)) AS DOUBLE),
        {ROUND_DP}) AS containment
FROM cand0 c
JOIN hashed ha ON ha.doc_id = c.id_a
JOIN hashed hb ON hb.doc_id = c.id_b
WHERE CAST(len(list_intersect(ha.__hashes, hb.__hashes)) AS DOUBLE)
      / CAST(least(len(ha.__hashes), len(hb.__hashes)) AS DOUBLE)
      >= {CONTAINMENT_THRESHOLD}
"""


def _q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        docs, minhash_lsh_pairs(docs, max_bucket_size=GATE_BUCKET_CAP)
    )
    reps = select_representatives(docs, clusters)
    return reps.filter(F.col("n_members") > 1)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_clusters(
        docs, minhash_lsh_pairs(docs, max_bucket_size=GATE_BUCKET_CAP)
    )


_CLUSTERS_CTE_PREFIX = f"""
WITH RECURSIVE lsh AS (
  {_ORACLE_MINHASH_LSH}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM lsh
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM lsh
), reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT e.src AS id, reach.r
  FROM edges e JOIN reach ON reach.id = e.dst
)"""

_ORACLE_DEDUP_CLUSTERS = f"""
{_CLUSTERS_CTE_PREFIX}
SELECT id AS doc_id, min(r) AS cluster_id,
       (id = min(r)) AS is_kept
FROM reach
GROUP BY id
"""

_ORACLE_DEDUP_REPRESENTATIVES = f"""
{_CLUSTERS_CTE_PREFIX}
, clusters AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
), reps AS (
  SELECT cluster_id,
         max_by(c.doc_id, CAST(d.n_chars AS BIGINT) * 1099511627776
                          - CAST(c.doc_id AS BIGINT)) AS rep_id,
         CAST(count(*) AS BIGINT) AS n_members
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
  GROUP BY cluster_id
)
SELECT * FROM reps WHERE n_members > 1
"""


QUERIES: dict = {
    "dedup_exact_documents": (_q_dedup_exact, _ORACLE_DEDUP_EXACT),
    "dedup_clusters_documents": (_q_dedup_clusters, _ORACLE_DEDUP_CLUSTERS),
    "dedup_representatives_documents": (
        _q_dedup_representatives,
        _ORACLE_DEDUP_REPRESENTATIVES,
    ),
    "dedup_containment_documents": (
        _q_dedup_containment,
        _ORACLE_DEDUP_CONTAINMENT,
    ),
    "dedup_ngram_jaccard_documents": (_q_dedup_ngram, _ORACLE_DEDUP_NGRAM),
    "dedup_minhash_signatures_documents": (
        _q_minhash_signatures,
        _ORACLE_MINHASH_SIG,
    ),
    "dedup_minhash_lsh_documents": (_q_minhash_lsh, _ORACLE_MINHASH_LSH),
    "dedup_simhash_documents": (_q_simhash, _ORACLE_SIMHASH),
    "dedup_simhash_pairs_documents": (
        _q_simhash_pairs,
        _ORACLE_SIMHASH_PAIRS,
    ),
}


def _q_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_rate_by_group(load(spark, sf_dir, "documents"))


_ORACLE_DUP_RATE = f"""
WITH h AS (
  SELECT doc_id, source, md5({_NORM_DUCK.format(t='text')}) AS hh
  FROM documents
), c AS (
  SELECT hh, count(*) AS cnt FROM h GROUP BY 1
)
SELECT h.source, count(*) AS n_docs,
       CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       round(CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000.0) / 10000.0 AS dup_ratio
FROM h JOIN c USING (hh)
GROUP BY h.source
"""

QUERIES["dedup_rate_by_source_documents"] = (_q_dup_rate, _ORACLE_DUP_RATE)


def _q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of exact-duplicate cluster sizes: (dup_count,
    n_clusters, n_docs) — the one-line answer to "how duplicated is
    this corpus" (size 1 = unique docs; the tail is the boilerplate).
    Composes the exact-dedup groups; two map-side-combinable aggs."""
    groups = exact_dedup_groups(load(spark, sf_dir, "documents"))
    return (
        groups.groupBy("dup_count")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs",
                    (F.col("dup_count") * F.col("n_clusters"))
                    .cast("bigint"))
    )


_ORACLE_CLUSTER_SIZES = f"""
WITH groups AS (
  SELECT md5({_NORM_DUCK.format(t='text')}) AS h, count(*) AS dup_count
  FROM documents GROUP BY 1
)
SELECT dup_count, count(*) AS n_clusters,
       CAST(dup_count * count(*) AS BIGINT) AS n_docs
FROM groups GROUP BY 1
"""


QUERIES["dedup_cluster_sizes_documents"] = (_q_cluster_sizes,
                                            _ORACLE_CLUSTER_SIZES)


# --------------------------------------------------------------------------
# Candidate-similarity histogram: the corpus duplication landscape
# --------------------------------------------------------------------------

HIST_BINS = 20


def candidate_jaccard_histogram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bins: int = HIST_BINS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(bin, lo, hi, n_pairs): histogram of EXACT Jaccard over the
    LSH candidate pairs (threshold 0 — every candidate, not only
    confirmed near-dups). The "duplication landscape" report that
    tells you where to SET the dedup threshold: a bimodal histogram
    separates boilerplate twins from organic overlap. Same candidate
    generation and verification as ``minhash_lsh_pairs`` — the
    bucket-capped equi-join, never the pair space; the histogram
    adds one vocabulary-bounded aggregate (``n_bins`` rows).

    Bin edges: ``floor(j * n_bins)`` clamped to the last bin for
    j == 1 — both engines compute j as the same int/int rational, so
    the same double and the same floor."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, threshold=0.0,
                              max_bucket_size=max_bucket_size)
    agg = (
        pairs.withColumn("bin", F.expr(
            f"least(CAST(floor(jaccard * {n_bins}) AS BIGINT), "
            f"{n_bins - 1})"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    return agg.select(
        "bin",
        F.expr(f"CAST(bin AS DOUBLE) / {n_bins}").alias("lo"),
        F.expr(f"CAST(bin + 1 AS DOUBLE) / {n_bins}").alias("hi"),
        "n_pairs",
    )


def _q_jaccard_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return candidate_jaccard_histogram(load(spark, sf_dir, "documents"))


_ORACLE_JACCARD_HIST = f"""
WITH {_DUCK_LSH_CAND_CTES}, sh AS (
  SELECT doc_id, unnest(list_distinct(__hashes)) AS h FROM hashed
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.h = a.h
  GROUP BY 1, 2
), jac AS (
  -- LEFT join: a candidate pair with ZERO shingle overlap (possible
  -- via minhash band collision) still histograms at j = 0, exactly
  -- as the Spark side's in-row array_intersect does.
  SELECT coalesce(i.inter, 0)
    / (sa.n + sb.n - coalesce(i.inter, 0)) AS j
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
), binned AS (
  SELECT CAST(least(floor(j * {HIST_BINS}), {HIST_BINS - 1})
    AS BIGINT) AS bin
  FROM jac
)
SELECT bin,
  CAST(bin AS DOUBLE) / {HIST_BINS} AS lo,
  CAST(bin + 1 AS DOUBLE) / {HIST_BINS} AS hi,
  CAST(count(*) AS BIGINT) AS n_pairs
FROM binned GROUP BY 1
"""


QUERIES["dedup_jaccard_hist_documents"] = (_q_jaccard_hist,
                                           _ORACLE_JACCARD_HIST)
