"""Similarity search over `embeddings` (EXT E6): exact brute-force
cosine top-k as the baseline, and a random-hyperplane-LSH bucketed
variant as the 100 TB path (candidates come from one bucket, never an
all-pairs scan).

Both engines compute dot products as sequential double accumulation
(Spark aggregate/zip_with ≡ DuckDB list_sum/list_transform), so
cosines are bit-identical and the oracle hash matches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.similarity import (
    EMBEDDING_DIM,
    adaptive_dot,
    estimated_scan_rows,
    hof_dot,
    hof_weighted_sum,
    plane_weights,
    unrolled_dot,
)
from . import query

TOPK = 10
LSH_PLANES = 8

_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _dot(a: Column, b: Column) -> Column:
    # Statically-unrolled for the corpus dimension — stays inside
    # whole-stage codegen (the generic HOF fold is interpreted and
    # ~100x slower in all-pairs loops; see operators/similarity.py).
    # r16: sites whose evaluation volume is corpus-LINEAR (per-row
    # norms, probe×N scoring) now route through ``adaptive_dot`` with
    # a per-site evaluation estimate instead of this unconditional
    # unrolled form — the ~3-4 s per-plan-instance recompile never
    # amortizes below ~600k evaluations (measured crossover, see
    # operators/similarity.py UNROLLED_DOT_MIN_EVALS).  Results are
    # bit-identical either way (same fold order).
    return unrolled_dot(a, b, EMBEDDING_DIM)


# ---------------------------------------------------------------------------
# E6 baseline — exact top-k cosine against a probe vector (the
# embedding with the smallest vec_id, so the query is self-contained
# and deterministic).
# ---------------------------------------------------------------------------

_COSINE_TOPK_ORACLE = f"""
WITH probe AS (
  SELECT embedding AS p FROM embeddings ORDER BY vec_id LIMIT 1
),
scored AS (
  SELECT e.vec_id, e.label,
         {_DOT_SQL.format(a='e.embedding', b='probe.p')}
           / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
              * sqrt({_DOT_SQL.format(a='probe.p', b='probe.p')})) AS cosine
  FROM embeddings e, probe
  WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
)
SELECT vec_id, label, round(cosine, 9) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {TOPK}
"""


@query("similarity_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: exact brute-force cosine top-k to a probe vector.

    The 1-row probe is broadcast; scoring is a single scan with a
    codegen'd higher-order dot product; top-k is orderBy+limit with a
    unique-key tie-break (Spark runs it as TakeOrderedAndProject — a
    per-partition heap + driver merge, no full sort shuffle)."""
    e = load_table(spark, sf_dir, "embeddings")
    # r16: evaluation volume here is corpus-LINEAR (2 dots per
    # corpus row), so the kernel is size-gated: below the ~600k
    # crossover the unrolled form's per-instance recompile
    # (measured 3.6-7.7 s vs 0.5-1.4 s HOF on this build at sf0.1)
    # never amortizes; at production scan sizes the gate picks the
    # codegen'd unrolled form.  Bit-identical doubles either way.
    rows = estimated_scan_rows(e)
    dot = lambda a, b: adaptive_dot(  # noqa: E731
        a, b, None if rows is None else 2 * rows
    )
    # The probe's norm is hoisted to the (1-row) probe side:
    # computing sqrt(dot(p,p)) per corpus row would add 64 codegen
    # terms and a third more per-row flops for a value that never
    # changes.  The multiplication order (row_norm * probe_norm)
    # matches the inlined form, so doubles stay bit-identical to
    # the oracle.
    probe = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("p_nrm"),
    )
    scored = (
        e.join(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "vec_id",
            "label",
            (
                dot(F.col("embedding"), F.col("p"))
                / (
                    F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                    * F.col("p_nrm")
                )
            ).alias("cosine"),
        )
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# E6 scale path — random-hyperplane LSH bucketing.  Plane components
# are md5-derived pseudo-randoms in [-1, 1], reproducible in any
# engine; the bucket is the 8-bit sign pattern of the plane dots.
# ---------------------------------------------------------------------------

def _plane_component_sql(p: int, i_expr: str) -> str:
    # Deterministic pseudo-random weight for (plane p, dim i).
    h = f"('0x' || substr(md5('plane{p}_' || CAST({i_expr} AS VARCHAR)), 1, 8))::BIGINT"
    return f"(({h}) % 2001 - 1000) / 1000.0"


def _plane_dot_sql(p: int, vec: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({vec})), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({_plane_component_sql(p, 'i - 1')})))"
    )


def _bucket_sql(vec: str) -> str:
    bits = " + ".join(
        f"CASE WHEN {_plane_dot_sql(p, vec)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(LSH_PLANES)
    )
    return f"({bits})"


def _ann_oracle() -> str:
    return f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
probe AS (SELECT * FROM b WHERE vec_id = (SELECT min(vec_id) FROM b)),
cand AS (
  SELECT b.* FROM b, probe
  WHERE b.bucket = probe.bucket AND b.vec_id <> probe.vec_id
),
scored AS (
  SELECT c.vec_id, c.label, c.bucket,
         {_DOT_SQL.format(a='c.embedding', b='probe.embedding')}
           / (sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})
              * sqrt({_DOT_SQL.format(a='probe.embedding', b='probe.embedding')})) AS cosine
  FROM cand c, probe
)
SELECT vec_id, label, CAST(bucket AS INT) AS bucket, round(cosine, 9) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {TOPK}
"""


def _plane_dot(p: int, vec: Column) -> Column:
    # The plane components are row-independent constants — computed
    # once in Python (same md5 formula as the oracle SQL, see
    # operators.similarity.plane_weight).  HOF dot, not unrolled:
    # bucket assignment runs once per row on a single scan, and the
    # 8-plane unrolled form (512 codegen terms) costs seconds of
    # unstable whole-stage compile for no per-row win.
    return hof_weighted_sum(vec, plane_weights(p, EMBEDDING_DIM))


def _bucket(vec: Column) -> Column:
    out = F.lit(0)
    for p in range(LSH_PLANES):
        out = out + F.when(_plane_dot(p, vec) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return out


@query("similarity_ann_lsh", oracle=_ann_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 scale path: 8-plane random-hyperplane LSH → probe-bucket
    candidates → exact cosine top-k on candidates only.

    At 100 TB the bucket column is precomputed at ingest and the
    candidate fetch is a partition-pruned read of one bucket; here the
    bucket table is materialized once (the ingest step in miniature)
    so the plane dots run once per row, and both the probe lookup and
    the candidate fetch read the materialized column."""
    from ..session import materialize

    e = load_table(spark, sf_dir, "embeddings")
    b = materialize(
        e.select(
            "vec_id", "label", "embedding", _bucket(F.col("embedding")).alias("bucket")
        )
    )
    # Candidate scoring uses the interpreted HOF dot, not the unrolled
    # form: a bucket holds ~corpus/256 rows, so per-row cost is
    # negligible while the unrolled expression's multi-second
    # whole-stage compile (no codegen-cache hit across plan instances)
    # dominated this query's cold time (measured 16.5 s cold with
    # 12.3 s spread at sf0.1).  Bit-identical fold order, so the
    # oracle hash is unchanged.
    probe = b.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p"),
        F.col("bucket").alias("probe_bucket"),
        F.sqrt(hof_dot(F.col("embedding"), F.col("embedding"))).alias("p_nrm"),
    )
    cand = (
        b.join(F.broadcast(probe), b.bucket == F.col("probe_bucket"))
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    scored = cand.select(
        "vec_id",
        "label",
        F.col("bucket").cast("int").alias("bucket"),
        (
            hof_dot(F.col("embedding"), F.col("p"))
            / (F.sqrt(hof_dot(F.col("embedding"), F.col("embedding"))) * F.col("p_nrm"))
        ).alias("cosine"),
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", "bucket", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Multi-probe ANN — same LSH index, but the probe also visits the 8
# Hamming-adjacent buckets (single-bit flips of its 8-bit sign
# pattern).  Sign-LSH loses a true neighbor exactly when one plane
# splits the pair; flipping one bucket bit recovers precisely those,
# so recall strictly dominates the single-bucket variant at the cost
# of reading 9 of 256 buckets instead of 1 — still partition-pruned at
# 100 TB, never a scan.
# ---------------------------------------------------------------------------

def _multiprobe_oracle() -> str:
    flips = ", ".join(str(f) for f in [0] + [1 << p for p in range(LSH_PLANES)])
    return f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
probe AS (SELECT * FROM b WHERE vec_id = (SELECT min(vec_id) FROM b)),
pbuckets AS (
  SELECT DISTINCT xor(probe.bucket, f.flip) AS pbucket
  FROM probe CROSS JOIN (SELECT unnest([{flips}]) AS flip) f
),
cand AS (
  SELECT b.* FROM b JOIN pbuckets ON b.bucket = pbuckets.pbucket
  WHERE b.vec_id <> (SELECT vec_id FROM probe)
),
scored AS (
  SELECT c.vec_id, c.label, c.bucket,
         {_DOT_SQL.format(a='c.embedding', b='probe.embedding')}
           / (sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})
              * sqrt({_DOT_SQL.format(a='probe.embedding', b='probe.embedding')})) AS cosine
  FROM cand c CROSS JOIN probe
)
SELECT vec_id, label, CAST(bucket AS INT) AS bucket, round(cosine, 9) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {TOPK}
"""


@query("similarity_ann_multiprobe", oracle=_multiprobe_oracle())
def similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 scale path, higher recall: multi-probe LSH.  Candidates come
    from the probe's bucket plus the 8 single-bit-flip buckets; exact
    cosine top-k on candidates only.  Candidate superset of
    similarity_ann_lsh by construction, so recall can only improve."""
    from ..session import materialize

    e = load_table(spark, sf_dir, "embeddings")
    b = materialize(
        e.select(
            "vec_id", "label", "embedding", _bucket(F.col("embedding")).alias("bucket")
        )
    )
    flips = [0] + [1 << p for p in range(LSH_PLANES)]
    # HOF dots for the same compile-vs-evaluate reason as
    # similarity_ann_lsh: 9 buckets ≈ corpus/28 candidate rows.
    probe = (
        b.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("p"),
            F.sqrt(hof_dot(F.col("embedding"), F.col("embedding"))).alias("p_nrm"),
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(f)) for f in flips])
            ).alias("pbucket"),
        )
    )
    cand = (
        b.join(F.broadcast(probe), b.bucket == F.col("pbucket"))
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    scored = cand.select(
        "vec_id",
        "label",
        F.col("bucket").cast("int").alias("bucket"),
        (
            hof_dot(F.col("embedding"), F.col("p"))
            / (F.sqrt(hof_dot(F.col("embedding"), F.col("embedding"))) * F.col("p_nrm"))
        ).alias("cosine"),
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", "bucket", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF-Flat ANN — the coarse-quantizer scale path (the production ANN
# layout: FAISS IVF, Milvus, pgvector ivfflat all share this shape).
# K centroids — md5-seeded, then refined by IVF_KMEANS_ITERS Lloyd
# rounds — partition the corpus into inverted lists; a probe searches
# only the n_probe nearest lists.  Unlike sign-LSH (fixed 2^planes
# grid), the lists follow the data distribution.
#
# Cross-engine determinism of the training: assignment argmax breaks
# cosine ties on cid; the mean update sums components as exact
# DECIMAL(28,12) (order-independent — binary-double summation would
# diverge between engines) and performs one double division, so the
# refined centroids are bit-identical in Spark and DuckDB.
# ---------------------------------------------------------------------------

IVF_K = 16  # coarse centroids (≈ sqrt(corpus) at these SFs)
IVF_NPROBE = 2  # inverted lists a probe searches
IVF_KMEANS_ITERS = 2  # Lloyd refinement rounds on the md5 seed
_MEAN_DEC = "DECIMAL(28,12)"


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)}))"
    )


def _kmeans_cents_cte() -> str:
    """CTE chain ``e → seed → cent{1..ITERS}`` producing the trained
    centroid table ``cents(cid, cvec)`` — the SQL twin of
    ``_kmeans_centroids`` below (same seed, same tie-breaks, same
    decimal-exact mean)."""
    mean_cols = ", ".join(
        f"CAST(SUM(CAST(emb[{d + 1}] AS {_MEAN_DEC})) AS DOUBLE) / COUNT(*) AS m{d}"
        for d in range(EMBEDDING_DIM)
    )
    mean_list = "list_value(" + ", ".join(f"m.m{d}" for d in range(EMBEDDING_DIM)) + ")"
    parts = [
        "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        f"""seed AS (
  SELECT vec_id AS cid, emb AS cvec FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {IVF_K}
)""",
    ]
    prev = "seed"
    for it in range(1, IVF_KMEANS_ITERS + 1):
        parts.append(
            f"""asg{it} AS (
  SELECT e.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cosine_sql('e.emb', 'c.cvec')} DESC, c.cid ASC
         ) AS rn
  FROM e CROSS JOIN {prev} c
),
mean{it} AS (
  SELECT a.cid, {mean_cols}
  FROM e JOIN asg{it} a ON e.vec_id = a.vec_id AND a.rn = 1
  GROUP BY a.cid
),
cent{it} AS (
  SELECT s.cid,
         CASE WHEN m.cid IS NULL THEN s.cvec ELSE {mean_list} END AS cvec
  FROM {prev} s LEFT JOIN mean{it} m ON s.cid = m.cid
)"""
        )
        prev = f"cent{it}"
    parts.append(f"cents AS (SELECT cid, cvec FROM {prev})")
    return ",\n".join(parts)


def _ivf_oracle() -> str:
    return f"""
WITH {_kmeans_cents_cte()},
assigned AS (
  SELECT e.vec_id, e.label, e.emb, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cosine_sql('e.emb', 'c.cvec')} DESC, c.cid ASC
         ) AS rn
  FROM e CROSS JOIN cents c
),
lists AS (SELECT vec_id, label, emb, cid FROM assigned WHERE rn = 1),
probe AS (
  SELECT vec_id AS probe_id, emb AS p FROM e
  WHERE vec_id = (SELECT min(vec_id) FROM e)
),
pcents AS (
  SELECT c.cid FROM cents c CROSS JOIN probe
  ORDER BY {_cosine_sql('c.cvec', 'probe.p')} DESC, c.cid ASC
  LIMIT {IVF_NPROBE}
),
cand AS (
  SELECT l.* FROM lists l JOIN pcents USING (cid), probe
  WHERE l.vec_id <> probe.probe_id
),
scored AS (
  SELECT c.vec_id, c.label, CAST(c.cid AS BIGINT) AS cid,
         {_cosine_sql('c.emb', 'probe.p')} AS cosine
  FROM cand c CROSS JOIN probe
)
SELECT vec_id, label, cid, round(cosine, 9) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT {TOPK}
"""


def _assign_nearest(
    e: DataFrame,
    cents: DataFrame,
    est_rows: int | None = None,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """(vec_id, cid) of each vector's nearest centroid by cosine.

    Broadcast cross join (K rows) + skinny argmax: only
    (vec_id, cid, sim) rows enter the groupBy shuffle, and max_by's
    order key (sim, -cid) reproduces the oracle's ROW_NUMBER
    ``ORDER BY sim DESC, cid ASC`` tie-break.

    r16: the corpus-side dots (per-row norm, row×centroid sim) route
    through ``adaptive_dot`` — their per-plan-instance evaluation
    volume is rows and rows×K, which crosses the unrolled kernel's
    ~600k amortization point at production scan sizes even though the
    PER-ROW count is bounded by K (the r12 note this replaces compared
    the wrong denominator: the compile amortizes over the instance's
    total evals, not per-row evals).  Locally the estimate stays far
    below the crossover, so the plan keeps the interpreted HOF fold —
    bit-identical doubles either way (same fold order).  The
    centroid-side norm stays HOF unconditionally: K rows per instance
    can never amortize a compile.  ``est_rows=None`` means "assume
    big" (scale-safe unrolled), so callers without a scan estimate get
    the 100 TB shape.

    Re-examined r15 (optimization round), kept after a paired A/B:
    collecting the K materialized centroids to driver literals and
    computing the argmax as one narrow ``greatest`` expression (no
    cross-join shuffle, no argmax re-aggregation, no join-back in the
    Lloyd update) measured SLOWER — sim_ivf_flat build 5.3 s → 8.6 s,
    pq_adc warm 3.5 s → 4.5 s at sf0.1 on a comparable box window —
    because a 16-way interpreted HOF expression tree per row costs
    more than the join machinery it replaced, and unrolling it into
    codegen would recompile per round (fresh literals each round).
    The oracle stayed green bit-for-bit either way; the join form is
    simply the faster physical shape here.

    Second r15 experiment, also reverted after interleaved A/B: a
    ``carry=`` variant that rode payload columns (emb / label+emb)
    through the argmax as a ``max_by(struct(cid, emb), key)`` value so
    the Lloyd update and the IVF list build could drop their vec_id
    join-backs.  Oracle stayed bit-identical, but it measured
    consistently SLOWER on matched canary windows (ann_recall cold
    9.75-10.06 → 10.49-10.71 s, pq_adc 4.05-4.67 → 4.84-5.02 s):
    max_by over an array-carrying struct falls off the primitive
    codegen'd hash-agg path onto object aggregation buffers, which
    costs more per row than the corpus⋈corpus SMJ it removed.  The
    skinny-argmax + join-back pair stays."""
    sim_evals = None if est_rows is None else est_rows * IVF_K
    en = e.withColumn(
        "nrm", F.sqrt(adaptive_dot(F.col("emb"), F.col("emb"), est_rows, dim))
    )
    cn = cents.withColumn("cnrm", F.sqrt(hof_dot(F.col("cvec"), F.col("cvec"))))
    sim = adaptive_dot(F.col("emb"), F.col("cvec"), sim_evals, dim) / (
        F.col("nrm") * F.col("cnrm")
    )
    return (
        en.crossJoin(F.broadcast(cn))
        .select("vec_id", "cid", sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", F.struct(F.col("sim"), (-F.col("cid")).alias("nc"))).alias(
                "cid"
            )
        )
    )


def _kmeans_centroids(
    e: DataFrame, iters: int = IVF_KMEANS_ITERS, dim: int = EMBEDDING_DIM
) -> DataFrame:
    """Train the IVF coarse quantizer: md5-deterministic seed, then
    ``iters`` Lloyd rounds (cosine assignment → per-cluster mean).

    Scale shape per round: assignment is the broadcast-K argmax above;
    the update is ONE groupBy(cid) with ``dim`` decimal-sum columns —
    map-side partial combine, K output rows.  Nothing here grows with
    corpus size except the linear scans.

    Determinism: component sums are exact DECIMAL(28,12) (binary
    double accumulation is order-dependent and would diverge between
    engines and between runs); the mean is a single double division.
    Empty clusters keep their previous centroid.

    Each round's K-row centroid table is materialized: round N's plan
    is referenced by round N+1 twice (assignment broadcast + the
    empty-cluster left join) and by the probe/final-assignment stages
    after training, so an unmaterialized lineage would re-run every
    earlier round — and its corpus scans — once per consumer."""
    from ..session import materialize

    est_rows = estimated_scan_rows(e)
    cents = materialize(
        e.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(IVF_K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cvec"))
    )
    dec = _MEAN_DEC.lower()
    for _ in range(iters):
        assign = _assign_nearest(e, cents, est_rows, dim)
        means = (
            e.join(assign, "vec_id")
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("emb", d + 1).cast(dec)).alias(f"s{d}")
                    for d in range(dim)
                ],
            )
            .select(
                "cid",
                F.array(
                    *[
                        (F.col(f"s{d}").cast("double") / F.col("n"))
                        for d in range(dim)
                    ]
                ).alias("mvec"),
            )
        )
        cents = materialize(
            cents.join(means, "cid", "left").select(
                "cid", F.coalesce(F.col("mvec"), F.col("cvec")).alias("cvec")
            )
        )
    return cents


@query("similarity_ivf_flat", oracle=_ivf_oracle())
def similarity_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 scale path #2: IVF-Flat with a TRAINED coarse quantizer.
    Centroids are md5-seeded then refined by IVF_KMEANS_ITERS Lloyd
    rounds (``_kmeans_centroids``), so the inverted lists follow the
    data distribution honestly rather than a raw sample.  Every vector
    joins its nearest centroid's inverted list; the probe searches the
    IVF_NPROBE nearest lists.

    Scale shape: centroids are broadcast (K rows); assignment is a
    map-side broadcast cross join + per-vector argmax with map-side
    partial combine, written once at ingest (mirrored here by the
    materialize).  Training costs iters extra linear scans at ingest
    time only.  A probe reads n_probe/K of the corpus — with the
    table partitioned by `cid`, a partition-pruned fetch, never a
    scan.  Recall follows the data distribution rather than sign-LSH's
    fixed hyperplane grid."""
    from ..session import materialize

    raw = load_table(spark, sf_dir, "embeddings")
    # Train and score on double components (the oracle widens the same
    # way): float→double is exact, and keeping one element type means
    # seed centroids and Lloyd means coalesce without implicit casts.
    e = raw.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    # Already materialized per-round inside _kmeans_centroids.
    cents = _kmeans_centroids(e)

    # Final assignment against the trained centroids — same broadcast
    # argmax as the training rounds (see _assign_nearest: skinny rows,
    # hoisted norms, deterministic max_by tie-break).  Corpus-side
    # dots are size-gated (adaptive_dot): locally the estimate sits
    # far below the crossover so the plan keeps the interpreted HOF
    # fold (measured 3× faster end-to-end at this SF — the unrolled
    # form recompiles per plan instance); at production scan sizes
    # the same gate picks the codegen'd kernel.  Fold order matches
    # unrolled_dot and the oracle's list_sum, so hashes still match.
    est_rows = estimated_scan_rows(e)
    assign = _assign_nearest(e, cents, est_rows)
    lists = materialize(e.join(assign, "vec_id"))

    probe = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p"),
        F.sqrt(hof_dot(F.col("emb"), F.col("emb"))).alias("p_nrm"),
    )
    pc_cos = hof_dot(F.col("cvec"), F.col("p")) / (
        F.sqrt(hof_dot(F.col("cvec"), F.col("cvec")))
        * F.sqrt(hof_dot(F.col("p"), F.col("p")))
    )
    pcents = (
        cents.crossJoin(F.broadcast(probe))
        .orderBy(F.desc(pc_cos), F.asc("cid"))
        .limit(IVF_NPROBE)
        .select("cid", "probe_id", "p", "p_nrm")
    )

    cand = lists.join(F.broadcast(pcents), "cid").filter(
        F.col("vec_id") != F.col("probe_id")
    )
    # Candidate scoring is corpus-linear (rows×NPROBE/K pairs) —
    # same size gate; est_rows over-estimates the candidate count,
    # biasing toward the scale-safe unrolled side.
    scored = cand.select(
        "vec_id",
        "label",
        F.col("cid").cast("bigint").alias("cid"),
        (
            adaptive_dot(F.col("emb"), F.col("p"), est_rows)
            / (
                F.sqrt(adaptive_dot(F.col("emb"), F.col("emb"), est_rows))
                * F.col("p_nrm")
            )
        ).alias("cosine"),
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", "cid", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# ANN recall@k — quantifies each approximate variant's quality/cost
# trade-off against the exact brute-force top-k: recall = |ANN top-k ∩
# exact top-k| / k.  LSH reads 1/256 of the corpus, multi-probe 9/256,
# IVF n_probe/K — this query is the number that says what that pruning
# costs.
# ---------------------------------------------------------------------------

_ANN_VARIANTS = ["ivf", "lsh", "multiprobe"]


def _recall_oracle() -> str:
    variants_list = ", ".join(f"'{v}'" for v in _ANN_VARIANTS)
    return f"""
WITH exact AS (
  SELECT vec_id FROM ({_COSINE_TOPK_ORACLE})
),
cand AS (
  SELECT 'lsh' AS variant, vec_id FROM ({_ann_oracle()})
  UNION ALL
  SELECT 'multiprobe' AS variant, vec_id FROM ({_multiprobe_oracle()})
  UNION ALL
  SELECT 'ivf' AS variant, vec_id FROM ({_ivf_oracle()})
),
variants AS (SELECT unnest([{variants_list}]) AS variant),
hits AS (
  SELECT c.variant, COUNT(*) AS n_hit
  FROM cand c JOIN exact e USING (vec_id)
  GROUP BY c.variant
)
SELECT v.variant,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / {TOPK} AS recall
FROM variants v LEFT JOIN hits h ON v.variant = h.variant
"""


@query("similarity_ann_recall", oracle=_recall_oracle())
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of every ANN variant vs the exact top-k.

    Reuses the registered query pipelines verbatim (so the measurement
    can never drift from what the variants actually return); the exact
    set is {TOPK} rows — broadcast — and the per-variant hit count is a
    {TOPK}-row aggregate.  The variant spine comes from a literal
    3-row DataFrame so a variant with zero hits still reports 0.0
    instead of vanishing."""
    exact = similarity_cosine_topk(spark, sf_dir).select("vec_id")
    cand = (
        similarity_ann_lsh(spark, sf_dir)
        .select(F.lit("lsh").alias("variant"), "vec_id")
        .unionAll(
            similarity_ann_multiprobe(spark, sf_dir).select(
                F.lit("multiprobe").alias("variant"), "vec_id"
            )
        )
        .unionAll(
            similarity_ivf_flat(spark, sf_dir).select(
                F.lit("ivf").alias("variant"), "vec_id"
            )
        )
    )
    hits = (
        cand.join(F.broadcast(exact), "vec_id")
        .groupBy("variant")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    variants = spark.createDataFrame([(v,) for v in _ANN_VARIANTS], "variant string")
    return variants.join(hits, "variant", "left").select(
        "variant",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("hits"),
        (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / TOPK).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Batch k-NN join: top-k neighbors for a SET of probe vectors in one
# pass — the many-query form of similarity search (retrieval eval,
# near-dup audit samples).
# ---------------------------------------------------------------------------

KNN_PROBES = 5
KNN_K = 3

_KNN_ORACLE = f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding AS p
  FROM embeddings ORDER BY vec_id LIMIT {KNN_PROBES}
),
scored AS (
  SELECT pr.probe_id, e.vec_id,
         {_DOT_SQL.format(a='e.embedding', b='pr.p')}
           / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
              * sqrt({_DOT_SQL.format(a='pr.p', b='pr.p')})) AS cosine
  FROM embeddings e JOIN probes pr ON e.vec_id <> pr.probe_id
)
SELECT probe_id, vec_id, round(cosine, 9) AS cosine, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY cosine DESC, vec_id
  ) AS rk FROM scored
) WHERE rk <= {KNN_K}
"""


@query("similarity_knn_join", oracle=_KNN_ORACLE)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-3 cosine neighbors for each of the 5
    lowest-id probe vectors.

    The probe set broadcasts (it is small by construction); scoring is
    one corpus scan producing |probes|×N rows map-side; the ranking
    window shuffles on probe_id only.  At 100 TB with a large probe
    set, the same plan holds with the probe side bucketed instead of
    broadcast."""
    e = load_table(spark, sf_dir, "embeddings")
    # r16: evaluation volume is |probes|×N pairs + N per-row norms —
    # corpus-linear at a fixed probe count — so the kernel is
    # size-gated on the same measured ~600k-eval crossover as
    # cosine_topk (see operators/similarity.py adaptive_dot).
    rows = estimated_scan_rows(e)
    dot = lambda a, b: adaptive_dot(  # noqa: E731
        a, b, None if rows is None else (KNN_PROBES + 1) * rows
    )
    probes = e.orderBy("vec_id").limit(KNN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("p_nrm"),
    )
    # The corpus row's norm is hoisted out of the per-pair expression
    # (one dot per ROW instead of one per probe×row pair — the same
    # hoist the probe side always had).  Same double: sqrt(dot(e,e))
    # is computed from the identical expression, only once.
    en = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    scored = (
        en.join(F.broadcast(probes), en.vec_id != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (
                dot(F.col("embedding"), F.col("p"))
                / (F.col("nrm") * F.col("p_nrm"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= KNN_K)
        .select("probe_id", "vec_id", F.round("cosine", 9).alias("cosine"), "rk")
    )


# ---------------------------------------------------------------------------
# Vector hygiene stats — cheap per-vector diagnostics (norms, moments).
# ---------------------------------------------------------------------------

_NORMS_ORACLE = """
SELECT vec_id, label,
       CAST(len(embedding) AS INT) AS dim,
       round(sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 9) AS l2_norm,
       round(list_sum(list_transform(generate_series(1, len(embedding)),
             i -> CAST(embedding[i] AS DOUBLE))) / len(embedding), 9) AS mean_component
FROM embeddings
"""


@query("embedding_norms", oracle=_NORMS_ORACLE)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector hygiene stats (dimension, L2 norm, component mean) —
    the cheap scan every embedding pipeline runs before indexing."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    # r16: one dot per row — size-gated kernel (see adaptive_dot).
    rows = estimated_scan_rows(e)
    return e.select(
        "vec_id",
        "label",
        F.size(emb).cast("int").alias("dim"),
        F.round(F.sqrt(adaptive_dot(emb, emb, rows)), 9).alias("l2_norm"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
            / F.size(emb),
            9,
        ).alias("mean_component"),
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization (SQ) of the embedding table — the FAISS-style
# compression step an ANN index applies before sharding, with the
# quantized codes hash-pinned and the reconstruction error bounded.
# ---------------------------------------------------------------------------

_SQ_CODES_CTES = f"""
flat AS (
    SELECT vec_id, u.d AS dim, CAST(u.v AS DOUBLE) AS val
    FROM embeddings,
         LATERAL (
            SELECT unnest(generate_series(1, {EMBEDDING_DIM})) AS d,
                   unnest(embedding) AS v
         ) u
),
stats AS (
    SELECT dim, min(val) AS mn, max(val) AS mx FROM flat GROUP BY dim
),
codes AS (
    SELECT f.vec_id, f.dim,
           CASE WHEN s.mx = s.mn THEN 0
                ELSE GREATEST(0, LEAST(255,
                     CAST(floor((f.val - s.mn) / (s.mx - s.mn) * 255) AS INT)))
           END AS q
    FROM flat f JOIN stats s ON s.dim = f.dim
)"""

_SQ_RECALL_ORACLE = f"""
WITH exact AS (
  SELECT vec_id FROM ({_COSINE_TOPK_ORACLE})
),
{_SQ_CODES_CTES},
pid AS (SELECT min(vec_id) AS pid FROM embeddings),
pcodes AS (SELECT c.dim, c.q FROM codes c, pid WHERE c.vec_id = pid.pid),
dots AS (
  SELECT c.vec_id,
         CAST(SUM((2 * c.q - 255) * (2 * p.q - 255)) AS BIGINT) AS dot
  FROM codes c JOIN pcodes p USING (dim), pid
  WHERE c.vec_id <> pid.pid
  GROUP BY c.vec_id
),
approx AS (SELECT vec_id FROM dots ORDER BY dot DESC, vec_id LIMIT {TOPK})
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM approx) AS BIGINT) AS n_approx,
       CAST((SELECT count(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS n_hit,
       CAST((SELECT count(*) FROM exact JOIN approx USING (vec_id)) AS DOUBLE)
         / {TOPK} AS recall
"""


@query("similarity_int8_topk_recall", oracle=_SQ_RECALL_ORACLE)
def similarity_int8_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does 4× compression cost retrieval?  Top-k by the
    ALL-INTEGER centered-code dot (Σ (2q_p−255)(2q_v−255) — centering
    removes the per-dim affine offset that otherwise swamps the dot
    with each vector's coordinate-sum bias; measured here: the RAW
    code dot scores recall@10 = 0.0, the centered form 0.7 — the
    SIMD-friendly scorer a quantized index actually runs) against the
    exact-cosine top-k, reported as measured recall@k — the
    quantization twin of ``similarity_ann_recall`` and
    ``dedup_minhash_estimate_error``: compression decisions made on a
    measured number, not a datasheet claim.

    Every ranking quantity is an integer (code products summed as
    BIGINT — no float accumulation order anywhere), so the harness
    itself hash-matches the oracle; ties break on vec_id.  Scale
    shape: the trainer is the same broadcast per-dim min/max as
    ``embedding_int8_quantize``; the probe's 64 codes broadcast into
    one skinny join + grouped integer sum; both top-k's are
    per-partition heaps.
    """
    dots = _int8_centered_dots(spark, sf_dir)
    approx = dots.orderBy(F.desc("dot"), F.asc("vec_id")).limit(TOPK).select("vec_id")
    exact = similarity_cosine_topk(spark, sf_dir).select("vec_id")
    n_hit = approx.join(exact, on="vec_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_approx = approx.agg(F.count(F.lit(1)).alias("n_approx"))
    return (
        n_exact.crossJoin(n_approx)
        .crossJoin(n_hit)
        .select(
            F.col("n_exact").cast("bigint"),
            F.col("n_approx").cast("bigint"),
            F.col("n_hit").cast("bigint"),
            (F.col("n_hit").cast("double") / F.lit(TOPK)).alias("recall"),
        )
    )


def _int8_centered_dots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dot): the all-integer centered-code dot of every
    non-probe vector against the min-vec_id probe — the shared scorer
    under ``similarity_int8_topk_recall`` and
    ``similarity_rrf_fusion`` (matches the oracles' codes / pcodes /
    dots CTE chain exactly)."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id", F.posexplode("embedding").alias("d0", "v")
    ).select(
        "vec_id", (F.col("d0") + 1).alias("dim"), F.col("v").cast("double").alias("val")
    )
    stats = flat.groupBy("dim").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    codes = flat.join(F.broadcast(stats), on="dim").select(
        "vec_id",
        "dim",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (F.col("val") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * 255
                    ).cast("int"),
                ),
            )
        )
        .alias("q"),
    )
    pid = e.agg(F.min("vec_id").alias("pid"))
    pcodes = codes.join(F.broadcast(pid), codes.vec_id == F.col("pid")).select(
        "dim", F.col("q").alias("pq"), "pid"
    )
    dots = (
        codes.join(F.broadcast(pcodes), on="dim")
        .filter(F.col("vec_id") != F.col("pid"))
        .groupBy("vec_id")
        .agg(
            F.sum((2 * F.col("q") - 255) * (2 * F.col("pq") - 255))
            .cast("bigint")
            .alias("dot")
        )
    )
    return dots


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion — combine two retrievers' top-k lists into
# one ranking without comparable scores.  RRF's 1/(K + rank) terms
# are scaled by W = lcm(K+1 .. K+TOPK) so every contribution is an
# exact BIGINT — float-free fusion that hash-matches cross-engine.
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al.)
# lcm(61..70): W div (60 + r) is exact for every rank r in 1..TOPK.
_RRF_W = 142813628717760

_RRF_ORACLE = f"""
WITH exact10 AS (
  SELECT vec_id, cosine FROM ({_COSINE_TOPK_ORACLE})
),
ea AS (
  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS ra
  FROM exact10
),
{_SQ_CODES_CTES},
pid AS (SELECT min(vec_id) AS pid FROM embeddings),
pcodes AS (SELECT c.dim, c.q FROM codes c, pid WHERE c.vec_id = pid.pid),
dots AS (
  SELECT c.vec_id,
         CAST(SUM((2 * c.q - 255) * (2 * p.q - 255)) AS BIGINT) AS dot
  FROM codes c JOIN pcodes p USING (dim), pid
  WHERE c.vec_id <> pid.pid
  GROUP BY c.vec_id
),
ib AS (
  SELECT vec_id, row_number() OVER (ORDER BY dot DESC, vec_id) AS rb
  FROM (SELECT vec_id, dot FROM dots ORDER BY dot DESC, vec_id LIMIT {TOPK})
),
fused AS (
  SELECT COALESCE(ea.vec_id, ib.vec_id) AS vec_id,
         COALESCE(ea.ra, 0) AS rank_exact,
         COALESCE(ib.rb, 0) AS rank_int8,
         COALESCE({_RRF_W} // ({_RRF_K} + ea.ra), 0)
           + COALESCE({_RRF_W} // ({_RRF_K} + ib.rb), 0) AS rrf
  FROM ea FULL OUTER JOIN ib ON ea.vec_id = ib.vec_id
)
SELECT vec_id, CAST(rank_exact AS INT) AS rank_exact,
       CAST(rank_int8 AS INT) AS rank_int8,
       CAST(rrf AS BIGINT) AS rrf_score
FROM fused
ORDER BY rrf DESC, vec_id
LIMIT {TOPK}
"""


@query("similarity_rrf_fusion", oracle=_RRF_ORACLE)
def similarity_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers over the same probe:
    the exact-cosine top-{TOPK} and the int8 centered-code top-{TOPK}
    (``_int8_centered_dots``), fused by Σ W/({_RRF_K}+rank) with
    W = lcm(61..70) so every term is an exact integer — the list
    merge a hybrid retrieval tier runs when scores from different
    scorers aren't comparable (Cormack et al., SIGIR'09).

    Scale shape: both inputs are top-k lists (per-partition heap +
    driver merge — TakeOrderedAndProject), so the fusion itself runs
    over ≤2·{TOPK} rows: the full-outer join and re-rank are
    driver-trivial no matter the corpus size.  Ranks are assigned on
    the ROUNDED cosine (the published column) so both engines rank
    identical values; absent-list membership contributes 0.
    """
    exact10 = similarity_cosine_topk(spark, sf_dir)
    wa = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ea = exact10.select("vec_id", "cosine").withColumn(
        "ra", F.row_number().over(wa)
    )
    dots = _int8_centered_dots(spark, sf_dir)
    ib10 = dots.orderBy(F.desc("dot"), F.asc("vec_id")).limit(TOPK)
    wb = Window.orderBy(F.desc("dot"), F.asc("vec_id"))
    ib = ib10.withColumn("rb", F.row_number().over(wb))
    fused = (
        ea.select("vec_id", "ra")
        .join(ib.select("vec_id", "rb"), on="vec_id", how="full_outer")
        .select(
            "vec_id",
            F.coalesce(F.col("ra"), F.lit(0)).cast("int").alias("rank_exact"),
            F.coalesce(F.col("rb"), F.lit(0)).cast("int").alias("rank_int8"),
            (
                F.coalesce(F.expr(f"{_RRF_W} div ({_RRF_K} + ra)"), F.lit(0))
                + F.coalesce(F.expr(f"{_RRF_W} div ({_RRF_K} + rb)"), F.lit(0))
            )
            .cast("bigint")
            .alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("vec_id")).limit(TOPK)


_SQ_ORACLE = f"""
WITH flat AS (
    SELECT vec_id, label, u.d AS dim, CAST(u.v AS DOUBLE) AS val
    FROM embeddings,
         LATERAL (
            SELECT unnest(generate_series(1, {EMBEDDING_DIM})) AS d,
                   unnest(embedding) AS v
         ) u
),
stats AS (
    SELECT dim, min(val) AS mn, max(val) AS mx FROM flat GROUP BY dim
),
codes AS (
    SELECT f.vec_id, f.label, f.dim, f.val, s.mn, s.mx,
           CASE WHEN s.mx = s.mn THEN 0
                ELSE GREATEST(0, LEAST(255,
                     CAST(floor((f.val - s.mn) / (s.mx - s.mn) * 255) AS INT)))
           END AS q
    FROM flat f JOIN stats s ON s.dim = f.dim
),
recon AS (
    SELECT vec_id, label, q,
           CASE WHEN mx = mn THEN mn
                ELSE mn + (q + 0.5) * (mx - mn) / 256 END AS dq,
           val
    FROM codes
)
SELECT vec_id, label,
       CAST(SUM(q) AS BIGINT) AS q_sum,
       max(abs(val - dq)) AS max_abs_err
FROM recon
GROUP BY vec_id, label
"""


@query("embedding_int8_quantize", oracle=_SQ_ORACLE)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization of the embedding column: per-dim
    min/max train the quantizer, each value maps to floor((v-mn)/
    (mx-mn)·255), and midpoint dequantization bounds the per-vector
    reconstruction error — the 4× compression an ANN serving tier
    applies before sharding an index.

    Determinism: the CODES are pinned exactly (q_sum is an integer
    over integer codes; the floor/clamp arithmetic is identical IEEE
    double math on both engines), and the error surface uses only
    order-independent MAX — no floating sums whose accumulation order
    could drift.  Constant dims quantize to code 0 with zero error
    (explicit mx=mn branch, no 0/0 NaN).

    Scale shape: posexplode is map-side; the trainer is a 64-key
    map-side-combined min/max aggregate whose result BROADCASTS back
    into the exploded stream; per-vector reduction shuffles
    #vectors×dims skinny rows once.  At 100 TB the trainer would run
    on a sample (same plan, sampled scan) and the codes write out as
    the index payload.
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("d0", "v"),
    ).select(
        "vec_id", "label", (F.col("d0") + 1).alias("dim"), F.col("v").cast("double").alias("val")
    )
    stats = flat.groupBy("dim").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    codes = flat.join(F.broadcast(stats), on="dim").withColumn(
        "q",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (F.col("val") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * 255
                    ).cast("int"),
                ),
            )
        ),
    )
    recon = codes.withColumn(
        "dq",
        F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
            F.col("mn") + (F.col("q") + 0.5) * (F.col("mx") - F.col("mn")) / 256
        ),
    )
    return recon.groupBy("vec_id", "label").agg(
        F.sum("q").alias("q_sum"),
        F.max(F.abs(F.col("val") - F.col("dq"))).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# Label-centroid separation — pairwise cosine between per-label
# centroid directions, with every accumulation in EXACT decimals.
# ---------------------------------------------------------------------------

_CENTROID_SEP_ORACLE = f"""
WITH flat AS (
    SELECT label, u.d AS dim,
           CAST(floor(CAST(u.v AS DOUBLE) * 100000) AS BIGINT) AS val
    FROM embeddings,
         LATERAL (
            SELECT unnest(generate_series(1, {EMBEDDING_DIM})) AS d,
                   unnest(embedding) AS v
         ) u
),
sums AS (
    SELECT label, dim, CAST(SUM(val) AS BIGINT) AS s
    FROM flat GROUP BY label, dim
),
dots AS (
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(SUM(a.s * b.s) AS BIGINT) AS dot
    FROM sums a
    JOIN sums b ON a.dim = b.dim AND a.label <= b.label
    GROUP BY 1, 2
)
SELECT p.label_a, p.label_b,
       CAST(p.dot AS DOUBLE)
         / (sqrt(CAST(na.dot AS DOUBLE)) * sqrt(CAST(nb.dot AS DOUBLE)))
           AS centroid_cos
FROM dots p
JOIN dots na ON na.label_a = p.label_a AND na.label_b = p.label_a
JOIN dots nb ON nb.label_a = p.label_b AND nb.label_b = p.label_b
WHERE p.label_a < p.label_b
"""


@query("label_centroid_separation", oracle=_CENTROID_SEP_ORACLE)
def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation diagnostic: cosine between every pair of
    label centroid DIRECTIONS (the sum vector's direction equals the
    mean's, so no division happens until display), computed with all
    accumulations in exact BIGINTs — values fixed-point quantized to
    floor(v·10⁵) (headroom: |s| ≤ n·10⁵ and the 64-dim dot stays well
    under 2⁶³ for n ≤ 10⁶ vectors/label; rescale the factor beyond),
    then per-(label, dim) sums and pairwise dots of the sum vectors —
    doubles appear only in the final sqrt/divide, which are
    IEEE-deterministic.  A float `avg(embedding[d])` would be
    order-dependent per partition, and decimal accumulators hit
    engine-specific overflow scale-capping (measured: Spark truncates
    the (37,18)×(37,18) product to scale 6, DuckDB keeps more — a
    1e-5 drift).

    Scale shape: posexplode map-side; the (label, dim) reduction is
    the only data-sized shuffle (key space = labels × dims, fully
    map-side combined); the pairwise join runs on that tiny frame
    (labels² × dims rows at worst) and norms fall out of the same
    frame as the self-pairs — no second pass over the vectors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("d0", "v")
    ).select(
        "label",
        (F.col("d0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 100000).cast("bigint").alias("val"),
    )
    sums = flat.groupBy("label", "dim").agg(F.sum("val").cast("bigint").alias("s"))
    a = sums.select(
        F.col("label").alias("label_a"), "dim", F.col("s").alias("s_a")
    )
    b = sums.select(
        F.col("label").alias("label_b"), "dim", F.col("s").alias("s_b")
    )
    dots = (
        a.join(b, (a.dim == b.dim) & (F.col("label_a") <= F.col("label_b")), "inner")
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("s_a") * F.col("s_b")).cast("bigint").alias("dot"))
    )
    from ..session import materialize

    dots = materialize(dots)
    na = dots.filter(F.col("label_a") == F.col("label_b")).select(
        F.col("label_a").alias("la"), F.col("dot").alias("dot_a")
    )
    nb = dots.filter(F.col("label_a") == F.col("label_b")).select(
        F.col("label_b").alias("lb"), F.col("dot").alias("dot_b")
    )
    return (
        dots.filter(F.col("label_a") < F.col("label_b"))
        .join(F.broadcast(na), F.col("label_a") == F.col("la"))
        .join(F.broadcast(nb), F.col("label_b") == F.col("lb"))
        .select(
            "label_a",
            "label_b",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("dot_a").cast("double"))
                    * F.sqrt(F.col("dot_b").cast("double"))
                )
            ).alias("centroid_cos"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding QA: L2-norm outliers by median/MAD — the sanity gate a
# vector pipeline runs before indexing (zeroed, truncated, or
# mis-scaled vectors show up as norm outliers long before they poison
# recall).  Global ranks come from the exact rank, with the frame's
# count returned as a driver literal.
# ---------------------------------------------------------------------------

_NORM2_SQL = _DOT_SQL.format(a="embedding", b="embedding")

_NORM_OUTLIER_ORACLE = f"""
WITH norms AS (
  SELECT vec_id, {_NORM2_SQL} AS norm2 FROM embeddings
),
r1 AS (
  SELECT vec_id, norm2,
         row_number() OVER (ORDER BY norm2, vec_id) AS rk,
         count(*) OVER () AS n
  FROM norms
),
med AS (
  SELECT (SUM(CASE WHEN rk = (n + 1) // 2 THEN norm2 END)
        + SUM(CASE WHEN rk = (n + 2) // 2 THEN norm2 END)) / 2 AS med
  FROM r1
),
devs AS (
  SELECT vec_id, norm2, abs(norm2 - m.med) AS dev
  FROM norms CROSS JOIN med m
),
r2 AS (
  SELECT vec_id, norm2, dev,
         row_number() OVER (ORDER BY dev, vec_id) AS rk,
         count(*) OVER () AS n
  FROM devs
),
mad AS (
  SELECT (SUM(CASE WHEN rk = (n + 1) // 2 THEN dev END)
        + SUM(CASE WHEN rk = (n + 2) // 2 THEN dev END)) / 2 AS mad
  FROM r2
)
SELECT d.vec_id,
       round(d.norm2, 9) AS norm2,
       d.dev > 3 * m.mad AS is_outlier
FROM devs d CROSS JOIN mad m
"""


@query("embedding_norm_outliers", oracle=_NORM_OUTLIER_ORACLE)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector squared-L2 norm with a robust (median/MAD) outlier
    flag: |norm² − median| > 3·MAD.  Robust statistics on purpose —
    the outliers being hunted would drag a mean/stddev fence toward
    themselves.

    Determinism: norm² is the index-ordered codegen dot (identical
    fold order in DuckDB's list fold); the median/MAD are rank-PAIR
    picks — selected values, never accumulated sums — so the only
    arithmetic on doubles is (a+b)/2 and one subtraction per row.
    Scale shape: BOTH global ranks (norms, deviations) run through
    exact_global_rank (operators/quantiles.py); the two 1-row med/MAD
    frames broadcast.
    """
    from ..operators.quantiles import exact_global_rank

    e = load_table(spark, sf_dir, "embeddings")
    # r16: one dot per row — size-gated kernel (see adaptive_dot).
    norms = e.select(
        "vec_id",
        adaptive_dot(
            F.col("embedding"), F.col("embedding"), estimated_scan_rows(e)
        ).alias("norm2"),
    )
    r1, n, _ = exact_global_rank(norms, ["norm2", "vec_id"])
    med = r1.agg(
        (
            (
                F.sum(F.when(F.col("_grank") == (n + 1) // 2, F.col("norm2")))
                + F.sum(F.when(F.col("_grank") == (n + 2) // 2, F.col("norm2")))
            )
            / 2
        ).alias("med")
    )
    devs = r1.drop("_grank").crossJoin(F.broadcast(med)).select(
        "vec_id", "norm2", F.abs(F.col("norm2") - F.col("med")).alias("dev")
    )
    r2, n2, _ = exact_global_rank(devs, ["dev", "vec_id"])
    mad = r2.agg(
        (
            (
                F.sum(F.when(F.col("_grank") == (n2 + 1) // 2, F.col("dev")))
                + F.sum(F.when(F.col("_grank") == (n2 + 2) // 2, F.col("dev")))
            )
            / 2
        ).alias("mad")
    )
    return (
        r2.drop("_grank")
        .crossJoin(F.broadcast(mad))
        .select(
            "vec_id",
            F.round("norm2", 9).alias("norm2"),
            (F.col("dev") > F.lit(3) * F.col("mad")).alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-vector late interaction (ColBERT-style MaxSim) — each vector
# is treated as 4 sub-vectors of 16 dims; a query scores a doc as the
# SUM over its sub-vectors of the MAX dot against any doc sub-vector.
# The retrieval pattern behind every late-interaction retriever,
# re-expressed as codegen'd expressions over the existing embeddings.
# ---------------------------------------------------------------------------

MAXSIM_SUBVECS = 4
MAXSIM_SUBDIM = 16  # EMBEDDING_DIM // MAXSIM_SUBVECS
MAXSIM_QUERY_MOD = 97  # vec_id % 97 == 0 plays the query set
MAXSIM_TOPK = 3

_SUBDOT_SQL = (
    "list_sum(list_transform(generate_series(1, {w}), "
    "k -> CAST({a}[{oa} + k] AS DOUBLE) * CAST({b}[{ob} + k] AS DOUBLE)))"
)


def _maxsim_oracle() -> str:
    maxes = []
    for i in range(MAXSIM_SUBVECS):
        dots = ", ".join(
            _SUBDOT_SQL.format(
                w=MAXSIM_SUBDIM,
                a="q.embedding",
                b="d.embedding",
                oa=i * MAXSIM_SUBDIM,
                ob=j * MAXSIM_SUBDIM,
            )
            for j in range(MAXSIM_SUBVECS)
        )
        maxes.append(f"greatest({dots})")
    score = " + ".join(f"m{i}" for i in range(MAXSIM_SUBVECS))
    m_cols = ", ".join(f"{m} AS m{i}" for i, m in enumerate(maxes))
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, d.vec_id, {m_cols}
  FROM embeddings q
  JOIN embeddings d
    ON q.vec_id % {MAXSIM_QUERY_MOD} = 0
   AND d.vec_id % {MAXSIM_QUERY_MOD} <> 0
),
summed AS (
  SELECT query_id, vec_id, {score} AS maxsim FROM scored
)
SELECT query_id, vec_id, round(maxsim, 9) AS maxsim,
       CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY maxsim DESC, vec_id
       ) AS INT) AS rk
FROM summed
QUALIFY rk <= {MAXSIM_TOPK}
"""


@query("similarity_maxsim", oracle=_maxsim_oracle())
def similarity_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim late interaction: treating each 64-dim
    embedding as 4×16-dim sub-vectors (a stand-in for per-token
    vectors), score(q, d) = Σᵢ maxⱼ dot(qᵢ, dⱼ), top-3 docs per query
    (queries = vec_id % 97 == 0).  The late-interaction shape is what
    multi-vector retrievers run after ANN candidate generation; here
    the full score matrix doubles as the exactness oracle.

    Determinism: every sub-dot is index-ordered double accumulation
    (16 codegen terms ≡ DuckDB list fold), maxⱼ is an exact pick, and
    the 4-term Σᵢ is written in fixed sub-vector order — no
    order-dependent aggregation anywhere.  Scale shape: the query side
    broadcasts (a query set is always ≪ corpus); scoring is one
    corpus scan with 16 fused sub-dots; per-query top-k is a
    partitioned rank, and at real scale the corpus side would first be
    pruned by any ANN family above (IVF/LSH) — this op verifies the
    re-rank stage those pipelines feed.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % MAXSIM_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    d = e.filter(F.col("vec_id") % MAXSIM_QUERY_MOD != 0)

    # r16: the 16 fused sub-dots are one 256-term expression per pair —
    # the same compile-vs-interpret trade as adaptive_dot, gated here
    # on pair volume in dim-64-dot equivalents (each pair scores
    # 16×16-dim sub-dots ≈ 4 full-width dots; pairs ≈ rows²/97).
    # Measured at sf0.1 (~41k true pairs): unrolled 3.4-7.1 s vs HOF
    # 2.8-3.2 s, identical rows.  Both sub-dot forms fold the same
    # index order ⇒ bit-identical doubles.
    from ..operators.similarity import UNROLLED_DOT_MIN_EVALS

    rows = estimated_scan_rows(e)
    est_evals = (
        None if rows is None else 4 * (rows * rows) // MAXSIM_QUERY_MOD
    )
    use_unrolled = est_evals is None or est_evals >= UNROLLED_DOT_MIN_EVALS

    if use_unrolled:

        def subdot(a: Column, b: Column, oa: int, ob: int) -> Column:
            from functools import reduce

            terms = [
                F.element_at(a, oa + k).cast("double")
                * F.element_at(b, ob + k).cast("double")
                for k in range(1, MAXSIM_SUBDIM + 1)
            ]
            return reduce(lambda acc, t: acc + t, terms)

        maxes = [
            F.greatest(
                *[
                    subdot(
                        F.col("qe"),
                        F.col("embedding"),
                        i * MAXSIM_SUBDIM,
                        j * MAXSIM_SUBDIM,
                    )
                    for j in range(MAXSIM_SUBVECS)
                ]
            )
            for i in range(MAXSIM_SUBVECS)
        ]
        pair_src = d.join(F.broadcast(q))
    else:
        # r16b: slice each side's sub-vectors ONCE PER ROW before the
        # pair join — the HOF form previously re-sliced both 64-wide
        # arrays inside every (i, j) sub-dot, 32 array allocations per
        # scored pair, all interpreted.  slice-then-zip_with folds the
        # same index order as zip_with-over-slices, so the doubles are
        # bit-identical; only where the slice happens moves.
        q = q.select(
            "query_id",
            *[
                F.slice("qe", i * MAXSIM_SUBDIM + 1, MAXSIM_SUBDIM).alias(
                    f"_q{i}"
                )
                for i in range(MAXSIM_SUBVECS)
            ],
        )
        d_pre = d.select(
            "vec_id",
            *[
                F.slice(
                    "embedding", j * MAXSIM_SUBDIM + 1, MAXSIM_SUBDIM
                ).alias(f"_d{j}")
                for j in range(MAXSIM_SUBVECS)
            ],
        )

        def subdot_pre(i: int, j: int) -> Column:
            return F.aggregate(
                F.zip_with(
                    F.col(f"_q{i}"),
                    F.col(f"_d{j}"),
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        maxes = [
            F.greatest(*[subdot_pre(i, j) for j in range(MAXSIM_SUBVECS)])
            for i in range(MAXSIM_SUBVECS)
        ]
        pair_src = d_pre.join(F.broadcast(q))

    score = maxes[0]
    for m in maxes[1:]:
        score = score + m
    scored = pair_src.select("query_id", "vec_id", score.alias("maxsim"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= MAXSIM_TOPK)
        .select("query_id", "vec_id", F.round("maxsim", 9).alias("maxsim"), "rk")
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson–Lindenstrauss) — 64-dim embeddings down
# to 16 dims with a FIXED ±1 sign matrix derived from md5, scaled by
# 1/√16 = 0.25 (exact in binary, so the scale never adds error).
# The dimensionality-reduction step ANN pipelines run before
# quantization/LSH at 100 TB: projection is a pure per-row map.
# ---------------------------------------------------------------------------

RP_OUT_DIM = 16


def _rp_sign(i: int, j: int) -> int:
    """±1 from md5 — identical constant matrix on both engines."""
    import hashlib

    h = hashlib.md5(f"rp:{i}:{j}".encode()).digest()[0]
    return 1 if h % 2 == 0 else -1


def _rp_sign_row(j: int) -> list[str]:
    return [
        ("1.0" if _rp_sign(i, j) > 0 else "-1.0")
        for i in range(1, EMBEDDING_DIM + 1)
    ]


def _rp_oracle() -> str:
    projs = ",\n         ".join(
        "round(0.25 * list_sum(list_transform(generate_series(1, {d}), "
        "i -> [{signs}][i] * CAST(embedding[i] AS DOUBLE))), 9) AS p{j}".format(
            d=EMBEDDING_DIM, signs=", ".join(_rp_sign_row(j)), j=j
        )
        for j in range(RP_OUT_DIM)
    )
    norm2 = " + ".join(f"(p{j} * p{j})" for j in range(RP_OUT_DIM))
    plist = ", ".join(f"p{j}" for j in range(RP_OUT_DIM))
    return f"""
WITH p AS (
  SELECT vec_id, label,
         {projs},
         list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS orig_norm2
  FROM embeddings
)
SELECT vec_id, label, {plist},
       round(({norm2}) / orig_norm2, 9) AS norm2_ratio
FROM p
WHERE orig_norm2 > 0
"""


@query("embedding_random_projection", oracle=_rp_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, p0..p15, norm2_ratio): every embedding mapped
    to 16 dimensions by a fixed ±1 (Achlioptas) sign matrix scaled by
    1/√16 — plus the per-row JL audit, the projected/original squared-
    norm ratio (concentrates near 1 when the projection is healthy;
    surfacing it makes a broken sign matrix a red gate row, not a
    silent recall drop downstream).  The 16 coordinates are emitted
    as SCALAR columns (not an array) so the cross-engine comparison
    layer never has to canonicalize an array value — the same
    convention E62 uses for its set-valued output.

    Engine-exactness: the sign matrix is md5-derived at build time and
    embedded as literal arrays in both engines; each coordinate is an
    interpreted HOF fold (zip-multiply → left fold) and the standard
    round-to-9 absorbs fold-order last-ulp noise (same convention as
    the cosine family).  The 0.25 scale is a power of two — exact.

    Scale shape: a pure per-row map — one scan, ZERO exchanges
    (plan-asserted), no Python.  The folds are deliberately the
    interpreted HOF form, not the statically-unrolled chain: 16
    coordinates × 64 terms + the norm audit inlined into ONE codegen
    method grows past janino's 64 KB limit and silently falls back to
    interpreted for the whole stage anyway (measured here) — the HOF
    form is the honest version of the same cost, and per SCALING.md's
    compile-vs-evaluate rule the fold is the right choice at ≤K dots
    per row.  The 16× narrower output feeds the ANN/quantization
    stages downstream.
    """
    e = load_table(spark, sf_dir, "embeddings")
    projs = [
        F.expr(
            "round(0.25 * aggregate(zip_with(embedding, array({signs}), "
            "(v, s) -> CAST(v AS DOUBLE) * s), 0D, (acc, x) -> acc + x), 9)".format(
                signs=", ".join(f"{x}D" for x in _rp_sign_row(j))
            )
        ).alias(f"p{j}")
        for j in range(RP_OUT_DIM)
    ]
    p = e.select(
        "vec_id",
        "label",
        *projs,
        F.expr(
            "aggregate(embedding, 0D, "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        ).alias("orig_norm2"),
    )
    norm2 = " + ".join(f"(p{j} * p{j})" for j in range(RP_OUT_DIM))
    return p.filter(F.col("orig_norm2") > 0).select(
        "vec_id",
        "label",
        *[F.col(f"p{j}") for j in range(RP_OUT_DIM)],
        F.expr(f"round(({norm2}) / orig_norm2, 9)").alias("norm2_ratio"),
    )


# ---------------------------------------------------------------------------
# Per-dimension variance screen — which embedding dimensions carry
# signal?  Collapsed/dead dimensions (variance ≈ 0) are the classic
# symptom of representation collapse and the input to dimension-drop
# compression; computed with the same fixed-point-quantized exact
# sums as the centroid-separation query so both engines agree
# bit-for-bit.
# ---------------------------------------------------------------------------

_DIM_VAR_ORACLE = f"""
WITH flat AS (
    SELECT u.d AS dim,
           CAST(floor(CAST(u.v AS DOUBLE) * 100000) AS BIGINT) AS q
    FROM embeddings,
         LATERAL (
            SELECT unnest(generate_series(1, {{dim}})) AS d,
                   unnest(embedding) AS v
         ) u
),
s AS (
    SELECT dim, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(q) AS BIGINT) AS sq,
           CAST(SUM(q * q) AS BIGINT) AS sqq
    FROM flat GROUP BY 1
)
SELECT CAST(dim AS INT) AS dim, n,
       CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100000 AS mean_val,
       CAST(n * sqq - sq * sq AS DOUBLE)
         / CAST(n * (n - 1) AS DOUBLE) / 10000000000 AS variance
FROM s
"""


@query("embedding_dim_variance", oracle=_DIM_VAR_ORACLE.format(dim=EMBEDDING_DIM))
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per embedding dimension: n, mean, sample variance — the
    representation-collapse screen (dead dims have variance ≈ 0) and
    the ranking input for variance-based dimension dropping.

    Determinism: values are fixed-point quantized (floor(v·10⁵), the
    `label_centroid_separation` convention) so Σq and Σq² are exact
    BIGINTs; n·Σq²−(Σq)² is the exact sufficient-statistics variance
    numerator, and doubles appear only in the final fixed-order
    division chain.  (Headroom: Σq² ≤ n·(3·10⁵)² stays under 2⁶³ to
    ~10¹² vectors; DECIMAL(38,0) widening beyond.)

    Scale shape: posexplode is a map-side projection; the whole
    corpus folds to {dim} rows of three integers in one map-side-
    combinable aggregate keyed on dim — perfectly uniform, no skew,
    no window, no join.
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("d0", "v")).select(
        (F.col("d0") + 1).cast("int").alias("dim"),
        F.floor(F.col("v").cast("double") * 100000).cast("bigint").alias("q"),
    )
    s = flat.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
    )
    return s.select(
        "dim",
        "n",
        (F.col("sq").cast("double") / F.col("n").cast("double") / F.lit(100000)).alias(
            "mean_val"
        ),
        # try_divide: the n−1 sample-variance denominator is 0 for a
        # single-vector corpus — NULL (DuckDB's x/0) beats an ANSI throw
        (
            F.try_divide(
                (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double"),
                (F.col("n") * (F.col("n") - 1)).cast("double"),
            )
            / F.lit(10000000000)
        ).alias("variance"),
    )


# ---------------------------------------------------------------------------
# Product quantization (shared codebook) — the FAISS-classic ANN
# compression the suite was missing: each vector is stored as M small
# codeword ids instead of M·d/M floats, and a probe scores candidates
# from the codewords alone.  Completes the coarse-quantizer (IVF) +
# scalar-quantizer (int8) + binary-sketch (SimHash/LSH) family.
# ---------------------------------------------------------------------------

PQ_M = 8                          # subspaces
PQ_SUBDIM = EMBEDDING_DIM // PQ_M  # dims per subspace
# Codebook size: _kmeans_centroids seeds with IVF_K rows, so the
# shared codebook deliberately reuses the same K=16.


def _pq_cents_cte() -> str:
    """Oracle CTE chain ``e → sub → seed → cent{1..ITERS} → cb`` —
    the SQL twin of the pooled sub-vector k-means below (same md5
    seed, same cosine tie-breaks, same decimal-exact mean), with the
    sub-vector id ``sid = vec_id·M + m`` as the seeding key."""
    m, d = PQ_M, PQ_SUBDIM
    mean_cols = ", ".join(
        f"CAST(SUM(CAST(s.semb[{k + 1}] AS {_MEAN_DEC})) AS DOUBLE)"
        f" / COUNT(*) AS m{k}"
        for k in range(d)
    )
    mean_list = "list_value(" + ", ".join(f"mm.m{k}" for k in range(d)) + ")"
    parts = [
        "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb"
        " FROM embeddings)",
        f"""sub AS (
  SELECT vec_id, t.m, vec_id * {m} + t.m AS sid,
         emb[t.m*{d}+1 : t.m*{d}+{d}] AS semb
  FROM e, unnest(generate_series(0, {m - 1})) AS t(m)
)""",
        f"""seed AS (
  SELECT sid AS cid, semb AS cvec FROM sub
  ORDER BY md5(CAST(sid AS VARCHAR)), sid LIMIT {IVF_K}
)""",
    ]
    prev = "seed"
    for it in range(1, IVF_KMEANS_ITERS + 1):
        parts.append(
            f"""asg{it} AS (
  SELECT s.sid, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY s.sid
           ORDER BY {_cosine_sql('s.semb', 'c.cvec')} DESC, c.cid ASC
         ) AS rn
  FROM sub s CROSS JOIN {prev} c
),
mean{it} AS (
  SELECT a.cid, {mean_cols}
  FROM sub s JOIN asg{it} a ON s.sid = a.sid AND a.rn = 1
  GROUP BY a.cid
),
cent{it} AS (
  SELECT s.cid,
         CASE WHEN mm.cid IS NULL THEN s.cvec ELSE {mean_list} END AS cvec
  FROM {prev} s LEFT JOIN mean{it} mm ON s.cid = mm.cid
)"""
        )
        prev = f"cent{it}"
    parts.append(f"cb AS (SELECT cid, cvec FROM {prev})")
    return ",\n".join(parts)


def _pq_oracle() -> str:
    return f"""
WITH {_pq_cents_cte()},
codes AS (
  SELECT s.vec_id, s.m, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY s.sid
           ORDER BY {_cosine_sql('s.semb', 'c.cvec')} DESC, c.cid ASC
         ) AS rn
  FROM sub s CROSS JOIN cb c
),
recon AS (
  SELECT k.vec_id, flatten(list(b.cvec ORDER BY k.m)) AS remb
  FROM codes k JOIN cb b USING (cid)
  WHERE k.rn = 1
  GROUP BY k.vec_id
),
probe AS (
  SELECT vec_id AS probe_id, emb AS p FROM e
  WHERE vec_id = (SELECT min(vec_id) FROM e)
),
scored AS (
  SELECT r.vec_id, e.label,
         {_cosine_sql('r.remb', 'probe.p')} AS c_raw
  FROM recon r JOIN e ON e.vec_id = r.vec_id CROSS JOIN probe
  WHERE r.vec_id <> probe.probe_id
)
SELECT vec_id, label, round(c_raw, 9) AS cosine_pq
FROM scored ORDER BY c_raw DESC, vec_id LIMIT {TOPK}
"""


@query("similarity_pq_adc", oracle=_pq_oracle())
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: vectors compressed to 8 codeword
    ids from a shared 16-entry codebook trained by pooled-sub-vector
    k-means (md5 seed + Lloyd rounds, the IVF trainer reused at
    dim=8); a probe's top-k is scored from the codewords alone.

    Scoring is by CODEBOOK RECONSTRUCTION — cos(probe, concat of the
    vector's codewords) — which is mathematically the ADC lookup-table
    sum (Σₘ dot(qₘ, c_codeₘ) = dot(q, concat(c))) expressed as the
    suite's standard fixed-order array fold so the hash gate stays
    exact; a production probe would precompute the M×K LUT and sum M
    lookups per candidate (engine-order float adds — fine when no
    cross-engine gate is watching).

    Scale shape: training pools ALL sub-vectors through the existing
    broadcast-K argmax + decimal-mean rounds (ingest-time cost, like
    IVF); encoding is the same broadcast argmax once per sub-vector;
    reconstruction joins codes to the BROADCAST 16-row codebook and
    re-assembles per vector with an order-pinned collect (M rows per
    vector, never corpus-wide); top-k is TakeOrderedAndProject.  The
    compressed representation is M·log2(K) = 32 bits/vector vs 2048
    for the raw floats — a 64× shrink.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = raw.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )

    # Corpus prep: trained codebook → codes → reconstructed (quantized)
    # vectors.  Deterministic (md5 seed + decimal means).
    subs = F.array(
        *[
            F.struct(
                F.lit(m).cast("int").alias("m"),
                F.expr(f"slice(emb, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})").alias(
                    "semb"
                ),
            )
            for m in range(PQ_M)
        ]
    )
    sub = e.select("vec_id", F.explode(subs).alias("s")).select(
        "vec_id",
        F.col("s.m").alias("m"),
        (F.col("vec_id") * PQ_M + F.col("s.m")).alias("sid"),
        F.col("s.semb").alias("semb"),
    )
    train = sub.select(F.col("sid").alias("vec_id"), F.col("semb").alias("emb"))
    cb = _kmeans_centroids(train, dim=PQ_SUBDIM)

    # Sub-vector rows = PQ_M × corpus rows (the estimate rides the
    # pre-explode scan, so scale it up by the static fan-out).
    sub_rows = estimated_scan_rows(e)
    codes = (
        _assign_nearest(
            train, cb, None if sub_rows is None else sub_rows * PQ_M, PQ_SUBDIM
        )
        .select(
            F.expr(f"vec_id div {PQ_M}").alias("ovec"),
            (F.col("vec_id") % PQ_M).cast("int").alias("m"),
            "cid",
        )
    )
    recon = (
        codes.join(F.broadcast(cb), "cid")
        .groupBy("ovec")
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list(struct(m, cvec))),"
                " s -> s.cvec))"
            ).alias("remb")
        )
    )
    probe = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p"),
        F.sqrt(hof_dot(F.col("emb"), F.col("emb"))).alias("p_nrm"),
    )
    # ADC scoring is corpus-linear — size-gated like every other
    # corpus-side dot (HOF locally, unrolled at production scan sizes).
    adc_rows = estimated_scan_rows(e)
    scored = (
        recon.join(e.select("vec_id", "label"), recon.ovec == F.col("vec_id"))
        .crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "vec_id",
            "label",
            (
                adaptive_dot(F.col("remb"), F.col("p"), adc_rows)
                / (
                    F.sqrt(adaptive_dot(F.col("remb"), F.col("remb"), adc_rows))
                    * F.col("p_nrm")
                )
            ).alias("cosine_pq"),
        )
    )
    return (
        scored.orderBy(F.desc("cosine_pq"), F.asc("vec_id"))
        .limit(TOPK)
        .select("vec_id", "label", F.round("cosine_pq", 9).alias("cosine_pq"))
    )


# Interpolate build-time constants into docstrings (see events.py).
similarity_rrf_fusion.__doc__ = similarity_rrf_fusion.__doc__.format(
    TOPK=TOPK, _RRF_K=_RRF_K
)
similarity_ann_recall.__doc__ = similarity_ann_recall.__doc__.format(TOPK=TOPK)
embedding_dim_variance.__doc__ = embedding_dim_variance.__doc__.format(
    dim=EMBEDDING_DIM
)
