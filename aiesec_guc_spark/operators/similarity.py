"""Vector similarity primitives.

Two implementations of the dot product:

- ``hof_dot``: generic ``aggregate(zip_with(...))`` — works for any
  dimension, but the fold is interpreted per element (no codegen), so
  per-pair cost is high.
- ``unrolled_dot``: statically-unrolled sum for a known dimension —
  the whole expression compiles into whole-stage codegen (~10-100×
  faster in all-pairs workloads).

Both produce bit-identical doubles: the unrolled sum is left-
associative (t1 + t2 + ... + tn), the fold computes 0.0 + t1 + ...
+ tn, and ``0.0 + x == x`` for every double except the sign of -0.0.
The DuckDB oracle's ``list_sum(list_transform(...))`` folds the same
way, so all three agree.

``plane_weight`` reproduces in Python the md5-derived pseudo-random
hyperplane components the oracle computes in SQL, so LSH plane dots
can be constant-folded into codegen instead of hashing per row.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

EMBEDDING_DIM = 64  # the corpus's embedding width (FIXTURES.md §B)


def unrolled_dot(a: Column, b: Column, dim: int = EMBEDDING_DIM) -> Column:
    """Codegen-friendly dot product for a statically-known dimension."""
    terms = [
        F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
        for i in range(1, dim + 1)
    ]
    return reduce(lambda acc, t: acc + t, terms)


def hof_weighted_sum(a: Column, weights: list[float]) -> Column:
    """dot(a, literal weight vector) via zip_with+aggregate.

    Bit-identical to the statically-unrolled sum of the same terms
    (0.0 + t1 + ... + tn == t1 + ... + tn for doubles) but with a
    ~constant-size expression tree: the weight array constant-folds
    to one literal.  Prefer this for *bucket assignment* (one
    evaluation per row): the unrolled form stacks up to hundreds of
    codegen terms per plane and its whole-stage compile cost
    (seconds, and unstable under JIT pressure) dwarfs the interpreted
    HOF's per-row cost on a single scan.  Keep the unrolled form for per-PAIR dots inside join loops,
    where per-row cost dominates compile cost.
    """
    w = F.array(*[F.lit(x) for x in weights])
    return F.aggregate(
        F.zip_with(a, w, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hof_dot(a: Column, b: Column) -> Column:
    """dot(a, b) via zip_with+aggregate — two COLUMN vectors (for the
    constant-weight case use :func:`hof_weighted_sum`).

    Same fold order as ``unrolled_dot`` (0.0 + t1 + ... + tn), so
    results are bit-identical; same compile-vs-evaluate trade as
    :func:`hof_weighted_sum` — prefer it when a plan instance
    evaluates the dot only a bounded number of times per row (e.g.
    K-centroid assignment), where the unrolled form's multi-second
    whole-stage recompile dwarfs interpreted evaluation.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: Measured unrolled-vs-HOF crossover in DOT EVALUATIONS per plan
#: instance (r12/r15, dedup_embedding_cosine docstring): the unrolled
#: kernel pays a ~3-4 s whole-stage recompile on EVERY plan instance
#: (the generated source embeds instance-specific references, so the
#: codegen cache never hits across runs — measured r16:
#: cosine_topk's build is 3.6-7.7 s unrolled vs 0.5-1.4 s HOF at
#: 2,000 rows, identical output), and that constant amortizes only
#: past ~600k evaluations, where the interpreted fold's ~100× per-eval
#: cost takes over.
UNROLLED_DOT_MIN_EVALS = 600_000


def estimated_scan_rows(df, min_row_bytes: int = 256) -> int | None:
    """Conservative row-count estimate for an embedding-shaped scan,
    from Catalyst's optimized-plan size estimate
    (``plans.stats.plan_size_bytes``).

    ``min_row_bytes`` is a LOWER bound on the on-disk bytes of one row
    (a 64×float32 embedding alone is 256 B and compresses poorly), so
    the division OVER-estimates rows — which biases the kernel gate
    below toward ``unrolled``, the scale-safe side.  None when the
    estimate is absent or garbage (LogicalRDD default-size etc.);
    callers must treat None as "assume big"."""
    from ..plans.stats import plan_size_bytes

    size = plan_size_bytes(df)
    if size is None:
        return None
    return max(1, size // max(min_row_bytes, 1))


def adaptive_dot(
    a: Column, b: Column, est_evals: float | None, dim: int = EMBEDDING_DIM
) -> Column:
    """Dot product with the kernel chosen by ESTIMATED evaluation
    count per plan instance — the size-adaptive form of the
    unrolled-vs-HOF crossover documented per call site since r12
    (optimization guide §1.2/§2: derive the physical shape from input
    size, never hard-pick one deployment's winner).

    ``est_evals >= UNROLLED_DOT_MIN_EVALS`` (or unknown ``None``) →
    ``unrolled_dot``: the ~3-4 s per-instance compile amortizes and
    each evaluation runs ~100× faster in codegen — the 100 TB shape.
    Below the crossover → ``hof_dot``: the compile never pays for
    itself on a small input (the r15 IVF measurements: interpreting
    64 multiply-adds beats recompiling, 3× end-to-end).

    Both kernels fold 0.0 + t1 + ... + tn in index order, so the
    resulting doubles are BIT-IDENTICAL — the choice can never change
    a query's output, only its plan."""
    if est_evals is None or est_evals >= UNROLLED_DOT_MIN_EVALS:
        return unrolled_dot(a, b, dim)
    return hof_dot(a, b)


def cosine(a: Column, b: Column, dim: int = EMBEDDING_DIM) -> Column:
    return unrolled_dot(a, b, dim) / (
        F.sqrt(unrolled_dot(a, a, dim)) * F.sqrt(unrolled_dot(b, b, dim))
    )


def plane_weight(plane: int, dim_index: int) -> float:
    """Python twin of the oracle's md5-derived plane component:
    (('0x'||substr(md5('plane{p}_{i}'),1,8))::BIGINT % 2001 - 1000) / 1000.0
    """
    h = int(hashlib.md5(f"plane{plane}_{dim_index}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) / 1000.0


def plane_weights(plane: int, dim: int = EMBEDDING_DIM) -> list[float]:
    return [plane_weight(plane, i) for i in range(dim)]


def check_block_sizes(df, block_cols: list[str], max_block_size: int) -> None:
    """Raise ``RuntimeError`` when a block of ``df`` (rows sharing
    ``block_cols``) holds more than ``max_block_size`` rows.

    Blocked all-pairs comparison is O(n²) in the block size, so one
    hot block (a skewed label) dominates the whole job.  Callers pair
    against an exact all-pairs oracle, so an oversized block fails
    loudly instead of silently changing semantics.  Block sizes come
    from a group-by (one row per block); the check runs one job.
    """
    sizes = df.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_blk_n"))
    hot = sizes.filter(F.col("_blk_n") > max_block_size).limit(5).collect()
    if hot:
        desc = ", ".join(str(tuple(r[c] for c in block_cols)) for r in hot)
        raise RuntimeError(
            f"block(s) {desc} exceed max_block_size={max_block_size}: this "
            "caller pairs against an exact all-pairs oracle — raise the "
            "cap or re-block"
        )
