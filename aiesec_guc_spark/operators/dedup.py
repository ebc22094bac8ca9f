"""Deduplication operators for training-data pipelines.

Four families, all pure DataFrame composition (no Python UDFs):

- **Exact**: canonical-form fingerprint → keep one row per group
  (hash group-by; at 100 TB this is one shuffle on the fingerprint).
- **MinHash + LSH**: shingle → portable 32-bit hash → k min-hash
  signatures → banded keys → bucket self-join for candidates → exact
  Jaccard verify on candidates only.  The self-join touches only
  bucket-colliding pairs, never the full cross product — this is the
  scale path for near-dup at 100 TB.
- **SimHash**: per-token hash bit votes → fingerprint; equal (or
  low-Hamming) fingerprints are near-dup buckets.
- **n-gram Jaccard (blocked)**: exact character-n-gram Jaccard within
  a blocking key — the verify-side primitive, also usable standalone
  when a cheap blocking key exists.

Determinism: all hashing goes through ``functions.text.hash32`` (md5
based) so the DuckDB oracle replicates signatures bit-for-bit; minhash
coefficients are fixed small odd integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import hash32, hash32_hi
from ..session import materialize


# MinHash configuration (shared with the oracle-SQL generator).
MINHASH_NUM_HASHES = 8
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_NUM_HASHES // MINHASH_BANDS
MINHASH_PRIME = 2147483647  # 2^31 - 1; a*h + b stays well under 2^63
SHINGLE_WORDS = 3


def minhash_coeffs() -> list[tuple[int, int]]:
    """(a_j, b_j) for sig_j = min((a_j * h32 + b_j) mod P)."""
    return [(2 * j + 3, 12345 * j + 6789) for j in range(MINHASH_NUM_HASHES)]


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, key: Column, order_col: str) -> DataFrame:
    """One row per key, deterministically the lowest ``order_col``.

    row_number over (key) — identical semantics to SQL QUALIFY.  At
    scale this is a single hash shuffle on the (usually md5) key.
    """
    w = Window.partitionBy(key).orderBy(F.col(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = SHINGLE_WORDS) -> Column:
    """Word n-gram shingles from an already-tokenized array column.

    Callers must project the tokenization into a real column first
    (``F.split(...).alias("toks")``): inlining the split expression
    here would re-run the regex split for every ``element_at`` of
    every array element — Catalyst does no common-subexpression
    elimination inside lambda bodies (measured 17 s vs ~2 s for the
    sf0.1 shingle explode).

    Arrays shorter than ``n`` yield an EMPTY shingle list — matching
    DuckDB's ascending-only ``generate_series`` in every oracle.
    Without the guard Spark's ``sequence(1, size-n+1)`` runs BACKWARDS
    on short inputs and ``element_at`` throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT: a crash (and a cross-engine
    divergence) on any real corpus containing sub-``n``-token docs,
    which the synthetic testdata never exposes.  CaseWhen evaluates
    only the matching branch, so guarded rows never touch the
    transform.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, shingles).otherwise(
        F.array().cast("array<string>")
    )


def char_ngrams_expr(text_col: str, n: int = 4) -> Column:
    """Character n-gram shingles; texts shorter than ``n`` yield an
    empty list (matching DuckDB's ascending-only ``generate_series`` —
    unguarded, Spark's ``sequence`` DESCENDS through 0 and negative
    indices and ``substring`` silently returns wrong grams, e.g.
    suffix grams from negative starts, instead of crashing).

    Expression form: ``substring`` takes a dynamic start index, which
    is only expressible through the SQL transform lambda.
    """
    return F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN"
        f" transform(sequence(1, length({text_col}) - {n - 1}),"
        f" i -> substring({text_col}, i, {n}))"
        f" ELSE array() END"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingle_rows(
    docs: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_WORDS
) -> DataFrame:
    """(id, shingle) rows: tokenize once into a projected column, then
    explode the n-gram shingles built from it (see
    ``shingles_from_tokens`` for why the two-step projection matters)."""
    toked = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    )
    return toked.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )


def minhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc minhash signature columns sig_0..sig_{k-1}.

    explode(shingles) → hash32 → k parallel min-aggregations.  The
    explode happens map-side; the only shuffle is the group-by on the
    doc id with partial min combine — shuffle rows = #docs, not
    #shingles.
    """
    sh = shingle_rows(docs, id_col, text_col)
    h = sh.withColumn("h32", hash32(F.col("shingle")))
    aggs = [
        F.min((F.lit(a) * F.col("h32") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"sig_{j}"
        )
        for j, (a, b) in enumerate(minhash_coeffs())
    ]
    return h.groupBy(id_col).agg(*aggs)


def lsh_band_keys(
    sigs: DataFrame,
    id_col: str,
    n_bands: int = MINHASH_BANDS,
    n_rows: int = MINHASH_ROWS,
) -> DataFrame:
    """Explode signatures into (doc, band, band_key) rows.

    ``(n_bands, n_rows)`` defaults to the production banding; the
    band-sweep audit passes each candidate config so the banding
    definition stays single-sourced."""
    bands = []
    for band in range(n_bands):
        cols = [
            F.col(f"sig_{band * n_rows + r}").cast("string")
            for r in range(n_rows)
        ]
        bands.append(
            F.struct(F.lit(band).alias("band"), F.concat_ws("_", *cols).alias("band_key"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def lsh_candidate_pairs(band_rows: DataFrame, id_col: str) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any band bucket.

    Equi-join on (band, band_key): Spark hash-partitions both sides on
    the bucket key, so only colliding docs meet — the cross product is
    never materialized.  The band rows feed both join sides, so they
    are eagerly materialized first: a lazy persist here triggers the
    cache race described in ``materialize``.
    """
    band_rows = materialize(band_rows)
    a = band_rows.select(
        F.col(id_col).alias("doc_a"), "band", "band_key"
    )
    b = band_rows.select(
        F.col(id_col).alias("doc_b"), "band", "band_key"
    )
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def shingle_sets(shingles: DataFrame, id_col: str) -> DataFrame:
    """(id, _sh_set): per-doc array of DISTINCT shingles, built in ONE
    map-side-combinable pass (``collect_set`` dedups while it
    aggregates, so no separate corpus-wide ``.distinct()`` shuffle).
    Array ORDER is engine-chosen and nondeterministic — every consumer
    reads only set sizes (``size`` / ``size(array_intersect(...))``),
    which are order-invariant, so no output value depends on it.

    MEMORY ASSUMPTION (r16, per ADVICE): one row now holds a whole
    document's distinct shingle set, and ``jaccard_verify`` carries
    TWO such arrays per candidate row — so per-task memory is bounded
    by (largest doc's shingle count) × (its candidate fan-out), where
    the old exploded join streamed those same rows without per-doc
    concentration.  Fine for document-shaped corpora (a doc's distinct
    shingles ≤ its token count; this repo's corpora top out at
    thousands per doc).  If a pathological input appears (single docs
    with 10⁸+ distinct shingles), cap via a pre-filter on
    ``size(_sh_set)`` and route oversized docs through the exploded
    verify instead — do not silently drop them."""
    return (
        shingles.select(F.col(id_col), "shingle")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_sh_set"))
    )


def jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str,
    *,
    pre_grouped: bool = False,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs.

    r15 shape (guide §2.3/§2.4): each doc's distinct shingles collapse
    to ONE array row (``shingle_sets``); a candidate pair is verified
    by two doc-keyed joins and a per-row ``size(array_intersect)`` —
    |A ∪ B| = |A| + |B| − |A ∩ B|.  The pre-r15 shape exploded every
    candidate against the (id, shingle) rows (a join carrying
    Σ|A| rows), re-aggregated per pair, and joined sizes back: four
    more exchanges over strictly more rows for the same exact counts.
    Cost still scales with candidate count, not corpus size; a doc's
    array is bounded by the doc's own shingle count (the same rows the
    exploded join carried per candidate).

    ``pre_grouped=True`` declares ``shingles`` is ALREADY a
    materialized ``shingle_sets`` frame — callers that verify several
    candidate sets against one corpus (the band sweep) build it once
    instead of paying the grouped collect per call.
    """
    # Both reused subtrees are eagerly materialized: `pairs` feeds no
    # self-join here but callers hand us lazily-derived candidate
    # frames whose upstream (band join) must compute exactly once, and
    # the set frame feeds BOTH doc-keyed join sides — each would
    # otherwise recompute per consumer (and a *lazy* persist hits the
    # cache race described in `materialize`).
    pairs = materialize(pairs)
    sets_ = shingles if pre_grouped else materialize(shingle_sets(shingles, id_col))
    sa = sets_.select(
        F.col(id_col).alias("doc_a"), F.col("_sh_set").alias("_set_a")
    )
    sb = sets_.select(
        F.col(id_col).alias("doc_b"), F.col("_sh_set").alias("_set_b")
    )
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn(
            "icnt", F.size(F.array_intersect("_set_a", "_set_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("icnt").cast("double")
                / (
                    F.size("_set_a")
                    + F.size("_set_b")
                    - F.col("icnt")
                )
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 64-bit fingerprint split into 4×16-bit bands for the pair join.
# Bucket-cardinality math (SCALING.md): a B-bit band key gives 2^B
# buckets; with N docs the expected bucket size is N/2^B and the
# per-bucket self-join does (N/2^B)² comparisons × 2^B buckets =
# N²/2^B total.  At N=10¹⁰ (100 TB of ~10 KB docs) a 16-bit band
# gives ~150 k docs/bucket — large but linear-shuffle feasible; the
# old single 16-bit fingerprint used as the ONLY key made the whole
# fingerprint space the bucket space, which is why it was widened.
# By pigeonhole, 4 bands of 16 bits catch every pair with Hamming
# distance ≤ 3 (3 flipped bits can touch at most 3 of the 4 bands).
SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
SIMHASH_HAMMING_MAX = 3


def simhash(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint per doc.

    Token bit votes (+1/-1 per token per bit) summed in one grouped
    aggregation; fingerprint bit b set iff the vote sum is positive.
    Bits 0-31 come from md5 hex digits 1-8, bits 32-63 from digits
    9-16 — two independent 32-bit hashes, so no intermediate ever
    overflows a signed BIGINT; bit 63's weight is -2^63 (two's
    complement), added last so the running sum stays in range.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h_lo", hash32(F.col("tok"))).withColumn(
        "h_hi", hash32_hi(F.col("tok"))
    )
    votes = []
    for b in range(SIMHASH_BITS):
        src, shift = ("h_lo", b) if b < 32 else ("h_hi", b - 32)
        votes.append(
            F.sum(
                (F.shiftright(F.col(src), shift).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"v_{b}")
        )
    agg = toks.groupBy(id_col).agg(*votes)
    fp = None
    for b in range(SIMHASH_BITS):
        weight = (1 << b) if b < 63 else -(1 << 63)
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(weight)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def simhash_pairs(fingerprints: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidate pairs: LSH banding over the 64-bit SimHash.

    Docs meet iff they share at least one 16-bit band (equi-join on
    (band, band_key) — never a cross product), then the exact Hamming
    distance over the full fingerprint filters to
    ``SIMHASH_HAMMING_MAX``.  Complete for that radius by pigeonhole.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, one row per
    pair (distinct across bands).
    """
    bands = (
        fingerprints.select(F.col(id_col), F.col("simhash"))
        .selectExpr(
            id_col,
            "simhash",
            f"explode(array({','.join(str(b) for b in range(SIMHASH_BANDS))}))"
            " AS band",
        )
        .withColumn(
            "band_key",
            F.expr(
                f"shiftright(simhash, band * {SIMHASH_BAND_BITS})"
                f" & {(1 << SIMHASH_BAND_BITS) - 1}"
            ),
        )
    )
    a = bands.select(
        F.col("band"),
        F.col("band_key"),
        F.col(id_col).alias("doc_a"),
        F.col("simhash").alias("fp_a"),
    )
    b = bands.select(
        F.col("band"),
        F.col("band_key"),
        F.col(id_col).alias("doc_b"),
        F.col("simhash").alias("fp_b"),
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
    # Hamming filter BEFORE the cross-band distinct: band collisions
    # with distance > max dominate candidate volume at scale (the
    # bucket-cardinality math above), and hamming is a pure function
    # of the pair, so filtering first shrinks the dedup shuffle to
    # true near-dup pairs without changing the result.
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
