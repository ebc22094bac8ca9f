"""Dedup queries over `documents` / `embeddings` (EXT: exact dedup,
MinHash+LSH near-dup, SimHash, blocked n-gram Jaccard, embedding
cosine near-dup).

The DuckDB oracles are generated from the SAME constants
(`operators.dedup.minhash_coeffs` etc.), so Spark and the oracle
compute identical signatures — any drift in the pipeline shows up as
a hash mismatch, not a silent semantic change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out_scan, load_table
from ..functions.text import (
    H32HI_SQL,
    H32_SQL,
    fingerprint_md5,
    hash32,
    hash32_hi,
)
from ..operators.dedup import (
    MINHASH_BANDS,
    MINHASH_PRIME,
    MINHASH_ROWS,
    SHINGLE_WORDS,
    SIMHASH_BAND_BITS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_HAMMING_MAX,
    dedup_exact,
    jaccard_verify,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_coeffs,
    MINHASH_NUM_HASHES,
    minhash_signatures,
    shingle_rows,
    simhash,
    simhash_pairs,
)
from ..session import materialize
from . import query

# single-sourced portable-hash SQL idioms (functions/text.py)
_H32 = H32_SQL
_H32HI = H32HI_SQL


# ---------------------------------------------------------------------------
# E1 — exact dedup by canonical fingerprint.
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint, lang, n_chars
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY md5(lower(trim(text))) ORDER BY doc_id
) = 1
"""


@query("dedup_exact_docs", oracle=_EXACT_ORACLE)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: exact dedup — one row per canonical-form fingerprint,
    deterministically the lowest doc_id.  One hash shuffle on the
    fingerprint regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("fingerprint", fingerprint_md5("text"))
    return dedup_exact(d, F.col("fingerprint"), "doc_id").select(
        "doc_id", "fingerprint", "lang", "n_chars"
    )


_EXACT_BEST_ORACLE = """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint, lang,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY md5(lower(trim(text)))
  ORDER BY n_chars DESC, doc_id
) = 1
"""


@query("dedup_exact_keep_best", oracle=_EXACT_BEST_ORACLE)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the BEST copy per fingerprint, not the
    first: rank within the dup group by a quality signal (here
    n_chars desc — near-identical canonical forms differ in retained
    whitespace/markup, and the longest copy preserves the most
    content), doc_id as the deterministic tie-break.  Real curation
    pipelines dedup this way — "first seen" quietly biases the kept
    corpus toward whichever crawl ran earliest, while a quality rank
    keeps the copy you actually want to train on.

    Same scale shape as ``dedup_exact_docs``: ONE hash shuffle on the
    fingerprint; only the in-group ORDER BY differs, which costs
    nothing extra (the window sort runs over each dup group, which is
    tiny by definition).
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "fingerprint", fingerprint_md5("text")
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "fingerprint", "lang", F.col("n_chars").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates with exact-Jaccard verification.
# ---------------------------------------------------------------------------

def _minhash_oracle(source: str = "documents") -> str:
    n = SHINGLE_WORDS
    shingle_expr = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    sig_exprs = ",\n         ".join(
        f"min(({a} * h32 + {b}) % {MINHASH_PRIME}) AS sig_{j}"
        for j, (a, b) in enumerate(minhash_coeffs())
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {band} AS band, {key} AS band_key FROM sig".format(
            band=band,
            key=" || '_' || ".join(
                f"CAST(sig_{band * MINHASH_ROWS + r} AS VARCHAR)"
                for r in range(MINHASH_ROWS)
            ),
        )
        for band in range(MINHASH_BANDS)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM {source}
  WHERE len(string_split_regex(trim(text), '\\s+')) >= {n}
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - {n - 1}),
                               i -> {shingle_expr})) AS shingle
  FROM docs
),
h AS (
  SELECT doc_id, shingle, {_H32.format(x='shingle')} AS h32 FROM sh
),
sig AS (
  SELECT doc_id,
         {sig_exprs}
  FROM h GROUP BY doc_id
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS icnt
  FROM cand c
  JOIN shd x ON x.doc_id = c.doc_a
  JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(COALESCE(i.icnt, 0) AS DOUBLE)
         / (sa.sz + sb.sz - COALESCE(i.icnt, 0)) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
"""


def _eligible_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) rows satisfying the shingle precondition — the
    input every production-banding MinHash query starts from."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= SHINGLE_WORDS
    ).select("doc_id", "text")


def _shared_sigs(
    spark: SparkSession, sf_dir: str, checkpoint: bool = False
) -> DataFrame:
    """The production-banding signature table over the eligible docs —
    the shingle explode + k-min fold behind minhash_lsh, both CC
    variants, estimate_error, containment, the incremental index,
    hard-negative mining and the leakage-safe split.  ``checkpoint``
    materializes it for callers that feed it to several consumers."""
    sigs = minhash_signatures(_eligible_docs(spark, sf_dir), "doc_id", "text")
    return materialize(sigs) if checkpoint else sigs


def _shared_char_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc, lang, source, char-4-gram) rows — the verify-side
    primitive both n-gram Jaccard variants start from, materialized
    because each feeds it to 3-4 consumers."""
    from ..operators.dedup import char_ngrams_expr

    # fan_out_scan: the single-row-group documents scan serializes
    # the gram explode+distinct (measured in-suite: 5.5 s → 3.3 s
    # warm at sf0.1); no-op on a properly split table.
    d = fan_out_scan(spark, load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= 4
    )
    return materialize(
        d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(char_ngrams_expr("text")).alias("gram"),
        ).distinct()
    )


def _shared_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DISTINCT shingle-set arrays over the eligible docs — the
    verify-side primitive of the whole MinHash family, materialized
    because the band sweep, containment and ``jaccard_verify``
    consumers each reuse it.  Row-identical to building over the FULL
    documents table: a doc below SHINGLE_WORDS tokens yields zero
    shingles, hence appears in neither frame."""
    from ..operators.dedup import shingle_sets

    return materialize(
        shingle_sets(
            shingle_rows(_eligible_docs(spark, sf_dir), "doc_id", "text"),
            "doc_id",
        )
    )


def _minhash_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared five-stage MinHash pipeline: eligible docs →
    signatures → banded keys → bucket-join candidates → exact-Jaccard
    scores.  ``dedup_minhash_lsh``, both CC variants,
    ``sample_hard_negatives`` and ``corpus_split_leakage_safe`` build
    on this — one definition so the queries (and the shared oracle
    constants) cannot diverge."""
    sigs = _shared_sigs(spark, sf_dir)
    pairs = lsh_candidate_pairs(lsh_band_keys(sigs, "doc_id"), "doc_id")
    # Verify against the per-doc set frame (identical to the rows-form
    # build jaccard_verify does internally).
    return jaccard_verify(
        pairs, _shared_shingle_sets(spark, sf_dir), "doc_id",
        pre_grouped=True,
    )


def _shared_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large/small-star CC labels over the production-threshold
    near-dup graph — shared by ``dedup_cc_star`` and
    ``corpus_split_leakage_safe`` (identical edge set)."""
    from ..operators.graph import connected_components_star

    return connected_components_star(
        _minhash_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= CC_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → 8 minhashes → 4 banded buckets
    → bucket-join candidates → exact Jaccard on candidates only.

    The scale path: no all-pairs comparison anywhere; cost is
    O(#bucket collisions), tunable via bands×rows."""
    return _minhash_jaccard_pairs(spark, sf_dir)


def _minhash_estimate_oracle() -> str:
    k = MINHASH_BANDS * MINHASH_ROWS
    match_expr = " + ".join(
        f"CASE WHEN sa.sig_{j} = sb.sig_{j} THEN 1 ELSE 0 END"
        for j in range(k)
    )
    return f"""
WITH base AS ({_minhash_oracle()}),
docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= {SHINGLE_WORDS}
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - {SHINGLE_WORDS - 1}),
                               i -> {" || ' ' || ".join(f"toks[i+{j}]" for j in range(SHINGLE_WORDS))})) AS shingle
  FROM docs
),
h AS (SELECT doc_id, shingle, {_H32.format(x='shingle')} AS h32 FROM sh),
sig AS (
  SELECT doc_id,
         {", ".join(f"min(({a} * h32 + {b}) % {MINHASH_PRIME}) AS sig_{j}" for j, (a, b) in enumerate(minhash_coeffs()))}
  FROM h GROUP BY doc_id
)
SELECT b.doc_a, b.doc_b,
       CAST(({match_expr}) AS BIGINT) AS match_cnt,
       CAST(({match_expr}) AS DOUBLE) / {k} AS est_jaccard,
       b.jaccard AS jaccard,
       abs(CAST(({match_expr}) AS DOUBLE) / {k} - b.jaccard) AS abs_err
FROM base b
JOIN sig sa ON sa.doc_id = b.doc_a
JOIN sig sb ON sb.doc_id = b.doc_b
"""


@query("dedup_minhash_estimate_error", oracle=_minhash_estimate_oracle())
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess — the MinHash twin of
    ``similarity_ann_recall``: for every LSH candidate pair, the
    signature-estimated Jaccard (matching components / k) next to the
    EXACT shingle-set Jaccard, with the absolute estimation error.
    This is the harness that tells you whether k=8 components and a
    4×2 banding are enough for YOUR corpus before you commit a 100 TB
    dedup run to them — the answer is a measured error distribution,
    not a Chernoff bound on a whiteboard.

    Shapes: signatures come from the shared pipeline (one grouped min
    per doc — shuffle rows = #docs); the estimate join touches only
    candidate pairs against the doc-keyed signature frame; the exact
    side is the candidate-bound ``jaccard_verify``.  All derived
    doubles are exact-integer ratios, so the result hash-matches the
    DuckDB twin bit-for-bit.
    """
    k = MINHASH_BANDS * MINHASH_ROWS
    # signatures feed band keys AND both estimate-join sides —
    # materialized (cache-race protection)
    sigs = _shared_sigs(spark, sf_dir, checkpoint=True)
    pairs = lsh_candidate_pairs(lsh_band_keys(sigs, "doc_id"), "doc_id")
    # the per-doc set frame replaces the rows-form internal build
    exact = jaccard_verify(
        pairs, _shared_shingle_sets(spark, sf_dir), "doc_id", pre_grouped=True
    )

    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{j}").alias(f"a_{j}") for j in range(k)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{j}").alias(f"b_{j}") for j in range(k)],
    )
    match_cnt = sum(
        F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        for j in range(k)
    )
    est = F.col("match_cnt").cast("double") / F.lit(k)
    return (
        exact.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn("match_cnt", match_cnt.cast("long"))
        .select(
            "doc_a",
            "doc_b",
            "match_cnt",
            est.alias("est_jaccard"),
            "jaccard",
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: verified LSH pairs → connected components →
# one canonical doc per dup group (the step that actually *removes*
# duplicates at corpus scale).
# ---------------------------------------------------------------------------

CC_JACCARD_THRESHOLD = 0.5


def _cc_oracle() -> str:
    return f"""
WITH RECURSIVE verified AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()})
  WHERE jaccard >= {CC_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM verified
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
)
SELECT id AS doc_id,
       min(r) AS cluster_id,
       (min(r) = id) AS is_canonical
FROM reach GROUP BY id
"""


@query("dedup_connected_components", oracle=_cc_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups: MinHash-LSH candidates → exact-Jaccard verify
    (≥ CC_JACCARD_THRESHOLD) → connected components (iterative
    min-label propagation) → cluster id + canonical flag per doc.

    The oracle computes the same components with a recursive CTE
    (min reachable id ≡ min label at fixpoint).  At 100 TB each
    propagation round is one hash-partitioned join + grouped min on
    the node id; rounds = component diameter (short for dup chains).
    """
    from ..operators.graph import connected_components

    cc = connected_components(
        _minhash_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= CC_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    return cc.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_canonical"),
    )


@query("dedup_cc_star", oracle=_cc_oracle())
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dup groups via alternating large-star/small-star
    (O(log n) rounds on any diameter — the adversarial-graph upgrade
    of dedup_connected_components, verified against the identical
    recursive-CTE oracle)."""
    cc = _shared_cc_star(spark, sf_dir)
    return cc.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints.
# ---------------------------------------------------------------------------

def _simhash_oracle() -> str:
    votes = []
    for b in range(SIMHASH_BITS):
        src, shift = ("h_lo", b) if b < 32 else ("h_hi", b - 32)
        votes.append(f"SUM((({src} >> {shift}) & 1) * 2 - 1) AS v_{b}")
    weights = [(1 << b) if b < 63 else -(1 << 63) for b in range(SIMHASH_BITS)]
    fp = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN {weights[b]} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    votes_sql = ",\n         ".join(votes)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
h AS (SELECT doc_id, {_H32.format(x='tok')} AS h_lo,
             {_H32HI.format(x='tok')} AS h_hi FROM toks),
v AS (
  SELECT doc_id,
         {votes_sql}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM v
"""


def _shared_simhash(
    spark: SparkSession, sf_dir: str, checkpoint: bool = False
) -> DataFrame:
    """The 64-bit fingerprint table — corpus prep a deployment
    computes once per corpus (the explode + 64-vote aggregation), then
    consults from every near-dup surface.  Two registry consumers:
    ``dedup_simhash`` returns it, ``dedup_simhash_pairs`` bands it and
    asks for ``checkpoint`` because both band-join sides read it."""
    d = load_table(spark, sf_dir, "documents")
    fp = simhash(d.select("doc_id", "text"), "doc_id", "text")
    return materialize(fp) if checkpoint else fp


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document — low-Hamming fingerprints are
    near-dups; the fingerprint is a single grouped aggregation over
    token bit votes (no Python, no extra shuffle)."""
    return _shared_simhash(spark, sf_dir)


def _simhash_pairs_oracle() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
WITH fp AS ({_simhash_oracle()}),
bands AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * {SIMHASH_BAND_BITS})) & {mask} AS band_key
  FROM fp CROSS JOIN (
    SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band
  )
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fp_a, b.simhash AS fp_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {SIMHASH_HAMMING_MAX}
"""


@query("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via LSH banding: docs meet iff they
    share one of 4 16-bit bands of the 64-bit fingerprint (equi-join
    on (band, band_key) — no cross product), then the exact 64-bit
    Hamming distance keeps pairs within radius 3, which banding covers
    completely by pigeonhole.  See operators/dedup.py for the
    bucket-cardinality math at 100 TB."""
    fp = _shared_simhash(spark, sf_dir, checkpoint=True)
    return simhash_pairs(fp, "doc_id")


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard: exact char-4-gram Jaccard within a blocking
# key (lang, source) — the no-LSH variant for when a cheap blocking
# key exists.
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = """
WITH g AS (
  SELECT doc_id, lang, source,
         unnest(list_transform(generate_series(1, length(text) - 3),
                               i -> substr(text, i, 4))) AS gram
  FROM documents WHERE length(text) >= 4
),
gd AS (SELECT DISTINCT doc_id, lang, source, gram FROM g),
sizes AS (SELECT doc_id, count(*) AS sz FROM gd GROUP BY doc_id),
pairs AS (
  SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
  FROM gd a JOIN gd b
    ON a.lang = b.lang AND a.source = b.source AND a.gram = b.gram
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT p.lang, p.source, p.doc_a, p.doc_b,
       CAST(p.icnt AS DOUBLE) / (sa.sz + sb.sz - p.icnt) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE CAST(p.icnt AS DOUBLE) / (sa.sz + sb.sz - p.icnt) >= 0.2
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard: char-4-gram sets compared only
    within (lang, source) blocks; pairs over the 0.2 threshold.

    The gram equi-join is restricted by the blocking key, so the
    shuffle is per-block — never an all-pairs cross product.

    Measured crossover (round 6, sf0.1): a PPJoin-style
    prefix-filtered variant (Bayardo WWW'07 / Xiao WWW'08 — grams
    canonically ordered by ascending doc frequency, each doc joining
    on its first ``sz − ceil(t·sz) + 1`` grams, plus the
    ``t·max(sz) ≤ min(sz)`` length filter) passed the exact oracle
    but ran 3× SLOWER here (18.4 s vs 6.4 s warm): this corpus's
    grams come from a tiny uniform vocabulary, so the frequency
    prefix excludes almost nothing while adding a per-doc ranking
    window and a candidate re-verification join.  On a Zipfian
    real-world corpus — where a handful of stop-grams cause an f²
    blowup the prefix provably skips — the prefix variant is the
    100 TB shape; switch when gram frequencies are skewed.  The
    crossover is MEASURED in-suite (tests/test_skew_crossover.py):
    on a manufactured Zipfian corpus (17 stop-grams × 1600 docs) this
    blocked form runs ~3× slower than the prefix variant with
    identical output.
    """
    # gd feeds four consumers (both join sides + two size lookups) —
    # eagerly materialized (inside _shared_char_grams) so the
    # explode+distinct runs once, not four times (a lazy persist hits
    # the cache race; see session.materialize).
    gd = _shared_char_grams(spark, sf_dir)
    sizes = gd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = gd.select(
        "lang", "source", F.col("doc_id").alias("doc_a"), "gram"
    )
    b = gd.select(
        "lang", "source", F.col("doc_id").alias("doc_b"), "gram"
    )
    pairs = (
        a.join(b, on=["lang", "source", "gram"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("lang", "source", "doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("icnt"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn(
            "jaccard",
            F.col("icnt").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("icnt")),
        )
    )
    return jac.filter(F.col("jaccard") >= 0.2).select(
        "lang", "source", "doc_a", "doc_b", "jaccard"
    )


@query("dedup_ngram_jaccard_prefix", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact n-gram Jaccard — the 100 TB
    shape of ``dedup_ngram_jaccard`` (same oracle, identical result
    set: prefix filtering is exact, never approximate).

    Why it exists as its own registered query: the blocked variant
    self-joins the full gram stream, which is O(f²) per gram — fatal
    on a Zipfian corpus where a handful of stop-grams dominate.  The
    prefix filter (Bayardo WWW'07; Xiao et al. WWW'08) bounds the
    candidate join to each doc's ``sz − ceil(t·sz) + 1`` RAREST grams
    (canonical order: ascending block doc-frequency, gram as
    tie-break): two docs with Jaccard ≥ t MUST share a gram inside
    both prefixes, so joining prefixes only is lossless, and the hot
    stop-grams land at the END of the canonical order — outside every
    prefix — so they never join.  A length filter (``t·max(sz) ≤
    min(sz)``) prunes candidates before verification; verification
    re-joins only candidate pairs against the full gram sets.

    Stage shapes: gram doc-frequency is one map-side-combined agg;
    the per-doc canonical ranking windows over doc_id (small
    partitions — a doc's own grams); the candidate join carries
    prefixes only; verification is candidate-bound, not corpus-bound.
    On this uniform-vocabulary test corpus the prefix excludes little
    and the variant measures ~3× slower than the blocked form — the
    crossover is gram-frequency skew, not data volume (see
    ``dedup_ngram_jaccard``'s docstring for the measured numbers).
    The skewed side of the crossover is measured in-suite:
    tests/test_skew_crossover.py manufactures a Zipfian gram
    distribution on which THIS variant wins ~3× (stop-grams carry
    >99% of the blocked candidate volume and fall outside every
    prefix).

    Re-examined r15 (optimization round): (a) replacing the ranking
    window with a per-doc sorted array + slice() timed EQUAL on the
    build phase (1.36 s vs 1.51 s warm at sf0.1 — the doc-keyed
    exchange dominates either way; kept the window) and (b) verifying
    candidates by per-pair array_intersect instead of the exploded
    gram join timed 1.5× SLOWER (7.98 s → 11.71 s warm) because this
    corpus's prefix excludes almost nothing, so candidate volume ×
    set size favors the codegen'd join.  The array-verify shape IS
    the r15 win where candidates are sparse — see
    operators/dedup.jaccard_verify.

    r15 change that DID land (suffix-decomposed verification — the
    PPJoin paper's own verify step): the candidate aggregation counts
    each pair's PREFIX-overlap for free (``groupBy().count()`` rides
    the exact exchange the old ``.distinct()`` paid), and since
    |A∩B| = |Apre∩Bpre| + |A∩Bsuf| + |Asuf∩Bpre| (pre/suf partition
    each doc's gram set), verification only probes the two SUFFIX
    cross-terms.  Suffixes are the ``ceil(t·sz)−1`` most-frequent
    grams (~20% of rows here), so the exploded verify stream shrank
    27.9M → 10.8M rows at sf0.1 and can never exceed the old volume
    (suffix ⊂ full set).  Measured interleaved A/B at sf0.1: 8.8-13.4
    s → 5.0-8.0 s warm, identical output (127,787 rows, exceptAll
    diff 0 both directions).
    """
    t = 0.2
    # Feeds the frequency agg, the per-doc ranking, and verification
    # (both sides) — materialized once (inside _shared_char_grams),
    # same rationale as the blocked variant.
    gd = _shared_char_grams(spark, sf_dir)
    sizes = gd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = gd.groupBy("lang", "source", "gram").agg(
        F.count(F.lit(1)).alias("gfreq")
    )
    rk_w = Window.partitionBy("doc_id").orderBy("gfreq", "gram")
    # One materialized frame carries the full ranked gram stream with
    # an in_prefix flag: it feeds both candidate-join sides AND all
    # four verification probe sides, so the freq join + ranking window
    # run once (the pre-r15 shape materialized the prefix subset only
    # and re-read the raw gram frame for verification).
    ranked = materialize(
        gd.join(freq, on=["lang", "source", "gram"])
        .withColumn("rk", F.row_number().over(rk_w))
        .join(sizes, on="doc_id")
        .withColumn(
            "in_prefix",
            F.col("rk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1,
        )
        .select("lang", "source", "doc_id", "sz", "gram", "in_prefix")
    )
    prefix = ranked.filter("in_prefix")
    pa = prefix.select(
        "lang", "source", F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"), "gram",
    )
    pb = prefix.select(
        "lang", "source", F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"), "gram",
    )
    # groupBy+count replaces the old .distinct() on the SAME exchange
    # (both are partial-agg + hash exchange + final-agg on these six
    # columns) and yields pre_icnt = |Apre ∩ Bpre| as a free
    # by-product.  Materialized: three consumers (the two suffix
    # probes + the final assembly) would otherwise re-run the
    # near-quadratic candidate join each.
    cand = materialize(
        pa.join(pb, on=["lang", "source", "gram"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("sz_a", "sz_b")
            >= F.lit(t) * F.greatest("sz_a", "sz_b")
        )
        .groupBy("lang", "source", "doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("pre_icnt"))
    )
    pair = ["lang", "source", "doc_a", "doc_b", "sz_a", "sz_b"]
    ga_full = ranked.select(F.col("doc_id").alias("doc_a"), "gram")
    ga_suf = ranked.filter(~F.col("in_prefix")).select(
        F.col("doc_id").alias("doc_a"), "gram"
    )
    gb_suf = ranked.filter(~F.col("in_prefix")).select(
        F.col("doc_id").alias("doc_b"), "gram"
    )
    gb_pre = prefix.select(F.col("doc_id").alias("doc_b"), "gram")
    # |A ∩ Bsuf|: explode each pair by doc_b's suffix grams, probe
    # doc_a's full set.
    c1 = (
        cand.select(*pair)
        .join(gb_suf, on="doc_b")
        .join(ga_full, on=["doc_a", "gram"])
        .groupBy(*pair)
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # |Asuf ∩ Bpre|: explode by doc_a's suffix grams, probe doc_b's
    # prefix — together with pre_icnt and c1 this covers A∩B exactly
    # (pre/suf partition each doc's distinct gram set).
    c2 = (
        cand.select(*pair)
        .join(ga_suf, on="doc_a")
        .join(gb_pre, on=["doc_b", "gram"])
        .groupBy(*pair)
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    verified = (
        cand.join(c1, on=pair, how="left")
        .join(c2, on=pair, how="left")
        .withColumn(
            "icnt",
            F.col("pre_icnt")
            + F.coalesce(F.col("c1"), F.lit(0))
            + F.coalesce(F.col("c2"), F.lit(0)),
        )
        .withColumn(
            "jaccard",
            F.col("icnt").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("icnt")),
        )
    )
    return verified.filter(F.col("jaccard") >= t).select(
        "lang", "source", "doc_a", "doc_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# Decontamination: flag corpus docs sharing word n-grams with a
# benchmark/eval set — the train/test-overlap screen every training
# pipeline runs before a model sees the data.  Unlike self-dedup, the
# reference side is a SMALL external set, so the scale shape is a
# broadcast semi-join of the corpus gram stream against the benchmark
# gram set: one corpus scan, no self-join, shuffle only the hits.
# ---------------------------------------------------------------------------

DECON_BENCH_MOD = 41  # benchmark set: doc_id % 41 == 0 (deterministic stand-in)


def _decon_oracle() -> str:
    n = SHINGLE_WORDS
    shingle_expr = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return f"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= {n}
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - {n - 1}),
                               i -> {shingle_expr})) AS shingle
  FROM docs
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
bench AS (SELECT * FROM shd WHERE doc_id % {DECON_BENCH_MOD} = 0),
corpus AS (SELECT * FROM shd WHERE doc_id % {DECON_BENCH_MOD} <> 0)
SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS overlap
FROM corpus c JOIN bench b USING (shingle)
GROUP BY 1, 2
"""


@query("decontaminate_ngram_overlap", oracle=_decon_oracle())
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bench_id, overlap): corpus docs sharing ≥1 word
    {SHINGLE_WORDS}-gram with a benchmark doc, with the shared-gram
    count as contamination evidence (thresholding is policy, so the
    query returns the evidence).

    The benchmark grams (small side by construction — eval sets are
    tiny next to a 100 TB corpus) broadcast; the RAW corpus gram
    stream — no pre-join distinct, which would be a full-corpus
    shuffle — flows through a map-side hash join, and only matching
    (doc, bench, gram) rows reach the one real shuffle, where
    count(DISTINCT shingle) dedups repeated grams exactly like a
    pre-join distinct would.  Uses the same shingle machinery as
    MinHash (one tokenize projection, then explode)."""
    d = load_table(spark, sf_dir, "documents")
    # Same precondition as the MinHash pipeline (and the oracle's
    # len(toks) >= n): shingling a doc shorter than the shingle width
    # would run F.sequence backwards and throw at runtime.
    d = d.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= SHINGLE_WORDS
    )
    grams = shingle_rows(d, "doc_id", "text")
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench = (
        grams.filter(is_bench)
        .select(F.col("doc_id").alias("bench_id"), "shingle")
        .distinct()
    )
    corpus = grams.filter(~is_bench)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count_distinct(F.col("shingle")).alias("overlap"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the constant-size form of the screen
# above.  The exact variant broadcasts the benchmark GRAM SET, whose
# size grows with the benchmark; the Bloom variant folds those grams
# into a fixed 4096-bit filter (66 BIGINT words) that broadcasts in
# one cache line per executor no matter how large the eval suite
# gets, at the price of a quantified false-positive rate.  This is
# the membership-screen shape used when the reference set itself is
# large (e.g. screening against another whole corpus): the filter is
# a mergeable aggregate (bit_or), so it builds map-side in one pass.
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096  # m; packed 63 bits/word (66 words) — the sign bit is
# never shifted into: DuckDB range-checks 1::BIGINT << 63, so words are 63
# bits wide in BOTH engines and every shift stays in signed-BIGINT range
BLOOM_K = 3  # hash count; positions via Kirsch-Mitzenmacher h1 + i*h2


def _bloom_pos_sql(h1: str, h2: str) -> str:
    """The 3 Kirsch-Mitzenmacher probe positions (h1 + i*h2, i=0..2)
    as a DuckDB list — must stay in lockstep with the Spark-side
    probe array in ``decontaminate_bloom``."""
    return (
        f"[{h1} % {BLOOM_BITS},"
        f" ({h1} + {h2}) % {BLOOM_BITS},"
        f" ({h1} + 2 * {h2}) % {BLOOM_BITS}]"
    )


def _bloom_oracle() -> str:
    n = SHINGLE_WORDS
    shingle_expr = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    h1 = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
    h2 = "('0x' || substr(md5(shingle), 9, 8))::BIGINT"
    return f"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= {n}
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - {n - 1}),
                               i -> {shingle_expr})) AS shingle
  FROM docs
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
bpos AS (
  SELECT unnest({_bloom_pos_sql(h1, h2)}) AS pos
  FROM (SELECT DISTINCT shingle FROM shd WHERE doc_id % {DECON_BENCH_MOD} = 0)
),
bloom AS (
  SELECT pos // 63 AS word, bit_or(1::BIGINT << (pos % 63)) AS bits
  FROM bpos GROUP BY 1
),
cpos AS (
  SELECT doc_id, shingle, unnest({_bloom_pos_sql(h1, h2)}) AS pos
  FROM shd WHERE doc_id % {DECON_BENCH_MOD} <> 0
),
probes AS (
  SELECT c.doc_id, c.shingle,
         CASE WHEN b.bits IS NOT NULL
                   AND (b.bits & (1::BIGINT << (c.pos % 63))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM cpos c LEFT JOIN bloom b ON c.pos // 63 = b.word
),
flagged AS (
  SELECT doc_id, shingle, min(hit) AS all_hit FROM probes GROUP BY 1, 2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(SUM(all_hit) AS BIGINT) AS n_flagged
FROM flagged
GROUP BY 1
HAVING SUM(all_hit) > 0
"""


@query("decontaminate_bloom", oracle=_bloom_oracle())
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_flagged): corpus docs whose word
    {SHINGLE_WORDS}-grams probe positive against a {BLOOM_BITS}-bit
    Bloom filter built from the benchmark grams — every position
    derives from the portable md5 hash pair (functions/text.py
    hash32/hash32_hi, Kirsch-Mitzenmacher ``h1 + i*h2``), so the
    oracle rebuilds the filter bit-for-bit and the (deterministic)
    false positives match exactly too.

    Scale shape: the filter is ONE map-side-combined ``bit_or``
    aggregate into ≤66 (word, bits) rows regardless of benchmark
    size, then broadcasts; the corpus gram stream joins it map-side
    (word equi-join against 66 rows) and only per-doc counts reach
    the one real shuffle.  Compare ``decontaminate_ngram_overlap``,
    which broadcasts the raw gram set — right when the benchmark is
    small, replaced by this constant-footprint screen when it is not.
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= SHINGLE_WORDS
    )
    grams = shingle_rows(d, "doc_id", "text").distinct()
    h1 = hash32("shingle")
    h2 = hash32_hi("shingle")
    m = F.lit(BLOOM_BITS)
    pos = F.explode(
        F.array(h1 % m, (h1 + h2) % m, (h1 + 2 * h2) % m)
    ).alias("pos")
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bloom = (
        grams.filter(is_bench)
        .select("shingle")
        .distinct()
        .select(pos)
        .groupBy(F.expr("pos div 63").alias("word"))
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(pos % 63 AS INT))")).alias("bits"))
    )
    probes = (
        grams.filter(~is_bench)
        .select("doc_id", "shingle", pos)
        .join(F.broadcast(bloom), F.expr("pos div 63") == F.col("word"), "left")
        .select(
            "doc_id",
            "shingle",
            F.when(
                F.col("bits").isNotNull()
                & (
                    F.expr("bits & shiftleft(1L, CAST(pos % 63 AS INT))")
                    != 0
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("hit"),
        )
    )
    flagged = probes.groupBy("doc_id", "shingle").agg(F.min("hit").alias("all_hit"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("all_hit").cast("bigint").alias("n_flagged"),
        )
        .filter(F.col("n_flagged") > 0)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (blocked by cluster label; the unblocked
# scale path is the LSH variant in queries/similarity.py).
# ---------------------------------------------------------------------------

_EMB_NEARDUP_ORACLE = """
WITH pairs AS (
  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_sum(list_transform(generate_series(1, len(a.embedding)),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
                    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
           AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, vec_a, vec_b, round(cosine, 9) AS cosine
FROM pairs WHERE cosine > 0.3
"""


def _dot(a, b, est_evals=None) -> F.Column:
    from ..operators.similarity import adaptive_dot

    # r16: size-gated kernel (bit-identical doubles either way — see
    # operators/similarity.py adaptive_dot).  Below the measured ~600k
    # evaluation crossover the unrolled form's per-plan-instance
    # recompile dominates; above it (any production corpus) the
    # codegen'd unrolled form wins ~100× per evaluation.  est_evals
    # None = assume big (unrolled), the scale-safe default.
    return adaptive_dot(a, b, est_evals)


#: The fixture corpora's within-label candidate fan-out (pairs per
#: row ≈ block_size/2 ≈ 100 at every SF — FIXTURES.md labels are
#: ~uniform).  Used only to ESTIMATE the blocked-pair volume for the
#: kernel gate from the scan's row estimate without paying an extra
#: counting job; any real corpus is orders of magnitude past the
#: crossover on the row estimate alone, so gate precision only
#: matters in the local band where both kernels are seconds apart.
_EMB_PAIR_FANOUT = 100


# Any label block above this row count fails the query before pairing
# (O(n²) on a hot label).  Testdata blocks are far below the cap at
# every SF.
EMB_BLOCK_CAP = 4096


@query("dedup_embedding_cosine", oracle=_EMB_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairwise cosine within cluster-label blocks,
    pairs above 0.3 (the synthetic corpus has no tight near-dups; max within-label cosine ≈ 0.45, so 0.3 surfaces the genuinely-closest pairs).  Dot/norms via zip_with+aggregate (sequential
    double accumulation — bit-identical to the oracle's list_sum).

    The oracle is exact all-pairs, so this query runs the block-size
    check first: a label block above ``EMB_BLOCK_CAP`` raises with a
    clear message instead of pairing O(n²) on a hot label.

    Dot-impl trade, measured at sf0.1 (~200 k blocked pairs): the
    unrolled dot's constant ~4 s whole-stage recompile does NOT
    amortize (interpreted HOF runs the same query in ~1.5-2 s), and
    the crossover is ≈600 k pairs — blocked pair count grows linearly
    with the corpus, so any production scale sits far past the
    crossover.  r16: instead of hard-picking the production winner,
    the kernel is SIZE-GATED on that measured crossover
    (operators/similarity.py adaptive_dot): the estimated pair volume
    (scan rows × fixture fan-out) selects HOF below ~600 k
    evaluations and unrolled above — each deployment gets its
    measured-fastest physical shape, and the doubles are
    bit-identical either way."""
    from ..operators.similarity import check_block_sizes, estimated_scan_rows

    base = load_table(spark, sf_dir, "embeddings")
    # r16 kernel gate: per-ROW norms gate on the row estimate; the
    # per-PAIR dot gates on rows × the fixture fan-out (≈ the 200k
    # pairs at sf0.1 where HOF measured 1.5-2 s vs unrolled 4-4.6 s —
    # the crossover documented below).  Estimates read the parquet
    # scan BEFORE fan_out_scan (LogicalRDD estimates are garbage).
    rows = estimated_scan_rows(base)
    pair_evals = None if rows is None else rows * _EMB_PAIR_FANOUT
    e = fan_out_scan(spark, base)
    check_block_sizes(e, ["label"], EMB_BLOCK_CAP)
    # Precompute each vector's norm once (N sqrt-dots instead of 2
    # per pair); the per-pair work is then a single dot product.
    # sqrt(dot(v,v)) is the same double whether computed per-vector
    # or per-pair, so the oracle (which inlines the norms) matches.
    with_norm = materialize(
        e.select(
            "label",
            "vec_id",
            "embedding",
            F.sqrt(
                _dot(F.col("embedding"), F.col("embedding"), rows)
            ).alias("nrm"),
        )
    )
    a = with_norm.select(
        "label",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = with_norm.select(
        "label",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = a.join(b, on="label").filter(F.col("vec_a") < F.col("vec_b"))
    cosine = _dot(F.col("emb_a"), F.col("emb_b"), pair_evals) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        pairs.withColumn("cosine", cosine)
        .filter(F.col("cosine") > 0.3)
        .select("label", "vec_a", "vec_b", F.round("cosine", 9).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# The flagship composition: end-to-end training-corpus curation.
# Quality filter → exact dedup → near-dup removal (MinHash-LSH → CC →
# keep canonical) → deterministic stratified sample — the pipeline a
# 100 TB pre-training corpus actually runs, built entirely from the
# operators above, with every stage's scale shape unchanged by the
# composition (each stage consumes the previous stage's output
# columns; nothing is recomputed from the raw table).
# ---------------------------------------------------------------------------


def _curate_oracle() -> str:
    from .text import _SAMPLE_RATE_CASE, _STOP_IN, _TOKENS_SQL

    return f"""
WITH RECURSIVE q AS (
  SELECT doc_id, lang, text, len({_TOKENS_SQL}) AS n_tokens
  FROM documents
  WHERE len({_TOKENS_SQL}) BETWEEN 20 AND 1000
    AND CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
        / len({_TOKENS_SQL}) BETWEEN 0.01 AND 0.5
),
ex AS (
  SELECT * FROM q
  QUALIFY row_number() OVER (
    PARTITION BY md5(lower(trim(text))) ORDER BY doc_id
  ) = 1
),
verified AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle(source='ex')})
  WHERE jaccard >= {CC_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM verified
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
keep AS (
  SELECT ex.* FROM ex
  LEFT JOIN labels l ON l.id = ex.doc_id
  WHERE l.id IS NULL OR l.cluster_id = ex.doc_id
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS BIGINT) AS bucket
FROM keep
WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < ({_SAMPLE_RATE_CASE})
"""


def _curate_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filtered, exact-deduped survivor docs — the input every
    later curation stage consumes, materialized because the near-dup
    stage and the keep-join both read it."""
    from ..functions.text import fingerprint_md5, n_tokens, stopword_ratio

    d = load_table(spark, sf_dir, "documents")
    nt = n_tokens("text")
    ratio = stopword_ratio("text")
    q = d.filter(nt.between(20, 1000) & ratio.between(0.01, 0.5)).select(
        "doc_id", "lang", "text", nt.alias("n_tokens")
    )
    return materialize(
        dedup_exact(
            q.withColumn("fingerprint", fingerprint_md5("text")),
            F.col("fingerprint"),
            "doc_id",
        ).drop("fingerprint")
    )


def _curate_cc(ex: DataFrame) -> DataFrame:
    """CC cluster labels over the survivors' near-dup graph — the
    expensive iterative stage of the curation pipeline.  Runs on the
    exact-dedup SURVIVORS ``ex`` (a different node set than the
    full-corpus ``_shared_cc_star`` spine)."""
    from ..operators.graph import connected_components

    # Near-dup pairs among the exact-dedup survivors only (>= 20
    # tokens by the quality gate, so the shingle precondition holds).
    docs = ex.select("doc_id", "text")
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_band_keys(sigs, "doc_id"), "doc_id")
    sh = shingle_rows(docs, "doc_id", "text")
    verified = jaccard_verify(pairs, sh, "doc_id").filter(
        F.col("jaccard") >= CC_JACCARD_THRESHOLD
    )
    return connected_components(verified.select("doc_a", "doc_b"))


@query("curate_training_corpus", oracle=_curate_oracle())
def curate_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality-filter → exact dedup →
    near-dup removal (LSH pairs → connected components, keep the
    cluster canonical) → deterministic stratified sample.

    Each stage feeds the next — near-dup detection runs only on the
    exact-deduped survivors, so the expensive LSH pipeline sees the
    smallest possible input.  At 100 TB every stage keeps its
    documented shape: the quality filter is scan-level, exact dedup is
    one fingerprint shuffle, LSH is bucket-join-bounded, CC shuffles
    per-round on node id, and the sample is a pushdown-friendly
    hash-threshold filter."""
    from ..functions.text import hash32
    from .text import SAMPLE_DEFAULT_RATE, SAMPLE_RATES

    ex = _curate_survivors(spark, sf_dir)
    cc = _curate_cc(ex)

    keep = ex.join(
        cc.select(F.col("id").alias("doc_id"), "cluster_id"), "doc_id", "left"
    ).filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    )

    bucket = hash32(F.col("text")) % 100
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items(), reverse=True):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        keep.withColumn("bucket", bucket.cast("bigint"))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens"), "bucket")
    )


# ---------------------------------------------------------------------------
# Segment-level exact dedup (C4-style boilerplate removal): drop every
# repeated 16-token segment except its first occurrence, reassemble.
# ---------------------------------------------------------------------------

_SEG_LEN = 16

_SEG_DEDUP_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
segs AS (
    SELECT doc_id, s.seg_idx,
           array_to_string(
               t[(s.seg_idx * {_SEG_LEN} + 1):(s.seg_idx * {_SEG_LEN} + {_SEG_LEN})],
               ' ') AS seg
    FROM toks,
         LATERAL (SELECT unnest(range(0,
             CAST(ceil(len(t) / {_SEG_LEN}.0) AS BIGINT))) AS seg_idx) s
),
firsts AS (
    SELECT seg,
           min(ROW(doc_id, seg_idx)) AS first_occ
    FROM segs GROUP BY seg
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN ROW(g.doc_id, g.seg_idx) = f.first_occ
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       string_agg(CASE WHEN ROW(g.doc_id, g.seg_idx) = f.first_occ
                       THEN g.seg END, ' ' ORDER BY g.seg_idx) AS cleaned_text
FROM segs g
JOIN firsts f USING (seg)
GROUP BY g.doc_id
"""


@query("dedup_segments_exact", oracle=_SEG_DEDUP_ORACLE)
def dedup_segments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment dedup: every 16-token segment that repeats
    anywhere in the corpus is dropped except its first occurrence
    (ordered by doc_id, then position), and each document is
    reassembled from its surviving segments.

    First-occurrence selection is a ``groupBy(seg).agg(min(struct))``
    — map-side combinable, so a boilerplate segment repeated millions
    of times costs one partial per map task, never a hot window
    partition (a ``row_number() over (partition by seg)`` would funnel
    every occurrence of a hot segment through one task).  The join
    back on ``seg`` AQE-broadcasts when the distinct-segment side is
    small and skew-splits otherwise.  Reassembly is one shuffle on
    doc_id with an array_sort on (seg_idx) — order is positional, not
    engine-dependent.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    segs = (
        toks.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("t") / F.lit(float(_SEG_LEN))).cast("long") - 1,
                )
            ).alias("seg_idx"),
            "t",
        )
        .select(
            "doc_id",
            "seg_idx",
            F.array_join(
                F.slice(
                    F.col("t"),
                    (F.col("seg_idx") * _SEG_LEN + 1).cast("int"),
                    _SEG_LEN,
                ),
                " ",
            ).alias("seg"),
        )
    )
    firsts = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("first_occ")
    )
    flagged = segs.join(firsts, "seg").withColumn(
        "is_first",
        (F.col("doc_id") == F.col("first_occ.doc_id"))
        & (F.col("seg_idx") == F.col("first_occ.seg_idx")),
    )
    kept_struct = F.when(
        F.col("is_first"), F.struct("seg_idx", "seg")
    )  # collect_list drops the NULLs for non-first occurrences
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.col("is_first").cast("bigint")).alias("n_kept"),
        F.nullif(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x.seg
                ),
                " ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Record-linkage fuzzy matching — blocking + edit-distance verify, the
# structured-record sibling of the document near-dup family.
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 3

_FUZZY_ORACLE = f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
blocked AS (
    SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM names
)
SELECT a.p_name AS name_a,
       b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM blocked a
JOIN blocked b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
"""


@query("part_name_fuzzy_pairs", oracle=_FUZZY_ORACLE)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on structured records: near-identical part
    names found by blocking on the head noun (equi-join — candidates
    come from a hash join, never an all-pairs product, the same
    candidate/verify split as MinHash-LSH) and verifying candidates
    with Levenshtein edit distance — an exact integer both engines'
    classic DP implementations agree on.

    Scale: dedup to distinct names FIRST (map-side combine), so the
    quadratic verify runs per block over the tiny name vocabulary; a
    skewed block would need the same block-size check as
    dedup_embedding_cosine (``EMB_BLOCK_CAP``).
    """
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    blocked = names.select(
        "p_name", F.split(F.col("p_name"), " ").getItem(1).alias("blk")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name")))
        .filter(F.col("dist") <= _FUZZY_MAX_DIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: fuzzy pairs → connected components →
# canonical entities (the record-linkage pipeline completed).
# ---------------------------------------------------------------------------

_ER_ORACLE = f"""
WITH RECURSIVE pairs AS (
    SELECT name_a, name_b FROM ({_FUZZY_ORACLE})
),
edges AS (
    SELECT name_a AS src, name_b AS dst FROM pairs
    UNION ALL
    SELECT name_b AS src, name_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
SELECT cluster AS canonical_name,
       CAST(count(*) AS BIGINT) AS n_members,
       string_agg(id, '|' ORDER BY id) AS members
FROM labels
GROUP BY cluster
"""


@query("entity_resolution_parts", oracle=_ER_ORACLE)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage completed end-to-end: the blocked fuzzy pairs
    (part_name_fuzzy_pairs) become an undirected match graph whose
    connected components are the resolved ENTITIES — canonical name =
    lexicographic min of the cluster, members rendered sorted for the
    deterministic surface.  The oracle walks the same graph with a
    recursive CTE (min reachable id ≡ min label at fixpoint).

    Scale: candidate generation stays blocked (never all-pairs); the
    min-label propagation is the same join+grouped-min round as the
    document near-dup CC, hash-partitioned on the (string) node id —
    component diameter bounds the rounds, and fuzzy-match clusters
    are shallow by construction.
    """
    from ..operators.graph import connected_components

    pairs = part_name_fuzzy_pairs(spark, sf_dir).select("name_a", "name_b")
    labels = connected_components(pairs, src="name_a", dst="name_b")
    return labels.groupBy(F.col("cluster_id").alias("canonical_name")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_join(F.array_sort(F.collect_list("id")), "|").alias("members"),
    )


# ---------------------------------------------------------------------------
# Negative-pair sampling — contrastive-training counterpart of the
# near-dup (positive-pair) family.
# ---------------------------------------------------------------------------

_NEGPAIRS_ORACLE = """
WITH ranked AS (
    SELECT doc_id, lang, md5(text) AS fp,
           row_number() OVER (ORDER BY md5(text), doc_id) AS rk,
           count(*) OVER () AS n
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.lang AS lang_a, b.lang AS lang_b
FROM ranked a
JOIN ranked b
  ON b.rk = ((a.rk - 1 + a.n // 2) % a.n) + 1
WHERE a.fp <> b.fp AND a.rk <= a.n // 2
"""


@query("sample_negative_pairs", oracle=_NEGPAIRS_ORACLE)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: pair
    each doc with the one N/2 positions away in md5-hash order — a
    fixed derangement that is uniform-random-like (hash order is
    content-keyed) yet retry/speculation-stable and reproducible on
    any engine, with exact-dup accidental positives filtered by
    fingerprint inequality.  Each unordered pair emits once
    (rk ≤ n/2).

    Scale shape: the corpus-wide rank comes from the exact rank
    (operators/quantiles.py) over the hash order; the corpus size n
    lands as a literal and the ranked frame is materialized once, so
    the rk ↔ rk+n/2
    pairing is a plain equi-join between two reads of the SAME
    checkpointed frame.
    """
    from ..operators.quantiles import exact_global_rank

    d = load_table(spark, sf_dir, "documents")
    ranked, n, _ = exact_global_rank(
        d.select("doc_id", "lang", F.md5("text").alias("fp")), ["fp", "doc_id"]
    )
    ranked = ranked.withColumnRenamed("_grank", "rk")
    a = ranked.alias("a")
    b = ranked.alias("b")
    half = F.lit(n // 2)
    return (
        a.join(
            b,
            F.col("b.rk") == ((F.col("a.rk") - 1 + half) % F.lit(max(n, 1))) + 1,
        )
        .filter((F.col("a.fp") != F.col("b.fp")) & (F.col("a.rk") <= half))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: a NEW ingest batch checked against the
# already-indexed corpus — new×corpus candidates only, never
# corpus×corpus (the daily-ingest shape of LSH dedup at 100 TB).
# ---------------------------------------------------------------------------

INCR_NEW_MOD = 10  # ~1/10 of docs play the "newly ingested batch"
INCR_JACCARD_DUP = 0.5


def _incremental_oracle() -> str:
    base = _minhash_oracle()
    # Reuse the generated docs/sh/h/sig/bands CTE chain verbatim
    # (identical constants => identical signatures); replace the
    # corpus×corpus candidate join and the downstream SELECT.
    head = base.split("cand AS (")[0]
    split = f"{_H32.format(x='CAST(doc_id AS VARCHAR)')} % {INCR_NEW_MOD} = 0"
    return f"""{head}cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id <> b.doc_id
  WHERE ({split.replace('doc_id', 'a.doc_id')})
    AND NOT ({split.replace('doc_id', 'b.doc_id')})
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS icnt
  FROM cand c
  JOIN shd x ON x.doc_id = c.doc_a
  JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(COALESCE(i.icnt, 0) AS DOUBLE)
           / (sa.sz + sb.sz - COALESCE(i.icnt, 0)) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_cand, 0) AS BIGINT) AS n_candidates,
       s.best_jaccard,
       COALESCE(s.best_jaccard >= {INCR_JACCARD_DUP}, FALSE) AS is_dup
FROM (SELECT doc_id FROM docs WHERE {split}) d
LEFT JOIN (
  SELECT doc_a, count(*) AS n_cand, max(jaccard) AS best_jaccard
  FROM scored GROUP BY doc_a
) s ON s.doc_a = d.doc_id
"""


@query("dedup_incremental_index", oracle=_incremental_oracle())
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH dedup: a newly-ingested batch (a deterministic
    md5 1/10th of the corpus standing in for today's crawl) checked
    for near-dups against the ALREADY-INDEXED corpus.

    This is the shape that actually runs daily at 100 TB: the corpus's
    band keys are a precomputed index (here rebuilt because the
    testdata has no persisted state — in production they'd be read
    back from the banded parquet the last run wrote), and the bucket
    join is NEW-side × corpus-side only.  Candidate cost scales with
    the BATCH size, not the corpus: corpus docs never pair with each
    other, so a 1000× corpus at constant batch size costs the same
    join fan-out per bucket occupancy.  Verification (exact Jaccard)
    again touches only candidates.  Every new doc reports: candidate
    count, best Jaccard, and the is_dup admission decision — the
    admission filter a crawl pipeline applies before appending to the
    corpus.
    """
    docs = _eligible_docs(spark, sf_dir)
    is_new = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % INCR_NEW_MOD == 0
    )
    docs = docs.withColumn("_is_new", is_new)
    # the signature frame ignores _is_new (it projects id/text), so it
    # is the same shared frame every production-banding query builds
    sigs = _shared_sigs(spark, sf_dir)
    bands = materialize(
        lsh_band_keys(sigs, "doc_id").join(
            docs.select("doc_id", "_is_new"), on="doc_id"
        )
    )
    new_bands = bands.filter(F.col("_is_new")).select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    corpus_bands = bands.filter(~F.col("_is_new")).select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    cand = (
        new_bands.join(corpus_bands, on=["band", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    scored = jaccard_verify(
        cand, _shared_shingle_sets(spark, sf_dir), "doc_id", pre_grouped=True
    )
    per_new = scored.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return (
        docs.filter(F.col("_is_new"))
        .select("doc_id")
        .join(per_new, docs.doc_id == per_new.doc_a, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
            F.col("best_jaccard"),
            F.coalesce(
                F.col("best_jaccard") >= INCR_JACCARD_DUP, F.lit(False)
            ).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric containment — quote/subset detection: |A∩B|/|A| catches a
# small doc embedded in a big one where Jaccard stays low.
# ---------------------------------------------------------------------------

CONTAINMENT_MIN = 0.5


def _containment_oracle() -> str:
    base = _minhash_oracle()
    head, _tail = base.rsplit("SELECT c.doc_a,", 1)
    return f"""{head}SELECT c.doc_a, c.doc_b,
       sa.sz AS sz_a, sb.sz AS sz_b,
       CAST(COALESCE(i.icnt, 0) AS DOUBLE) / sa.sz AS contain_a_in_b,
       CAST(COALESCE(i.icnt, 0) AS DOUBLE) / sb.sz AS contain_b_in_a
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE COALESCE(i.icnt, 0) * 2 >= LEAST(sa.sz, sb.sz)
"""


@query("dedup_containment_pairs", oracle=_containment_oracle())
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over the LSH candidate pairs:
    |A∩B|/|A| and |A∩B|/|B| — the quote/subset detector that catches
    a short document embedded verbatim in a long one, where symmetric
    Jaccard (intersection over UNION) stays below every dedup
    threshold.  Pairs surface when the intersection covers at least
    half of the SMALLER side (integer-exact predicate 2·icnt ≥
    min(sz), so no float threshold decides membership); the two
    containment ratios are single divisions from exact counts.

    Scale shape: identical to the MinHash family — banded candidates,
    verification cost scales with candidate count.  (LSH recall
    caveat, documented: minhash bands are tuned for JACCARD
    similarity, so extreme size-ratio containments can be missed at
    candidate generation; the dedicated fix is min-wise hashing on
    the smaller side's shingles only — same band-join shape.)
    """
    sigs = _shared_sigs(spark, sf_dir)
    cand = materialize(
        lsh_candidate_pairs(lsh_band_keys(sigs, "doc_id"), "doc_id")
    )
    # r15: per-doc shingle-SET arrays + per-row array_intersect replace
    # the exploded candidate⋈shingle join, the per-pair re-aggregation,
    # and the two size join-backs (same shape change as jaccard_verify;
    # sizes are array lengths, exact as before).  The set frame is the
    # family's shared builder.
    sets_ = _shared_shingle_sets(spark, sf_dir)
    sa = sets_.select(F.col("doc_id").alias("doc_a"), F.col("_sh_set").alias("_set_a"))
    sb = sets_.select(F.col("doc_id").alias("doc_b"), F.col("_sh_set").alias("_set_b"))
    return (
        cand.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn("icnt", F.size(F.array_intersect("_set_a", "_set_b")))
        .withColumn("sz_a", F.size("_set_a").cast("bigint"))
        .withColumn("sz_b", F.size("_set_b").cast("bigint"))
        .filter(F.lit(2) * F.col("icnt") >= F.least("sz_a", "sz_b"))
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            (F.col("icnt").cast("double") / F.col("sz_a")).alias("contain_a_in_b"),
            (F.col("icnt").cast("double") / F.col("sz_b")).alias("contain_b_in_a"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source duplication attribution — which ingest sources pay for
# the dedup pass.
# ---------------------------------------------------------------------------

_SOURCE_DUP_ORACLE = """
WITH fp AS (
    SELECT source, doc_id, md5(lower(trim(text))) AS f
    FROM documents
),
flagged AS (
    SELECT source,
           CASE WHEN row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
                THEN 0 ELSE 1 END AS is_dup
    FROM fp
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
       CAST(SUM(is_dup) * 10000 // count(*) AS DOUBLE) / 100 AS dup_pct
FROM flagged
GROUP BY source
"""


@query("dedup_source_attribution", oracle=_SOURCE_DUP_ORACLE)
def dedup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources ship duplicates: per ingest source, the count
    and share of docs that are exact-dup NON-canonicals (fingerprint
    seen on a lower doc_id anywhere in the corpus) — the attribution
    a crawl operator uses to throttle or deprioritize feeds.  Note
    the dup is charged to the source of the LATER doc, cross-source
    dups included (that's the operational question: who re-sends
    content the corpus already has).

    Scale shape: one fingerprint-keyed shuffle ranks duplicates (the
    exact-dedup shuffle, reused for attribution); the per-source
    roll-up is a tiny map-side-combined aggregate.  Percentage is
    basis-point integer truncation.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("source", "doc_id", fingerprint_md5("text").alias("f"))
    w = Window.partitionBy("f").orderBy("doc_id")
    flagged = fp.select(
        "source",
        F.when(F.row_number().over(w) == 1, 0).otherwise(1).alias("is_dup"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_exact_dups"),
        (
            F.expr("sum(is_dup) * 10000 div count(1)").cast("double") / 100
        ).alias("dup_pct"),
    )


# ---------------------------------------------------------------------------
# Prefix-truncation duplicates — docs that are a PROPER PREFIX of a
# longer doc (the crawl artifact where the same page is captured both
# truncated and full).  Exact-dup handles identical texts; this
# catches the truncated re-crawl that hash dedup misses entirely.
# ---------------------------------------------------------------------------

PREFIX_BAND = 24  # band key: first 24 chars — any prefix pair >= this length collides


_PREFIX_TRUNC_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS len
  FROM documents WHERE length(text) >= {PREFIX_BAND}
)
SELECT a.doc_id AS doc_short, b.doc_id AS doc_long,
       CAST(a.len AS BIGINT) AS len_short, CAST(b.len AS BIGINT) AS len_long
FROM d a JOIN d b
  ON substr(a.text, 1, {PREFIX_BAND}) = substr(b.text, 1, {PREFIX_BAND})
 AND a.len < b.len
 AND substr(b.text, 1, a.len) = a.text
"""


@query("dedup_prefix_truncation", oracle=_PREFIX_TRUNC_ORACLE)
def dedup_prefix_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_short, doc_long, len_short, len_long): every pair where
    the shorter doc's FULL text is a proper prefix of the longer
    doc's (docs shorter than the {band}-char band key are out of
    scope — a documented contract, since a prefix pair at least
    {band} chars long always shares the band key).

    Scale shape: candidates come from an EQUI-join on the first-
    {band}-chars band key — never all-pairs; bucket occupancy is the
    number of docs sharing a 24-char head, so fan-out is
    boilerplate-bounded, and the startswith verification touches only
    candidates (the same band→verify discipline as the LSH family).
    The strict len < len predicate both excludes exact duplicates
    (exact dedup's job) and halves the candidate checks.  A pathological
    shared-boilerplate head (every doc starting with the same banner)
    is the one skew risk — the escape is lengthening the band key or
    salting the hot bucket, unchanged semantics.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= PREFIX_BAND)
        .select(
            "doc_id",
            "text",
            F.length("text").alias("len"),
            F.substring("text", 1, PREFIX_BAND).alias("band"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.len") < F.col("b.len"))
            & (
                F.col("b.text").substr(F.lit(1), F.col("a.len"))
                == F.col("a.text")
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_short"),
            F.col("b.doc_id").alias("doc_long"),
            F.col("a.len").cast("bigint").alias("len_short"),
            F.col("b.len").cast("bigint").alias("len_long"),
        )
    )


# ---------------------------------------------------------------------------
# LSH parameter sweep — the S-curve audit that PICKS (bands, rows):
# for each banding of the same 8 minhashes, how many candidate pairs
# does the bucket join emit and how many survive exact verification?
# Run before committing a config at 100 TB: candidates are the cost,
# precision is what you buy.
# ---------------------------------------------------------------------------

# (bands, rows) with bands*rows = MINHASH_NUM_HASHES; r=1 is excluded
# as degenerate (single-hash buckets approach all-pairs on a uniform
# corpus).  s50 = the Jaccard at 50% catch probability,
# (1 - 0.5**(1/b))**(1/r), computed HERE and embedded as a literal so
# neither engine evaluates pow() at query time.
LSH_SWEEP = [
    (b, MINHASH_NUM_HASHES // b) for b in (1, 2, 4)
]
_SWEEP_T = {
    (b, r): f"{(1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r):.15f}"
    for b, r in LSH_SWEEP
}
SWEEP_DUP_J = 0.5  # verification threshold shared with the LSH family


def _band_sweep_oracle() -> str:
    base = _minhash_oracle()
    head = base.split("bands AS (")[0].replace(
        "sig AS (", "sig AS MATERIALIZED ("
    ).replace("sh AS (", "sh AS MATERIALIZED (")
    per_cfg = []
    for b, r in LSH_SWEEP:
        band_selects = "\n    UNION ALL\n".join(
            "    SELECT doc_id, {band} AS band, {key} AS band_key FROM sig".format(
                band=band,
                key=" || '_' || ".join(
                    f"CAST(sig_{band * r + k} AS VARCHAR)" for k in range(r)
                ),
            )
            for band in range(b)
        )
        per_cfg.append(f"""cand_{b} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (
{band_selects}
  ) a JOIN (
{band_selects}
  ) b ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
ver_{b} AS (
  SELECT c.doc_a, c.doc_b,
         CAST(COALESCE(i.icnt, 0) AS DOUBLE)
           / (sa.sz + sb.sz - COALESCE(i.icnt, 0)) AS j
  FROM cand_{b} c
  LEFT JOIN (
    SELECT c2.doc_a, c2.doc_b, count(*) AS icnt
    FROM cand_{b} c2
    JOIN shd x ON x.doc_id = c2.doc_a
    JOIN shd y ON y.doc_id = c2.doc_b AND y.shingle = x.shingle
    GROUP BY 1, 2
  ) i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
),
row_{b} AS (
  SELECT {b} AS n_bands, {MINHASH_NUM_HASHES // b} AS n_rows,
         CAST({_SWEEP_T[(b, MINHASH_NUM_HASHES // b)]} AS DOUBLE) AS s50,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN j >= {SWEEP_DUP_J} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_dups,
         CAST(COALESCE(SUM(CASE WHEN j >= {SWEEP_DUP_J} THEN 1 ELSE 0 END)
                       * 10000 // NULLIF(count(*), 0), 0) AS DOUBLE) / 100
           AS precision_pct
  FROM ver_{b}
)""")
        # noqa: E501
    rows_union = "\nUNION ALL\n".join(
        f"SELECT * FROM row_{b}" for b, _ in LSH_SWEEP
    )
    return f"""{head}shd AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
{",".join(per_cfg)}
{rows_union}
"""


@query("dedup_lsh_band_sweep", oracle=_band_sweep_oracle())
def dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (bands, rows) banding of the SAME 8-minhash
    signatures: candidate-pair count, verified-duplicate count
    (exact Jaccard ≥ 0.5), precision, and the config's theoretical
    50%-catch threshold s50 = (1−0.5^(1/b))^(1/r) (a build-time
    literal — no pow() at query time).  This is the audit that picks
    the production banding: more bands catch lower similarities but
    emit more candidates; the sweep measures the actual tradeoff on
    the actual corpus instead of trusting the S-curve asymptote.

    Scale shape: the signature build is shared across configs (one
    shingle explode + one doc-grain min-combine shuffle); each config
    adds only its bucket equi-join (candidate-bounded, same LSH
    discipline as the production path — never all-pairs; r=1 is
    excluded as degenerate) and a verification bounded by ITS
    candidates.  Precision uses the ×10000-div fixed-point idiom.
    """
    from ..operators.dedup import lsh_band_keys

    # Both corpus-prep frames come from the family's shared builders —
    # the signature table (row-identical over full vs eligible docs:
    # shingle-less docs produce no signature row) and the per-doc
    # shingle-SET frame every config's verification consumes (the
    # corpus-sized explode+grouped-collect is the sweep's dominant
    # cost, so it is built once per invocation).
    sigs = _shared_sigs(spark, sf_dir, checkpoint=True)
    shd = _shared_shingle_sets(spark, sf_dir)

    out = None
    for b, r in LSH_SWEEP:
        # the production candidate join, parameterized per config —
        # single-sourced (and it eagerly materializes the band rows,
        # which the hand-rolled self-join here used to recompute on
        # both join sides)
        cand = lsh_candidate_pairs(
            lsh_band_keys(sigs, "doc_id", n_bands=b, n_rows=r), "doc_id"
        )
        ver = jaccard_verify(cand, shd, "doc_id", pre_grouped=True)
        is_dup = (F.col("jaccard") >= SWEEP_DUP_J).cast("int")
        row = ver.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(F.sum(is_dup), F.lit(0)).cast("bigint").alias(
                "n_true_dups"
            ),
            (
                F.expr(
                    f"CAST(COALESCE(SUM(CASE WHEN jaccard >= {SWEEP_DUP_J}"
                    " THEN 1 ELSE 0 END) * 10000 div NULLIF(count(1), 0), 0)"
                    " AS DOUBLE)"
                )
                / 100
            ).alias("precision_pct"),
        ).select(
            F.lit(b).alias("n_bands"),
            F.lit(r).alias("n_rows"),
            F.expr(f"CAST({_SWEEP_T[(b, r)]} AS DOUBLE)").alias("s50"),
            "n_candidates",
            "n_true_dups",
            "precision_pct",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Duplicate-cluster size histogram — the audit that tells a curation
# run WHAT KIND of duplication it is removing: many 2-doc clusters
# (organic reposts) vs a few giant clusters (template floods, crawler
# traps).  Log2-bucketed so the histogram is O(log max_cluster) rows
# at any corpus size.
# ---------------------------------------------------------------------------

_CLUSTER_HIST_ORACLE = """
WITH cl AS (
  SELECT md5(lower(trim(text))) AS fp, CAST(count(*) AS BIGINT) AS csize
  FROM documents GROUP BY 1
)
SELECT CAST(length(bin(csize)) - 1 AS INT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(SUM(csize) AS BIGINT) AS n_docs,
       CAST(SUM(csize) - count(*) AS BIGINT) AS n_excess_dups
FROM cl GROUP BY 1
"""


@query("dedup_cluster_size_histogram", oracle=_CLUSTER_HIST_ORACLE)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact-duplicate cluster sizes in log2 buckets:
    (⌊log2 size⌋, n_clusters, n_docs, n_excess_dups) — bucket 0 is
    unique docs, bucket 1 is pairs/triples, high buckets are template
    floods.  Σ n_excess_dups is exactly the doc count removed by
    keep-one-per-cluster dedup, so the histogram doubles as the
    audit trail for `dedup_exact_docs`.

    ⌊log2 n⌋ is computed as length(bin(n)) − 1 — `bin` renders the
    same minimal binary string in Spark and DuckDB, so the bucket is
    exact integer arithmetic in both engines (a float floor(log2())
    could straddle a power of two differently per libm).

    Scale shape: one md5-fingerprint count (map-side combinable,
    shuffle keyed on the hash — uniform by construction), then a
    second combinable fold onto ≤ ~40 bucket rows.  Never builds the
    pair list; cluster sizes are counts, so a 10M-doc template flood
    is one row, not 10M² pairs.
    """
    d = load_table(spark, sf_dir, "documents")
    cl = d.groupBy(fingerprint_md5("text").alias("fp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("csize")
    )
    return cl.groupBy(
        (F.length(F.bin("csize")) - 1).cast("int").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("csize").cast("bigint").alias("n_docs"),
        (F.sum("csize") - F.count(F.lit(1))).cast("bigint").alias(
            "n_excess_dups"
        ),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training — pairs that COLLIDE
# in the LSH index but verify as non-duplicates.  Exactly the pairs a
# retrieval/embedding model learns the most from: superficially
# similar (shared shingles → bucket collision) yet not the same
# document.  The complement of `sample_negative_pairs` (uniform
# random) and `dedup_minhash_lsh` (the true-dup side of the same
# candidate set).
# ---------------------------------------------------------------------------

HARD_NEG_J = 0.5   # verified-Jaccard ceiling: above this it's a dup, not a negative
HARD_NEG_PER_ANCHOR = 2

_HARD_NEG_ORACLE = f"""
WITH base AS ({{base}}),
sym AS (
  SELECT doc_a AS anchor_id, doc_b AS partner_id, jaccard FROM base
  WHERE jaccard > 0 AND jaccard < {HARD_NEG_J}
  UNION ALL
  SELECT doc_b, doc_a, jaccard FROM base
  WHERE jaccard > 0 AND jaccard < {HARD_NEG_J}
),
ranked AS (
  SELECT anchor_id, partner_id, jaccard,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY jaccard DESC, partner_id) AS rnk
  FROM sym
)
SELECT anchor_id, partner_id, jaccard, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {HARD_NEG_PER_ANCHOR}
"""


@query(
    "sample_hard_negatives",
    oracle=_HARD_NEG_ORACLE.format(base=_minhash_oracle()),
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} hard negatives per anchor document: LSH bucket
    collisions whose verified Jaccard lands in (0, {j}) — similar
    enough to fool the index, verified not duplicates.  The standard
    contrastive-pair mining move: train on what the index confuses.

    Reuses the shared five-stage MinHash pipeline (one signature
    build, banded bucket equi-join, candidate-bounded verification —
    never all-pairs), then symmetrizes the surviving pairs so each
    side serves as an anchor and keeps the {k} highest-similarity
    partners per anchor.

    Scale shape: everything corpus-sized is inherited from the
    already-plan-asserted candidate pipeline; the added work is a
    filter + a window over PER-ANCHOR candidate lists (bounded by
    bucket collision counts, the quantity LSH parameters already
    control — audited by `dedup_lsh_band_sweep`).
    """
    pairs = _minhash_jaccard_pairs(spark, sf_dir).filter(
        (F.col("jaccard") > 0) & (F.col("jaccard") < HARD_NEG_J)
    )
    sym = pairs.select(
        F.col("doc_a").alias("anchor_id"),
        F.col("doc_b").alias("partner_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("anchor_id"),
            F.col("doc_a").alias("partner_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("jaccard"), F.asc("partner_id")
    )
    return (
        sym.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= HARD_NEG_PER_ANCHOR)
    )


# ---------------------------------------------------------------------------
# Hot-shingle skew audit — WHICH shingles would blow up a naive
# shingle-join dedup?  Each shingle with document frequency df
# contributes df·(df−1)/2 candidate pairs, so the skew that SCALING.md's
# hot-term sharding escape exists for is exactly the head of this
# table.  The audit that turns "we handle skew" into a measured list.
# ---------------------------------------------------------------------------

SHINGLE_HOTSPOT_TOPK = 20

_SHINGLE_HOTSPOT_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= {SHINGLE_WORDS}
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - {SHINGLE_WORDS - 1}),
                i -> {" || ' ' || ".join(f"toks[i+{k}]" for k in range(SHINGLE_WORDS))}))
           AS shingle
  FROM docs
),
df AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS total_pairs FROM df
)
SELECT d.shingle, d.df,
       CAST(d.df * (d.df - 1) // 2 AS BIGINT) AS pair_candidates,
       CAST(1000000 * (d.df * (d.df - 1) // 2) AS DOUBLE)
         / CAST(t.total_pairs AS DOUBLE) AS ppm_of_total
FROM df d CROSS JOIN tot t
ORDER BY d.df DESC, d.shingle
LIMIT {SHINGLE_HOTSPOT_TOPK}
"""


@query("dedup_shingle_hotspot_audit", oracle=_SHINGLE_HOTSPOT_ORACLE)
def dedup_shingle_hotspot_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} hottest shingles by document frequency, with the
    candidate-pair count df·(df−1)/2 each would contribute to a naive
    shingle-bucket join and its share (ppm) of the total — the
    measured skew profile behind the hot-term sharding escape
    SCALING.md prescribes for the n-gram dedup family.

    Exactness: df and the pair counts are BIGINT (integer // 2 —
    df·(df−1) is always even); the ppm share is ONE double division
    of exact integers.  (df·(df−1)/2 approaches 2⁶³ only past ~4·10⁹
    docs sharing a shingle — DECIMAL widening documented there.)

    Scale shape: reuses the shared shingle projection (tokenize once,
    explode map-side); df is a combinable count keyed on the shingle;
    the total is a 1-row fold broadcast back; the head is
    TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= SHINGLE_WORDS
    ).select("doc_id", "text")
    df = (
        shingle_rows(docs, "doc_id", "text")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    # the DF table feeds both the total fold and the output select —
    # checkpoint it so the shingle explode+distinct runs once
    df = materialize(df)
    pairs = F.expr("CAST(df * (df - 1) div 2 AS BIGINT)")
    tot = df.agg(F.sum(pairs).cast("bigint").alias("total_pairs"))
    return (
        df.crossJoin(F.broadcast(tot))
        .select(
            "shingle",
            "df",
            pairs.alias("pair_candidates"),
            # try_divide: a corpus with no repeated shingle anywhere
            # has total_pairs = 0 — NULL (DuckDB's x/0), not a throw
            F.try_divide(
                (F.lit(1000000) * pairs).cast("double"),
                F.col("total_pairs").cast("double"),
            ).alias("ppm_of_total"),
        )
        .orderBy(F.desc("df"), "shingle")
        .limit(SHINGLE_HOTSPOT_TOPK)
    )


# ---------------------------------------------------------------------------
# Substring-window exact dedup — the shuffle-friendly Spark shape of
# ExactSubstr deduplication (Lee et al., "Deduplicating Training Data
# Makes Language Models Better", ACL 2022).  Their suffix-array scan
# is inherently sequential; the distributed re-expression hashes
# fixed-length character windows (32 chars, stride 16) so any ≥48-char
# verbatim overlap between two documents is guaranteed to share at
# least one full window — a rolling-hash screen with zero pairwise
# comparisons.
# ---------------------------------------------------------------------------

_SUBSTR_WINDOW_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, text FROM documents WHERE length(text) >= 32
),
w AS (
  SELECT DISTINCT lang, doc_id,
         ('0x' || substr(md5(substr(text, CAST(p AS INTEGER)*16 + 1, 32)), 1, 8))::BIGINT AS h
  FROM (
    SELECT lang, doc_id, text,
           unnest(range(0, (length(text) - 32) // 16 + 1)) AS p
    FROM d
  )
),
dup AS (
  SELECT h FROM w GROUP BY h HAVING count(*) >= 2
)
SELECT w.lang,
       CAST(count(*) AS BIGINT) AS n_doc_windows,
       CAST(count(DISTINCT CASE WHEN dup.h IS NOT NULL THEN w.h END) AS BIGINT) AS n_dup_hashes,
       CAST(count(DISTINCT CASE WHEN dup.h IS NOT NULL THEN w.doc_id END) AS BIGINT) AS n_affected_docs
FROM w LEFT JOIN dup ON w.h = dup.h
GROUP BY 1
"""


@query("dedup_substring_windows", oracle=_SUBSTR_WINDOW_ORACLE)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring audit: hash every 32-char
    window at stride 16 (so any ≥48-char verbatim overlap shares a
    full window), mark hashes seen in ≥2 distinct documents, and
    report per language how much of the corpus is inside repeated
    spans — the screen a pipeline runs before cutting duplicated
    passages (Lee et al. ACL 2022 remove ≥50-token verbatim repeats).

    Unlike the pairwise n-gram Jaccard family this never joins doc
    against doc: duplicate detection is a grouped count on the window
    hash.  Windows are md5-derived 32-bit (portable convention) —
    collisions only overstate the audit, never corrupt data.

    Scale shape: the explode is linear (len/16 windows per doc,
    map-side); within-doc repeats collapse in the distinct BEFORE the
    shuffle; duplicate marking is one combinable count keyed on the
    hash and one equi-join back — both partition cleanly by h at any
    corpus size.  No window functions, no pairwise candidate set.
    """
    d = fan_out_scan(spark, load_table(spark, sf_dir, "documents")).filter(
        F.length("text") >= 32
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.expr("(length(text) - 32) div 16")),
        lambda p: hash32(F.substring(F.col("text"), p * 16 + 1, F.lit(32))),
    )
    w = (
        d.select("lang", "doc_id", F.explode(wins).alias("h"))
        .distinct()
    )
    dup = (
        w.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return w.join(dup, on="h", how="left").groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_doc_windows"),
        F.countDistinct(F.when(F.col("is_dup") == 1, F.col("h")))
        .cast("bigint")
        .alias("n_dup_hashes"),
        F.countDistinct(F.when(F.col("is_dup") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("n_affected_docs"),
    )


# Interpolate build-time constants into docstrings (a plain docstring
# cannot be an f-string; mutating __doc__ after definition keeps the
# auto-generated QUERIES.md index free of raw {placeholders}).
from ..operators.dedup import SHINGLE_WORDS as _SW  # noqa: E402

dedup_prefix_truncation.__doc__ = dedup_prefix_truncation.__doc__.format(
    band=PREFIX_BAND
)
sample_hard_negatives.__doc__ = sample_hard_negatives.__doc__.format(
    k=HARD_NEG_PER_ANCHOR, j=HARD_NEG_J
)
decontaminate_bloom.__doc__ = decontaminate_bloom.__doc__.format(
    SHINGLE_WORDS=_SW, BLOOM_BITS=BLOOM_BITS
)
decontaminate_ngram_overlap.__doc__ = decontaminate_ngram_overlap.__doc__.format(
    SHINGLE_WORDS=_SW
)
dedup_shingle_hotspot_audit.__doc__ = dedup_shingle_hotspot_audit.__doc__.format(
    k=SHINGLE_HOTSPOT_TOPK
)


# ---------------------------------------------------------------------------
# Leakage-safe corpus splitting — train/val/test assignment at the
# NEAR-DUP-CLUSTER grain.  A doc-hash split leaks: two near-duplicate
# documents can land in train and test, and the model is then
# evaluated on (a paraphrase of) its own training data (the
# contamination mechanism Lee et al. ACL 2022 §6 measure).  Assigning
# whole clusters keeps every near-dup family inside one split, and
# the query quantifies exactly how many clusters a naive doc-hash
# split WOULD have fragmented.
# ---------------------------------------------------------------------------

def _split_case_sql(bucket: str) -> str:
    return (
        f"CASE WHEN {bucket} <= 7 THEN 'train'"
        f" WHEN {bucket} = 8 THEN 'val' ELSE 'test' END"
    )


def _leakage_safe_oracle() -> str:
    cb = f"({H32_SQL.format(x='CAST(cluster_id AS VARCHAR)')}) % 10"
    nb = f"({H32_SQL.format(x='CAST(doc_id AS VARCHAR)')}) % 10"
    return f"""
WITH RECURSIVE verified AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()})
  WHERE jaccard >= {CC_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM verified
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
alldocs AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l USING (doc_id)
),
marked AS (
  SELECT doc_id, cluster_id,
         {_split_case_sql(cb)} AS csplit,
         {_split_case_sql(nb)} AS nsplit
  FROM alldocs
),
per_cluster AS (
  SELECT cluster_id, min(csplit) AS split,
         count(*) AS n_docs,
         count(DISTINCT nsplit) AS n_naive_splits
  FROM marked GROUP BY 1
)
SELECT split,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multi_doc_clusters,
       CAST(SUM(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_naive_leaky_clusters
FROM per_cluster GROUP BY 1
"""


@query("corpus_split_leakage_safe", oracle=_leakage_safe_oracle())
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment at the near-dup-CLUSTER
    grain: every doc inherits its connected-component id (singletons
    are their own cluster), and the split is a deterministic md5
    bucket of the CLUSTER id — so a near-dup family can never span
    train and test.  Per split: docs, clusters, multi-doc (dup)
    clusters kept intact, and the audit column a curation run logs:
    how many of this split's clusters a naive doc-hash split would
    have FRAGMENTED across splits (the test-set leakage Lee et al.
    ACL 2022 §6 measure on C4/RealNews).

    The doc-hash twin is ``corpus_split_assign`` — same bucket
    convention, no cluster awareness; this query is the upgrade a
    pipeline swaps in once near-dup clustering runs anyway for dedup.

    Scale shape: reuses the shared five-stage MinHash pipeline and
    the O(log n) large/small-star CC (both plan-asserted elsewhere);
    everything after the labels is cluster-grain — one combinable
    count per cluster, then a ≤3-row final fold.  The naive-leak
    audit adds one COUNT(DISTINCT bucket-of-doc) inside the same
    per-cluster aggregate, not a second corpus pass.
    """
    cc = _shared_cc_star(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    labeled = (
        d.join(
            cc.select(F.col("id").alias("doc_id"), "cluster_id"),
            on="doc_id",
            how="left",
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    cb = hash32(F.col("cluster_id").cast("string")) % 10
    nb = hash32(F.col("doc_id").cast("string")) % 10

    def _split(bucket: F.Column) -> F.Column:
        return (
            F.when(bucket <= 7, F.lit("train"))
            .when(bucket == 8, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    per_cluster = (
        labeled.select(
            "cluster_id",
            _split(cb).alias("csplit"),
            _split(nb).alias("nsplit"),
        )
        .groupBy("cluster_id")
        .agg(
            F.min("csplit").alias("split"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("nsplit").alias("n_naive_splits"),
        )
    )
    return per_cluster.groupBy("split").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum((F.col("n_docs") > 1).cast("int"))
        .cast("bigint")
        .alias("n_multi_doc_clusters"),
        F.sum((F.col("n_naive_splits") > 1).cast("int"))
        .cast("bigint")
        .alias("n_naive_leaky_clusters"),
    )
