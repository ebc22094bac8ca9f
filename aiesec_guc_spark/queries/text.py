"""Text-analysis queries over `documents` (EXT E5 + the training-data
text operators: language-ID, quality scoring, token counting,
fingerprinting).  All JVM-side built-ins — no Python in the scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out_scan, load_table
from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    bpe_token_count,
    fingerprint_md5,
    hash32,
    lang_id,
    n_tokens,
    stopword_ratio,
    ws_tokens,
)
from . import query

_TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"


def _hits_sql(markers: list[str]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKENS_SQL}, t -> t IN ({inlist})))"


# ---------------------------------------------------------------------------
# E5 — corpus statistics by language.
# ---------------------------------------------------------------------------

_STATS_ORACLE = f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars,
       CAST(max(len({_TOKENS_SQL})) AS BIGINT) AS max_tokens
FROM documents
GROUP BY lang
"""


@query("text_stats_by_lang", oracle=_STATS_ORACLE)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: per-language corpus statistics (token/char counts).

    Tokenization is a codegen'd split over the scan — the group-by
    shuffle carries 5 keys."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens("text")).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.max(n_tokens("text")).cast("bigint").alias("max_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality scoring — length/punctuation/stopword heuristics per doc.
# ---------------------------------------------------------------------------

_STOP_IN = ", ".join(f"'{m}'" for m in STOPWORDS)

_QUALITY_ORACLE = f"""
SELECT doc_id,
       len({_TOKENS_SQL}) AS n_tokens,
       CAST(n_chars AS DOUBLE) / len({_TOKENS_SQL}) AS avg_token_len,
       CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
         / len({_TOKENS_SQL}) AS stopword_ratio,
       CASE WHEN len({_TOKENS_SQL}) BETWEEN 20 AND 1000
             AND CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOP_IN}))) AS DOUBLE)
                 / len({_TOKENS_SQL}) BETWEEN 0.01 AND 0.5
            THEN 'keep' ELSE 'drop' END AS quality_bucket
FROM documents
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token counts, avg token length, stopword
    ratio, and a keep/drop bucket — the standard pre-training corpus
    filter shape."""
    d = load_table(spark, sf_dir, "documents")
    nt = n_tokens("text")
    ratio = stopword_ratio("text")
    return d.select(
        "doc_id",
        # bigint, matching the oracle's len() (DuckDB BIGINT) — the
        # driver hash tolerates int-width skew but the dtype-strict
        # local gate (tools/oracle_check.py) does not, by design.
        nt.cast("bigint").alias("n_tokens"),
        (F.col("n_chars").cast("double") / nt).alias("avg_token_len"),
        ratio.alias("stopword_ratio"),
        F.when(
            nt.between(20, 1000) & ratio.between(0.01, 0.5), "keep"
        ).otherwise("drop").alias("quality_bucket"),
    )


# ---------------------------------------------------------------------------
# Language-ID (n-gram / stopword-hit heuristic).
# ---------------------------------------------------------------------------

def _langid_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    hits = {lang: _hits_sql(LANG_MARKERS[lang]) for lang in langs}
    best = "greatest(" + ", ".join(hits[lang] for lang in langs) + ")"
    whens = "\n       ".join(
        f"WHEN {hits[lang]} > 0 AND {hits[lang]} = {best} THEN '{lang}'"
        for lang in langs
    )
    return f"""
SELECT doc_id,
       lang,
       CASE {whens}
       ELSE 'und' END AS lang_pred
FROM documents
"""


@query("text_lang_id", oracle=_langid_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic argmax tie-break.

    (The corpus is a synthetic shared-vocabulary word salad, so the
    prediction is mostly 'en'/'und' regardless of the label — the
    operator shape is what's exercised.)"""
    d = fan_out_scan(spark, load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


# ---------------------------------------------------------------------------
# Token counting with a BPE-ish regex.
# ---------------------------------------------------------------------------

_BPE_ORACLE = r"""
SELECT doc_id,
       len({toks}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
FROM documents
""".replace("{toks}", _TOKENS_SQL)


@query("text_token_counts", oracle=_BPE_ORACLE)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regexp token counts per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(ws_tokens("text")).cast("bigint").alias("n_ws_tokens"),
        bpe_token_count("text").cast("bigint").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Top terms per language — explode + two-phase count + ranking window
# (the vocabulary/frequency pass of corpus analysis).
# ---------------------------------------------------------------------------

TOPK_TERMS = 10

_TOPK_TERMS_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
),
counts AS (
  SELECT lang, term, count(*) AS n
  FROM toks WHERE length(term) > 2 AND term NOT IN ({_STOP_IN})
  GROUP BY lang, term
)
SELECT lang, term, n, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rk
  FROM counts
) WHERE rk <= {TOPK_TERMS}
"""


@query("text_topk_terms_per_lang", oracle=_TOPK_TERMS_ORACLE)
def text_topk_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 non-stopword terms per language by frequency.

    explode happens map-side; the (lang, term) count is two-phase
    (partial agg before the shuffle), and the ranking window runs
    over the already-aggregated counts — shuffle rows = |vocabulary|,
    not |tokens|.  Deterministic tie-break on the term."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("term"),
    )
    counts = (
        toks.filter((F.length("term") > 2) & ~F.col("term").isin(list(STOPWORDS)))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOPK_TERMS)
        .select("lang", "term", "n", "rk")
    )


# ---------------------------------------------------------------------------
# Normalization / redaction — the cleaning pass before tokenization:
# mask digit runs, collapse whitespace; emit the cleaned text's stats
# so the transform is oracle-checkable without huge string outputs.
# ---------------------------------------------------------------------------

_CLEAN_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_masked,
       CAST(length(regexp_replace(trim(regexp_replace(text, '[0-9]+', '<NUM>', 'g')),
                                  '\\s+', ' ', 'g')) AS BIGINT) AS clean_len,
       md5(regexp_replace(trim(regexp_replace(text, '[0-9]+', '<NUM>', 'g')),
           '\\s+', ' ', 'g')) AS clean_fp
FROM documents
"""


@query("text_clean_redact", oracle=_CLEAN_ORACLE)
def text_clean_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning pass: digit runs masked to <NUM>, whitespace
    collapsed; emits mask count, cleaned length, and cleaned-text
    fingerprint (hash-checking the full transform without shipping
    long strings through the gate)."""
    d = load_table(spark, sf_dir, "documents")
    cleaned = F.regexp_replace(
        F.trim(F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>")), r"\s+", " "
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0))
        .cast("bigint")
        .alias("n_masked"),
        F.length(cleaned).cast("bigint").alias("clean_len"),
        F.md5(cleaned).alias("clean_fp"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling — per-language rates via hash
# thresholding (corpus rebalancing: downsample the dominant language,
# keep more of the rare ones).  No rand(): the md5-derived bucket is
# reproducible in any engine and stable across reruns/retries — the
# property that matters for resumable 100 TB sampling jobs.
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 10, "de": 40, "fr": 40, "es": 40}  # percent kept
SAMPLE_DEFAULT_RATE = 25

_SAMPLE_RATE_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items()))
    + f" ELSE {SAMPLE_DEFAULT_RATE} END"
)

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang,
       CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS BIGINT) AS bucket
FROM documents
WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < ({_SAMPLE_RATE_CASE})
"""


@query("sample_stratified_docs", oracle=_SAMPLE_ORACLE)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold stratified sample: keep a doc iff its md5-derived
    bucket (0-99) is under its language's rate.  Pure scan-level
    filter — embarrassingly parallel, deterministic, pushdown-friendly
    on a stored bucket column at scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash32(F.col("text")) % 100
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items(), reverse=True):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        d.withColumn("bucket", bucket.cast("bigint"))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Corpus curation: per-source caps and target-mixture rebalancing —
# the two knobs every pre-training data recipe turns (don't let one
# crawl dominate; hit a prescribed language mixture).
# ---------------------------------------------------------------------------

CAP_PER_SOURCE = 15

_CAP_ORACLE = f"""
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(text), 1, 8))::BIGINT, doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= {CAP_PER_SOURCE}
"""


@query("cap_docs_per_source", oracle=_CAP_ORACLE)
def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most CAP_PER_SOURCE (=15) docs
    per source, chosen by deterministic content-hash rank (hash asc,
    doc_id tie-break) — a uniform random-looking sample that is
    identical across runs, retries, and engines; no rand() anywhere.

    This is the "no single crawl dominates" rule of corpus recipes.
    One shuffle on source + a per-source rank window; a pathologically
    hot source at 100 TB gets a hash-threshold PRE-filter (keep only
    hashes below ~cap/|source| quantile) before the exact rank, so the
    window never sees the full hot partition — same two-stage guard as
    the quantile operators.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(hash32(F.col("text")), F.col("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= CAP_PER_SOURCE)
        .select("doc_id", "source", "rk")
    )


_MIX_ORACLE = """
WITH counts AS (
  SELECT lang, count(*) AS n_before FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_before) // count(*) AS BIGINT) AS n_target FROM counts),
ranked AS (
  SELECT lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(text), 1, 8))::BIGINT, doc_id
         ) AS rk
  FROM documents
)
SELECT c.lang, c.n_before, t.n_target,
       CAST(count(*) FILTER (WHERE r.rk <= t.n_target) AS BIGINT) AS n_kept
FROM counts c
CROSS JOIN tot t
JOIN ranked r ON r.lang = c.lang
GROUP BY c.lang, c.n_before, t.n_target
"""


@query("corpus_mixture_rebalance", oracle=_MIX_ORACLE)
def corpus_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture rebalancing toward a uniform target: each
    language keeps at most ``total // n_langs`` docs (exact-integer
    target — no float shares), selected by the same deterministic
    content-hash rank as ``cap_docs_per_source``.  Output is the
    per-language audit row (n_before, n_target, n_kept) a curation
    pipeline logs: over-represented languages downsample exactly to
    target, under-represented ones keep everything (upsampling is a
    repeat-factor decision made elsewhere).

    Shapes: one grouped count (broadcast back as a 1-row total), one
    per-lang rank window over the doc stream, one grouped conditional
    count.  The EXACT-k rank (not a fraction threshold) is what makes
    the kept count deterministic — a p-threshold sample's size
    fluctuates; a rank cut's doesn't.
    """
    d = load_table(spark, sf_dir, "documents")
    from ..session import materialize

    # counts feeds both the 1-row target fold and the output — one
    # checkpoint, one documents scan
    counts = materialize(
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    )
    # integer floor division (DIV), matching the oracle's `//` exactly
    # — a double division + truncation can diverge past 2^53
    tot = counts.agg(
        F.expr("sum(n_before) div count(1)").cast("bigint").alias("n_target")
    )
    w = Window.partitionBy("lang").orderBy(hash32(F.col("text")), F.col("doc_id"))
    ranked = d.select("lang", F.row_number().over(w).alias("rk"))
    kept = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("lang", "n_target")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("n_target"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept")
        )
    )
    return counts.join(kept, on="lang").select(
        "lang", "n_before", "n_target", "n_kept"
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (md5 canonical form + portable 32-bit hash).
# ---------------------------------------------------------------------------

_FP_ORACLE = """
SELECT doc_id,
       md5(lower(trim(text))) AS fingerprint,
       ('0x' || substr(md5(lower(trim(text))), 1, 8))::BIGINT AS h32
FROM documents
"""


@query("text_fingerprint", oracle=_FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form md5 fingerprint + portable 32-bit hash — the
    primitive under exact dedup and minhash."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint_md5("text").alias("fingerprint"),
        hash32(F.lower(F.trim(F.col("text")))).alias("h32"),
    )


# ---------------------------------------------------------------------------
# Repetition signals — the Gopher-rule quality filters (Rae et al.
# 2021 §A1.1; corpus has no newlines, so the line-level rules
# specialize to their token-level counterparts): type-token ratio,
# most-frequent-token fraction, most-frequent-bigram fraction.
# Training pipelines threshold these to drop boilerplate/spam docs.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE len({_TOKENS_SQL}) >= 2
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
tok_counts AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
tok_stats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS top_c
  FROM tok_counts GROUP BY 1
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM docs
),
bg_counts AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
bg_stats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(MAX(c) AS BIGINT) AS top_bc
  FROM bg_counts GROUP BY 1
)
SELECT t.doc_id, t.n_tokens,
       round(CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 9) AS ttr,
       round(CAST(t.top_c AS DOUBLE) / t.n_tokens, 9) AS top_token_frac,
       round(CAST(b.top_bc AS DOUBLE) / b.n_bigrams, 9) AS top_bigram_frac
FROM tok_stats t JOIN bg_stats b ON t.doc_id = b.doc_id
"""


@query("text_repetition_signals", oracle=_REPETITION_ORACLE)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition/diversity signals: type-token ratio, top
    token fraction, top bigram fraction.

    Scale shape: one explode per signal family, counts folded by
    two-phase grouped aggregation (partial map-side combine on
    (doc_id, gram), then a skinny per-doc max/sum) — the shuffle is
    linear in corpus tokens, and nothing is collected.  All fractions
    are single double divisions of exact integer counts, so both
    engines agree bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    docs = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)

    tok_counts = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_c"),
    )

    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    bg_counts = (
        docs.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg_stats = bg_counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.max("c").cast("bigint").alias("top_bc"),
    )

    return tok_stats.join(bg_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_distinct").cast("double") / F.col("n_tokens"), 9).alias("ttr"),
        F.round(F.col("top_c").cast("double") / F.col("n_tokens"), 9).alias(
            "top_token_frac"
        ),
        F.round(F.col("top_bc").cast("double") / F.col("n_bigrams"), 9).alias(
            "top_bigram_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Pretraining sequence prep: chunk documents into overlapping token
# windows, then pack the token stream into fixed-budget training
# sequences.  Both are pure built-ins (sequence/slice/window), so the
# hot path stays in codegen and the shuffle is linear in tokens.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32  # tokens per training window
CHUNK_STRIDE = 24  # window stride (8-token overlap)
CHUNK_MIN = 8  # drop tail windows shorter than this
PACK_BUDGET = 256  # tokens per packed training sequence

_CHUNK_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE len({_TOKENS_SQL}) >= {CHUNK_MIN}
),
win AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS start,
         toks
  FROM docs
),
chunks AS (
  SELECT doc_id,
         CAST((start - 1) / {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_idx,
         CAST(start AS BIGINT) AS start,
         toks[start : start + {CHUNK_SIZE} - 1] AS chunk
  FROM win
)
SELECT doc_id, chunk_idx, start,
       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM chunks
WHERE len(chunk) >= {CHUNK_MIN}
"""


@query("text_chunk_windows", oracle=_CHUNK_ORACLE)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows per document (size {CHUNK_SIZE},
    stride {CHUNK_STRIDE}) — the context-window chunking step of a
    pretraining pipeline.

    Scale shape: explode over per-doc window starts (rows grow ~
    tokens/stride, i.e. linearly), slice+join computed in codegen per
    output row, no shuffle at all until a downstream consumer groups —
    this is a map-only operator."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    docs = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= CHUNK_MIN)
    win = docs.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_SIZE)
    return (
        win.select(
            "doc_id",
            (((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint") + 1).alias(
                "chunk_idx"
            ),
            F.col("start").cast("bigint").alias("start"),
            F.size(chunk).cast("bigint").alias("chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .filter(F.col("chunk_tokens") >= CHUNK_MIN)
    )


_PACK_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, lang, len({_TOKENS_SQL}) AS tok_cnt FROM documents
),
placed AS (
  SELECT lang, doc_id, tok_cnt,
         SUM(tok_cnt) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM docs
),
binned AS (
  SELECT lang, doc_id, tok_cnt,
         CAST(floor((cum - tok_cnt) / {PACK_BUDGET}) AS BIGINT) AS bin
  FROM placed
)
SELECT lang, bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok_cnt) AS BIGINT) AS total_tokens,
       round(CAST(SUM(tok_cnt) AS DOUBLE) / {PACK_BUDGET}, 9) AS fill_ratio
FROM binned
GROUP BY lang, bin
"""


@query("pack_sequences_by_lang", oracle=_PACK_ORACLE)
def pack_sequences_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: concatenate each language's
    token stream in doc_id order and cut every {PACK_BUDGET} tokens; a
    document belongs to the bin where its first token lands.  Reports
    per-bin document count, token total, and fill ratio — the packing
    efficiency number a pretraining data pipeline watches.

    Scale shape: ONE running-sum window partitioned by lang (ordered
    within partition — never a global single-partition sort; with a
    skewed language, range-partition the order key first) and one
    grouped aggregation; everything else is arithmetic on the cumsum,
    so packing an arbitrarily large corpus is a single shuffle per
    stage."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    docs = d.select("doc_id", "lang", F.size(toks).alias("tok_cnt"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = docs.select(
        "lang",
        "tok_cnt",
        F.floor((F.sum("tok_cnt").over(w) - F.col("tok_cnt")) / PACK_BUDGET)
        .cast("bigint")
        .alias("bin"),
    )
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok_cnt").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("tok_cnt").cast("double") / PACK_BUDGET, 9
        ).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# Training-shard assignment — the deterministic "global shuffle" a
# pretraining loader consumes: hash-sharded, hash-ordered positions.
# ---------------------------------------------------------------------------

_SHARD_ORACLE = """
WITH h AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS hx,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
               AS shard
    FROM documents
)
SELECT doc_id,
       shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
            AS BIGINT) AS pos
FROM h
"""


@query("shard_corpus_for_training", oracle=_SHARD_ORACLE)
def shard_corpus_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training: every doc lands in a
    hash shard (portable md5 convention, so re-runs and both engines
    agree) and gets a contiguous position by hash order within the
    shard — the (shard, pos) pair a data loader reads sequentially
    while the corpus is globally pseudo-randomly ordered.

    No rand() anywhere: retries and speculative tasks reproduce the
    same assignment.  One shuffle (the per-shard ranking window).  The
    8 shards here mirror the oracle; at 100 TB you raise the modulus
    (e.g. 4096) so each shard's window partition stays executor-sized
    — shard count IS the parallelism knob, and the write becomes
    ``partitionBy(shard)`` so loaders seek one directory each.
    """
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    shard = (hash32(F.col("doc_id").cast("string")) % 8).cast("bigint")
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        d.select("doc_id", hx.alias("hx"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction — the first merge's pair statistics.
# ---------------------------------------------------------------------------

_BPE_TOPK = 20

_BPE_PAIRS_ORACLE = f"""
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
    FROM documents
),
words AS (
    SELECT term, count(*) AS wf FROM toks WHERE length(term) >= 2 GROUP BY 1
),
pairs AS (
    SELECT substring(term, CAST(i AS INT), 2) AS pair, wf
    FROM (SELECT term, wf, unnest(range(1, length(term))) AS i FROM words)
),
scored AS (
    SELECT pair, CAST(SUM(wf) AS BIGINT) AS n FROM pairs GROUP BY 1
)
SELECT pair, n, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (ORDER BY n DESC, pair) AS rk FROM scored
) x
WHERE rk <= {_BPE_TOPK}
"""


@query("bpe_first_merge_pairs", oracle=_BPE_PAIRS_ORACLE)
def bpe_first_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding vocabulary induction, step one: the
    corpus-weighted character-bigram counts whose argmax is BPE's
    first merge.  The top-20 pairs are surfaced with a deterministic
    (count desc, pair) tie-break; the single-partition ranking window
    is bounded by the ≤26² distinct pairs, not the data.

    Scale shape: the token stream collapses to the WORD-FREQUENCY
    table first (one map-side-combined count — the same trick real
    BPE trainers use), so the bigram explosion runs over |vocabulary|
    rows, not |tokens|; the pair count is a second two-phase
    aggregate, and the final ranking window sees only distinct pairs
    (≤26²).  At 100 TB the fact is read once and nothing after the
    first count scales with corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("term")
    ).filter(F.length("term") >= 2)
    words = toks.groupBy("term").agg(F.count(F.lit(1)).alias("wf"))
    pairs = words.select(
        "term",
        "wf",
        F.explode(F.sequence(F.lit(1), F.length("term") - 1)).alias("i"),
    ).select(F.expr("substring(term, i, 2)").alias("pair"), "wf")
    scored = pairs.groupBy("pair").agg(F.sum("wf").cast("bigint").alias("n"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _BPE_TOPK)
        .select("pair", "n", "rk")
    )


# ---------------------------------------------------------------------------
# Iterative BPE merge learning — the actual training loop, 3 unrolled
# rounds: count adjacent pairs over the word-frequency table, take the
# argmax, APPLY the merge greedily-left to every word, recount.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3
#: Token separator inside the fold's string accumulator.  RS (0x1e)
#: cannot appear in [a-z]+ tokens, so token boundaries are unambiguous.
_BPE_SEP = "\x1e"


def _apply_merge(frame: DataFrame) -> DataFrame:
    """Greedy-left application of the broadcast merge pair (_ma, _mb)
    to every word's token array, via one anchored ``regexp_replace``
    over the RS-joined token string.

    ``(^|RS)a RS b(?=$|RS)`` matches only WHOLE adjacent tokens (the
    anchors stop substring hits like pair (t,h) inside "at|ha"), the
    lookahead leaves the trailing separator unconsumed so the next
    adjacent occurrence still matches ("x a b a b" merges both), and
    Java's replaceAll resumes AFTER each replacement so an overlapping
    pair is never re-merged ("a a a" + (a,a) → [aa, a] — the greedy-
    left consumption BPE specifies, byte-identical to the DuckDB
    oracle's list_reduce fold).  Tokens are [a-z]+ fragments, so no
    regex metacharacters can appear in the pattern.

    Replaced a per-element lambda fold (``F.aggregate`` with O(len²)
    string accumulation and no codegen) — one compiled regex pass per
    word is the |vocab|-scan shape the 100 TB trainer wants.
    """
    a, b = F.col("_ma"), F.col("_mb")
    pat = F.concat(
        F.lit(f"(^|{_BPE_SEP})"), a, F.lit(_BPE_SEP), b, F.lit(f"(?=$|{_BPE_SEP})")
    )
    folded = F.regexp_replace(
        F.concat_ws(_BPE_SEP, "toks"), pat, F.concat(F.lit("$1"), a, b)
    )
    return frame.select("term", "wf", F.split(folded, _BPE_SEP).alias("toks"))


def _bpe_learn_oracle() -> str:
    def apply_merge(frame: str, m: str) -> str:
        # greedy-left merge of pair (a, b): fold tokens into a
        # sep-joined string; the winning pair GLUES (no separator),
        # everything else appends with the separator; split at the end
        return f"""
  SELECT term, wf,
         string_split(list_reduce(toks, (acc, x) ->
           CASE WHEN acc = {m}.a AND x = {m}.b THEN acc || x
                WHEN ends_with(acc, chr(30) || {m}.a) AND x = {m}.b
                  THEN acc || x
                ELSE acc || chr(30) || x END), chr(30)) AS toks
  FROM {frame}, {m}
"""

    def pairs(frame: str) -> str:
        return f"""
  SELECT toks[i] AS a, toks[i+1] AS b, CAST(SUM(wf) AS BIGINT) AS n
  FROM {frame}, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2
"""

    parts = [
        """
WITH toks0 AS (
  SELECT term, count(*) AS wf FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
    FROM documents
  ) WHERE len(term) >= 2 GROUP BY term
),
chars AS MATERIALIZED (
  SELECT term, wf,
         list_transform(generate_series(1, len(term)), i -> substr(term, i, 1)) AS toks
  FROM toks0
)"""
    ]
    # chars / m{r} / r{r} are each referenced twice (pair count + next
    # round's fold).  Force MATERIALIZED so a CTE-inlining planner
    # never re-evaluates the fold chain once per consumer — plain
    # inlining doubles the |vocab| fold work every round (2^rounds
    # blowup; observed 35.9 s vs sub-second at sf0.01).
    frame = "chars"
    selects = []
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f", p{r} AS ({pairs(frame)})")
        parts.append(
            f", m{r} AS MATERIALIZED"
            f" (SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1)"
        )
        parts.append(f", r{r} AS MATERIALIZED ({apply_merge(frame, f'm{r}')})")
        selects.append(
            f"SELECT {r} AS round, a AS pair_a, b AS pair_b, a || b AS merged, n FROM m{r}"
        )
        frame = f"r{r}"
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """Run the _BPE_ROUNDS training rounds over the corpus's
    word-frequency table.  Returns each round's one-row argmax merge
    ``(a, b, n)`` and the final ``(term, wf, toks)`` word frame."""
    words = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("term")
        )
        .filter(F.length("term") >= 2)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    # char split via between-chars positions: not-at-start AND
    # followed by a char — a bare (?!^) also matches at END and
    # leaves a trailing "" token (Java split keeps trailing empties
    # at limit -1)
    cur = words.select(
        "term", "wf", F.split(F.col("term"), "(?!^)(?=.)").alias("toks")
    )
    merges = []
    for _ in range(_BPE_ROUNDS):
        pairs = (
            cur.filter(F.size("toks") >= 2)
            .select(
                "wf",
                F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
                F.col("toks"),
            )
            .select(
                F.element_at("toks", F.col("i")).alias("a"),
                F.element_at("toks", F.col("i") + 1).alias("b"),
                "wf",
            )
            .groupBy("a", "b")
            .agg(F.sum("wf").cast("bigint").alias("n"))
        )
        merge = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1)
        merges.append(merge)
        cur = _apply_merge(
            cur.crossJoin(
                F.broadcast(
                    merge.select(F.col("a").alias("_ma"), F.col("b").alias("_mb"))
                )
            )
        )
    return merges, cur


@query("bpe_learn_merges", oracle=_bpe_learn_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, the REAL loop (_BPE_ROUNDS = 3 rounds):
    each round counts adjacent token pairs corpus-weighted, picks the
    argmax (count desc, pair asc — deterministic), and applies the
    merge to every word before recounting — ``bpe_first_merge_pairs``
    is this query's round 1.

    The merge application is greedy-left in BOTH engines: the oracle
    folds tokens through DuckDB ``list_reduce`` into an RS-separated
    string accumulator; Spark applies one anchored ``regexp_replace``
    over the RS-joined token string (``_apply_merge`` — provably the
    same consumption: anchors force whole-token matches, replaceAll
    resumes after each replacement so "aaa" + (a,a) → [aa, a], never
    [a, aa]).  Splitting on RS recovers the token array either way.

    Scale shape: all rounds run over the WORD-FREQUENCY table (one
    corpus scan, map-side-combined count — the same compression real
    BPE trainers use), so each round is |vocab| fold work + one
    two-phase pair count; the argmax row broadcasts into the next
    round's fold.  Rounds chain lineage; a long training run would
    localCheckpoint per round exactly like connected components.
    """
    merges, _ = _bpe_train(spark, sf_dir)
    out = None
    for r, merge in enumerate(merges, 1):
        frame = merge.select(
            F.lit(r).alias("round"),
            F.col("a").alias("pair_a"),
            F.col("b").alias("pair_b"),
            F.concat("a", "b").alias("merged"),
            "n",
        )
        out = frame if out is None else out.unionByName(frame)
    return out


def _bpe_apply_oracle() -> str:
    # reuse the learn oracle's CTE chain verbatim up to r3, then count
    # post-merge tokens per TERM and roll up per document
    learn = _bpe_learn_oracle()
    ctes = learn.split("\nSELECT 1 AS round")[0]
    return f"""{ctes},
term_tok AS (
  SELECT term, len(toks) AS n_tok FROM r{_BPE_ROUNDS}
),
doc_terms AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(SUM(COALESCE(t.n_tok, length(d.term))) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(d.term)) AS BIGINT) AS n_chars,
       CAST(SUM(length(d.term)) AS DOUBLE)
         / SUM(COALESCE(t.n_tok, length(d.term))) AS chars_per_token
FROM doc_terms d
LEFT JOIN term_tok t ON t.term = d.term
GROUP BY d.doc_id
"""


@query("bpe_apply_tokenize", oracle=_bpe_apply_oracle())
def bpe_apply_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of tokenizer training: run the 3 merges
    ``bpe_learn_merges`` induces over every vocabulary word, then roll
    the post-merge token counts up per document — n_terms,
    n_bpe_tokens, n_chars, and chars-per-token (the compression ratio
    a tokenizer buys you, measured on the corpus that trained it).

    Scale shape: merges apply once per VOCABULARY word, not per token
    occurrence (the same |vocab| fold as learning); per-doc rollup is
    a (term → n_tok) broadcast join on the exploded term stream + one
    grouped sum.  Words the trainer never saw (here:
    single-letter terms, excluded by the length-≥2 rule) fall back to
    their character count — exactly what a char-fallback tokenizer
    does with OOV input.
    """
    d = load_table(spark, sf_dir, "documents")
    doc_terms = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("term"),
    )

    # retrain with bpe_learn_merges' rounds, keeping only what apply
    # needs: the final token count per word
    _, words = _bpe_train(spark, sf_dir)
    term_tok = words.select("term", F.size("toks").alias("n_tok"))
    # Broadcast the (term → n_tok) side so the exploded per-occurrence
    # stream never shuffles for this join: the planner can't size the
    # deep merge-round plan.  That side is the corpus's distinct word
    # set: 31 terms on the sf0.001-sf0.1 corpora.
    joined = doc_terms.join(F.broadcast(term_tok), on="term", how="left")
    n_tok_eff = F.coalesce(F.col("n_tok"), F.length("term"))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(n_tok_eff).cast("bigint").alias("n_bpe_tokens"),
        F.sum(F.length("term")).cast("bigint").alias("n_chars"),
        (
            F.sum(F.length("term")).cast("double")
            / F.sum(n_tok_eff)
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary fraction — the coverage signal for tokenizer /
# vocab sizing decisions.
# ---------------------------------------------------------------------------

_OOV_VOCAB_K = 1000

_OOV_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
    FROM documents
),
vocab AS (
    SELECT term FROM (
        SELECT term, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, term) AS rk
        FROM toks GROUP BY term
    ) WHERE rk <= {_OOV_VOCAB_K}
),
flags AS (
    SELECT t.doc_id,
           CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
    FROM toks t LEFT JOIN vocab v ON t.term = v.term
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(oov) AS DOUBLE) / count(*) AS oov_ratio
FROM flags
GROUP BY doc_id
"""


@query("text_oov_fraction", oracle=_OOV_ORACLE)
def text_oov_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary fraction against the corpus's
    own top-1000 terms — the coverage statistic behind tokenizer
    vocab-size decisions (a doc with a high OOV ratio under the
    production vocabulary fragments into byte fallbacks and wastes
    sequence length).

    Scale: the vocabulary is induced with one two-phase count and a
    ranking window over distinct terms, then BROADCAST into the
    token stream's left join (a 1000-row hash set per executor — the
    membership probe never shuffles the tokens); the per-doc fold is
    exact integers with one final double division.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("term"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _OOV_VOCAB_K)
        .select(F.col("term").alias("v_term"))
    )
    flags = toks.join(
        F.broadcast(vocab), toks.term == vocab.v_term, "left"
    ).select("doc_id", F.when(F.col("v_term").isNull(), 1).otherwise(0).alias("oov"))
    return flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        (F.sum("oov").cast("double") / F.count(F.lit(1))).alias("oov_ratio"),
    )


# ---------------------------------------------------------------------------
# Importance-weighted sampling — deterministic, integer-exact.
# ---------------------------------------------------------------------------

_WSAMPLE_K = 100  # expected sample size

_WSAMPLE_ORACLE = f"""
WITH tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS w FROM documents)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight
FROM documents, tot
WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT * tot.w
      < {_WSAMPLE_K} * n_chars * 4294967296
"""


@query("sample_weighted_docs", oracle=_WSAMPLE_ORACLE)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted sampling: include a doc with probability
    ∝ its length (expected sample size {k}), decided by the PURE
    INTEGER test ``u·W < k·w·2³²`` (u = portable 32-bit md5 hash,
    w = doc weight, W = Σw) — no floating point, no rand(), so the
    sample is retry/speculation-stable and bit-identical on any
    engine.  The fixed-denominator form requires W < 2³¹ to stay in
    BIGINT; larger corpora pre-scale weights (divide by a power of 2)
    with negligible probability distortion.

    Scale: the total weight is a 1-row broadcast aggregate; the test
    is a scan-level filter — embarrassingly parallel, and pushdown-
    friendly if u·W/w is precomputed at ingest.
    """
    d = load_table(spark, sf_dir, "documents")
    tot = d.agg(F.sum("n_chars").cast("bigint").alias("w"))
    u = hash32(F.col("text"))
    return (
        d.crossJoin(F.broadcast(tot))
        .filter(u * F.col("w") < _WSAMPLE_K * F.col("n_chars") * F.lit(2**32))
        .select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("weight"))
    )


# ---------------------------------------------------------------------------
# Inverted index build — positional posting lists with a portable
# digest (the search-index construction pass, made hash-checkable).
# ---------------------------------------------------------------------------

_POSTINGS_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
pos AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks)),
                                 i -> {{'p': i, 'term': toks[i]}})) AS u
    FROM docs
),
flat AS (SELECT doc_id, u.term AS term, u.p AS p FROM pos),
perdoc AS (
    SELECT term, doc_id,
           count(*) AS tf,
           CAST(doc_id AS VARCHAR) || ':' ||
               string_agg(CAST(p AS VARCHAR), ',' ORDER BY p) AS posting
    FROM flat GROUP BY term, doc_id
)
SELECT term,
       count(*) AS df,
       CAST(SUM(tf) AS BIGINT) AS tf_total,
       ('0x' || substr(md5(string_agg(posting, '|' ORDER BY doc_id)), 1, 8))::BIGINT
           AS postings_digest
FROM perdoc GROUP BY term
"""


@query("inverted_index_postings", oracle=_POSTINGS_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index: term → ordered posting list
    (doc_id : sorted positions), surfaced as per-term df / total tf
    plus a 32-bit md5 digest of the canonical posting string — the
    full index content is hash-pinned cross-engine without shipping
    megabytes of postings through the compare layer.

    Scale shape: posexplode is map-side (rows grow linearly with
    tokens); the (term, doc) grouping is the only token-sized
    shuffle, with positions collected then SORTED (collect order is
    execution-dependent — array_sort IS the determinism contract,
    same as session_path_mining); the per-term reduction runs on the
    |vocabulary × docs| frame.  At 100 TB the posting payload per hot
    term is the skew risk — shard hot terms by doc-range (term,
    doc_bucket) exactly like the segment-dedup hot-key note, and
    concatenate buckets at read time.  Positions are 1-based on both
    engines.
    """
    d = load_table(spark, sf_dir, "documents")
    flat = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("p0", "term"),
    ).select("doc_id", "term", (F.col("p0") + 1).alias("p"))
    perdoc = flat.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.array_join(F.array_sort(F.collect_list(F.col("p"))), ","),
        ).alias("posting"),
    )
    return perdoc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
        F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("doc_id"), F.col("posting")))
                        ).getField("posting"),
                        "|",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("postings_digest"),
    )


# ---------------------------------------------------------------------------
# Filter-cascade attrition report — the sequential keep/drop funnel a
# corpus curation pipeline publishes with every snapshot.
# ---------------------------------------------------------------------------

def _cascade_oracle() -> str:
    toks = _TOKENS_SQL
    stop = _hits_sql(sorted(STOPWORDS))
    p1 = "n_chars >= 100"
    p2 = f"len({toks}) >= 20"
    p3 = f"100 * {stop} BETWEEN 1 * len({toks}) AND 50 * len({toks})"
    p4 = f"2 * len(list_distinct({toks})) >= len({toks})"
    preds = [("min_chars", p1), ("min_tokens", p2), ("stopword_band", p3), ("type_token_ratio", p4)]
    rows = []
    prefix = "TRUE"
    for i, (name, p) in enumerate(preds, start=1):
        rows.append(
            f"SELECT {i} AS stage_idx, '{name}' AS stage,\n"
            f"       CAST(SUM(CASE WHEN {prefix} THEN 1 ELSE 0 END) AS BIGINT) AS n_in,\n"
            f"       CAST(SUM(CASE WHEN ({prefix}) AND NOT ({p}) THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,\n"
            f"       CAST(SUM(CASE WHEN ({prefix}) AND ({p}) THEN 1 ELSE 0 END) AS BIGINT) AS n_out\n"
            f"FROM documents"
        )
        prefix = f"({prefix}) AND ({p})"
    return "\nUNION ALL\n".join(rows)


@query("corpus_filter_cascade", oracle=_cascade_oracle())
def corpus_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential filter-cascade attrition (FineWeb/C4-style): each
    stage reports how many docs reached it, how many it dropped, and
    how many survived — the funnel report that justifies a curation
    pipeline's yield.  Stages: min chars → min tokens → stopword
    band → type-token ratio; every predicate is INTEGER arithmetic
    (100·hits BETWEEN n AND 50·n, 2·distinct ≥ n — no float ratios
    at the decision boundary).

    Scale shape: ONE map pass computes all stage booleans per doc
    (the tokenization is projected once and every predicate reads the
    same array column), ONE 1-row aggregate computes all 12 counters
    with map-side combine, and `stack` fans the wide row into the
    4-stage long format — the fact is read exactly once regardless of
    stage count.
    """
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        "doc_id",
        "n_chars",
        F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
    )
    stop_arr = F.array(*[F.lit(s) for s in sorted(STOPWORDS)])
    counted = toked.select(
        "n_chars",
        F.size("toks").alias("n_tok"),
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).alias("hits"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    flagged = counted.select(
        (F.col("n_chars") >= 100).alias("p1"),
        (F.col("n_tok") >= 20).alias("p2"),
        (
            (F.lit(100) * F.col("hits") >= F.col("n_tok"))
            & (F.lit(100) * F.col("hits") <= F.lit(50) * F.col("n_tok"))
        ).alias("p3"),
        (F.lit(2) * F.col("n_distinct") >= F.col("n_tok")).alias("p4"),
    )
    preds = ["p1", "p2", "p3", "p4"]
    names = ["min_chars", "min_tokens", "stopword_band", "type_token_ratio"]
    aggs = []
    prefix = F.lit(True)
    for i, p in enumerate(preds, start=1):
        cur = F.col(p)
        aggs += [
            F.sum(F.when(prefix, 1).otherwise(0)).alias(f"in_{i}"),
            F.sum(F.when(prefix & ~cur, 1).otherwise(0)).alias(f"drop_{i}"),
            F.sum(F.when(prefix & cur, 1).otherwise(0)).alias(f"out_{i}"),
        ]
        prefix = prefix & cur
    wide = flagged.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{names[i-1]}', in_{i}, drop_{i}, out_{i}" for i in range(1, 5)
    )
    return wide.selectExpr(
        f"stack(4, {stack_args}) AS (stage_idx, stage, n_in, n_dropped, n_out)"
    )


_REPEAT_ORACLE = """
WITH counts AS (
  SELECT lang, count(*) AS n_before FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_before) // count(*) AS BIGINT) AS n_target FROM counts)
SELECT c.lang, c.n_before, t.n_target,
       CAST(CASE WHEN c.n_before >= t.n_target THEN 1
                 ELSE (t.n_target + c.n_before - 1) // c.n_before END AS BIGINT)
         AS repeat_factor,
       CAST(c.n_before * (CASE WHEN c.n_before >= t.n_target THEN 1
                 ELSE (t.n_target + c.n_before - 1) // c.n_before END) AS BIGINT)
         AS n_effective
FROM counts c CROSS JOIN tot t
"""


@query("corpus_repeat_factors", oracle=_REPEAT_ORACLE)
def corpus_repeat_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPSAMPLING half of mixture planning (complement of
    ``corpus_mixture_rebalance``): under-represented languages get an
    integer epoch repeat factor ``ceil(target / n)`` — the
    "see this slice k times per epoch" knob training recipes use —
    while languages at/over target stay at 1 (downsampling is the
    rebalance query's job).  All integer arithmetic (ceil as
    ``(a+b-1) // b``), so the plan is engine-exact; one grouped count
    + a broadcast 1-row target."""
    d = load_table(spark, sf_dir, "documents")
    from ..session import materialize

    # counts feeds both the 1-row target fold and the factor select
    counts = materialize(
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    )
    # integer floor division (DIV), matching the oracle's `//` exactly
    tot = counts.agg(
        F.expr("sum(n_before) div count(1)").cast("bigint").alias("n_target")
    )
    j = counts.crossJoin(F.broadcast(tot))
    # integer ceil as (a + b - 1) div b — never a floored double ratio
    factor = F.when(F.col("n_before") >= F.col("n_target"), F.lit(1)).otherwise(
        F.expr("(n_target + n_before - 1) div n_before")
    ).cast("bigint")
    return j.select(
        "lang",
        "n_before",
        "n_target",
        factor.alias("repeat_factor"),
        (F.col("n_before") * factor).cast("bigint").alias("n_effective"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — hash-bucket assignment.  The
# split every training pipeline needs must be (a) stable across
# re-runs and cluster layouts, (b) shuffle-free to assign, and
# (c) auditable.  md5(doc_id) % 100 gives all three: assignment is a
# pure projection (no rand(), no global sort), and this query is the
# audit — per (split, lang) volume so a skewed split is caught before
# a single training token is written.
# ---------------------------------------------------------------------------

_SPLIT_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"

_SPLIT_ORACLE = f"""
SELECT CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY 1, 2
"""


@query("corpus_split_assign", oracle=_SPLIT_ORACLE)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by portable hash bucket
    (md5(doc_id) % 100 — functions/text.py hash32), reported as the
    per-(split, lang) volume audit: doc, whitespace-token, and char
    counts.

    Scale shape: assignment is a PROJECTION — every executor computes
    its rows' buckets independently with no shuffle, no rand() (which
    breaks on retry/speculation), and no global sort; re-running on a
    regrown corpus keeps every previously-assigned doc in its split
    (hash of the id, not of position).  The audit itself is one
    map-side-combined group-by over ≤ 3·|langs| cells."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", n_tokens("text").alias("nt"), "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate detection by document frequency — the C4-style screen
# for template fragments (headers, footers, cookie banners) that
# appear verbatim across many documents of a source.  A gram's DOC
# frequency (not term frequency) is the boilerplate signal: content
# grams concentrate in few docs, template grams blanket the source.
# ---------------------------------------------------------------------------

_BOILER_N = 2  # gram width; 2 keeps the screen sensitive on short docs
_BOILER_MIN_FRAC = 0.2  # flag grams present in >= 20% of a source's docs

_BOILER_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id, {_TOKENS_SQL} AS t FROM documents
  WHERE len({_TOKENS_SQL}) >= {_BOILER_N}
),
grams AS (
  SELECT DISTINCT source, doc_id,
         unnest(list_transform(generate_series(1, len(t) - {_BOILER_N - 1}),
                               i -> t[i] || ' ' || t[i+1])) AS gram
  FROM toks
),
src AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM toks GROUP BY 1),
df AS (
  SELECT source, gram, CAST(count(*) AS BIGINT) AS df
  FROM grams GROUP BY 1, 2
)
SELECT d.source, d.gram, d.df,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       CAST(d.df AS DOUBLE) / s.n_docs AS df_frac
FROM df d JOIN src s USING (source)
WHERE d.df * 5 >= s.n_docs
"""


@query("boilerplate_bigram_df", oracle=_BOILER_ORACLE)
def boilerplate_bigram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, gram, df, n_docs, df_frac): word bigrams present in
    ≥ {_BOILER_MIN_FRAC:.0%} of a source's documents — the
    document-frequency screen that finds template/boilerplate
    fragments before they get memorized (C4's "repeated lines"
    filter, generalized to grams).

    Scale shape: grams are DISTINCT-per-doc before counting (term
    frequency inside one doc must not fake document frequency), which
    is one map-side-combinable distinct+count keyed by (source,
    gram); the per-source doc totals are a tiny broadcast join; the
    threshold compares as exact integers (df·5 ≥ n_docs — no float
    cutoff), with df_frac published as a single final division."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        "source", "doc_id", ws_tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= _BOILER_N)
    grams = toked.select(
        "source",
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_BOILER_N - 1}),"
                " i -> concat(t[i-1], ' ', t[i]))"
            )
        ).alias("gram"),
    ).distinct()
    src = toked.groupBy("source").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs")
    )
    df = grams.groupBy("source", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return (
        df.join(F.broadcast(src), on="source")
        .filter(F.col("df") * 5 >= F.col("n_docs"))
        .select(
            "source",
            "gram",
            "df",
            "n_docs",
            (F.col("df").cast("double") / F.col("n_docs")).alias("df_frac"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval — score every document against a fixed keyword query
# and return the top-k.  The retrieval primitive behind "find the
# best-matching docs for this prompt" over a crawled corpus: term
# frequency saturates (k1), long documents are normalized (b), rare
# terms weigh more (idf).
# ---------------------------------------------------------------------------

BM25_TERMS = ("hash", "join", "stream")  # fixed query, fixed fold order
BM25_TOPK = 20
# k1 = 6/5, b = 3/4 as exact rationals; idf is the log-free variant
# idf(t) = (N - df + 1/2) / (df + 1/2) = (2N-2df+1)/(2df+1) so every
# per-term contribution is ONE double division of two exact integers:
#   tf_part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))    with
#   avgdl = T/N (kept as the rational T/N, never a float) gives
#   contrib = (2N-2df+1) * 44*tf*T / ((2df+1)*(20*T*tf + 6*T + 18*dl*N))


def _bm25_oracle() -> str:
    tf_exprs = ",\n         ".join(
        f"CAST(length(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in BM25_TERMS
    )
    contribs = " + ".join(
        f"""(CAST((2*g.n_docs - 2*g.df_{t} + 1) * 44 * s.tf_{t} * g.total_len AS DOUBLE)
           / CAST((2*g.df_{t} + 1)
                  * (20 * g.total_len * s.tf_{t} + 6 * g.total_len
                     + 18 * s.dl * g.n_docs) AS DOUBLE))"""
        for t in BM25_TERMS
    )
    df_aggs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in BM25_TERMS
    )
    tf_cols = ", ".join(f"s.tf_{t}" for t in BM25_TERMS)
    return f"""
WITH s AS (
  SELECT doc_id,
         CAST(length(toks) AS BIGINT) AS dl,
         {tf_exprs}
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
        FROM documents)
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len,
         {df_aggs}
  FROM s
)
SELECT s.doc_id, s.dl, {tf_cols},
       {contribs} AS score
FROM s, g
WHERE {" + ".join(f"s.tf_{t}" for t in BM25_TERMS)} > 0
ORDER BY score DESC, s.doc_id
LIMIT {BM25_TOPK}
"""


@query("text_bm25_retrieval", oracle=_bm25_oracle())
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} documents by BM25 for the fixed query {terms}: per-doc
    (doc_id, dl, tf_<term>..., score).

    Engine-exact floats: k1=6/5 and b=3/4 are exact rationals, avgdl
    stays the rational total_len/n_docs (never a float), and the
    log-free idf (2N-2df+1)/(2df+1) makes each term's contribution a
    SINGLE double division of two exact BIGINT products, summed in
    the fixed literal term order — so Spark and DuckDB produce
    bit-identical scores.  (At 100 TB the two products would be
    widened to DECIMAL(38,0) before the division — they stay exact;
    BIGINT suffices at every test SF and is what both engines run
    here.)

    Scale shape: the per-doc stats (dl, tf per query term) are a pure
    PROJECTION — `size(filter(tokens, ...))` on the token array, no
    explode, no shuffle.  The corpus-level constants (N, total_len,
    df per term) are ONE map-side-combinable global aggregate row,
    broadcast back by the 1-row cross join.  The final top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort).  Net
    cost at 100 TB: one scan + one 1-row agg + one heap — the minimum
    possible for exact corpus-wide BM25.
    """
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.expr(f"CAST(size(filter(toks, x -> x = '{t}')) AS BIGINT)").alias(
                f"tf_{t}"
            )
            for t in BM25_TERMS
        ],
    )
    from ..session import materialize

    # the per-doc stats projection feeds both the corpus-constant fold
    # and the scoring select — checkpoint it so the regex tokenize over
    # every document runs once, not per branch
    s = materialize(s)
    g = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).cast("bigint").alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    contrib = None
    for t in BM25_TERMS:
        num = (
            (2 * F.col("n_docs") - 2 * F.col(f"df_{t}") + 1)
            * 44
            * F.col(f"tf_{t}")
            * F.col("total_len")
        ).cast("double")
        den = (
            (2 * F.col(f"df_{t}") + 1)
            * (
                20 * F.col("total_len") * F.col(f"tf_{t}")
                + 6 * F.col("total_len")
                + 18 * F.col("dl") * F.col("n_docs")
            )
        ).cast("double")
        term = num / den
        contrib = term if contrib is None else contrib + term
    any_tf = None
    for t in BM25_TERMS:
        c = F.col(f"tf_{t}")
        any_tf = c if any_tf is None else any_tf + c
    return (
        s.crossJoin(F.broadcast(g))
        .filter(any_tf > 0)
        .select("doc_id", "dl", *[f"tf_{t}" for t in BM25_TERMS], contrib.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps'-law audit) — how fast does the corpus
# vocabulary grow as docs accumulate?  The curation signal that
# separates organic text (sublinear, Heaps-like growth) from
# templated/synthetic floods (vocab flatlines) — and the sizing input
# for tokenizer training.  Exact at every checkpoint WITHOUT re-
# scanning per checkpoint: vocab(d) = #terms whose FIRST occurrence
# is at decile ≤ d, so one min-aggregate answers all ten.
# ---------------------------------------------------------------------------

from ..functions.text import H32_SQL as _H32  # noqa: E402 — single-sourced idiom

_VOCAB_GROWTH_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text,
         CAST({_H32.format(x="CAST(doc_id AS VARCHAR)")} % 10 + 1 AS INT)
           AS decile
  FROM documents
),
toks AS (
  SELECT decile, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM d
),
firsts AS (
  SELECT term, MIN(decile) AS first_decile FROM toks GROUP BY term
),
perd AS (
  SELECT first_decile AS decile, CAST(count(*) AS BIGINT) AS new_terms
  FROM firsts GROUP BY 1
),
docs_per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1
)
SELECT dp.decile,
       CAST(SUM(dp.n_docs) OVER (ORDER BY dp.decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_docs,
       CAST(COALESCE(p.new_terms, 0) AS BIGINT) AS new_terms,
       CAST(SUM(COALESCE(p.new_terms, 0)) OVER (ORDER BY dp.decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM docs_per dp LEFT JOIN perd p ON p.decile = dp.decile
"""


@query("corpus_vocab_growth", oracle=_VOCAB_GROWTH_ORACLE)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(decile, cum_docs, new_terms, vocab_size): the vocabulary
    growth curve over a deterministic md5-ordered 10-way split of the
    corpus — Heaps'-law-shaped for organic text, flat for templated
    floods; also the tokenizer-training sizing input.

    The trick that makes ten checkpoints cost ONE pass: vocab(d) is
    the number of terms whose FIRST decile is ≤ d, so a single
    min-aggregate per term (map-side combinable) plus a 10-row
    running sum answers every checkpoint — no per-checkpoint rescan,
    no 10-way distinct.  The decile is a pure md5-bucket PROJECTION
    (hash32(doc_id) % 10 — the corpus_split_assign convention):
    retry-stable, engine-identical, and NO global window anywhere —
    bucket sizes are multinomial rather than exactly equal, which the
    growth curve doesn't need (cum_docs reports the actual counts).

    Scale shape: the only corpus-sized shuffle is the term
    min-aggregate (combinable: shuffle rows ≤ |vocab| × partitions);
    the windows at the end run over a 10-row frame.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (hash32(F.col("doc_id").cast("string")) % 10 + 1)
        .cast("int")
        .alias("decile"),
    )
    toks = d.select(
        "decile",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    firsts = toks.groupBy("term").agg(F.min("decile").alias("first_decile"))
    perd = firsts.groupBy(F.col("first_decile").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_terms")
    )
    docs_per = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        docs_per.join(perd, "decile", "left")
        .select(
            "decile",
            F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
            F.coalesce("new_terms", F.lit(0)).cast("bigint").alias("new_terms"),
            F.sum(F.coalesce("new_terms", F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("vocab_size"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality score (CCNet-style) — score each document by how
# probable its word bigrams are under a Laplace-smoothed LM trained on
# the corpus itself.  The classic LM-perplexity quality filter
# re-expressed log-free: the per-doc statistic is the LOWER MEDIAN of
# the per-bigram probabilities — a realized (c12+1)/(c1+V) value, ONE
# double division of exact integers — so both engines agree
# bit-for-bit where a mean-log fold (true perplexity) would sum
# doubles in engine-dependent order.
# ---------------------------------------------------------------------------

_LM_QUALITY_ORACLE = """
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
),
binst AS (
  SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])) AS bg
    FROM d
  )
),
bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM binst GROUP BY 1),
ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM binst GROUP BY 1),
v AS (
  SELECT CAST(count(DISTINCT term) AS BIGINT) AS vocab
  FROM (SELECT unnest(toks) AS term FROM d)
),
scored AS (
  SELECT b.doc_id, b.bg,
         CAST(g.c12 + 1 AS DOUBLE) / CAST(c.c1 + v.vocab AS DOUBLE) AS p
  FROM binst b JOIN bgc g USING (bg) JOIN ctx c ON b.w1 = c.w1
  CROSS JOIN v
),
ranked AS (
  SELECT doc_id, bg, p,
         row_number() OVER (PARTITION BY doc_id ORDER BY p, bg) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM scored
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, p AS med_prob
FROM ranked WHERE rn = (n + 1) // 2
"""


@query("text_bigram_lm_quality", oracle=_LM_QUALITY_ORACLE)
def text_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score per document: the lower-median
    Laplace-smoothed bigram probability (c₁₂+1)/(c₁+V) under a bigram
    model trained on the corpus itself — low scores flag gibberish /
    boilerplate, high scores flag fluent (or memorized) text.

    Determinism choices: the LOWER median is a realized probability —
    one double division of exact BIGINTs — never an interpolated
    midpoint (Spark and DuckDB lerp differently), and never a mean of
    logs (engine-order double summation).  Ties in p break on the
    bigram string, so the picked element is unique.

    Scale shape: bigram instances are built by a zero-shuffle
    projection (slice+transform over the token array — no posexplode
    self-join); the model is two map-side-combinable count
    aggregates whose output is VOCABULARY-sized, not corpus-sized;
    scoring joins instances to those counts on the bigram key (AQE
    handles hot-bigram skew) and V arrives via a 1-row broadcast.
    The median hunt is a per-doc window — bounded by document
    length, never corpus-global.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("toks"),
    )
    binst = (
        d.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, size(toks)-1),"
                    " (x, i) -> concat(x, ' ', toks[i+1]))"
                )
            ).alias("bg"),
        )
        .withColumn("w1", F.expr("split_part(bg, ' ', 1)"))
    )
    # Three consumers (two model aggregates on different keys + the
    # scoring join) would each re-run the tokenize/explode scan — the
    # regex pass over every document is the dominant cost, so
    # checkpoint the instance table once (same within-query pattern as
    # the MinHash pipeline; at 100 TB this is "materialize the bigram
    # table", the standard LM-training layout anyway).
    from ..session import materialize

    binst = materialize(binst)
    bgc = binst.groupBy("bg").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    ctx = binst.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    v = d.select(F.explode("toks").alias("term")).agg(
        F.count_distinct("term").cast("bigint").alias("vocab")
    )
    scored = (
        binst.join(bgc, "bg")
        .join(ctx, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "bg",
            (
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("vocab")).cast("double")
            ).alias("p"),
        )
    )
    wd = Window.partitionBy("doc_id")
    ranked = scored.select(
        "doc_id",
        "p",
        F.row_number().over(wd.orderBy("p", "bg")).alias("rn"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_bigrams"),
        F.col("p").alias("med_prob"),
    )


# ---------------------------------------------------------------------------
# Zipf's-law slope per language — the companion diagnostic to the
# Heaps'-law curve (corpus_vocab_growth): organic text shows a
# log-frequency vs log-rank slope near −1; templated or synthetic
# floods flatten or cliff it.  Octave-binned (⌊log2⌋ on both axes) so
# the regression is exact integer arithmetic end-to-end.
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
),
freqs AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS f
  FROM toks GROUP BY 1, 2
),
ranked AS (
  SELECT lang,
         CAST(length(bin(row_number() OVER (
           PARTITION BY lang ORDER BY f DESC, term))) - 1 AS BIGINT) AS x,
         CAST(length(bin(f)) - 1 AS BIGINT) AS y
  FROM freqs
),
s AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM ranked GROUP BY 1
)
SELECT lang, n AS n_terms,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
FROM s
WHERE n > 1 AND n * sxx - sx * sx <> 0
"""


@query("text_zipf_octave_slope", oracle=_ZIPF_ORACLE)
def text_zipf_octave_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language: the Zipf slope — OLS of ⌊log2 freq⌋ on
    ⌊log2 rank⌋ over the term-frequency table (≈ −1 for organic text,
    flatter for templated floods).  Pairs with `corpus_vocab_growth`
    as the two classic power-law health checks a tokenizer-training
    corpus gets.

    Octave binning via length(bin(n))−1 keeps both axes exact
    integers (no libm log whose ulp could differ per engine), and the
    OLS uses the sufficient-statistics fold (n, Σx, Σy, Σxy, Σx² —
    all BIGINT) with ONE double division at the end, the same
    discipline as `nation_revenue_trend_ols`.

    Scale shape: the only corpus-sized operation is the (lang, term)
    count — map-side combinable, shuffle keyed on the pair.  The rank
    window partitions by lang over the VOCABULARY-sized frequency
    table (Heaps: ≪ corpus; same posture as text_topk_terms_per_lang),
    and the regression folds each language to five integers.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    freqs = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("f"), "term")
    ranked = freqs.select(
        "lang",
        (F.length(F.bin(F.row_number().over(w))) - 1).cast("bigint").alias("x"),
        (F.length(F.bin("f")) - 1).cast("bigint").alias("y"),
    )
    s = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.filter((F.col("n") > 1) & (den != 0)).select(
        "lang",
        F.col("n").alias("n_terms"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / den.cast("double")
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Temperature-balanced language mixture (τ = 0.5) — the multilingual
# corpus-balancing rule of XLM-R (Conneau et al. 2020) / mT5 (Xue et
# al. 2021): sampling weights ∝ n_lang^τ flatten the head without
# drowning low-resource languages.  τ = 0.5 is the one fractional
# power that stays cross-engine exact: IEEE sqrt is correctly rounded
# in both the JVM and libm, so floor(sqrt(n·10⁶)) is the SAME scaled
# integer everywhere — all downstream arithmetic is exact integers.
# ---------------------------------------------------------------------------

_TEMP_MIX_ORACLE = """
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before FROM documents GROUP BY 1),
s AS (SELECT lang, n_before,
             CAST(FLOOR(SQRT(CAST(n_before AS DOUBLE) * 1000000)) AS BIGINT) AS sw
      FROM c),
t AS (SELECT CAST(SUM(n_before) AS BIGINT) AS n_total,
             CAST(SUM(sw) AS BIGINT) AS sw_sum FROM s)
SELECT s.lang, s.n_before,
       CAST((CAST(s.sw AS HUGEINT) * 1000000) // t.sw_sum AS BIGINT) AS weight_ppm,
       CAST((CAST(t.n_total AS HUGEINT) * s.sw) // t.sw_sum AS BIGINT) AS n_target
FROM s CROSS JOIN t
"""


@query("corpus_temperature_mixture", oracle=_TEMP_MIX_ORACLE)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling plan under temperature τ = 0.5: weight
    each language ∝ √n_docs, emit the exact-integer ppm share and the
    resampled document target at the same total corpus size.  The
    uniform-target twin is ``corpus_mixture_rebalance``; this one
    keeps head languages partially dominant instead of hard-capping.

    Determinism: the ONLY floating step is one correctly-rounded
    sqrt per language (identical in JVM and libm); the scaled weight
    floor(√(n·10⁶)) is then exact BIGINT, and shares/targets are
    integer products floor-divided in DECIMAL(38,0) (HUGEINT on the
    oracle side) — no float shares, no order-dependent double sums.

    Scale shape: one combinable grouped count (≤ a few hundred
    language rows), a 1-row total broadcast back — nothing here grows
    with corpus size except the initial count scan.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_before"))
    s = c.withColumn(
        "sw",
        F.floor(F.sqrt(F.col("n_before").cast("double") * F.lit(1000000.0))).cast(
            "bigint"
        ),
    )
    from ..session import materialize

    # s feeds both the 1-row (n_total, sw_sum) fold and the share
    # select — one checkpoint, one documents scan
    s = materialize(s)
    t = s.agg(
        F.sum("n_before").cast("bigint").alias("n_total"),
        F.sum("sw").cast("bigint").alias("sw_sum"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_before",
        F.expr(
            "cast((cast(sw as decimal(38,0)) * 1000000) div sw_sum as bigint)"
        ).alias("weight_ppm"),
        F.expr(
            "cast((cast(n_total as decimal(38,0)) * sw) div sw_sum as bigint)"
        ).alias("n_target"),
    )


# Interpolate build-time constants into docstrings (see events.py).
text_bm25_retrieval.__doc__ = text_bm25_retrieval.__doc__.format(
    k=BM25_TOPK, terms=", ".join(BM25_TERMS)
)
boilerplate_bigram_df.__doc__ = boilerplate_bigram_df.__doc__.format(
    _BOILER_MIN_FRAC=_BOILER_MIN_FRAC
)
sample_weighted_docs.__doc__ = sample_weighted_docs.__doc__.format(
    k=_WSAMPLE_K
)
pack_sequences_by_lang.__doc__ = pack_sequences_by_lang.__doc__.format(
    PACK_BUDGET=PACK_BUDGET
)
text_chunk_windows.__doc__ = text_chunk_windows.__doc__.format(
    CHUNK_SIZE=CHUNK_SIZE, CHUNK_STRIDE=CHUNK_STRIDE
)
