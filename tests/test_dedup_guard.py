"""Block-size check for blocked embedding comparison: a skewed (hot)
label above the cap fails loudly, so exact all-pairs pairing never
goes O(n²) unnoticed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aiesec_guc_spark.operators.similarity import check_block_sizes

CAP = 50
HOT_N = 120
COLD_N = 10


def _fixture(spark):
    rows = [("hot", i) for i in range(HOT_N)] + [
        ("cold", 1000 + i) for i in range(COLD_N)
    ]
    return spark.createDataFrame(rows, "label string, vec_id long")


def test_error_mode_raises_on_oversized_block(spark):
    df = _fixture(spark)
    with pytest.raises(RuntimeError, match=r"\('hot',\) exceed max_block_size=50"):
        check_block_sizes(df, ["label"], CAP)


def test_error_mode_passes_under_cap(spark):
    df = _fixture(spark)
    assert check_block_sizes(df, ["label"], HOT_N) is None


# ---------------------------------------------------------------------------
# materialize() checkpoint seam: both modes must produce the same data
# and truncate lineage; 'reliable' is the fault-tolerant cluster path.
# ---------------------------------------------------------------------------


def _roundtrip(spark):
    from aiesec_guc_spark.operators.dedup import materialize

    df = spark.range(100).withColumn("k", F.col("id") % 7)
    out = materialize(df.groupBy("k").count())
    assert out.count() == 7
    # Lineage is truncated: the checkpointed plan is a scan, not the
    # original aggregate.
    assert "Range" not in out._jdf.queryExecution().toString()
    return out


def test_materialize_local_mode(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT", raising=False)
    _roundtrip(spark)


def test_materialize_reliable_mode(spark, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    _roundtrip(spark)


def test_materialize_rejects_unknown_mode(spark, monkeypatch):
    import pytest

    from aiesec_guc_spark.operators.dedup import materialize

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "bogus")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT"):
        materialize(spark.range(1))


def test_shingles_empty_for_sub_n_docs(spark):
    # Sub-n-token docs must yield EMPTY shingle lists (DuckDB's
    # ascending-only generate_series semantics).  Unguarded, Spark's
    # sequence() descends and element_at throws
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT — a crash on any real corpus
    # with short docs, which the synthetic testdata never exposes.
    from pyspark.sql import functions as F

    from aiesec_guc_spark.operators.dedup import (
        char_ngrams_expr,
        minhash_signatures,
        shingle_rows,
    )

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "alpha beta gamma delta"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    rows = shingle_rows(docs, "doc_id", "text").collect()
    assert {r.doc_id for r in rows} == {2}  # only the >=3-token doc shingles
    sigs = minhash_signatures(docs, "doc_id", "text").collect()
    assert {r.doc_id for r in sigs} == {2}  # short docs: no sig rows, no crash

    grams = docs.select(
        "doc_id", F.explode(char_ngrams_expr("text")).alias("g")
    ).collect()
    # "one two" (7 chars) has 4 grams; "x"/"" have none (and no
    # negative-start suffix grams)
    by_doc = {}
    for r in grams:
        by_doc.setdefault(r.doc_id, []).append(r.g)
    assert 3 not in by_doc and 4 not in by_doc
    assert by_doc[1] == ["one ", "ne t", "e tw", " two"]
