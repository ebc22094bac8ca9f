"""Edge components: scrape-source connector, multimodal plumbing,
report sinks, incremental streaming delta."""

from __future__ import annotations

import pytest

from aiesec_guc_spark.operators.multimodal import (
    as_media_table,
    decode_image_stub,
    extract_features,
)
from aiesec_guc_spark.sinks.report import notify_if_nonempty, render_cards_html
from aiesec_guc_spark.sources.fixtures import snapshot_pair
from aiesec_guc_spark.sources.listing_scrape import read_pages


def test_listing_scrape_datasource(spark):
    df = read_pages(spark)
    rows = df.collect()
    assert len(rows) == 7
    assert df.columns == ["page_id", "html"]
    # partitioned per page
    assert {r["page_id"] for r in rows} == {1, 2, 3}


def test_scrape_to_delta_pipeline(spark):
    """S1→S2→J1 end to end: scrape source → card extraction →
    snapshot delta against an empty yesterday (everything is new)."""
    from aiesec_guc_spark.functions.html_cards import extract_cards
    from aiesec_guc_spark.operators.snapshot import snapshot_delta

    cards = read_pages(spark)
    today = extract_cards(cards)
    _, yesterday = snapshot_pair(spark)
    delta = snapshot_delta(today, yesterday, keys=["opportunity_id"])
    assert delta.count() == 6  # fixture IDs don't collide with the pair


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"bytes")


def test_multimodal_feature_batch_alignment(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "hello world")], "doc_id long, text string"
    )
    feats = {r["doc_id"]: r for r in extract_features(as_media_table(docs)).collect()}
    assert feats[1]["n_bytes"] == 3
    assert feats[1]["checksum16"] == sum(b"abc")
    assert feats[2]["checksum16"] == sum(b"hello world"[:16])
    assert feats[2]["decode_status"] == "stubbed"


def test_notify_guard(spark):
    today, yesterday = snapshot_pair(spark)
    sent: list[str] = []
    from aiesec_guc_spark.operators.snapshot import snapshot_delta

    delta = snapshot_delta(today, yesterday, keys=["opportunity_id"])
    assert notify_if_nonempty(render_cards_html(delta.toPandas()), send=sent.append)
    assert len(sent) == 1 and "Fresh Opening" in sent[0]
    empty = delta.filter("1 = 0")
    assert not notify_if_nonempty(render_cards_html(empty.toPandas()), send=sent.append)
    assert len(sent) == 1


def test_render_cards_contains_premium_badge(spark):
    today, _ = snapshot_pair(spark)
    html = render_cards_html(today.filter(today.premium == "Yes").toPandas())
    assert "badge" in html and "Premium" in html


def test_render_email_bytes_are_pinned(spark):
    """Exact card and email bytes for a collected two-row delta: the
    premium badge, a null field rendered as "null" (the Java formatter's
    rendering, which the email has always shown), the newline card
    separator, and "" for an empty frame."""
    from aiesec_guc_spark.sinks.report import render_email_html

    delta = spark.createDataFrame(
        [
            ("http://x/1", "T1", "Org", "DE", "6w", "Yes"),
            ("http://x/2", "T2", None, "EG", "N/A", "No"),
        ],
        "opportunity_link string, title string, organization string, "
        "country string, duration string, premium string",
    ).toPandas()
    cards = (
        '<div class="card"><h3><a href="http://x/1">T1</a></h3>'
        '<p>Org · DE · 6w</p><span class="badge">Premium</span></div>\n'
        '<div class="card"><h3><a href="http://x/2">T2</a></h3>'
        "<p>null · EG · N/A</p></div>"
    )
    assert render_cards_html(delta) == cards
    assert render_email_html(delta) == (
        "<!DOCTYPE html>\n<html>\n<head>\n"
        '  <meta charset="UTF-8">\n'
        "  <title>New Opportunities</title>\n"
        "</head>\n<body>\n" + cards + "\n</body>\n</html>"
    )
    assert render_cards_html(delta.iloc[:0]) == ""
    assert render_email_html(delta.iloc[:0]) == ""


def test_multiprobe_recall_dominates_single_bucket(spark, sf_dir):
    """Multi-probe ANN candidates are a superset of the single-bucket
    variant, so at every rank its cosine is >= the single-bucket one
    (recall can only improve)."""
    from aiesec_guc_spark.queries import spark_queries

    q = spark_queries()
    single = q["similarity_ann_lsh"](spark, sf_dir).collect()
    multi = q["similarity_ann_multiprobe"](spark, sf_dir).collect()
    assert len(multi) >= len(single)
    # Rank-wise dominance: the best-of-a-superset at rank i is at
    # least as close as the single-bucket result at rank i.  (Set
    # containment of ids is NOT implied — a closer multi-probe hit
    # may displace a single-bucket one from the top-k.)
    for i, s in enumerate(single):
        assert multi[i]["cosine"] >= s["cosine"]


def test_rolling_distinct_single_day_and_empty(spark):
    import datetime

    from aiesec_guc_spark.operators.rolling import rolling_distinct_count

    d0 = datetime.date(2024, 5, 1)
    one = spark.createDataFrame([(1, d0), (2, d0)], "user_id int, d date")
    got = rolling_distinct_count(one, "user_id", "d", 7).collect()
    assert [(r["day"], r["n_distinct"]) for r in got] == [(d0, 2)]

    empty = spark.createDataFrame([], "user_id int, d date")
    assert rolling_distinct_count(empty, "user_id", "d", 7).count() == 0


def test_collapse_runs_single_rows_and_empty(spark):
    from aiesec_guc_spark.operators.scd import collapse_runs

    # Alternating values never merge; a lone row is its own run.
    df = spark.createDataFrame(
        [(1, 1, "A"), (1, 2, "B"), (1, 3, "A"), (2, 5, "C")],
        "k int, t int, v string",
    )
    got = sorted(
        (r["k"], r["valid_from"], r["valid_to"], r["v"], r["n_steps"])
        for r in collapse_runs(df, "k", "t", "v").collect()
    )
    assert got == [(1, 1, 1, "A", 1), (1, 2, 2, "B", 1), (1, 3, 3, "A", 1),
                   (2, 5, 5, "C", 1)]

    empty = spark.createDataFrame([], "k int, t int, v string")
    assert collapse_runs(empty, "k", "t", "v").count() == 0


def test_bpe_apply_merge_matches_greedy_left_fold(spark):
    # _apply_merge's anchored regexp_replace must reproduce the greedy-
    # left fold semantics the DuckDB oracle encodes with list_reduce —
    # checked on the adversarial shapes: overlapping runs ("aaa"),
    # repeated adjacency ("abab"), substring-of-token traps ("at ha"
    # must NOT merge on pair (t, h)), and matches at both ends.
    from pyspark.sql import functions as F

    from aiesec_guc_spark.queries.text import _apply_merge

    def greedy(toks, a, b):
        out = []
        i = 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b"], "a", "b"),
        (["x", "a", "b", "a", "b"], "a", "b"),
        (["at", "ha"], "t", "h"),
        (["t", "h", "e"], "t", "h"),
        (["b", "a", "b"], "a", "b"),
        (["ab", "a", "b"], "a", "b"),
        (["a"], "a", "a"),
        (["er", "r", "er", "r"], "er", "r"),
    ]
    rows = [(i, toks, a, b) for i, (toks, a, b) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "term int, toks array<string>, _ma string, _mb string"
    ).withColumn("wf", F.lit(1))
    # _apply_merge keys its output on (term, wf, toks)
    got = {
        r["term"]: list(r["toks"]) for r in _apply_merge(df).collect()
    }
    for i, (toks, a, b) in enumerate(cases):
        assert got[i] == greedy(toks, a, b), (i, toks, a, b, got[i])
