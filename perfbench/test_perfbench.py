"""Self-tests for the benchmark's pure parts (no Spark, no JVM):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import urllib.error
import urllib.request

import pyarrow.parquet as pq
import pytest

from gen import CHURN_CHANGED, CHURN_REMOVED, NOISE_HTML, ListingGen, write_corpus
from listing_server import ListingServer
from measure import Tracer, host_window, median, tail_percentile
from run import unit_of
from workloads import PER_LAYER, QUERY_MIX

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _days(seed, n_cards=200, n_days=4):
    g = ListingGen(seed, n_cards)
    return [g.next_day() for _ in range(n_days)]


def test_generator_is_deterministic_per_seed():
    a, b, c = _days(7), _days(7), _days(8)
    assert [d.pages for d in a] == [d.pages for d in b]
    assert [d.new_ids for d in a] == [d.new_ids for d in b]
    assert [d.pages for d in a] != [d.pages for d in c]


def test_churn_bookkeeping():
    days = _days(3, n_cards=500, n_days=5)
    first = days[0]
    assert first.new_ids == {c.opp_id for c in first.cards}
    assert not first.changed_ids and not first.removed_ids
    for prev, day in zip(days, days[1:]):
        prev_ids = {c.opp_id for c in prev.cards}
        ids = {c.opp_id for c in day.cards}
        assert len(ids) == len(day.cards) == 500
        assert len(day.removed_ids) == len(day.new_ids) == round(CHURN_REMOVED * 500)
        assert day.removed_ids <= prev_ids and not day.new_ids & prev_ids
        assert ids == (prev_ids - day.removed_ids) | day.new_ids
        assert len(day.changed_ids) == round(CHURN_CHANGED * 500)
        assert day.changed_ids <= ids - day.new_ids
        assert day.seen_ids == prev.seen_ids | day.new_ids


def test_changed_cards_change_markup_and_others_do_not():
    g = ListingGen(5, 300)
    prev = {c.opp_id: c.html() for c in g.next_day().cards}
    day = g.next_day()
    for c in day.cards:
        if c.opp_id in day.new_ids:
            continue
        assert (c.html() != prev[c.opp_id]) == (c.opp_id in day.changed_ids)


def test_every_fixture_shape_and_noise_page_appear():
    day = _days(1, n_cards=400, n_days=1)[0]
    assert {c.shape for c in day.cards} == {
        "plain", "premium", "no_title", "dot_duration", "nested", "no_org_applicants"}
    noise = [p for p in day.pages if p == NOISE_HTML]
    assert noise and len(day.pages) == len(day.cards) + len(noise)
    assert all("/opportunity/" in c.html() for c in day.cards)
    nested = next(c for c in day.cards if c.shape == "nested")
    assert "<b>" in nested.html() and "<em>" in nested.html()


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = write_corpus(9, 0.001, str(tmp_path / "a"))
    write_corpus(9, 0.001, str(tmp_path / "b"))
    write_corpus(10, 0.001, str(tmp_path / "c"))
    assert a["lineitem"] == 6000 and a["documents"] == 500
    for t in ("orders", "events", "documents", "embeddings"):
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))


def test_median_and_tail_percentile_sample_rule():
    assert median([3, 1, 2]) == 2
    xs = list(range(100))
    assert tail_percentile(xs, 0.9) == 89  # ten samples lie beyond it
    assert tail_percentile(list(range(50)), 0.9) is None  # only five would
    assert tail_percentile([], 0.5) is None


class FakeClock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_self_time_subtracts_covered_child_time_once():
    # parent [0, 10]; children [1, 3] and [2, 5] overlap (the fake clock
    # allows it), so the parent loses their union, 4; sibling [11, 12]
    t = Tracer(enabled=True, clock=FakeClock([0, 1, 3, 2, 5, 10, 11, 12]))
    t.group = "d1"
    with t.span("parent"):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    with t.span("sibling"):
        pass
    st = t.self_times("d1")
    assert st["a"] == 2 and st["b"] == 3 and st["sibling"] == 1
    assert st["parent"] == 10 - 4  # union of [1, 3] and [2, 5]
    assert t.top_level_total("d1") == 11
    assert t.self_times("other") == {}


def test_disabled_tracer_records_and_wraps_nothing():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer(enabled=False)
    orig = Owner.f
    t.wrap(Owner, "f", "f")
    assert Owner.f is orig
    with t.span("x"):
        pass
    assert t.spans == []


def test_wrap_spans_the_call_and_unwrap_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    t = Tracer(enabled=True)
    t.wrap(Owner, "f", "layer.f", after=lambda r: r * 10)
    assert Owner.f(1) == 20
    assert [s.name for s in t.spans] == ["layer.f"]
    t.unwrap_all()
    assert Owner.f is orig


def test_host_window_from_proc_stat_deltas():
    before = [100, 0, 100, 700, 50, 0, 0, 50]
    after = [200, 0, 200, 1300, 100, 0, 0, 200]
    h = host_window(before, after)
    # deltas: user 100, sys 100, idle 600, iowait 50, steal 150 of 1000
    assert h["steal_pct"] == pytest.approx(15.0)
    assert h["idle_pct"] == pytest.approx(65.0)
    assert h["nproc"] >= 1 and "loadavg_1m" in h
    assert "steal_pct" not in host_window(None, after)


def test_listing_server_serves_pages_and_counts():
    with ListingServer() as srv:
        srv.pages = ["<a>one</a>", "<a>two</a>"]
        with urllib.request.urlopen(f"{srv.base_url}?page=2", timeout=5) as r:
            assert r.read().decode() == "<a>two</a>"
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"{srv.base_url}?page=3", timeout=5)
        requests, errors, busy = srv.counters()
    assert (requests, errors) == (2, 1) and busy >= 0


def test_metric_names_units_and_benchmark_json_agree():
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    assert len(set(PER_LAYER)) == len(PER_LAYER) <= 128
    assert all(name_re.match(n) for n in PER_LAYER)
    assert {unit_of(n) for n in PER_LAYER} <= {"s", "count", "bytes", "ratio"}
    assert unit_of("scrape.s_per_page") == "s" and unit_of("merge.write_amp") == "ratio"
    assert len(set(QUERY_MIX.values())) == len(QUERY_MIX)  # one query per module
    assert {"opportunity_snapshot_delta", "streaming_sessionize_stateful", "dedup_ngram_jaccard",
            "table_profile_orders", "multimodal_image_decode"} <= set(QUERY_MIX)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == PER_LAYER
    assert {m["name"] for m in bench["per_layer"]}.isdisjoint(m["name"] for m in bench["end_to_end"])
    assert all(m["unit"] == unit_of(m["name"]) for m in bench["per_layer"])
