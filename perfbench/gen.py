"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed: the listing
days (cards, pages, and the expected delta/changed/removed bookkeeping)
and the analytic corpus tables.  The program under test only ever sees
what these functions write out: HTML pages served over HTTP, or
corpus parquet.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

# Card shapes, one per structural feature of sources/fixtures.FIXTURE_CARDS.
SHAPES = ("plain", "premium", "no_title", "dot_duration", "nested", "no_org_applicants")
_SHAPE_WEIGHTS = (50, 15, 8, 7, 12, 8)

_TITLES = ("Data Engineering Intern", "Marketing Trainee", "Backend Developer",
           "Teaching Volunteer", "Product Analyst", "Sales Associate", "UX Designer")
_PLACES = (("Berlin", "Germany"), ("Cairo", "Egypt"), ("Lima", "Peru"), ("Oslo", "Norway"),
           ("Hanoi", "Vietnam"), ("Accra", "Ghana"), ("Bonn", "Germany"), ("Remote", None))
_DURATIONS = ("6 - 18 Months", "9 - 12 Weeks", "3 - 6 Months", "8 Weeks", "12 Months")
_ORGS = ("Acme GmbH", "DataDEV", "Orgless Co", "DotCorp", "DHL Group", "NewOrg", "Nested Org")

CHURN_REMOVED = 0.04
CHURN_CHANGED = 0.10
# One non-opportunity page (filtered out by extraction) per this many cards.
NOISE_EVERY = 16


@dataclass
class Card:
    opp_id: str
    shape: str
    title: str
    place: tuple
    duration: str
    org: str
    applicants: int

    def html(self) -> str:
        """The card's markup, in the fixture shape it was drawn with."""
        city, country = self.place
        loc = city if country is None else f"{city}, {country}"
        title = f"<h3>{self.title}</h3>"
        dur = f"<span>{self.duration}</span>"
        org = f'<div class="org">{self.org}</div>'
        n = self.applicants
        meta = f'<div class="meta">{n} applicant{"" if n == 1 else "s"}</div>'
        badge = ""
        if self.shape == "premium":
            badge = "<b>Premium</b>"
        elif self.shape == "no_title":
            title = ""
        elif self.shape == "dot_duration":
            dur = "<span>.</span>"
        elif self.shape == "nested":
            head, _, tail = self.title.rpartition(" ")
            title = f"<h3>{head} <b>{tail}</b></h3>"
            if country is not None:
                loc = f"{city},\n  <i>{country}</i>"
            org = f'<div class="org"><em>{self.org}</em> Team</div>'
        elif self.shape == "no_org_applicants":
            org = meta = ""
        return (f'<a href="/opportunity/global-talent/{self.opp_id}">'
                f"{title}{badge}<span>{loc}</span>{dur}{org}{meta}</a>")

    @property
    def shows_applicants(self) -> bool:
        return self.shape != "no_org_applicants"


NOISE_HTML = '<a href="/about-us"><h3>About</h3><span>nowhere</span></a>'


@dataclass
class Day:
    index: int
    run_date: str
    cards: list            # Card, in page order
    pages: list            # html per page, page_id = position + 1
    new_ids: set
    changed_ids: set
    removed_ids: set
    seen_ids: set = field(default_factory=set)  # every id served up to this day


class ListingGen:
    """A listing that churns day over day: about 4% of ids leave, as
    many new ids arrive, and about 10% of the remaining cards change
    their applicant count."""

    def __init__(self, seed: int, n_cards: int):
        self.rng = random.Random(seed)
        self.n_cards = n_cards
        self.next_id = 1_000_000 + self.rng.randrange(1_000_000)
        self.current: dict[str, Card] = {}
        self.seen: set[str] = set()
        self.day_index = 0

    def _fresh(self) -> Card:
        r = self.rng
        opp_id = str(self.next_id)
        self.next_id += r.randint(1, 3)
        return Card(opp_id, r.choices(SHAPES, _SHAPE_WEIGHTS)[0], r.choice(_TITLES),
                    r.choice(_PLACES), r.choice(_DURATIONS), r.choice(_ORGS), r.randint(0, 60))

    def next_day(self) -> Day:
        r = self.rng
        if not self.current:
            fresh = [self._fresh() for _ in range(self.n_cards)]
            removed: set[str] = set()
            changed: set[str] = set()
        else:
            k = max(1, round(CHURN_REMOVED * self.n_cards))
            removed = set(r.sample(sorted(self.current), k))
            for i in removed:
                del self.current[i]
            eligible = sorted(i for i, c in self.current.items() if c.shows_applicants)
            changed = set(r.sample(eligible, min(len(eligible), round(CHURN_CHANGED * self.n_cards))))
            for i in changed:
                self.current[i].applicants += r.randint(1, 20)
            fresh = [self._fresh() for _ in range(k)]
        for c in fresh:
            self.current[c.opp_id] = c
        self.seen.update(c.opp_id for c in fresh)
        cards = list(self.current.values())
        r.shuffle(cards)
        pages = [c.html() for c in cards]
        for pos in range(NOISE_EVERY - 1, len(cards), NOISE_EVERY):
            pages.insert(pos, NOISE_HTML)
        run_date = (dt.date(2026, 1, 1) + dt.timedelta(days=self.day_index)).isoformat()
        day = Day(self.day_index, run_date, cards, pages, {c.opp_id for c in fresh},
                  changed, removed, set(self.seen))
        self.day_index += 1
        return day


# -- analytic corpus ---------------------------------------------------------

CORPUS_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")

_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PART_WORDS = (("small", "red", "blue", "hot", "old", "large", "cold", "new"),
               ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"))
_PTYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_VOCAB = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
          "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
          "data", "column", "join", "small", "big", "customer", "query", "stream",
          "group", "filter", "vector", "sort")
_LANGS = ("en", "zh", "es", "de", "fr")


def corpus_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)), "documents": 500, "embeddings": 500,
    }


def write_corpus(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the ten corpus tables (the TPC-H-style star, events,
    documents, embeddings) at scale ``sf``; returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = corpus_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)

    def cents(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def day_ts(start: str, days: int, size: int):
        base = np.datetime64(start, "D").astype("datetime64[us]")
        return base + (rng.integers(0, days, size) * 86_400_000_000).astype("timedelta64[us]")

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc)})
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, ns)})
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_WORDS[0], npart),
                                               rng.choice(_PART_WORDS[1], npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": cents(1000, 500_000, no),
        "o_orderdate": pa.array(day_ts("1995-01-01", 2404, no), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, no)})
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": cents(900, 105_000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("O", "F"), nl),
        "l_shipdate": pa.array(day_ts("1995-01-02", 2498, nl), pa.timestamp("us"))})
    ne = n["events"]
    base = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(base + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(np.minimum(rng.exponential(55.0, ne) + 0.01, 490.0), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
