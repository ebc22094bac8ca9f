"""Randomized differential tests for the custom operators Spark lacks
natively (as-of join, banded interval join, connected components,
salted join) — each checked against a brute-force Python reference on
seeded-random inputs.

Extends the oracle-differential strategy (SURVEY.md §5.2.1) to the
operators whose semantics the DuckDB oracle can't conveniently pin
per edge case.  Design note: instead of one Spark job per random
example (slow, per-job overhead dominates), every test fuses its N
random cases into ONE input frame keyed by a `case` column that joins
/ partitions like any other key, so the whole property runs as a
single distributed job.  Seeds are fixed — failures reproduce
exactly.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from aiesec_guc_spark.operators.asof import asof_join
from aiesec_guc_spark.operators.graph import (
    connected_components,
    connected_components_star,
)
from aiesec_guc_spark.operators.interval import banded_interval_join
from aiesec_guc_spark.operators.salt import salted_join

# ---------------------------------------------------------------------------
# As-of join
# ---------------------------------------------------------------------------


def test_asof_join_matches_bruteforce(spark):
    rng = random.Random(4242)
    n_cases = 40
    left_rows, right_rows = [], []
    for case in range(n_cases):
        # Small ts range + few keys → plenty of equal-ts ties, empty
        # right sides, and multiple candidates per left row.
        for _ in range(rng.randint(0, 12)):
            left_rows.append((case, rng.randint(0, 2), rng.randint(0, 20)))
        seen = set()
        for _ in range(rng.randint(0, 12)):
            k, ts = rng.randint(0, 2), rng.randint(0, 20)
            if (case, k, ts) in seen:  # right must be unique per (key, ts)
                continue
            seen.add((case, k, ts))
            right_rows.append((case, k, ts, rng.randint(0, 999)))

    left = spark.createDataFrame(
        [(c, k, t, i) for i, (c, k, t) in enumerate(left_rows)],
        "case int, k int, ts long, lid int",
    )
    right = spark.createDataFrame(right_rows, "case int, k int, ts long, rv int")

    got = {
        (r["case"], r["k"], r["ts"], r["lid"]): (r["asof_ts"], r["asof_rv"])
        for r in asof_join(left, right, ["case", "k"], "ts", ["rv"]).collect()
    }

    by_key: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for c, k, ts, rv in right_rows:
        by_key.setdefault((c, k), []).append((ts, rv))
    expected = {}
    for i, (c, k, ts) in enumerate(left_rows):
        cands = [(rts, rv) for rts, rv in by_key.get((c, k), []) if rts <= ts]
        expected[(c, k, ts, i)] = max(cands) if cands else (None, None)

    assert got == expected


# ---------------------------------------------------------------------------
# Banded interval join
# ---------------------------------------------------------------------------


def test_interval_join_matches_bruteforce(spark):
    rng = random.Random(777)
    band_us = 1_000_000
    n_cases = 40
    left_rows, right_rows = [], []
    for case in range(n_cases):
        for _ in range(rng.randint(0, 10)):
            # Mix of arbitrary offsets and exact band multiples so the
            # diff == 0 and diff == band_us boundaries are exercised.
            us = rng.choice(
                [rng.randint(0, 5 * band_us), rng.randint(0, 5) * band_us]
            )
            left_rows.append((case, rng.randint(0, 1), us))
        for _ in range(rng.randint(0, 10)):
            us = rng.choice(
                [rng.randint(0, 5 * band_us), rng.randint(0, 5) * band_us]
            )
            right_rows.append((case, rng.randint(0, 1), us))

    left = (
        spark.createDataFrame(
            [(c, k, u, i) for i, (c, k, u) in enumerate(left_rows)],
            "case int, k int, l_us long, lid int",
        )
        .withColumn("lts", F.timestamp_micros("l_us"))
        .drop("l_us")
    )
    right = (
        spark.createDataFrame(
            [(c, k, u, i) for i, (c, k, u) in enumerate(right_rows)],
            "case int, k int, r_us long, rid int",
        )
        .withColumn("rts", F.timestamp_micros("r_us"))
        .drop("r_us")
    )

    out = banded_interval_join(left, right, ["case", "k"], "lts", "rts", band_us)
    got = sorted((r["lid"], r["rid"]) for r in out.collect())

    expected = sorted(
        (li, ri)
        for li, (lc, lk, lu) in enumerate(left_rows)
        for ri, (rc, rk, ru) in enumerate(right_rows)
        if lc == rc and lk == rk and 0 <= ru - lu <= band_us
    )
    assert got == expected
    # Exactly-once: no qualifying pair may arrive via both left replicas.
    assert len(got) == len(set(got))


# ---------------------------------------------------------------------------
# Connected components (both variants) vs union-find
# ---------------------------------------------------------------------------


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        # find() registers both endpoints, so a self-loop-only node
        # still gets a singleton component — matching both operators.
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # Label every node with its component's minimum node id.
    comp_min: dict[int, int] = {}
    for node in list(parent):
        root = find(node)
        comp_min[root] = min(comp_min.get(root, node), node)
    return {node: comp_min[find(node)] for node in parent}


def test_connected_components_variants_match_union_find(spark):
    rng = random.Random(99)
    edges: list[tuple[int, int]] = []
    # 25 disjoint random graphs in one edge list: node ids are
    # case-prefixed so each case is an isolated subgraph and the whole
    # property is a single distributed run per variant.
    for case in range(25):
        base = case * 1000
        n_nodes = rng.randint(2, 30)
        for _ in range(rng.randint(1, 45)):
            a, b = rng.randint(0, n_nodes - 1), rng.randint(0, n_nodes - 1)
            edges.append((base + a, base + b))
    # Plus one adversarial long chain (diameter ≈ 60).
    edges += [(90000 + i, 90000 + i + 1) for i in range(60)]

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    expected = _union_find_components(edges)

    for fn in (connected_components, connected_components_star):
        got = {r["id"]: r["cluster_id"] for r in fn(df, max_iter=80).collect()}
        assert got == expected, fn.__name__


# ---------------------------------------------------------------------------
# SimHash banded pairing: complete for Hamming radius ≤ 3 (pigeonhole)
# ---------------------------------------------------------------------------


def test_simhash_pairs_complete_within_radius(spark):
    from aiesec_guc_spark.operators.dedup import (
        SIMHASH_HAMMING_MAX,
        simhash_pairs,
    )

    rng = random.Random(1234)
    fps: list[tuple[int, int]] = []
    doc_id = 0
    for _ in range(60):
        base = rng.getrandbits(64)
        fps.append((doc_id, base - (1 << 63)))
        doc_id += 1
        # A cluster of near-fingerprints at controlled distances 0-6:
        # ≤3 MUST all be found (4×16-bit bands pigeonhole any 3 flips
        # into ≤3 bands, leaving one band intact); >3 may only appear
        # if they truly pass the exact Hamming filter — i.e. never.
        for _ in range(rng.randint(0, 3)):
            flipped = base
            for bit in rng.sample(range(64), rng.randint(0, 6)):
                flipped ^= 1 << bit
            fps.append((doc_id, flipped - (1 << 63)))
            doc_id += 1

    df = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(df).collect()
    )

    expected = sorted(
        (a_id, b_id, bin((a_fp ^ b_fp) & ((1 << 64) - 1)).count("1"))
        for i, (a_id, a_fp) in enumerate(fps)
        for b_id, b_fp in fps[i + 1 :]
        if bin((a_fp ^ b_fp) & ((1 << 64) - 1)).count("1") <= SIMHASH_HAMMING_MAX
    )
    assert got == expected


# ---------------------------------------------------------------------------
# Salted join ≡ plain join on randomized skew
# ---------------------------------------------------------------------------


def test_salted_join_matches_plain_random(spark):
    rng = random.Random(7)
    # Zipf-ish skew: half the fact rows share one key; nulls included
    # (must drop out of both joins identically).
    fact_rows = [
        (
            rng.choice([0, 0, 0, 0, 1, 2, 3, None]),
            rng.randint(0, 10**6),
        )
        for _ in range(800)
    ]
    dim_rows = [(k, f"d{k}") for k in range(4)]
    fact = spark.createDataFrame(fact_rows, "k int, v long")
    dim = spark.createDataFrame(dim_rows, "k int, name string")

    def norm(rows):  # None-safe canonical ordering
        return sorted(
            map(tuple, rows), key=lambda t: tuple((x is None, x) for x in t)
        )

    plain = norm(fact.join(dim, "k").select("k", "v", "name").collect())
    for how in ("inner", "left"):
        salted = norm(
            salted_join(fact, dim, ["k"], n_salts=8, how=how)
            .select("k", "v", "name")
            .collect()
        )
        if how == "inner":
            assert salted == plain
        else:
            expected_left = norm(
                fact.join(dim, "k", "left").select("k", "v", "name").collect()
            )
            assert salted == expected_left


# ---------------------------------------------------------------------------
# Rolling distinct count (WAU spread-and-count)
# ---------------------------------------------------------------------------


def test_rolling_distinct_matches_bruteforce(spark):
    import datetime

    from aiesec_guc_spark.operators.rolling import rolling_distinct_count

    rng = random.Random(77)
    base = datetime.date(2024, 3, 1)
    rows = set()
    for _ in range(300):
        rows.add(
            (rng.randint(0, 9), base + datetime.timedelta(days=rng.randint(0, 25)))
        )
    df = spark.createDataFrame(sorted(rows), "user_id int, d date")
    got = {
        r["day"]: r["n_distinct"]
        for r in rolling_distinct_count(df, "user_id", "d", 7).collect()
    }
    mn = min(d for _, d in rows)
    mx = max(d for _, d in rows)
    expected = {}
    d = mn
    while d <= mx:
        lo = d - datetime.timedelta(days=6)
        n = len({k for k, ad in rows if lo <= ad <= d})
        if n > 0:  # days whose window is empty emit no row
            expected[d] = n
        d += datetime.timedelta(days=1)
    assert got == expected


# ---------------------------------------------------------------------------
# Gaps-and-islands run collapsing (SCD2)
# ---------------------------------------------------------------------------


def test_collapse_runs_matches_bruteforce(spark):
    from aiesec_guc_spark.operators.scd import collapse_runs

    rng = random.Random(99)
    rows = []
    for key in range(12):
        t = 0
        for _ in range(rng.randint(0, 15)):
            t += rng.randint(1, 3)  # gaps allowed; strictly increasing per key
            rows.append((key, t, rng.choice("ABC")))
    df = spark.createDataFrame(rows, "k int, t int, v string")
    got = sorted(
        (r["k"], r["valid_from"], r["valid_to"], r["v"], r["n_steps"])
        for r in collapse_runs(df, "k", "t", "v").collect()
    )
    by_key: dict[int, list[tuple[int, str]]] = {}
    for k, t, v in rows:
        by_key.setdefault(k, []).append((t, v))
    expected = []
    for k, seq in by_key.items():
        seq.sort()
        run = None
        for t, v in seq:
            if run is not None and run[2] == v:
                run[1] = t
                run[3] += 1
            else:
                if run is not None:
                    expected.append((k, run[0], run[1], run[2], run[3]))
                run = [t, t, v, 1]
        if run is not None:
            expected.append((k, run[0], run[1], run[2], run[3]))
    assert got == sorted(expected)


# ---------------------------------------------------------------------------
# Exact ntile (global rank)
# ---------------------------------------------------------------------------


def test_exact_ntile_matches_bruteforce(spark):
    from aiesec_guc_spark.operators.quantiles import exact_ntile

    rng = random.Random(31)
    for n_rows, k in [(97, 10), (40, 7), (12, 12), (5, 10)]:
        rows = [(i, rng.randint(0, 50)) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "id int, v int")
        got = {
            r["id"]: r["bucket"]
            for r in exact_ntile(df, ["v", "id"], k).collect()
        }
        # brute force: sort by (v, id), standard ntile distribution
        order = sorted(rows, key=lambda r: (r[1], r[0]))
        q, rem = divmod(n_rows, k)
        expected, pos = {}, 0
        for b in range(1, k + 1):
            size = q + (1 if b <= rem else 0)
            for _ in range(size):
                if pos < n_rows:
                    expected[order[pos][0]] = b
                    pos += 1
        assert got == expected, f"n={n_rows} k={k}"


# ---------------------------------------------------------------------------
# Batch MERGE upsert vs a dict-based reference over random batches
# ---------------------------------------------------------------------------


def test_merge_upsert_matches_dict_reference(spark, tmp_path):
    import random

    from aiesec_guc_spark.operators.merge import merge_upsert

    rng = random.Random(42)
    path = str(tmp_path / "tbl")
    ref: dict[int, tuple[int, str]] = {}

    for batch in range(4):
        rows = [
            (rng.randrange(8), rng.randrange(5), f"b{batch}r{i}")
            for i in range(12)
        ]
        # reference semantics: per batch, the winning update per key is
        # max (ts, value-as-tiebreak is NOT defined) — make updates
        # unique per (k, ts) within a batch to keep the contract
        # deterministic, like real CDC batches keyed by (key, ts)
        dedup: dict[tuple[int, int], str] = {}
        for k, ts, v in rows:
            dedup[(k, ts)] = v
        rows = [(k, ts, v) for (k, ts), v in dedup.items()]

        df = spark.createDataFrame(rows, "k int, ts long, v string")
        merge_upsert(spark, path, df, keys=["k"], order_col="ts")

        for k, ts, v in sorted(rows, key=lambda r: r[1]):
            cur = ref.get(k)
            if cur is None or ts >= cur[0]:
                ref[k] = (ts, v)

        got = {
            r.k: (r.ts, r.v) for r in spark.read.parquet(path).collect()
        }
        assert got == ref, f"batch {batch}: {got} != {ref}"


# ---------------------------------------------------------------------------
# Histogram median (the E158/E168 primitive): the doubled-median over
# a (key, value) histogram must equal the naive sorted-multiset
# definition on seeded-random integer multisets — including the
# even/odd middle-rank cases and single-value groups.
# ---------------------------------------------------------------------------


def test_histogram_median2_matches_bruteforce(spark):
    from pyspark.sql import Window as W

    rng = random.Random(20260814)
    rows = []
    expected = {}
    for case in range(40):
        n = rng.randint(1, 60)
        vals = [rng.randint(-50, 50) for _ in range(n)]
        vals.sort()
        # doubled median: sum of the two middle ranks (equal for odd n)
        expected[case] = vals[(n - 1) // 2] + vals[n // 2]
        rows += [(case, v) for v in vals]
    df = spark.createDataFrame(rows, "case int, v int")

    # the histogram-median shape under events_value_mad_outliers /
    # shipping_leadtime_percentiles, fused across cases
    h = df.groupBy("case", "v").agg(F.count(F.lit(1)).alias("cnt"))
    tot = h.groupBy("case").agg(F.sum("cnt").alias("n"))
    w = W.partitionBy("case").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = h.join(tot, "case").withColumn("cum", F.sum("cnt").over(w))
    m2 = (
        cum.groupBy("case")
        .agg(
            (
                F.min(F.when(F.expr("cum >= (n + 1) div 2"), F.col("v")))
                + F.min(F.when(F.expr("cum >= (n + 2) div 2"), F.col("v")))
            ).alias("m2")
        )
    )
    got = {r["case"]: r["m2"] for r in m2.collect()}
    assert got == expected


def test_decimal_div_is_exact_floor_division(spark):
    """The DECIMAL(38,0) widening contract several queries rely on
    (supplier HHI, temperature mixture, BM25 products): Spark's `div`
    on decimal operands must be EXACT floor division at magnitudes
    where bigint multiply would overflow — products near 10^25,
    verified against Python's arbitrary-precision //."""
    from decimal import Decimal

    rng = random.Random(11)
    rows = [
        (
            Decimal(rng.randrange(10**18, 10**19)),
            Decimal(rng.randrange(1, 10**12)),
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "a decimal(38,0), b decimal(38,0)")
    got = df.select(
        F.expr("cast((a * 1000000) div b as string)").alias("q"), "a", "b"
    ).collect()
    for r in got:
        assert int(r["q"]) == (int(r["a"]) * 1_000_000) // int(r["b"]), (
            r["a"],
            r["b"],
        )
