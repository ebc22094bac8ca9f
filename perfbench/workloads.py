"""The two workloads, each a closed loop with one client.

A run sets the session up in a fresh driver JVM, as every cron
invocation does, runs the workload's cold unit of work, then repeats
warm units until ``--seconds`` have passed.
Every output is checked after its timed window.  With tracing on, warm
units alternate between untraced and traced, so the tracing overhead is
measured inside the run.
"""

from __future__ import annotations

import importlib
import os
import random
import re
import time

from gen import CORPUS_TABLES, ListingGen, write_corpus
from listing_server import ListingServer
from measure import RssSampler, Tracer, median

PKG = "aiesec_guc_spark"
KEY = ["opportunity_id"]
VALUE_COLS = ["opportunity_link", "title", "country", "premium", "applicants",
              "duration", "organization"]


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's hidden files excluded."""
    total = files = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
                files += 1
    return total, files


class Checks:
    """Correctness checks, run outside the timed windows."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)


class Session:
    """Set-up and teardown of the program's SparkSession, timed the way
    a fresh process pays them: import the package, start the session,
    load the query registry."""

    def __init__(self):
        self.start_s = self.import_s = self.setup_s = 0.0
        self.spark = None

    def setup(self):
        t0 = time.perf_counter()
        session = _mod("session")
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _mod("queries").registry()
        t2 = time.perf_counter()
        self.start_s, self.import_s, self.setup_s = t1 - t0, t2 - t1, t2 - t0
        self.spark = spark
        return spark

    def teardown(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit, so
        no process outlives the run."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - never leave a JVM behind
                    proc.kill()
                    proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Workload:
    """Shared loop: the set-up, the cold unit, warm units until the
    window closes, alternating traced/untraced when tracing."""

    name = ""
    unit_items = 1  # items (cards, queries) one warm unit processes
    # warm units per run at least; a traced run needs three (U T U)
    min_warm_units = 2

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.checks = Checks()
        self.session = Session()
        self.rss = RssSampler()  # memory of the program's work; the checks come after
        self.tracer = Tracer(enabled=False)
        self.cold_s = 0.0
        self.warm_s: list[float] = []  # untraced warm units
        self.traced_s: list[float] = []
        self.jobs: list[tuple[int, int, int]] = []  # per untraced warm unit
        self.ops = 0
        self.errors: list[str] = []  # operations that raised
        self.all_spans: list[dict] = []
        self.layer_samples: list[dict] = []

    # -- hooks ----------------------------------------------------------
    def prepare(self) -> None:
        """Generate inputs (untimed)."""

    def unit(self, spark, label: str):
        """Run one unit of work; return its wall time and a callable that
        checks its outputs (run after the unit's Spark jobs are counted)."""
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        """Wrap the layer entry points for a traced unit."""

    def finish(self) -> None:
        """Post-run checks (untimed)."""

    def close(self) -> None:
        """Release what ``prepare`` started; runs even when the run fails."""

    # -- loop -----------------------------------------------------------
    def _timed_unit(self, spark, label: str) -> float:
        sc = spark.sparkContext
        sc.setJobGroup(label, label)
        try:
            elapsed, check = self.unit(spark, label)
        finally:
            sc.setJobGroup("checks", "checks")
        if not self.tracer.enabled:
            self.jobs.append(self.job_counts(spark, label))
        check()
        return elapsed

    def job_counts(self, spark, label: str) -> tuple[int, int, int]:
        tracker = spark.sparkContext.statusTracker()
        stages, tasks = set(), 0
        jobs = tracker.getJobIdsForGroup(label)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                if st is not None and s not in stages:
                    stages.add(s)
                    tasks += st.numTasks
        return len(jobs), len(stages), tasks

    def run(self) -> None:
        self.prepare()
        try:
            self._run()
        finally:
            self.close()

    def _run(self) -> None:
        with self.rss:
            self._measured()
        self.finish()
        self.session.teardown()

    def _measured(self) -> None:
        spark = self.session.setup()
        self.cold_s = self._timed_unit(spark, "cold")
        deadline = time.perf_counter() + self.seconds
        n = 0
        # traced runs alternate untraced/traced after a first untraced
        # unit, and end on an untraced one: U T U at least
        min_units = max(self.min_warm_units, 3 if self.trace else 0)
        while (n < min_units or time.perf_counter() < deadline
               or (self.trace and n % 2 == 0)):
            label = f"warm{n}"
            traced = self.trace and n % 2 == 1
            if traced:
                self.tracer = Tracer(enabled=True)
                self.tracer.group = label
                self.instrument(self.tracer)
                try:
                    self.traced_s.append(self._timed_unit(spark, label))
                finally:
                    self.tracer.unwrap_all()
                self.all_spans.extend(self.tracer.dump())
                sample = self.layer_sample(self.tracer, label)
                sample["trace.top_level_s"] = self.tracer.top_level_total(label)
                self.layer_samples.append(sample)
            else:
                self.tracer = Tracer(enabled=False)
                self.warm_s.append(self._timed_unit(spark, label))
            n += 1

    def layer_sample(self, tracer: Tracer, label: str) -> dict:
        return {}

    def failed_op(self, what: str) -> None:
        self.errors.append(what[:300])

    # -- metrics --------------------------------------------------------
    def end_to_end(self) -> dict:
        run_s = median(self.warm_s)
        return {
            "setup_s": (self.session.setup_s, "s"),
            "first_run_s": (self.cold_s, "s"),
            "run_s": (run_s, "s"),
            "items_per_s": (self.unit_items / run_s, "1/s"),
            "peak_rss_mb": (self.rss.peak_mb, "MB"),
        }

    def latencies(self) -> list[float]:
        """Warm single-operation latencies, for the tail record."""
        return self.warm_s

    def detail(self) -> dict:
        """Extra per-run figures for the run record."""
        return {}

    def per_layer(self) -> dict:
        out = {name: 0.0 for name in PER_LAYER}
        samples = self.layer_samples
        for name in PER_LAYER:
            vals = [s[name] for s in samples if name in s]
            if vals:
                out[name] = median(vals)
        jobs = self.jobs[1:] or [(0, 0, 0)]  # warm units only
        out["spark.jobs"] = median([j[0] for j in jobs])
        out["spark.stages"] = median([j[1] for j in jobs])
        out["spark.tasks"] = median([j[2] for j in jobs])
        out["session.start_s"] = self.session.start_s
        out["registry.import_s"] = self.session.import_s
        # the first warm unit still warms up; compare against the later ones
        untraced = median(self.warm_s[1:] or self.warm_s)
        out["trace.untraced_run_s"] = untraced
        out["trace.overhead_s"] = median(self.traced_s) - untraced if self.traced_s else 0.0
        return out


# -- listing workload --------------------------------------------------------

_ID_RE = re.compile(r"/opportunity/global-talent/(\d+)")


def _force(df):
    return df.localCheckpoint(eager=True)


class DailyListing(Workload):
    """The cron job, day after day: ``run.run_pipeline`` against a seeded
    listing site on localhost (HTTP mode, one card per page, since each
    page becomes one row), then the history upkeep beside it —
    ``changed_rows``, ``merge_upsert`` into a latest-state table and
    ``scd2_apply`` into a history table.  Small days, so the fixed
    per-job and per-page costs show, and the upkeep tables grow with
    every day."""

    name = "daily_listing"
    n_cards = 24

    def prepare(self) -> None:
        self.gen = ListingGen(self.seed, self.n_cards)
        data_dir = os.path.join(self.work, "data")
        self.out_dir = os.path.join(self.work, "reports")
        self.snap_path = os.path.join(data_dir, "snapshots")
        self.latest_path = os.path.join(data_dir, "latest")
        self.history_path = os.path.join(data_dir, "history")
        self.unit_items = self.n_cards
        self.versions = 0
        self.server = ListingServer().__enter__()

    def close(self) -> None:
        self.server.__exit__(None, None, None)

    def unit(self, spark, label: str):
        from pyspark.sql import functions as F

        day = self.day = self.gen.next_day()
        self.server.pages = day.pages
        bodies: list[str] = []
        before = self.server.counters()
        run, snapshot = _mod("run"), _mod("operators.snapshot")
        dedup, merge, scd = _mod("operators.dedup"), _mod("operators.merge"), _mod("operators.scd")
        t0 = time.perf_counter()
        self.ops += 1
        try:
            summary = run.run_pipeline(
                spark, os.path.dirname(self.snap_path), self.out_dir, day.run_date,
                send=bodies.append, base_url=self.server.base_url, pages=len(day.pages))
            if day.index == 0:
                today = spark.read.parquet(self.snap_path).drop("run_date")
                yesterday = today.filter(F.lit(False))
            else:
                today, yesterday = snapshot.read_snapshot_pair(spark, self.snap_path)
            changed = dedup.materialize(snapshot.changed_rows(today, yesterday, KEY, VALUE_COLS))
            m = merge.merge_upsert(spark, self.latest_path,
                                   today.withColumn("as_of", F.lit(day.index)), KEY, "as_of")
            s = scd.scd2_apply(spark, self.history_path,
                               today.withColumn("ts", F.to_timestamp(F.lit(day.run_date))),
                               "opportunity_id", VALUE_COLS, ts_col="ts")
        except Exception as exc:  # noqa: BLE001 - a failed day is counted, the loop goes on
            msg = f"{label}: day raised {exc!r}"
            return time.perf_counter() - t0, lambda: self.failed_op(msg)
        elapsed = time.perf_counter() - t0
        self.http = tuple(b - a for a, b in zip(before, self.server.counters()))
        self.body = bodies[0] if bodies else ""
        self.report_paths = [summary["report_path"], summary["snapshot_report_path"]]
        self.versions_now = s["n_versions"]
        return elapsed, lambda: self.check_day(label, day, summary, bodies, changed, m, s)

    def check_day(self, label, day, summary, bodies, changed, m, s) -> None:
        c = self.checks
        c.expect(summary["rows_scraped"] == len(day.cards),
                 f"{label}: rows_scraped {summary['rows_scraped']} != {len(day.cards)} cards served")
        c.expect(summary["delta_rows"] == len(day.new_ids),
                 f"{label}: delta_rows {summary['delta_rows']} != {len(day.new_ids)} new ids")
        email_ids = set(_ID_RE.findall(bodies[0])) if bodies else set()
        c.expect(email_ids == day.new_ids, f"{label}: email ids differ from the new ids")
        c.expect(summary["notified"] == bool(day.new_ids),
                 f"{label}: notified={summary['notified']} with {len(day.new_ids)} new ids")
        _, rows = _mod("sinks.xlsxlite").read_xlsx(summary["report_path"])
        c.expect(len(rows) == summary["delta_rows"],
                 f"{label}: xlsx holds {len(rows)} rows, delta has {summary['delta_rows']}")
        changed_ids = {r[0] for r in changed.select("opportunity_id").collect()}
        c.expect(changed_ids == day.changed_ids, f"{label}: changed ids differ from the changed set")
        # the upsert never deletes: the latest-state table holds every key seen
        c.expect(m["n_after"] == len(day.seen_ids),
                 f"{label}: merge n_after {m['n_after']} != {len(day.seen_ids)} keys seen")
        c.expect(s["n_open"] == len(day.seen_ids),
                 f"{label}: scd2 n_open {s['n_open']} != {len(day.seen_ids)} keys seen")
        self.versions += len(day.new_ids) + len(day.changed_ids)
        c.expect(s["n_versions"] == self.versions,
                 f"{label}: scd2 n_versions {s['n_versions']} != {self.versions}")

    def instrument(self, tracer: Tracer) -> None:
        snapshot = _mod("operators.snapshot")
        html_cards = _mod("functions.html_cards")
        report = _mod("sinks.report")
        orig_extract = html_cards.extract_cards
        orig_report = report.write_styled_report

        def extract_cards(cards, *args, **kwargs):
            # The source is lazy: force it on its own so the scrape's
            # time is the scrape layer's, and extraction gets its own.
            with tracer.span("scrape"):
                cards = _force(cards)
            with tracer.span("extract"):
                return _force(orig_extract(cards, *args, **kwargs))

        def write_styled_report(df, path):
            kind = "today" if os.path.basename(path).startswith("today") else "delta"
            with tracer.span(f"report.{kind}"):
                return orig_report(df, path)

        tracer.patch(html_cards, "extract_cards", extract_cards)
        tracer.patch(report, "write_styled_report", write_styled_report)
        # outer spans: their self time is the glue between the layers, so
        # the day's top-level spans cover the whole day
        tracer.wrap(_mod("run"), "run_pipeline", "pipeline")
        tracer.wrap(snapshot, "read_snapshot_pair", "snapshot.read_pair")
        tracer.wrap(snapshot, "write_snapshot", "snapshot.write")
        tracer.wrap(_mod("operators.maintenance"), "list_partitions", "snapshot.list")
        tracer.wrap(snapshot, "snapshot_delta", "snapshot.delta", after=_force)
        tracer.wrap(snapshot, "changed_rows", "snapshot.changed", after=_force)
        tracer.wrap(report, "render_email_html", "notify.render")
        tracer.wrap(_mod("operators.merge"), "merge_upsert", "merge")
        tracer.wrap(_mod("operators.scd"), "scd2_apply", "scd")

    def layer_sample(self, tracer: Tracer, label: str) -> dict:
        st = tracer.self_times(label)
        day = self.day
        pages = len(day.pages)
        snap_bytes, snap_files = dir_bytes(os.path.join(self.snap_path, f"run_date={day.run_date}"))
        merge_bytes = dir_bytes(self.latest_path)[0]
        scd_bytes = dir_bytes(self.history_path)[0]
        requests, errors, busy = self.http
        return {
            "scrape.s": st.get("scrape", 0.0), "scrape.pages": pages,
            "scrape.s_per_page": st.get("scrape", 0.0) / pages,
            "scrape.http_requests": requests, "scrape.http_busy_s": busy,
            "scrape.http_errors": errors,
            "extract.s": st.get("extract", 0.0),
            "extract.rows": len(day.cards),
            "extract.keep_ratio": len(day.cards) / pages,
            "snapshot.write_s": st.get("snapshot.write", 0.0),
            "snapshot.bytes_written": snap_bytes,
            "snapshot.files_written": snap_files,
            "snapshot.list_s": st.get("snapshot.list", 0.0),
            "snapshot.delta_s": st.get("snapshot.delta", 0.0),
            "snapshot.delta_rows": len(day.new_ids),
            "snapshot.changed_s": st.get("snapshot.changed", 0.0),
            "merge.s": st.get("merge", 0.0), "merge.bytes_written": merge_bytes,
            "merge.write_amp": merge_bytes / snap_bytes,
            "scd.s": st.get("scd", 0.0), "scd.bytes_written": scd_bytes,
            "scd.write_amp": scd_bytes / snap_bytes, "scd.versions": self.versions_now,
            "report.today_s": st.get("report.today", 0.0),
            "report.delta_s": st.get("report.delta", 0.0),
            "report.bytes": sum(os.path.getsize(p) for p in self.report_paths),
            "notify.render_s": st.get("notify.render", 0.0),
            "notify.body_bytes": len(self.body.encode("utf-8")),
        }


# -- analytic query mix ------------------------------------------------------

# Eight queries from eight queries/* modules: the snapshot delta, the
# stateful streaming, near-duplicate, profiling and image-UDF queries,
# plus the cheapest query of three more modules.  The other six modules
# are left out so that a run stays well under a minute.
QUERY_MIX = {
    "opportunity_snapshot_delta": "parity",
    "streaming_sessionize_stateful": "events",
    "dedup_ngram_jaccard": "dedup",
    "table_profile_orders": "quality",
    "multimodal_image_decode": "multimodal",
    "orders_price_histogram": "product",
    "embedding_norms": "similarity",
    "text_fingerprint": "text",
}
CORPUS_SF = 0.003


class CorpusQueries(Workload):
    """A fixed mix of registered queries over a seeded corpus in one
    long-lived session, in a seeded order; each query's result is
    fetched to the client, as an analyst would."""

    name = "corpus_queries"

    def prepare(self) -> None:
        self.corpus = os.path.join(self.work, "corpus")
        write_corpus(self.seed, CORPUS_SF, self.corpus)
        self.rng = random.Random(self.seed)
        self.unit_items = len(QUERY_MIX)
        self.cold_q: dict[str, float] = {}
        self.warm_q: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        self.results: dict[str, object] = {}

    def unit(self, spark, label: str):
        reg = _mod("queries").registry()
        order = list(QUERY_MIX)
        # The cold pass runs in the mix's order: whichever query comes
        # first pays most of the JVM's warm-up, so a seeded cold order
        # would make first_run_s swing with the seed.
        if label != "cold":
            self.rng.shuffle(order)
        total = 0.0
        for q in order:
            self.ops += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"query.{q}"):
                    pdf = reg[q].fn(spark, self.corpus).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, the mix goes on
                self.failed_op(f"{label}: {q} raised {exc!r}")
                total += time.perf_counter() - t0
                continue
            dt = time.perf_counter() - t0
            total += dt
            self.results[q] = pdf
            if label.startswith("cold"):
                self.cold_q[q] = dt
            elif not self.tracer.enabled:
                self.warm_q[q].append(dt)
        return total, lambda: None

    def latencies(self) -> list[float]:
        return [t for ts in self.warm_q.values() for t in ts]

    def detail(self) -> dict:
        return {"query_cold_s": self.cold_q, "query_warm_s": self.warm_q}

    def per_layer(self) -> dict:
        out = super().per_layer()
        modules: dict[str, float] = {}
        for q, mod in QUERY_MIX.items():
            warm = median(self.warm_q[q]) if self.warm_q[q] else 0.0
            out[f"query.{q}.s"] = warm
            out[f"query.{q}.cold_s"] = self.cold_q.get(q, 0.0)
            modules[mod] = modules.get(mod, 0.0) + warm
        for mod, s in modules.items():
            out[f"queries.{mod}.s"] = s
        return out

    def finish(self) -> None:
        """Each query's last result against its DuckDB oracle, with the
        comparison of tools/oracle_check.py."""
        import duckdb

        from tools import oracle_check as oc

        oracles = _mod("queries").oracle_sqls()
        con = duckdb.connect()
        try:
            for t in CORPUS_TABLES:
                path = os.path.join(self.corpus, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in QUERY_MIX:
                self.checks.expect(q in self.results, f"{q}: no result to check")
                if q not in self.results:
                    continue
                problems = oracle_problems(oc, self.results[q], con.execute(oracles[q]).fetchdf())
                self.checks.expect(not problems, f"{q}: {'; '.join(problems)}"[:300])
        finally:
            con.close()


def oracle_problems(oc, spark_pd, duck_pd) -> list[str]:
    """The oracle gate's comparison: unhashable cells, row count,
    column names, dtypes, then order-insensitive exact values."""
    problems = oc.unhashable_columns(spark_pd, "spark") + oc.unhashable_columns(duck_pd, "duck")
    if len(spark_pd) != len(duck_pd):
        problems.append(f"ROWCOUNT {len(spark_pd)} vs {len(duck_pd)}")
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        problems.append("COLUMNS differ")
    if not problems:
        problems += oc.dtype_report(spark_pd, duck_pd)
    if not problems and len(spark_pd):
        a, b = oc.canon(spark_pd), oc.canon(duck_pd)
        col = oc.frames_equal(a, b)
        if col is not None:
            problems.append(f"VALUES col={col}")
    return problems


WORKLOADS = {w.name: w for w in (DailyListing, CorpusQueries)}

_LAYERS = [
    "scrape.s", "scrape.pages", "scrape.s_per_page", "scrape.http_requests",
    "scrape.http_busy_s", "scrape.http_errors",
    "spark.jobs", "spark.stages", "spark.tasks",
    "extract.s", "extract.rows", "extract.keep_ratio",
    "snapshot.write_s", "snapshot.bytes_written", "snapshot.files_written",
    "snapshot.list_s", "snapshot.delta_s", "snapshot.delta_rows", "snapshot.changed_s",
    "merge.s", "merge.bytes_written", "merge.write_amp",
    "scd.s", "scd.bytes_written", "scd.write_amp", "scd.versions",
    "report.today_s", "report.delta_s", "report.bytes", "notify.render_s", "notify.body_bytes",
    "session.start_s", "registry.import_s",
    "trace.untraced_run_s", "trace.top_level_s", "trace.overhead_s",
]
PER_LAYER = (
    _LAYERS
    + [f"query.{q}.{k}" for q in QUERY_MIX for k in ("s", "cold_s")]
    + [f"queries.{m}.s" for m in sorted(set(QUERY_MIX.values()))]
)
