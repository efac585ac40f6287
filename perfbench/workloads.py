"""The benchmark's workloads, driving the program through its public
functions: the same calls ``cli parse`` / ``analyze`` / ``query`` make.

Each workload prepares its inputs from the seed (not timed), measures a
closed loop with one client for the run's seconds, and checks the
program's outputs against the generator's ground truth outside the timed
region.  Both report the same end-to-end metrics:

- ``pass_s``: median time of one pass of the workload's main job;
- ``request_p50_s``: the median latency of each kind of closed-loop
  request, and the geometric mean of these over the kinds, so a change
  to any kind moves it by the same share of that kind's change.

``ingest``: the main job is the bulk ingest, raw files -> ``parse_logs``
-> ``enrich_geoip`` -> ``write_routed`` parquet sinks, committed.  A
request is an incremental round: two new files land and
``run_incremental`` commits them, so its latency is the time from landing
to committed rows.

``dashboard``: the main job is ``full_report`` over a parsed table that
``run_incremental`` committed in preparation, loaded as ``cli analyze``
loads it.  A request is a drill-down of one of three kinds, in equal
shares: ``endpoint_report``, ``daily_summary_report``, or one dashboard
aggregate under ``filter_last_hours`` with a fixed clock.  Nothing is
cached between requests.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from collections import Counter
from datetime import timedelta

import loggen

# a request stream never runs past this many seconds of the run, so a run
# ends well inside its time limit even on a slow host
HARD_STOP_S = 150.0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def p50_by_kind(latencies: list[float], kinds: list[str]) -> dict[str, float]:
    """The median latency of each request kind."""
    by_kind: dict[str, list[float]] = {}
    for dt, kind in zip(latencies, kinds):
        by_kind.setdefault(kind, []).append(dt)
    return {k: median(v) for k, v in sorted(by_kind.items())}


def tail(xs: list[float], beyond: int = 10) -> tuple[float | None, float | None]:
    """The highest percentile with at least ``beyond`` samples above it,
    as (percentile, value); (None, None) when there are too few samples."""
    n = len(xs)
    k = n - beyond  # samples at or below the reported value
    if k < 1:
        return None, None
    return round(100.0 * k / n, 1), sorted(xs)[k - 1]


class Run:
    """State of one benchmark run: the session, the tracer, the counts of
    operations attempted and failed, and the check results."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str,
                 started: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.started = started
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.errors: list[str] = []

    def op(self, fn, *args):
        """Run one operation; an exception counts it failed and is
        reported, and the run goes on.  Returns (seconds, result)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(*args)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=5))
            print(self.errors[-1], file=sys.stderr)
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, result

    def check(self, name: str, ok: bool) -> None:
        """Record one correctness check; a failed check is a failed
        operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {name}", file=sys.stderr)
        self.checks[name] = self.checks.get(name, True) and bool(ok)

    def out_of_time(self) -> bool:
        return time.perf_counter() - self.started > HARD_STOP_S

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def files_in(path: str, suffix: str) -> list[str]:
    return sorted(
        os.path.join(d, n) for d, _, names in os.walk(path)
        for n in names if n.endswith(suffix)
    )


# ------------------------------------------------------------------ ingest


# files of more lines than an Arrow batch holds (the program's
# maxRecordsPerBatch is 10000), so the batch size counts
BULK_FILES, BULK_LINES = 4, 15_000
ROUND_FILES, ROUND_LINES, ROUND_POOL = 2, 500, 8
# a pass over as many small files starts a Python worker per task and
# compiles the pipeline in preparation, so no timed pass pays for that
WARMUP_LINES = 1000
# timed passes and rounds at the least; before the rounds one warms up
MIN_PASSES, MIN_ROUNDS = 2, 5


class Ingest:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.bulk = run.path("bulk")
        self.warmup = run.path("warmup")
        self.pool = run.path("pool")
        self.landing = run.path("landing")
        self.sizes = {"bulk_files": BULK_FILES, "bulk_lines": BULK_FILES * BULK_LINES,
                      "warmup_lines": BULK_FILES * WARMUP_LINES,
                      "round_files": ROUND_FILES, "round_lines": ROUND_FILES * ROUND_LINES}

    def generate(self) -> None:
        self.truth = loggen.generate(self.bulk, self.run.seed, BULK_FILES, BULK_LINES)
        loggen.generate(self.warmup, self.run.seed, BULK_FILES, WARMUP_LINES, prefix="warmup")
        self.rounds = []
        for r in range(ROUND_POOL):
            d = os.path.join(self.pool, f"r{r:03d}")
            t = loggen.generate(d, self.run.seed, ROUND_FILES, ROUND_LINES,
                                prefix=f"round{r:03d}")
            self.rounds.append((d, t))

    def prepare(self) -> None:
        from python_fastly_log_query_spark.datagen import geoip_dim

        self.geo = geoip_dim(self.run.spark, 256)
        os.makedirs(self.landing)
        self.run.op(self.bulk_pass, self.warmup, self.run.path("warmup-routed"))

    # the pipeline, as cli query composes it (parse -> enrich -> route)
    def _lines(self, src: str):
        from python_fastly_log_query_spark.sources.logfiles import read_log_lines

        return read_log_lines(self.run.spark, src)

    def _parsed(self, lines):
        from python_fastly_log_query_spark.operators.parse import parse_logs

        return parse_logs(lines, "text", passthrough=["source_file", "line_number"])

    def _enriched(self, parsed):
        from python_fastly_log_query_spark.operators.enrich import enrich_geoip

        return enrich_geoip(parsed, self.geo)

    def bulk_pass(self, src: str, out: str) -> None:
        from python_fastly_log_query_spark.operators.route import write_routed

        write_routed(self._enriched(self._parsed(self._lines(src))), out)

    def traced_pass(self, out: str, rid: str) -> None:
        """The bulk pass as growing prefixes, each materialized: read,
        +parse, +enrich to a noop sink, and the routed write.  The whole
        pipeline runs first, so like every untraced pass it follows an
        untraced pass."""
        from python_fastly_log_query_spark.operators.route import write_routed

        tr = self.run.tracer

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        with tr.span("ingest.pass", rid):
            with tr.span("prefix.route"):
                write_routed(self._enriched(self._parsed(self._lines(self.bulk))), out)
            with tr.span("prefix.enrich"):
                noop(self._enriched(self._parsed(self._lines(self.bulk))))
            with tr.span("prefix.parse"):
                noop(self._parsed(self._lines(self.bulk)))
            with tr.span("prefix.read"):
                noop(self._lines(self.bulk))

    def round(self, i: int) -> dict:
        """Land one pooled batch and commit it incrementally, as ``cli
        parse --incremental`` does."""
        from python_fastly_log_query_spark.operators.parse import parse_logs
        from python_fastly_log_query_spark.plans import checkpoint as ck
        from python_fastly_log_query_spark.sources.logfiles import list_log_files

        src, _ = self.rounds[i]
        for n in sorted(os.listdir(src)):
            if n != "truth.json":
                os.rename(os.path.join(src, n), os.path.join(self.landing, n))
        with self.run.tracer.span("checkpoint.round", f"round{i}") as s:
            summary = ck.run_incremental(
                self.run.spark, list_log_files(self.landing), self.run.path("committed"),
                lambda df: parse_logs(df, "text", passthrough=["source_file"]),
            )
            if s is not None:
                s.attrs.update({k: summary.get(k, 0) for k in (
                    "total_units", "skipped_units", "processed_units", "rows_written")})
        return summary

    def measure(self, traced: bool) -> dict:
        run = self.run
        t0 = time.perf_counter()
        passes, rounds, summaries = [], [], []
        out = run.path("routed")
        while not run.out_of_time() and (
            len(passes) < MIN_PASSES or time.perf_counter() - t0 < run.seconds / 2
        ):
            with run.tracer.paused():
                dt, _ = run.op(self.bulk_pass, self.bulk, out)
            passes.append(dt)
        if traced:
            run.op(self.traced_pass, out, "pass")
        # the first round pays for compiling the incremental plan, so it
        # is kept apart from the timings
        while not run.out_of_time() and len(rounds) < ROUND_POOL and (
            len(rounds) <= MIN_ROUNDS or time.perf_counter() - t0 < run.seconds
        ):
            dt, summary = run.op(self.round, len(rounds))
            rounds.append(dt)
            summaries.append(summary)
        self.summaries = summaries
        return {"pass_s": passes, "warmup_request_s": rounds[:1], "request_s": rounds[1:],
                "request_kind": ["round"] * len(rounds[1:]),
                "measured_s": time.perf_counter() - t0}

    def verify(self) -> None:
        from pyspark.sql import functions as F
        from python_fastly_log_query_spark.plans import checkpoint as ck

        run = self.run
        spark = run.spark
        routed = {r["route"]: r["count"] for r in
                  spark.read.parquet(run.path("routed")).groupBy("route").count().collect()}
        run.check("routed counts match truth per status class",
                  routed == dict(self.truth.status_class))
        run.check("routed counts partition the input",
                  sum(routed.values()) == self.truth.lines)
        done = [s for s in self.summaries if s is not None]
        for i, s in enumerate(done):
            run.check("round units: skipped + processed = total",
                      s["skipped_units"] + s["processed_units"] == s["total_units"])
            run.check("round processes only the landed files",
                      s["processed_units"] == ROUND_FILES
                      and s["total_units"] == ROUND_FILES * (i + 1))
            run.check("round rows committed = lines landed",
                      s.get("rows_written") == self.rounds[i][1].lines)
        committed = ck.read_output(spark, run.path("committed")).agg(
            F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        run.check("committed rows = lines generated",
                  committed == sum(t.lines for _, t in self.rounds[:len(done)]))

    def layer_metrics(self, timings: dict) -> dict:
        """Per-layer metrics from the traced pass and the rounds.  A
        layer's self time is its prefix's time minus the previous
        prefix's; its counters are the same difference."""
        from pyspark.sql import functions as F

        tr, run = self.run.tracer, self.run
        cores = run.spark.sparkContext.defaultParallelism
        (r,), (p,), (e,), (w,) = (tr.by_name(f"prefix.{n}")
                                  for n in ("read", "parse", "enrich", "route"))

        def parse_delta(key: str) -> float:
            return p.sql.get(key, 0.0) - r.sql.get(key, 0.0)

        untraced_s = median(timings["pass_s"])
        sink = run.spark.read.parquet(run.path("routed"))
        shares = sink.agg(
            F.avg(F.col("priority").isNull().cast("double")).alias("fallback"),
            F.avg(F.col("country").isNotNull().cast("double")).alias("matched"),
        ).collect()[0]
        parquet = files_in(run.path("routed"), ".parquet")
        bulk_files = files_in(self.bulk, ".log") + files_in(self.bulk, ".log.gz")
        rounds = tr.by_name("checkpoint.round")

        def round_sum(key: str) -> float:
            return float(sum(s.attrs.get(key, 0) for s in rounds))

        return {
            "sources.read_s": r.duration,
            "sources.bytes_read": float(sum(os.path.getsize(f) for f in bulk_files)),
            "sources.files": float(len(bulk_files)),
            "parse.self_s": p.duration - r.duration,
            "parse.rows_out": parse_delta("MapInPandas|number of output rows"),
            "parse.fallback_share": shares["fallback"],
            "parse.python_bytes_sent": parse_delta("MapInPandas|data sent to Python workers"),
            "parse.python_bytes_returned": parse_delta(
                "MapInPandas|data returned from Python workers"),
            "parse.busy_ratio": (p.stages["executor_run_s"] - r.stages["executor_run_s"])
            / ((p.duration - r.duration) * cores),
            "enrich.self_s": e.duration - p.duration,
            "enrich.match_ratio": shares["matched"],
            "enrich.broadcast_bytes": e.sql.get("BroadcastExchange|data size", 0.0),
            "route.write_s": w.duration - e.duration,
            "route.files_written": float(len(parquet)),
            "route.bytes_written": float(sum(os.path.getsize(f) for f in parquet)),
            "checkpoint.round_s": median([s.duration for s in rounds[1:]]),  # after warm-up
            "checkpoint.units_processed": round_sum("processed_units"),
            "checkpoint.units_skipped": round_sum("skipped_units"),
            "checkpoint.rows_written": round_sum("rows_written"),
            # the self times sum to the traced pipeline, the route prefix
            "trace.traced_untraced_ratio": w.duration / untraced_s,
            "trace.overhead_s": w.duration - untraced_s,
        }


# --------------------------------------------------------------- dashboard


DASH_FILES, DASH_LINES = 4, 10_000
WINDOW_HOURS = (1, 6, 24)
WINDOW_AGGREGATES = ("requests_per_hour", "top_request_ips", "hourly_error_rates",
                     "status_code_distribution")
BRANCHES = ("traffic", "errors", "performance", "user_agents", "query_patterns",
            "slowness_investigation")
REQUEST_KINDS = ("window", "endpoint", "daily")
# the first block warms up; at least three timed blocks follow
WARMUP_REQUESTS = len(REQUEST_KINDS)
MIN_REQUESTS = 4 * len(REQUEST_KINDS)


class Dashboard:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.logs = run.path("logs")
        self.table = run.path("parsed")
        self.sizes = {"files": DASH_FILES, "lines": DASH_FILES * DASH_LINES}

    def generate(self) -> None:
        self.truth = loggen.generate(self.logs, self.run.seed, DASH_FILES, DASH_LINES)
        # no traffic log says how often a dashboard asks for what, so the
        # kinds come in equal shares: blocks of one request of each kind
        # in a seeded order, the window requests cycling through every
        # aggregate at every window
        rng = random.Random(f"{self.run.seed}:requests")
        endpoints = sorted(self.truth.per_path)
        windows = [(fn, h) for fn in WINDOW_AGGREGATES for h in WINDOW_HOURS]
        rng.shuffle(windows)
        self.requests = []
        for b in range(100):
            block = [("window", windows[b % len(windows)]),
                     ("endpoint", rng.choice(endpoints)), ("daily", None)]
            rng.shuffle(block)
            self.requests += block

    def prepare(self) -> None:
        """Commit the parsed table as ``cli parse --incremental`` does,
        then load it as ``cli analyze`` does."""
        from python_fastly_log_query_spark.operators.parse import parse_logs
        from python_fastly_log_query_spark.plans import checkpoint as ck
        from python_fastly_log_query_spark.sources.logfiles import list_log_files

        with self.run.tracer.span("checkpoint.round", "prep") as s:
            summary = ck.run_incremental(
                self.run.spark, list_log_files(self.logs), self.table,
                lambda df: parse_logs(df, "text", passthrough=["source_file"]),
            )
            if s is not None:
                s.attrs.update(summary, records=None)
        self.df = ck.read_output(self.run.spark, self.table)

    def _window(self, fn: str, hours: int) -> list:
        from python_fastly_log_query_spark.operators import aggregates as A
        from python_fastly_log_query_spark.plans.lasthours import filter_last_hours

        return getattr(A, fn)(filter_last_hours(self.df, hours, now=loggen.NOW)).collect()

    def report(self) -> dict:
        from python_fastly_log_query_spark.operators import report as R

        return R.full_report(self.df)

    def traced_report(self, rid: str) -> dict:
        """``full_report``'s body with one span per branch: the six branch
        functions in turn over the same cached frame."""
        from python_fastly_log_query_spark.operators import report as R

        tr = self.run.tracer
        with tr.span("report.full", rid):
            df = self.df.cache()
            try:
                out = {}
                for b in BRANCHES:
                    with tr.span(f"report.{b}"):
                        out[b] = getattr(R, b)(df)
                return out
            finally:
                df.unpersist()

    def request(self, i: int):
        from python_fastly_log_query_spark.operators import report as R

        kind, arg = self.requests[i]
        with self.run.tracer.span(f"aggregates.{kind}", f"req{i}"):
            if kind == "endpoint":
                return R.endpoint_report(self.df, arg)
            if kind == "daily":
                return R.daily_summary_report(self.df)
            return self._window(*arg)

    def measure(self, traced: bool) -> dict:
        """The report first, then the requests: the report runs the same
        aggregates the requests do, so the requests meet a JVM that no
        longer compiles them."""
        run = self.run
        t0 = time.perf_counter()
        with run.tracer.paused():
            dt, self.report_out = run.op(self.report)
        passes, traced_passes = [dt], []
        if traced:
            dt, _ = run.op(self.traced_report, "report")
            traced_passes.append(dt)
        t1 = time.perf_counter()
        latencies, traced_latencies, self.answers = [], [], []

        def timed(i: int, traced_call: bool):
            if traced_call:
                return run.op(self.request, i)
            with run.tracer.paused():
                return run.op(self.request, i)

        i = 0
        while not run.out_of_time() and i < len(self.requests) and (
            i < MIN_REQUESTS or time.perf_counter() - t1 < run.seconds
        ):
            if traced:
                # the traced and the untraced run of a request take turns
                # going first, so neither always meets the warmer caches
                order = (False, True) if i % 2 == 0 else (True, False)
                got = {t: timed(i, t) for t in order}
                traced_latencies.append(got[True][0])
                dt, ans = got[False]
            else:
                dt, ans = timed(i, False)
            latencies.append(dt)
            self.answers.append(ans)
            i += 1
        w = WARMUP_REQUESTS
        return {"pass_s": passes, "warmup_request_s": latencies[:w],
                "request_s": latencies[w:],
                "request_kind": [k for k, _ in self.requests[w:len(latencies)]],
                "traced_pass_s": traced_passes, "traced_request_s": traced_latencies[w:],
                "measured_s": time.perf_counter() - t0}

    def verify(self) -> None:
        run, truth = self.run, self.truth
        rep = self.report_out
        if rep is None:
            run.check("report ran", False)
        else:
            tr = rep["traffic"]
            run.check("report total = lines", tr["total_requests"] == truth.lines)
            run.check("report per-hour counts = truth",
                      tr["requests_per_hour"] == dict(truth.per_hour))
            by_class = Counter()
            for code, n in rep["errors"]["status_code_distribution"].items():
                by_class[loggen.status_class(int(code))] += n
            run.check("report status classes = truth",
                      by_class == Counter({k: v for k, v in truth.status_class.items()
                                           if k != "other"}))
        for (kind, arg), ans in zip(self.requests, self.answers):
            if ans is None:
                continue
            if kind == "endpoint":
                run.check("endpoint requests = truth per path",
                          sum(ans["requests_by_hour"].values()) == truth.per_path[arg])
            elif kind == "daily":
                days = ans["days"]
                run.check("daily totals = rows with a timestamp",
                          sum(d["total_requests"] for d in days)
                          == sum(truth.per_hour.values()))
                for c in ("2xx", "3xx", "4xx", "5xx"):
                    run.check("daily status classes = truth",
                              sum(d[f"c{c}"] for d in days) == truth.status_class[c])
            else:
                fn, hours = arg
                cutoff = loggen.hour_key(loggen.NOW - timedelta(hours=hours))
                window = {k: v for k, v in truth.per_hour.items() if k >= cutoff}
                if fn == "requests_per_hour":
                    got = {r["hour"]: r["requests"] for r in ans}
                    run.check("window per-hour counts = truth", got == window)
                elif fn == "top_request_ips":
                    run.check("top IP is a hot IP",
                              ans[0]["ip_address"] in loggen.HOT_IPS)
                elif fn == "hourly_error_rates":
                    run.check("window hours = truth",
                              len(ans) == len({k[11:13] for k in window}))
                else:
                    n = sum(r["requests"] for r in ans)
                    run.check("window status rows within window",
                              0 < n <= sum(window.values()))

    def layer_metrics(self, timings: dict) -> dict:
        from pyspark.sql import functions as F
        from python_fastly_log_query_spark.plans.lasthours import filter_last_hours

        tr, run = self.run.tracer, self.run
        out = {f"report.{b}_s": sum(s.duration for s in tr.by_name(f"report.{b}"))
               for b in BRANCHES}
        subtree = [s for s in tr.spans if s.name.startswith("report.")]
        out["report.jobs"] = float(sum(s.stages.get("jobs", 0) for s in subtree))
        out["report.tasks"] = float(sum(s.stages.get("tasks", 0) for s in subtree))
        out["report.shuffle_bytes"] = float(
            sum(s.stages.get("shuffle_write_bytes", 0) for s in subtree))
        reqs = [s for s in tr.spans if s.name.startswith("aggregates.")
                and int(s.rid[len("req"):]) >= WARMUP_REQUESTS]
        for kind in REQUEST_KINDS:
            out[f"aggregates.{kind}_s"] = median(
                [s.duration for s in reqs if s.name == f"aggregates.{kind}"])
        out["aggregates.jobs_per_request"] = median(
            [float(s.stages.get("jobs", 0)) for s in reqs])
        # share of rows the window requests kept, weighted by use
        used = [arg[1] for (kind, arg), _ in zip(self.requests, self.answers)
                if kind == "window"]
        total = self.df.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        kept = {h: filter_last_hours(self.df, h, now=loggen.NOW)
                .agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"] for h in set(used)}
        out["lasthours.rows_kept_ratio"] = (
            sum(kept[h] for h in used) / (len(used) * total) if used else 0.0)
        # each request runs untraced and traced, in turns; the report is
        # traced only after its untraced run warmed it, so it is not paired
        pairs = list(zip(timings["traced_request_s"], timings["request_s"]))
        out["trace.overhead_s"] = median([t - u for t, u in pairs])
        out["trace.traced_untraced_ratio"] = median([t / u for t, u in pairs])
        return out


WORKLOADS = {"ingest": Ingest, "dashboard": Dashboard}
