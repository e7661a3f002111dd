"""Benchmark of the Airbnb reference workload on this engine.

    python3 airbnb_bench/run.py --workload airbnb_load --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``airbnb_load``: one pass is day 1 into an empty output root
  (``etl.run_listings_etl`` then ``etl.run_reviews_etl``), then day 2: a
  changed listings snapshot and a reviews batch merged into the published
  ``doc_reviews``.
- ``airbnb_queries``: one pass is ``analysis.q1`` ... ``q6`` over a
  snapshot that set-up publishes from day 1 of the same generated data,
  each writing its full result to CSV.

The run is a closed loop with one client on ``local[<cores>]``: passes
run back to back until ``--seconds`` have passed. Inputs come from
``--seed`` and are generated (and cached) before anything is timed.
Set-up, timed as ``setup_s``, runs from the session start to the first
timed op: for ``airbnb_queries`` the snapshot publish, then one warm-up
pass of the workload, which pays for the first JIT and codegen.
Outputs are checked after the timed loop.

Times are wall times without the hypervisor's steal: on a virtual
machine that shares its host, another guest can hold the CPUs for a
varying share of a run. Each timed interval reads the steal share of its
busy CPU time from ``/proc/stat`` and reports ``wall * (1 - share)``; the
raw wall times and shares are printed on the line before the result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
counted passes (job-id boundaries read around each op; Spark counters
read after the pass) with forced passes (a span around every layer call
and one action at each lazy layer boundary), prints the per-layer
metrics and writes the spans under ``airbnb_bench/traces/``. A layer a
workload's passes do not run is read from coverage passes after the
timed loop: a forced load pass for ``airbnb_queries``, and a counted and
a forced query pass over the last load's tables for ``airbnb_load``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "airbnb_listings_reviews_data_engineering_spark"
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, "work")
TRACES = os.path.join(HERE, "traces")

LISTINGS = 10_000  # the inferred reference scale: 10^4 listings, 10^5 reviews
KEEP_DATA_SETS = 12
DRIVER_MEMORY = "2g"
WORKLOADS = ("airbnb_load", "airbnb_queries")

QUERIES = {  # query -> (analysis function, published tables it reads)
    "q1": ("q1_quiet_listings", ("docs", "hotel_location", "price_info")),
    "q2": ("q2_washington_apartments", ("hotel_location", "hotel_facilities", "price_info")),
    "q3": ("q3_bnb_median_price", ("hotel_location", "hotel_facilities", "price_info")),
    "q4": ("q4_house_cheaper_than_townhouse", ("hotel_location", "hotel_facilities", "price_info")),
    "q5": ("q5_park_museum_counts", ("docs", "hotel_location", "hotel_facilities")),
    "q6": ("q6_automated_posting_reviews", ("docs",)),
}
SNAPSHOT_TABLES = ("docs", "hotel_location", "hotel_facilities", "price_info")

E2E_UNITS = {"setup_s": "s", "run_s": "s", "rows_per_s": "rows/s",
             "cpu_s": "s", "peak_rss_mb": "MB", "stored_bytes_ratio": "ratio"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(cores: int) -> None:
    """Keep every file Spark and the JVM write inside the work directory,
    and fix the session's size."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    jvm_files = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=jvm_files,  # the small JVM spark-submit starts first
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
            # -Xms = -Xmx: every fresh process starts from the same heap,
            # instead of growing it on its own schedule. C1 only: with the
            # C2 compiler the driver JVM compiles for about 100 CPU seconds
            # over the first five passes, at a pace set by how much CPU the
            # host leaves it, so pass times drift by 10-25% through a run's
            # whole time budget; C1 compiles within the first pass
            "--driver-java-options",
            shlex.quote(f"{jvm_files} -Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1"),
            "pyspark-shell",
        ]),
    )


def _evict_data(keep: str) -> None:
    """Bound the input cache: keep the newest KEEP_DATA_SETS sets."""
    os.utime(keep)
    sets = sorted((os.path.join(DATA, d) for d in os.listdir(DATA)),
                  key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_DATA_SETS:]:
        shutil.rmtree(old, ignore_errors=True)


class Unit:
    """One pass: op wall times, failures, and what was read around it."""

    def __init__(self, root: str, mode: str):
        self.root = root
        self.mode = mode  # "plain", "counted" or "forced"
        self.op_s: dict[str, float] = {}
        self.failed: set[str] = set()
        self.op_jobs: dict[str, tuple[int, int]] = {}
        self.counters: dict[str, dict] = {}
        self.layers: dict[str, float] = {}
        self.wall = 0.0
        self.steal = 0.0  # spans.steal_share over the pass
        self.cpu_s = 0.0

    @property
    def run_s(self) -> float:
        """Pass wall time without the time the hypervisor stole from it."""
        return self.wall * (1 - self.steal)


class Bench:
    """The ops of each workload, and the pass runner that times them."""

    def __init__(self, spark, cores: int, trace: bool, run_id: str):
        from airbnb_listings_reviews_data_engineering_spark.airbnb import analysis, etl
        from airbnb_listings_reviews_data_engineering_spark.checkpoint import release_pins
        from airbnb_listings_reviews_data_engineering_spark.sources import atomic

        self.spark, self.cores = spark, cores
        self.etl, self.analysis, self.atomic = etl, analysis, atomic
        self.release_pins = release_pins
        self.counters = spans.SparkCounters(spark) if trace else None
        self.tracer = spans.Tracer(run_id, self.counters) if trace else None
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.pids = [os.getpid(), int(jvm_pid)]

    # -- ops ---------------------------------------------------------------
    def load_ops(self, data: str, root: str) -> list:
        etl, spark = self.etl, self.spark
        return [
            ("listings_day1", lambda: etl.run_listings_etl(spark, f"{data}/day1/Listings.csv", root)),
            ("reviews_day1", lambda: etl.run_reviews_etl(spark, f"{data}/day1/Reviews.csv", root)),
            ("listings_day2", lambda: etl.run_listings_etl(spark, f"{data}/day2/Listings.csv", root)),
            ("reviews_day2", lambda: etl.run_reviews_etl(spark, f"{data}/day2/Reviews.csv", root)),
        ]

    def query_ops(self, snapshot: str, out: str) -> list:
        def op(q: str, fn_name: str, tables: tuple[str, ...]):
            def run():
                frames = [self.atomic.read_published(self.spark, f"{snapshot}/{t}") for t in tables]
                getattr(self.analysis, fn_name)(*frames).write.csv(f"{out}/{q}", header=True)
            return f"airbnb.analysis.{q}", run
        return [op(q, fn, tables) for q, (fn, tables) in QUERIES.items()]

    def publish_docs(self, root: str) -> None:
        """The queries' document table: listing documents left-joined to
        their review arrays, published next to the 5 tables."""
        read = lambda n: self.atomic.read_published(self.spark, f"{root}/{n}")  # noqa: E731
        docs = read("listings_docs").join(
            read("doc_reviews").withColumnRenamed("listing_id", "id"), "id", "left")
        self.atomic.publish_parquet(docs, f"{root}/docs")

    # -- passes --------------------------------------------------------------
    def isolate(self) -> None:
        """Between passes: drop cached frames and pins, so no pass times a
        cache hit left by the one before."""
        self.spark.catalog.clearCache()
        self.release_pins(self.spark)

    def run_pass(self, ops: list, root: str, mode: str, setup: bool = False) -> Unit:
        """Run ``ops`` in order. Set-up passes raise on the first failure;
        timed passes record it and go on."""
        unit = Unit(root, mode)
        self.isolate()
        patches = self._forced_layers() if mode == "forced" else contextlib.nullcontext()
        cpu = spans.cpu_seconds(self.pids)
        ticks = spans.cpu_ticks()
        start = time.perf_counter()
        with patches:
            for name, fn in ops:
                lo = self._next_job() if mode == "counted" else 0
                t = time.perf_counter()
                try:
                    with self.tracer.span(name) if mode == "forced" else contextlib.nullcontext():
                        fn()
                except Exception:
                    if setup:
                        raise
                    traceback.print_exc()
                    unit.failed.add(name)
                unit.op_s[name] = time.perf_counter() - t
                if mode == "counted":
                    unit.op_jobs[name] = (lo, self._next_job())
        unit.wall = time.perf_counter() - start
        unit.steal = spans.steal_share(ticks, spans.cpu_ticks())
        unit.cpu_s = spans.cpu_seconds(self.pids) - cpu
        if mode == "counted":
            self.counters.max_job_id()  # let the status store catch up
            unit.counters = {n: self.counters.jobs(lo, hi) for n, (lo, hi) in unit.op_jobs.items()}
        if mode != "plain" and any(n.startswith("listings_") for n, _ in ops):
            unit.layers["airbnb.etl.cached_blocks_after"] = self.counters.cached_blocks()
        return unit

    def _next_job(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - 1

    @contextlib.contextmanager
    def _forced_layers(self):
        """Wrap each layer call the ETL and Q1-Q6 make in a span, and force
        each lazy layer boundary with one action, so the layer's work runs
        inside its span. The frame forced at a boundary is persisted until
        the pass ends, so the next layer's span does not re-run the layers
        before it and each span's time is its layer's own."""
        from airbnb_listings_reviews_data_engineering_spark.functions import percentile

        etl, atomic, tracer = self.etl, self.atomic, self.tracer
        persisted = []

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def forced(name, fn):
            def run(*a, **kw):
                with tracer.span(name):
                    df = fn(*a, **kw).persist()
                    noop(df)
                persisted.append(df)
                return df
            return run

        def spanned(name, fn):
            def run(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return run

        split_tables, publish = etl.split_tables, etl.publish_parquet

        def split_after_clean(clean):
            with tracer.span("airbnb.etl.clean_listings"):
                clean.count()  # materializes the cached frame, as the first publish would
            return split_tables(clean)

        def publish_parquet(df, path, *a, **kw):
            df = df.persist()  # so the publish span holds only the write and commit
            with tracer.span("sources.atomic.input"):
                noop(df)
            with tracer.span("sources.atomic.publish") as rec:
                version = publish(df, path, *a, **kw)
            df.unpersist()
            rec["bytes"] = spans.tree_bytes(version)
            return version

        patches = [
            (etl, "read_listings_csv", forced("sources.csv.listings_parse", etl.read_listings_csv)),
            (etl, "read_reviews_csv", forced("sources.csv.reviews_parse", etl.read_reviews_csv)),
            (etl, "clean_reviews", forced("airbnb.etl.clean_reviews", etl.clean_reviews)),
            (etl, "reviews_to_arrays", forced("airbnb.etl.reviews_to_arrays", etl.reviews_to_arrays)),
            (etl, "merge_reviews_into_docs",
             forced("operators.merge.array_accum", etl.merge_reviews_into_docs)),
            (etl, "split_tables", split_after_clean),
            (etl, "publish_parquet", publish_parquet),
            (atomic, "commit_staged", spanned("sources.atomic.commit", atomic.commit_staged)),
            (percentile, "exact_fits", spanned("functions.percentile.guard", percentile.exact_fits)),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
        for mod, name, fn in patches:
            setattr(mod, name, fn)
        try:
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)
            for df in persisted:
                df.unpersist()


def _median(values):
    return statistics.median(values) if values else None


def _forced_metrics(recs: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one forced pass. Each layer span starts from a
    persisted input, so its time is the layer's own; the publish span's
    self time leaves out the commit nested in it."""
    def dur(name, parent=None):
        return sum(s["dur"] for s in recs
                   if s["name"] == name and parent in (None, s["parent"]))

    def count(name, key):
        return sum(s["counters"][key] for s in recs if s["name"] == name)

    out = {}
    if any(s["name"] == "sources.csv.listings_parse" for s in recs):
        lp, rp = "sources.csv.listings_parse", "sources.csv.reviews_parse"
        cl, cr, ra = "airbnb.etl.clean_listings", "airbnb.etl.clean_reviews", "airbnb.etl.reviews_to_arrays"
        merge = "operators.merge.array_accum"
        publish, commit = "sources.atomic.publish", "sources.atomic.commit"
        out.update({
            "sources.csv.listings_parse_s": dur(lp),
            "sources.csv.reviews_parse_s": dur(rp),
            "sources.csv.scan_tasks": count(lp, "tasks") + count(rp, "tasks"),
            "airbnb.etl.clean_listings_s": dur(cl),
            "airbnb.etl.clean_reviews_s": dur(cr),
            "airbnb.etl.reviews_to_arrays_s": dur(ra),
            "airbnb.etl.shuffle_write_mb": count(cl, "shuffle_write_mb") + count(ra, "shuffle_write_mb"),
            "sources.atomic.publish_s": dur(publish) - dur(commit, parent=publish),
            "sources.atomic.commit_s": dur(commit, parent=publish),
            "sources.atomic.bytes_written_mb": sum(
                s.get("bytes", 0) for s in recs if s["name"] == publish) / 2**20,
            "operators.merge.array_accum_s": dur(merge),
            "operators.merge.shuffle_write_mb": count(merge, "shuffle_write_mb"),
            "operators.merge.spill_mb": count(merge, "spill_mb"),
        })
    if any(s["name"] == "airbnb.analysis.q1" for s in recs):
        out.update({f"airbnb.analysis.{q}_s": dur(f"airbnb.analysis.{q}") for q in QUERIES})
        out["functions.percentile.guard_s"] = dur("functions.percentile.guard")
    return out


def _counted_metrics(unit: Unit, cores: int) -> dict[str, float]:
    """Per-pass Spark totals of one counted pass, and jobs per query."""
    keys = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s")
    out = {f"spark.{k}": sum(c[k] for c in unit.counters.values()) for k in keys}
    out["spark.floor_s"] = unit.run_s - out["spark.exec_run_s"] / cores
    for name, c in unit.counters.items():
        if name.startswith("airbnb.analysis."):
            out[f"{name}.jobs"] = c["jobs"]
    return out


def _e2e_metrics(units: list[Unit], setup_s: float, rows: int, input_bytes: int,
                 stored: list[int], peak_rss_mb: float) -> dict:
    values = {
        "setup_s": setup_s,
        "run_s": _median([u.run_s for u in units]),
        "rows_per_s": _median([rows / u.run_s for u in units]),
        "cpu_s": _median([u.cpu_s for u in units]),
        "peak_rss_mb": peak_rss_mb,
        "stored_bytes_ratio": _median([b / input_bytes for b in stored]),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.csv.listings_parse_s": "s", "sources.csv.reviews_parse_s": "s",
    "sources.csv.scan_tasks": "count",
    "airbnb.etl.clean_listings_s": "s", "airbnb.etl.clean_reviews_s": "s",
    "airbnb.etl.reviews_to_arrays_s": "s", "airbnb.etl.shuffle_write_mb": "MB",
    "airbnb.etl.cached_blocks_after": "count",
    "sources.atomic.publish_s": "s", "sources.atomic.commit_s": "s",
    "sources.atomic.bytes_written_mb": "MB",
    "operators.merge.array_accum_s": "s", "operators.merge.shuffle_write_mb": "MB",
    "operators.merge.spill_mb": "MB",
    **{f"airbnb.analysis.{q}_s": "s" for q in QUERIES},
    **{f"airbnb.analysis.{q}.jobs": "count" for q in QUERIES},
    "functions.percentile.guard_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.floor_s": "s",
    "trace.overhead_s": "s",
}


# Per-layer metrics of the issue's engine_keys workload, which this
# benchmark does not run (README.md, "Not measured here").
NOT_MEASURED = {
    "plans.<key>_s, .jobs, .stages, .exec_cpu_s, .floor_s":
        "the engine_keys workload reads tables outside the repository, and one "
        "pass takes 35-39 s, more than a run's time budget",
    "streaming.batches, streaming.addbatch_p50_s": "run only by engine_keys",
}


def _layer_metrics(bench: Bench, coverage: list[Unit], timed: list[Unit], session_s: float,
                   forced_spans: dict[int, list[dict]]) -> tuple[dict, dict]:
    """Median over timed passes of each per-layer metric; a metric the
    timed passes do not produce is taken from the coverage passes, which
    run the layers the workload's passes skip. Returns (metrics, unread),
    unread mapping a metric to why it has no value."""
    def per_unit(u: Unit) -> dict:
        vals = dict(u.layers)
        if u.mode == "counted":
            vals.update(_counted_metrics(u, bench.cores))
        if u.mode == "forced":
            vals.update(_forced_metrics(forced_spans[id(u)]))
        return vals

    pools = [[per_unit(u) for u in timed], [per_unit(u) for u in coverage]]
    metrics, unread = {}, {}
    for name, unit in PER_LAYER_UNITS.items():
        if name == "session.start_s":
            value = session_s
        elif name == "trace.overhead_s":
            value = (_median([u.run_s for u in timed if u.mode == "forced"])
                     - _median([u.run_s for u in timed if u.mode == "counted"]))
        else:
            value = next((_median([p[name] for p in pool if name in p])
                          for pool in pools if any(name in p for p in pool)), None)
        if value is None:
            unread[name] = "no pass of this run reached the layer"
            continue
        metrics[name] = {"value": value, "unit": unit}
    return metrics, unread


def _run(spark, args, data: str, cores: int, started: tuple, session_s: float) -> dict:
    """The run after the session started: set-up, the timed loop, checks.
    ``started`` is (perf_counter, cpu_ticks) read before the session start."""
    import check

    trace = bool(args.trace)
    bench = Bench(spark, cores, trace, run_id=f"{args.workload}-seed{args.seed}")
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    forced_spans: dict[int, list[dict]] = {}

    def run_pass(ops, root, mode, setup=False):
        first = len(bench.tracer.spans) if trace else 0
        unit = bench.run_pass(ops, root, mode, setup)
        if mode == "forced":
            forced_spans[id(unit)] = bench.tracer.spans[first:]
        return unit

    def workload_ops(root: str) -> list:
        if args.workload == "airbnb_load":
            return bench.load_ops(data, root)
        return bench.query_ops(snapshot, root)

    # set-up, from the session start to the first timed op: for
    # airbnb_queries the snapshot the passes read (day 1 of the load, plus
    # the documents), then one warm-up pass of the workload over the full
    # input, which pays for the first JIT, class loading and codegen of
    # every code path (after a warm-up over a tenth of the input, the
    # first timed pass ran 5-10% slower than the next)
    snapshot = os.path.join(WORK, "snapshot")
    snapshot_s = 0.0
    if args.workload == "airbnb_queries":
        ops = bench.load_ops(data, snapshot)[:2]
        ops.append(("publish_docs", lambda: bench.publish_docs(snapshot)))
        snapshot_s = run_pass(ops, snapshot, "plain", setup=True).wall
        ok = check.load_pass(snapshot, expected)
        if not (ok["listings_day1"] and ok["reviews_day1"]):
            raise RuntimeError("the published snapshot does not hold the planted counts")
    warm = os.path.join(WORK, "warmup")
    warmup_s = run_pass(workload_ops(warm), warm, "plain", setup=True).wall
    setup_wall = time.perf_counter() - started[0]
    setup_steal = spans.steal_share(started[1], spans.cpu_ticks())
    setup_s = setup_wall * (1 - setup_steal)

    # timed closed loop: passes until --seconds have passed, at least one
    # of each mode (a traced run alternates the two)
    units: list[Unit] = []
    start = time.perf_counter()
    modes = ("counted", "forced") if trace else ("plain",)
    while len(units) < len(modes) or time.perf_counter() - start < args.seconds:
        root = os.path.join(WORK, f"pass{len(units)}")
        units.append(run_pass(workload_ops(root), root, modes[len(units) % len(modes)]))

    # checks, outside the timed region
    peak_rss_mb = spans.peak_rss_mb(bench.pids)
    stored = [spans.tree_bytes(u.root) for u in units]
    if args.workload == "airbnb_load":
        rows = expected["day1"]["csv_rows"] + expected["day2"]["csv_rows"]
        input_bytes = sum(os.path.getsize(os.path.join(data, d, f))
                          for d in ("day1", "day2") for f in ("Listings.csv", "Reviews.csv"))
        for u in units:
            u.failed |= {op for op, ok in check.load_pass(u.root, expected).items() if not ok}
    else:
        day1 = expected["day1"]
        counts = {"docs": day1["docs"], "hotel_location": day1["tables"],
                  "hotel_facilities": day1["tables"], "price_info": day1["tables"]}
        rows = sum(counts[t] for _, tables in QUERIES.values() for t in tables)
        tables = {t: os.path.realpath(os.path.join(snapshot, t)) for t in SNAPSHOT_TABLES}
        input_bytes = sum(spans.tree_bytes(p) for p in tables.values())
        want = check.oracle_digests(tables)
        for u in units:
            for q in QUERIES:
                got = check.csv_digest(os.path.join(u.root, q))
                if got != want[q]:
                    print(f"{q} mismatch: spark {got[:2]} duckdb {want[q][:2]}", file=sys.stderr)
                    u.failed.add(f"airbnb.analysis.{q}")

    # traced: coverage passes read the layers this workload's passes skip
    coverage: list[Unit] = []
    cover = os.path.join(WORK, "coverage")
    if trace and args.workload == "airbnb_load":
        last = units[-1].root
        bench.publish_docs(last)
        for mode in ("counted", "forced"):
            ops = bench.query_ops(last, os.path.join(cover, mode))
            coverage.append(run_pass(ops, cover, mode, setup=True))
    elif trace:
        coverage.append(run_pass(bench.load_ops(data, cover), cover, "forced", setup=True))

    attempted = sum(len(u.op_s) for u in units)
    failed = sum(len(u.failed) for u in units)
    plain = [u for u in units if u.mode != "forced"]
    summary = {
        "failed_ops": {"value": failed / attempted, "unit": "share"},
        "op_p50_s": {"value": _median([s for u in plain for n, s in u.op_s.items()
                                       if n not in u.failed]), "unit": "s"},
        "op_max_s": {"value": _median([max(u.op_s.values()) for u in plain]), "unit": "s"},
        "passes": len(units), "ops": attempted, "setup_wall_s": setup_wall,
        "setup_steal": setup_steal, "snapshot_s": snapshot_s,
        "warmup_s": warmup_s,
        "pass_wall_s": [round(u.wall, 4) for u in units],
        "pass_steal": [round(u.steal, 4) for u in units],
        "pass_cpu_s": [round(u.cpu_s, 4) for u in units],
    }
    if trace:
        metrics, unread = _layer_metrics(bench, coverage, units, session_s, forced_spans)
        summary["unread"] = {**unread, **NOT_MEASURED}
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{bench.tracer.run_id}.json")
        with open(path, "w") as f:
            json.dump({"spans": bench.tracer.spans, "summary": summary}, f)
        summary["spans_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = _e2e_metrics(plain, setup_s, rows, input_bytes,
                               [b for u, b in zip(units, stored) if u.mode != "forced"], peak_rss_mb)
    print(json.dumps(summary))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.makedirs(DATA, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    _configure_env(cores)
    data = gen.generate(DATA, args.seed, LISTINGS)
    _evict_data(data)

    started = (time.perf_counter(), spans.cpu_ticks())
    from airbnb_listings_reviews_data_engineering_spark.session import get_spark

    spark = get_spark(app_name=f"airbnb-bench-{args.workload}")
    session_s = time.perf_counter() - started[0]
    try:
        result = _run(spark, args, data, cores, started, session_s)
    finally:
        _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
