"""The repository benchmark: named workloads against the public
``gocrawl_spark`` API, with output gates, end-to-end metrics (untraced)
and per-layer metrics (``--trace 1``). See perfbench/README.md.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 24 --trace 0

Run it from the repository root. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; a
human-readable table of every metric goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from tracing import RssSampler, Tracer, clock, event_log_stats, steal_s, tree_pids, tree_usage

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# all load comes from one process with at most this many Spark cores,
# client threads or connections in flight
CORES = max(1, min(4, os.cpu_count() or 1))

# crawl_steady: the sf0.1 documents, replicated under distinct hosts;
# one measured round per whole STEADY_ROUND_S of --seconds (at least one)
STEADY_DOCS = 5000
STEADY_REPLICAS = 4
STEADY_ROUND_S = 20
# the pinned 4-core and 1-core scaling legs (traced pass) crawl a slice
# of the frontier so both fit the run's time limit
LEG_PAGES = 1000
# search_serve: documents in the warehouse, warm-up requests (sent by
# CORES clients), the fixed open-loop rate (35-50 % of the CORES-client
# capacity of 3-4.2 requests/s measured on a 4-core host: low enough
# that queueing does not magnify a slower host into a much higher p50)
# and the open-loop share of the window; the traced pass adds a live
# HTTP crawl of the same documents with this per-host delay
SEARCH_DOCS = 1000
SEARCH_WARM_REQUESTS = 16
SEARCH_OPEN_RATE = 1.5
SEARCH_OPEN_SHARE = 0.5
LIVE_FETCH_DELAY_MS = 2

WORKLOADS = ("crawl_steady", "search_serve")

# every metric BENCHMARK.json names: (unit, which direction is better).
# perfbench/README.md says what each one is on each workload.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"),
    "cpu_ms_per_op": ("ms", "lower"),
}
PER_LAYER = {
    "rounds.count": ("count", "higher"),
    "rounds.pop_s": ("s", "lower"),
    "rounds.fetch_extract_s": ("s", "lower"),
    "rounds.expand_s": ("s", "lower"),
    "rounds.commit_s": ("s", "lower"),
    "rounds.stats_s": ("s", "lower"),
    "rounds.loop_overhead_s": ("s", "lower"),
    "rounds.spark_jobs": ("count", "lower"),
    "rounds.busy_ratio": ("ratio", "higher"),
    "rounds.shuffle_write_bytes": ("bytes", "lower"),
    "rounds.spill_bytes": ("bytes", "lower"),
    "rounds.gc_s": ("s", "lower"),
    "rounds.scaling_eff_1to4": ("ratio", "higher"),
    "rounds.self_s": ("s", "lower"),
    "frontier.seen_filter_s": ("s", "lower"),
    "frontier.popped": ("count", "higher"),
    "frontier.links_discovered": ("count", "higher"),
    "frontier.admitted": ("count", "higher"),
    "frontier.admit_ratio": ("ratio", "higher"),
    "frontier.max_host_share": ("ratio", "lower"),
    "fetch.requests": ("count", "higher"),
    "fetch.robots_requests": ("count", "lower"),
    "fetch.not_found": ("count", "lower"),
    "fetch.bytes": ("bytes", "lower"),
    "fetch.server_busy_s": ("s", "lower"),
    "fetch.min_host_gap_ms": ("ms", "lower"),
    "extract.pages": ("count", "higher"),
    "extract.pages_per_s": ("1/s", "higher"),
    "extract.kernel_pages_per_core_s": ("1/s", "higher"),
    "extract.engine_over_kernel": ("ratio", "higher"),
    "tableformat.bytes_written": ("bytes", "lower"),
    "tableformat.files_written": ("count", "lower"),
    "tableformat.bytes_per_url": ("bytes", "lower"),
    "catalog.publish_s": ("s", "lower"),
    "catalog.rows_published": ("count", "higher"),
    "catalog.files": ("count", "lower"),
    "catalog.bytes": ("bytes", "lower"),
    "search.backend_ms": ("ms", "lower"),
    "search.jobs_per_query": ("count", "lower"),
    "search.tasks_per_query": ("count", "lower"),
    "search.busy_ratio": ("ratio", "higher"),
    "search.gen_late_ms": ("ms", "lower"),
    "search.self_s": ("s", "lower"),
    "httpd.overhead_ms": ("ms", "lower"),
    "httpd.max_inflight": ("count", "higher"),
    "httpd.self_s": ("s", "lower"),
    "setup.session_s": ("s", "lower"),
    "setup.inputs_s": ("s", "lower"),
    "setup.prep_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "host.steal_pct": ("%", "lower"),
    "host.peak_rss_mb": ("MB", "lower"),
    "host.wall_latency_p50_ms": ("ms", "lower"),
    "trace.spans": ("count", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}


class GateFailure(Exception):
    pass


T0 = time.perf_counter()


def mark(label: str) -> None:
    print(f"# [{time.perf_counter() - T0:7.2f}s] {label}", file=sys.stderr)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def jobs_launched(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids, default=-1) + 1


def start_session(work: str, cores: int, event_log: "str | None" = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and its Python workers inherit these: keep every scratch
    # file inside the work directory and make the package importable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + event_log)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemons) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the launcher JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def kernel_calibration(docs, seconds: float = 1.0) -> float:
    """Pages/s of ``extract.process_html`` in this process, no Spark:
    host calibration reported next to the engine numbers."""
    from gocrawl_spark import synth
    from gocrawl_spark.extract import ArticleSelectors, PageSelectors, process_html

    n = len(docs)
    sample = [(synth.url_of(d), synth.build_html(d, t, la, n)) for d, t, la in docs[:200]]
    a_sel, p_sel = ArticleSelectors.default(), PageSelectors.default()
    done, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for url, html in sample:
            process_html(html, url, a_sel, p_sel)
        done += len(sample)
    return done / (time.perf_counter() - t0)


class Bench:
    """One run of one workload: set-up, measurement, gates, metrics."""

    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer(enabled=self.traced)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self.attempted = 0
        self.failed = 0
        self.windows: dict[str, list[tuple[float, float]]] = {}
        self.search_closed_n = 0
        self.round_span = None  # parent of loopback-server GET spans
        # peak memory is a per-layer metric: sample it in the traced pass
        # only, so no background thread runs while the end-to-end numbers
        # are measured
        self.rss = RssSampler() if self.traced else None
        t0 = clock()
        self.spark = start_session(
            self.work, CORES, os.path.join(self.work, "events") if self.traced else None
        )
        self.session_s = clock() - t0
        self.layer["setup.session_s"] = self.session_s

    def gate(self, problems: list[str]) -> None:
        if problems:
            for p in problems[:10]:
                print(f"GATE: {p}", file=sys.stderr)
            raise GateFailure(problems[0])

    def setup(self, make_inputs, prep, warmup):
        """setup_s = session start + input build + ``prep`` (the package
        calls that turn inputs into what the window uses) + one warm-up
        pass, each once: the set-up a user waits for, cold JVM and
        Python-worker start included. Untraced. Returns prep's value."""
        self.tracer.enabled = False
        t0 = clock()
        made = make_inputs()
        inputs_s = clock() - t0
        t0 = clock()
        value = prep(made)
        prep_s = clock() - t0
        t0 = clock()
        warmup(value)
        warm_s = clock() - t0
        self.tracer.enabled = self.traced
        self.layer["setup.inputs_s"] = inputs_s
        self.layer["setup.prep_s"] = prep_s
        self.layer["setup.warmup_s"] = warm_s
        self.e2e["setup_s"] = self.session_s + inputs_s + prep_s + warm_s
        print(
            f"# setup: session {self.session_s:.2f}s, inputs {inputs_s:.2f}s, prep "
            f"{prep_s:.2f}s, warm-up {warm_s:.2f}s",
            file=sys.stderr,
        )
        return value

    def measure(self, window) -> None:
        """``window(seconds)`` measures and returns its median latency.
        Untraced, one window gives the end-to-end numbers. With --trace 1
        the time is split in three: untraced, traced, untraced; the
        tracing overhead is the traced window's latency against the
        mean of the two untraced ones around it, so warming up over the
        run does not bias it. What runs after the windows is traced."""
        if not self.traced:
            window(self.args.seconds)
            return
        third = self.args.seconds / 3
        self.tracer.enabled = False
        before = window(third)
        self.tracer.enabled = True
        traced = window(third)
        self.tracer.enabled = False
        base = (before + window(third)) / 2
        self.tracer.enabled = True
        self.layer["trace.overhead_pct"] = 100.0 * (traced - base) / base if base else 0.0

    def shutdown(self, correct: bool) -> None:
        """Stop Spark, then fold in the event log and the spans."""
        mark("stopping Spark")
        stop_session(self.spark)
        mark("stopped")
        if self.rss is not None:
            self.layer["host.peak_rss_mb"] = self.rss.stop()
        if self.traced and correct:
            ev = event_log_stats(os.path.join(self.work, "events"), self.windows, CORES)
            for phase, prefix in (("rounds", "rounds"), ("search", "search")):
                if phase in ev:
                    s = ev[phase]
                    self.layer[f"{prefix}.busy_ratio"] = s["busy_ratio"]
                    if prefix == "rounds":
                        self.layer["rounds.shuffle_write_bytes"] = s["shuffle_write_bytes"]
                        self.layer["rounds.spill_bytes"] = s["spill_bytes"]
                        self.layer["rounds.gc_s"] = s["gc_s"]
                    else:
                        n = max(1, self.search_closed_n)
                        self.layer["search.tasks_per_query"] = s["tasks"] / n
            selfs = self.tracer.self_times()
            for layer in ("rounds", "search", "httpd"):
                self.layer[f"{layer}.self_s"] = selfs.get(layer, 0.0)
            self.layer["trace.spans"] = len(self.tracer.spans)
            out = os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{self.args.workload}-seed{self.args.seed}.jsonl",
            )
            self.tracer.write(out)
            print(f"# spans: {len(self.tracer.spans)} written to {out}", file=sys.stderr)
            print(
                "# self time per layer: "
                + ", ".join(f"{k} {v:.2f}s" for k, v in sorted(selfs.items())),
                file=sys.stderr,
            )

    def result(self, correct: bool) -> dict:
        for names, values in ((END_TO_END, self.e2e), (PER_LAYER, self.layer)):
            for k, (unit, _) in names.items():
                if k in values:
                    print(f"# {k:32s} {values[k]:14.4f} {unit}", file=sys.stderr)
        names = PER_LAYER if self.traced else END_TO_END
        values = self.layer if self.traced else self.e2e
        return {
            "correct": correct,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {
                k: {"value": values[k], "unit": u} for k, (u, _) in names.items() if k in values
            },
        }


# ------------------------------------------------------------------ workloads


def add_stage_spans(b: Bench, parent, t0: float, timings: dict) -> None:
    """Rebuild a round's stage children from the timings run_round
    returns, laid end to end from the round's start."""
    if parent is None:
        return
    names = {"pop": "rounds.pop", "fetch_extract": "extract.fetch_extract",
             "expand": "frontier.expand", "bloom": "frontier.seen_filter",
             "writes": "tableformat.commit", "stats": "rounds.stats"}
    t = t0
    for key, dur in timings.items():
        b.tracer.add(names.get(key, f"rounds.{key}"), t, t + dur, parent)
        t += dur


def host_layers(b: Bench, took: list[dict]) -> None:
    """host.*: share of the machine the hypervisor took during the
    measured intervals, and their median raw wall time."""
    ncpu = os.cpu_count() or 1
    b.layer["host.steal_pct"] = 100.0 * sum(t["steal"] for t in took) / (
        ncpu * sum(t["wall"] for t in took)
    )
    b.layer["host.wall_latency_p50_ms"] = 1000.0 * median([t["wall"] for t in took])


def round_layers(b: Bench, timings: list[dict], walls: list[float]) -> None:
    """rounds.* and frontier.seen_filter_s: medians over the rounds."""
    for key, name in (("pop", "rounds.pop_s"), ("fetch_extract", "rounds.fetch_extract_s"),
                      ("expand", "rounds.expand_s"), ("writes", "rounds.commit_s"),
                      ("stats", "rounds.stats_s"), ("bloom", "frontier.seen_filter_s")):
        b.layer[name] = median([t[key] for t in timings])
    b.layer["rounds.count"] = len(timings)
    b.layer["rounds.loop_overhead_s"] = median(
        [w - sum(t.values()) for w, t in zip(walls, timings)]
    )


def crawl_layers(b: Bench, crawl, fetched: int) -> None:
    """Layer metrics read from a finished crawl's committed state."""
    from pyspark.sql import functions as F

    links = crawl.extracted().agg(F.sum(F.size("links")).alias("n")).collect()[0]["n"] or 0
    b.layer["frontier.links_discovered"] = links
    b.layer["frontier.admit_ratio"] = b.layer["frontier.admitted"] / links if links else 0.0
    hs = crawl.host_state().agg(
        F.max("fetched_total").alias("m"), F.sum("fetched_total").alias("s")
    ).collect()[0]
    b.layer["frontier.max_host_share"] = hs["m"] / hs["s"]
    size, files = dir_size(crawl.run_dir)
    b.layer["tableformat.bytes_written"] = size
    b.layer["tableformat.files_written"] = files
    b.layer["tableformat.bytes_per_url"] = size / max(fetched, 1)
    b.layer["extract.pages"] = fetched
    b.layer["extract.pages_per_s"] = fetched / max(b.layer["rounds.fetch_extract_s"], 1e-9)
    kernel = b.layer["extract.kernel_pages_per_core_s"]
    b.layer["extract.engine_over_kernel"] = b.layer["extract.pages_per_s"] / (kernel * CORES)


def run_crawl_steady(b: Bench) -> None:
    """One wide politeness-budgeted round (CrawlRun.run_round) over the
    replicated corpus, below the depth bound, with a seen set large
    enough that the Bloom prefilter engages; repeated for the window."""
    from pyspark.sql import functions as F

    import inputs
    import oracles
    from gocrawl_spark import frontier as fr
    from gocrawl_spark import udfs
    from gocrawl_spark.rounds import CrawlConfig, CrawlRun, init_frontier_df

    spark, seed = b.spark, b.args.seed
    docs, _ = inputs.make_documents(STEADY_DOCS)
    texts = {d: t for d, t, _ in docs}
    prefixes = inputs.replica_prefixes(seed, STEADY_REPLICAS)
    cfg = CrawlConfig(max_depth=3, round_wall_s=3600.0, max_rounds=1)

    def make_inputs():
        d = os.path.join(b.work, "corpus")
        n_pages = inputs.write_corpus(d, docs, prefixes)
        seen_dir = os.path.join(b.work, "seen-urls")
        n_seen = inputs.write_urls(
            seen_dir, inputs.seen_urls(seed, docs, cfg.bloom_min_seen), CORES
        )
        return d, n_pages, seen_dir, n_seen

    def prep(made):
        corpus_dir, n_pages, seen_dir, n_seen = made
        d = os.path.join(b.work, "prep")
        corpus = spark.read.parquet(corpus_dir)
        init_frontier_df(corpus.select("url")).write.parquet(os.path.join(d, "frontier"))
        udfs.with_url_identity(spark.read.parquet(seen_dir)).select(
            "url_hash", "url", F.lit(-1).alias("fetched_round")
        ).write.parquet(os.path.join(d, "seen"))
        seen = spark.read.parquet(os.path.join(d, "seen"))
        bloom = fr.build_bloom(seen, n_shards=cfg.bloom_shards, m_bits=cfg.bloom_bits)
        frontier = spark.read.parquet(os.path.join(d, "frontier"))
        return {"corpus": corpus, "frontier": frontier, "seen": seen, "bloom": bloom,
                "n_seen": n_seen, "n_pages": n_pages}

    runs: list[str] = []

    def one_round(inp, frontier, tag: str) -> tuple[dict, dict, CrawlRun]:
        """Seconds of one round (steal-adjusted, wall, CPU, stolen), its
        stats and the CrawlRun."""
        crawl = CrawlRun(spark, inp["corpus"], [], os.path.join(b.work, f"run-{tag}"), cfg)
        cpu0, st0 = tree_usage()[1], steal_s()
        with b.tracer.span("rounds.run_round", trace=f"round-{tag}") as s:
            t0, c0 = time.perf_counter(), clock()
            stats = crawl.run_round(0, frontier, inp["seen"],
                                    seen_size=inp["n_seen"], bloom=inp["bloom"])
            adj, wall = clock() - c0, time.perf_counter() - t0
        add_stage_spans(b, s, t0, stats["timings"])
        took = {"adj": adj, "wall": wall, "cpu": tree_usage()[1] - cpu0, "steal": steal_s() - st0}
        return took, stats, crawl

    # the warm-up is a round over one replica's pages: the measured
    # rounds then replay a plan whose code is already compiled
    def warmup(inp):
        one_replica = F.col("url").startswith("https://" + prefixes[0])
        one_round(inp, inp["frontier"].filter(one_replica), "warmup")

    inp = b.setup(make_inputs, prep, warmup)
    b.layer["extract.kernel_pages_per_core_s"] = kernel_calibration(docs)
    b.windows["rounds"] = []
    last = {}

    def window(seconds: float) -> float:
        took, hist = [], []
        # a number of rounds fixed by --seconds, not by how fast they
        # run, so a faster commit measures the same work at the same
        # point of the JVM's warm-up
        for _ in range(max(1, int(seconds // STEADY_ROUND_S))):
            w0, jobs0 = time.time(), jobs_launched(spark)
            t, stats, crawl = one_round(inp, inp["frontier"], str(len(runs)))
            b.layer["rounds.spark_jobs"] = jobs_launched(spark) - jobs0
            b.windows["rounds"].append((w0, time.time()))
            runs.append(crawl.run_dir)
            took.append(t)
            hist.append(stats)
            print(f"# round {len(runs) - 1}: {stats['fetched']} URLs in {t['adj']:.2f} s "
                  f"(wall {t['wall']:.2f} s), CPU {t['cpu']:.1f} s", file=sys.stderr)
            b.attempted += stats["popped"]
            b.failed += stats["popped"] - stats["fetched"]
            last["crawl"], last["stats"] = crawl, stats
        walls = [t["adj"] for t in took]
        b.e2e["throughput_per_s"] = median([h["fetched"] / w for h, w in zip(hist, walls)])
        b.e2e["latency_p50_ms"] = median(walls) * 1000.0
        b.e2e["cpu_ms_per_op"] = median([1000.0 * t["cpu"] / h["fetched"] for t, h in zip(took, hist)])
        host_layers(b, took)
        round_layers(b, [h["timings"] for h in hist], walls)
        return median(walls)

    b.measure(window)

    # gate: every page of every measured round byte-identical
    rows = oracles.extraction_digests(
        spark.read.parquet(*[os.path.join(r, "rounds", "round=0000", "extracted") for r in runs])
    )
    bad, pages = oracles.check_extraction(rows, texts)
    if pages != len(runs) * inp["n_pages"]:
        bad.append(f"extracted {pages} pages, expected {len(runs) * inp['n_pages']}")
    b.gate(bad)

    st = last["stats"]
    b.layer["frontier.popped"] = st["popped"]
    # frontier' = (frontier - popped) + admitted candidates
    b.layer["frontier.admitted"] = st["frontier_next"] - (inp["n_pages"] - st["popped"])
    crawl_layers(b, last["crawl"], st["fetched"])
    if b.traced:
        scaling_legs(b, one_round, inp)


def pin_tree(cpus: set[int]) -> None:
    """Pin every thread of this process and its descendants (JVM,
    Python workers) to ``cpus``; processes they start later inherit it."""
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass  # the thread ended meanwhile


def scaling_legs(b: Bench, one_round, inp) -> None:
    """rounds.scaling_eff_1to4 (traced pass): the same round over
    LEG_PAGES frontier URLs with the whole process tree pinned to 4
    cores, then to 1 core; URLs/s on 4 ÷ (4 × URLs/s on 1). Wall time:
    the 1-core leg cannot use steal on the other cores. The legs are
    not traced."""
    every = os.sched_getaffinity(0)
    if len(every) < 4:
        return
    ups = {}
    b.tracer.enabled = False
    try:
        for n in (4, 1):
            pin_tree(set(sorted(every)[:n]))
            t, stats, _ = one_round(inp, inp["frontier"].limit(LEG_PAGES), f"leg{n}")
            ups[n] = stats["fetched"] / t["wall"]
            print(f"# scaling leg, {n} core(s): {ups[n]:.1f} URLs/s", file=sys.stderr)
    finally:
        pin_tree(every)
    b.layer["rounds.scaling_eff_1to4"] = ups[4] / (4 * ups[1])


def run_search_serve(b: Bench) -> None:
    """HTTP search API (httpd.serve over SearchBackend.from_warehouse)
    on a warehouse written in set-up; the window is an open loop at a
    fixed rate, then a closed loop of CORES clients."""
    import inputs
    import oracles
    from gocrawl_spark import httpd, synth
    from gocrawl_spark.catalog import Warehouse

    spark, seed = b.spark, b.args.seed
    docs, vocab = inputs.make_documents(SEARCH_DOCS)
    texts = {d: t for d, t, _ in docs}
    seeds = [synth.url_of(d) for d, _, _ in docs]
    lock = threading.Lock()
    open_requests: dict[tuple, list] = {}  # client spans awaiting their backend call
    inflight = {"now": 0, "max": 0}

    class TracedBackend(httpd.SearchBackend):
        """Counts requests in flight and records a span around every
        backend call, parented to the client's span of that request."""

        def _call(self, name, key, fn):
            with lock:
                inflight["now"] += 1
                inflight["max"] = max(inflight["max"], inflight["now"])
                waiting = open_requests.get(key)
                parent = waiting.pop(0) if waiting else None
            try:
                with b.tracer.span(name, parent=parent):
                    return fn()
            finally:
                with lock:
                    inflight["now"] -= 1

        def search(self, index, query, size):
            return self._call("search.search", ("/search", index, query),
                              lambda: super(TracedBackend, self).search(index, query, size))

        def search_dsl(self, index, body):
            key = ("/search/dsl", index, json.dumps(body, sort_keys=True))
            return self._call("search.search_dsl", key,
                              lambda: super(TracedBackend, self).search_dsl(index, body))

    def make_inputs():
        """Extract every document with the engine's extraction function,
        run in this process, and write the warehouse tables that
        CrawlRun.publish would write for those rows (CrawlRun.publish
        itself runs in the traced pass, see live_fetch_leg)."""
        flat = inputs.extract_in_process(docs)
        root = os.path.join(b.work, "wh")
        inputs.write_warehouse(root, flat)
        return flat, Warehouse(spark, root)

    class Served:
        """The prep: backend over the warehouse → API server."""

        def __init__(self, made):
            self.flat, self.wh = made
            plain = httpd.SearchBackend.from_warehouse(spark, self.wh.root)
            self.backend = TracedBackend(plain.tables)
            self.srv = httpd.serve(self.backend)
            self.base = f"http://127.0.0.1:{self.srv.server_address[1]}"

        def close(self):
            self.srv.shutdown()
            self.srv.server_close()

    mix = inputs.query_mix(seed, vocab, 4000)

    def send(srv, path, body, trace_id):
        req = urllib.request.Request(srv.base + path, data=json.dumps(body).encode(),
                                     headers={"Content-Type": "application/json"})
        if path == "/search":
            key = (path, body["index"], body["query"])
        else:
            rest = {k: v for k, v in body.items() if k != "index"}
            key = (path, body["index"], json.dumps(rest, sort_keys=True))
        with b.tracer.span("httpd.request", trace=trace_id) as s:
            if s is not None:
                with lock:
                    open_requests.setdefault(key, []).append(s)
            try:
                with urllib.request.urlopen(req, timeout=60) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, None

    def warmup(srv):
        with ThreadPoolExecutor(max_workers=CORES) as pool:
            list(pool.map(lambda r: send(srv, *r, "warmup"), mix[-SEARCH_WARM_REQUESTS:]))

    srv = b.setup(make_inputs, Served, warmup)

    mark("set-up done")
    # gate: the published rows are byte-identical extractions
    b.gate(oracles.check_extraction(oracles.flat_digests(srv.flat), texts)[0])

    tables = {
        "articles": [{"id": r["id"], "text": r["body"], "section": r["section"]}
                     for r in srv.wh.table("articles").select("id", "body", "section").collect()],
        "pages": [{"id": r["id"], "text": r["content"]}
                  for r in srv.wh.table("pages").select("id", "content").collect()],
    }
    oracle = oracles.SearchOracle(tables)
    mark("gates and oracle ready")
    cursor = [0]

    def next_request():
        with lock:
            i = cursor[0]
            cursor[0] += 1
        return i, mix[i % len(mix)]

    answered: list[tuple] = []  # checked against the oracle after each window

    def checked(i, path, body):
        status, resp = send(srv, path, body, f"req-{i}")
        with lock:
            b.attempted += 1
            if status != 200:
                b.failed += 1
            else:
                answered.append((path, body, resp))

    def window(seconds: float) -> float:
        # open loop: request j is due at j / rate; its latency counts
        # from when it was due, on the steal-adjusted clock
        open_s = seconds * SEARCH_OPEN_SHARE
        lat, raw, late = [], [], []
        t_start = time.perf_counter()

        def timed(i, path, body, due, due_clock):
            checked(i, path, body)
            lat.append(clock() - due_clock)
            raw.append(time.perf_counter() - due)

        with ThreadPoolExecutor(max_workers=CORES) as pool:
            futs, j = [], 0
            while j / SEARCH_OPEN_RATE < open_s:
                due = t_start + j / SEARCH_OPEN_RATE
                time.sleep(max(0.0, due - time.perf_counter()))
                behind = time.perf_counter() - due
                late.append(behind)
                i, (path, body) = next_request()
                futs.append(pool.submit(timed, i, path, body, due, clock() - behind))
                j += 1
            for f in futs:
                f.result()
        # closed loop: CORES clients, each sends its next request when
        # the previous one returns
        closed_s = seconds - open_s
        done = [0]
        jobs0, cpu0, st0 = jobs_launched(spark), tree_usage()[1], steal_s()
        c0, a0, w0 = time.perf_counter(), clock(), time.time()

        def client():
            while time.perf_counter() - c0 < closed_s:
                i, (path, body) = next_request()
                checked(i, path, body)
                with lock:
                    done[0] += 1

        with ThreadPoolExecutor(max_workers=CORES) as pool:
            for f in [pool.submit(client) for _ in range(CORES)]:
                f.result()
        elapsed, cpu = clock() - a0, tree_usage()[1] - cpu0
        wall = time.perf_counter() - c0
        host_layers(b, [{"steal": steal_s() - st0, "wall": wall}])
        b.layer["host.wall_latency_p50_ms"] = median(raw) * 1000.0
        b.windows["search"] = [(w0, time.time())]
        b.search_closed_n = done[0]
        b.layer["search.jobs_per_query"] = (jobs_launched(spark) - jobs0) / max(done[0], 1)
        b.layer["search.gen_late_ms"] = max(late) * 1000.0
        b.e2e["throughput_per_s"] = done[0] / elapsed
        b.e2e["latency_p50_ms"] = median(lat) * 1000.0
        b.e2e["cpu_ms_per_op"] = 1000.0 * cpu / max(done[0], 1)
        print(f"# open loop: {len(lat)} requests at {SEARCH_OPEN_RATE}/s, p50 "
              f"{median(lat) * 1000:.1f} ms; closed loop: {done[0]} requests in "
              f"{elapsed:.2f} s (wall {wall:.2f} s)", file=sys.stderr)
        for r in answered:
            b.gate(oracle.check(*r))
        answered.clear()
        return median(lat)

    try:
        b.measure(window)
        if b.traced:
            # one request at a time: in-process backend vs over HTTP
            backend_ms, http_ms = [], []
            plain = httpd.SearchBackend(srv.backend.tables)
            for path, body in mix[:8]:
                t0 = time.perf_counter()
                if path == "/search":
                    plain.search(body["index"], body["query"], httpd.DEFAULT_SEARCH_SIZE)
                else:
                    plain.search_dsl(body["index"], {k: v for k, v in body.items() if k != "index"})
                backend_ms.append((time.perf_counter() - t0) * 1000.0)
                t0 = time.perf_counter()
                send(srv, path, body, "sequential")
                http_ms.append((time.perf_counter() - t0) * 1000.0)
            b.layer["search.backend_ms"] = median(backend_ms)
            b.layer["httpd.overhead_ms"] = median(http_ms) - median(backend_ms)
        b.layer["httpd.max_inflight"] = inflight["max"]
    finally:
        srv.close()
    if b.traced:
        live_fetch_leg(b, docs, texts, seeds)


def traced_crawl(b: Bench, crawl, tag: str) -> tuple[list[dict], float, int]:
    """CrawlRun.run with a span around the crawl and around each
    run_round (wrapped on the instance), stage children rebuilt from
    the round timings. Returns (round stats, steal-adjusted seconds of
    the whole run, Spark jobs)."""
    inner = crawl.run_round

    def traced_round(rnd, *a, **k):
        with b.tracer.span("rounds.run_round") as s:
            b.round_span = s
            t0 = time.perf_counter()
            stats = inner(rnd, *a, **k)
        add_stage_spans(b, s, t0, stats["timings"])
        return stats

    crawl.run_round = traced_round
    jobs0, w0 = jobs_launched(b.spark), time.time()
    with b.tracer.span("rounds.crawl", trace=f"crawl-{tag}") as cs:
        b.round_span = cs
        c0 = clock()
        hist = crawl.run(resume=False)
        run_s = clock() - c0
    b.windows.setdefault("rounds", []).append((w0, time.time()))
    b.round_span = None
    return hist, run_s, jobs_launched(b.spark) - jobs0


def live_fetch_leg(b: Bench, docs, texts, seeds) -> None:
    """Traced pass only: one CrawlRun.run round in fetch_mode="http"
    against a loopback web with live robots.txt discovery and a
    per-host delay. Gates: seen set = robots-allowed seeds, extraction
    bytes, no disallowed path at the server, same-host gap >= delay.
    The crawl is then published (CrawlRun.publish). Gives the fetch.*,
    catalog.* and round layers of search_serve."""
    import inputs
    import oracles
    from gocrawl_spark import robots as rb
    from gocrawl_spark.catalog import Warehouse
    from gocrawl_spark.rounds import CrawlConfig, CrawlRun

    spark = b.spark
    robots_rows = [(r["host"], r["rules"]) for r in rb.synth_robots(spark).collect()]
    robots = {h: oracles.parse_robots(r) for h, r in robots_rows}

    def on_get(rec):
        host, path, start, end, _status, _size = rec
        b.tracer.add("fetch.get", start, end, b.round_span, trace=f"get {host}{path}")

    web = inputs.LoopbackWeb(inputs.site_pages(docs, robots_rows), on_get)
    try:
        cfg = CrawlConfig(
            max_depth=0, round_wall_s=3600.0, max_rounds=1, fetch_mode="http",
            http_proxy_base=web.base, delay_ms=LIVE_FETCH_DELAY_MS, parallelism=1,
            respect_robots=True,
        )
        seed_df = spark.createDataFrame([(u,) for u in seeds], "url string")
        crawl = CrawlRun(spark, None, seed_df, os.path.join(b.work, "live"), cfg)
        hist, run_s, jobs = traced_crawl(b, crawl, "live")
    finally:
        web.close()
    wh = Warehouse(spark, os.path.join(b.work, "wh-live"))
    with b.tracer.span("catalog.publish", trace="publish-live"):
        c0 = clock()
        crawl.publish(wh)
        b.layer["catalog.publish_s"] = clock() - c0
    log = web.take_log()
    got = {r["url"]: r["fetched_round"] for r in crawl.seen_final().collect()}
    b.gate(oracles.check_seen(got, oracles.expected_seen(seeds, robots)))
    bad, fetched = oracles.check_extraction(oracles.extraction_digests(crawl.extracted()), texts)
    b.gate(bad)
    bad, min_gap = oracles.check_politeness(log, robots, LIVE_FETCH_DELAY_MS)
    b.gate(bad)
    resp = spark.read.parquet(os.path.join(crawl.run_dir, "rounds", "round=*", "responses"))
    b.attempted += len(got)
    b.failed += resp.filter("status = 0 OR status >= 500").count()
    page_log = [r for r in log if r[1] != "/robots.txt"]
    b.layer.update({
        "fetch.requests": len(page_log),
        "fetch.robots_requests": len(log) - len(page_log),
        "fetch.not_found": sum(1 for r in page_log if r[4] == 404),
        "fetch.bytes": sum(r[5] for r in log),
        "fetch.server_busy_s": sum(r[3] - r[2] for r in log),
        "fetch.min_host_gap_ms": min_gap,
        "frontier.popped": sum(h["popped"] for h in hist),
        "frontier.admitted": len(got),
        "rounds.spark_jobs": jobs,
        "extract.kernel_pages_per_core_s": kernel_calibration(docs),
    })
    # one round: the loop overhead is the whole run outside its stages
    round_layers(b, [h["timings"] for h in hist], [run_s])
    crawl_layers(b, crawl, fetched)
    b.layer["catalog.rows_published"] = sum(n for _, n in wh.list_tables())
    b.layer["catalog.bytes"], b.layer["catalog.files"] = dir_size(wh.root)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import gocrawl_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    b = Bench(args)
    correct = True
    try:
        {"crawl_steady": run_crawl_steady, "search_serve": run_search_serve}[args.workload](b)
    except GateFailure as e:
        print(f"perfbench: output gate failed: {e}", file=sys.stderr)
        correct = False
    finally:
        # also on an unexpected error, which then exits without a result
        b.shutdown(correct)
        shutil.rmtree(b.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(b.work))  # if no other run uses it
        except OSError:
            pass
    print(json.dumps(b.result(correct)))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
