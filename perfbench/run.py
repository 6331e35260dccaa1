#!/usr/bin/env python3
"""Crawl-engine benchmark.

    python3 perfbench/run.py                         # every workload, untraced
    python3 perfbench/run.py --workload wave_skew --seed 3 --seconds 12 --trace 0
    python3 perfbench/run.py --workload crawl_multiwave --trace 1

Run from the repository root. Each workload runs in its own driver
process on ``local[nproc]``: several fresh-session set-ups (the median is
``setup_s``), seeded input generation, timed operations for ``--seconds``
with every output checked, then one JSON line on stdout with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(OUT, f"run-{os.getpid()}")

WORKLOADS = ("wave_skew", "crawl_multiwave")
SETUP_REPS = 3
RUN_LIMIT_S = 170
N_SALTS = 8

END_TO_END = {
    "wave_urls_per_s": "urls/s",
    "crawl_pages_per_s": "pages/s",
    "crawl_wave_s_p50": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
COMMIT_TABLES = (
    "fetch_log", "url_seen", "wave_fetched", "quarantine",
    "frontier_pending", "partition_metrics", "crawl_state",
)
PER_LAYER = {
    "canon.self_s": "s", "canon.rows_in": "count", "canon.rows_ok": "count",
    "canon.cpu_s": "s",
    "wave.dedup.self_s": "s", "wave.dedup.rows_in": "count",
    "wave.dedup.rows_out": "count", "wave.dedup.keep_ratio": "ratio",
    "wave.dedup.shuffle_write_mb": "MB",
    "seen.probe.self_s": "s", "seen.probe.rows_in": "count",
    "seen.probe.rows_out": "count", "seen.probe.hit_ratio": "ratio",
    "seen.probe.side_read_mb": "MB", "seen.probe.side_shuffle_mb": "MB",
    "politeness.self_s": "s", "politeness.rows_out": "count",
    "politeness.task_skew": "ratio",
    "ranking.self_s": "s", "wave.rejoin.self_s": "s",
    **{f"storage.commit_s.{t}": "s" for t in COMMIT_TABLES},
    "storage.mb_written": "MB", "storage.files_written": "count",
    "seen_index.append_s": "s", "seen_index.rows_appended": "count",
    "fetch.pages": "count", "fetch.n_404": "count",
    "links.links_per_page": "ratio",
    "crawl.jobs_per_wave": "count", "crawl.driver_idle_s": "s",
    "crawl.spill_mb": "MB",
    "trace.untraced_s": "s", "trace.overhead_s": "s",
}


def _specs():
    import gen

    # wave_skew: half the links on the 1 % hot hosts, ~2 links per
    # target, 25 % of targets pre-seen, 90 % of the refs relative (15 %
    # '../'): canonicalization carries the wave, the per-host windows
    # see the hot-host skew.
    wave = gen.WaveSpec(
        n_links=200_000, n_hosts=2_000, dup=2.0, seen_share=0.25,
        forms=(55, 15, 20, 10), budget=40,
    )
    warmup = gen.WaveSpec(
        n_links=20_000, n_hosts=200, dup=2.0, seen_share=0.25,
        forms=(55, 15, 20, 10), budget=40,
    )
    # crawl_multiwave: per-wave fixed costs (commits, fetch join,
    # discovery, index appends, driver planning) dominate. About half
    # the hosts see more than 10 candidates in wave 1, so a budget of 10
    # makes the politeness cut part of what the simulator check compares.
    crawl = gen.CrawlSpec(n_docs=2_000, n_hosts=100, budget=10, waves=2)
    return wave, warmup, crawl


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def _heap_mb() -> int:
    """Driver heap: a quarter of physical memory, at most 1.5 GiB (the
    inputs are small; the box is shared)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(512, min(1536, total_kb // 1024 // 4))


def _start_session(nproc: int):
    from docrawl_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench", cpus=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # a heap committed up front keeps peak RSS from depending on
            # when G1 decides to grow it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEMORY']}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _shutdown() -> None:
    """Stop the Spark context, then the gateway JVM (it exits when its
    stdin closes), and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# Wave workload
# ---------------------------------------------------------------------------


def _canon(links):
    """The link stream canonicalized (Arrow UDF; host rides the struct)
    and keyed, canon errors dropped."""
    from pyspark.sql import functions as F

    from docrawl_spark.functions.canon import url_hash_col, with_abs_url

    canon = with_abs_url(links, "media_ref", "discovered_by", host_out="host")
    return canon.where(F.col("canon_error").isNull()).select(
        "url", "host", url_hash_col("host").alias("host_hash"),
        url_hash_col("url").alias("url_hash"),
        "parent_rank", "offset", "depth", "discovered_by",
    )


def _payload(links, ranked):
    """The ranked keys broadcast-joined back onto the raw link stream by
    their unique order key, so only selected rows are canonicalized a
    second time."""
    from pyspark.sql import functions as F

    from docrawl_spark.functions.canon import with_abs_url
    from docrawl_spark.operators.links import pack_order_col

    keys = ranked.select("_pack", "url_hash", "visit_rank")
    sel = links.withColumn("_pack", pack_order_col()).join(F.broadcast(keys), "_pack")
    return with_abs_url(sel, "media_ref", "discovered_by", host_out="host").select(
        "url", "host", "url_hash", "parent_rank", "offset", "depth",
        "discovered_by", "visit_rank",
    )


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _release(spark, tracker) -> None:
    # repeated identical plans would otherwise be served from the
    # CacheManager (a cache read, not a wave)
    for frame in tracker:
        frame.unpersist()
    spark.catalog.clearCache()


def wave_op(spark, links, seen, hosts, collect=True):
    """One untraced wave: wall seconds from the first with_abs_url call
    to the payload output forced to a noop sink, plus the output rows
    (collected after the clock stops; None when ``collect`` is off)."""
    from docrawl_spark.plans.wave import schedule_wave

    tracker: list = []
    t0 = time.perf_counter()
    good = _canon(links)
    ranked = schedule_wave(
        good, hosts, n_salts=N_SALTS, rank_col="visit_rank", seen=seen,
        payload=False, fused=True, persist_tracker=tracker,
    )
    out = _payload(links, ranked)
    _noop(out)
    wall = time.perf_counter() - t0
    rows = None
    if collect:
        rows = [tuple(r) for r in out.select("url", "visit_rank", "url_hash").collect()]
    _release(spark, tracker)
    return wall, rows


def traced_wave_op(spark, tracer, links, seen, hosts, jvm_pid):
    """One traced wave: build the stage frames (the ranking operator
    runs its range-partition jobs while building), then force each named
    prefix in order. A layer's self time is its prefix wall minus the
    previous prefix's."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from docrawl_spark.plans.wave import schedule_wave_stages
    from tracing import tree_cpu_s

    tracker: list = []
    walls, rows_out, cpu, prefix_spans = {}, {}, {}, {}
    with tracer.span("wave") as root:
        with tracer.span("wave.plan") as plan:
            good = _canon(links)
            stages = schedule_wave_stages(
                good, hosts, n_salts=N_SALTS, rank_col="visit_rank", seen=seen,
                persist_tracker=tracker, fused=True,
            )
            out = _payload(links, stages["ranked"])
        prefixes = [
            ("canon", good), ("wave.dedup", stages["deduped"]),
            ("seen.probe", stages["unseen"]), ("politeness", stages["selected"]),
            ("ranking", stages["ranked"]), ("wave.rejoin", out),
        ]
        for name, frame in prefixes:
            obs = Observation(name)
            c0 = tree_cpu_s(jvm_pid)
            with tracer.span(name) as sp:
                _noop(frame.observe(obs, F.count(F.lit(1)).alias("n")))
            cpu[name] = tree_cpu_s(jvm_pid) - c0
            walls[name] = sp.wall_s
            prefix_spans[name] = sp
            rows_out[name] = int(obs.get["n"])
            sp.attrs["rows_out"] = rows_out[name]
    rows = [tuple(r) for r in out.select("url", "visit_rank", "url_hash").collect()]
    _release(spark, tracker)

    canon_s, dedup_s, probe_s, pol_s = (
        tracer.stage_sums({prefix_spans[n].job_group})
        for n in ("canon", "wave.dedup", "seen.probe", "politeness")
    )
    order = [n for n, _ in prefixes]
    self_s = {
        n: max(0.0, walls[n] - (walls[order[k - 1]] if k else 0.0))
        for k, n in enumerate(order)
    }
    # the rank jobs ran inside wave.plan, re-executing the pipeline up
    # to the politeness output first; the forced ``ranked`` prefix then
    # reads the operator's cache
    self_s["ranking"] = max(0.0, plan.wall_s - walls["politeness"]) + walls["ranking"]
    m = {
        "canon.self_s": self_s["canon"],
        "canon.rows_in": canon_s.input_records,
        "canon.rows_ok": rows_out["canon"],
        "canon.cpu_s": cpu["canon"],
        "wave.dedup.self_s": self_s["wave.dedup"],
        "wave.dedup.rows_in": dedup_s.shuffle_write_records,
        "wave.dedup.rows_out": rows_out["wave.dedup"],
        "wave.dedup.keep_ratio": rows_out["wave.dedup"] / max(1, dedup_s.shuffle_write_records),
        "wave.dedup.shuffle_write_mb": dedup_s.shuffle_write_mb,
        "seen.probe.self_s": self_s["seen.probe"],
        "seen.probe.rows_in": rows_out["wave.dedup"],
        "seen.probe.rows_out": rows_out["seen.probe"],
        "seen.probe.hit_ratio": 1.0 - rows_out["seen.probe"] / max(1, rows_out["wave.dedup"]),
        "seen.probe.side_read_mb": max(0.0, probe_s.input_mb - dedup_s.input_mb),
        "seen.probe.side_shuffle_mb": max(0.0, probe_s.shuffle_write_mb - dedup_s.shuffle_write_mb),
        "politeness.self_s": self_s["politeness"],
        "politeness.rows_out": rows_out["politeness"],
        "politeness.task_skew": pol_s.task_skew,
        "ranking.self_s": self_s["ranking"],
        "wave.rejoin.self_s": self_s["wave.rejoin"],
    }
    return root.wall_s, rows, m


def run_wave(spark, args, wave_spec, jvm_pid, tracer):
    import checks
    import gen

    src = os.path.join(WORK, "inputs")
    links_path, seen_path = os.path.join(src, "links"), os.path.join(src, "seen")
    gen.wave_links_df(spark, wave_spec, args.seed).write.mode("overwrite").parquet(links_path)
    gen.wave_seen_df(spark, wave_spec, args.seed).write.mode("overwrite").parquet(seen_path)
    exp = gen.expected_wave(wave_spec, args.seed)
    hosts = gen.hosts_df(spark, wave_spec.n_hosts, wave_spec.budget, wave_spec.robots_every)

    def inputs():
        return spark.read.parquet(links_path), spark.read.parquet(seen_path), hosts

    result = Result()
    if tracer is not None:
        try:
            result.layers = trace_wave(spark, tracer, inputs, exp, wave_spec, args.seed, jvm_pid, result)
        except Exception:
            traceback.print_exc()
            result.add(None, ["traced wave raised"])
        return result
    from tracing import RssSampler

    with RssSampler(jvm_pid) as rss:
        while result.wants_more(args.seconds):
            try:
                wall, rows = wave_op(spark, *inputs())
                print(f"# wave wall {wall:.3f} s", flush=True)
                result.add(wall, checks.check_wave(rows, exp, wave_spec, args.seed))
            except Exception:  # one failed wave must not cost the run
                traceback.print_exc()
                result.add(None, ["wave raised"])
    walls = result.walls
    p50 = statistics.median(walls) if walls else float("nan")
    result.e2e = {
        "wave_urls_per_s": wave_spec.n_links / p50,
        "crawl_pages_per_s": exp.n_selected / p50,
        "crawl_wave_s_p50": p50,
        "peak_rss_mb": rss.peak_mb,
    }
    return result


def trace_wave(spark, tracer, inputs, exp, wave_spec, seed, jvm_pid, result):
    """The traced wave, its checks (output and prefix row counts against
    the generator's model) and the overhead against untraced waves."""
    import checks

    before, before_rows = wave_op(spark, *inputs())
    result.add(before, checks.check_wave(before_rows, exp, wave_spec, seed))
    wall, rows, layers = traced_wave_op(spark, tracer, *inputs(), jvm_pid)
    problems = checks.check_wave(rows, exp, wave_spec, seed)
    expected = {
        "canon.rows_in": exp.n_links, "canon.rows_ok": exp.n_links,
        "wave.dedup.rows_in": exp.n_gated, "wave.dedup.rows_out": exp.n_deduped,
        "seen.probe.rows_out": exp.n_unseen, "politeness.rows_out": exp.n_selected,
    }
    problems += [
        f"{k} = {layers[k]}, generator expects {v}"
        for k, v in expected.items() if layers[k] != v
    ]
    result.add(None if problems else wall, problems)
    after, after_rows = wave_op(spark, *inputs())
    result.add(after, checks.check_wave(after_rows, exp, wave_spec, seed))
    # untraced waves on both sides of the traced one (A-B-A): the mean
    # sees the same JIT and cache warmth as the traced wave in between
    layers["trace.untraced_s"] = (before + after) / 2
    layers["trace.overhead_s"] = wall - layers["trace.untraced_s"]
    return layers


# ---------------------------------------------------------------------------
# Crawl workload
# ---------------------------------------------------------------------------


def crawl_op(spark, docs, hosts, seeds, spec, tracer=None):
    """One crawl into a fresh warehouse and seen index. Returns its wall
    time, the wave walls (between successive crawl_state commits) and
    the fetch-log rows (wave, url, status, n_spans) in visit order."""
    from contextlib import nullcontext

    from docrawl_spark.operators.fetch import synthetic_fetch
    from docrawl_spark.operators.scan import scan_documents
    from docrawl_spark.plans.crawl import run_crawl
    from observed import ObservedSeenIndex, ObservedWarehouse

    root_dir = os.path.join(WORK, "crawl")
    shutil.rmtree(root_dir, ignore_errors=True)
    wh = ObservedWarehouse(os.path.join(root_dir, "warehouse"), spark, tracer)
    index = ObservedSeenIndex(
        spark, os.path.join(root_dir, "seen_index"), tracer=tracer, n_salts=N_SALTS
    )
    # the same fetch stage run_crawl builds by default, made visible
    docs_clean = scan_documents(docs).persist()

    def fetcher(selected):
        if tracer is None:
            return synthetic_fetch(selected, docs_clean)
        with tracer.span("fetch.plan"):
            return synthetic_fetch(selected, docs_clean)

    t0 = time.time()
    with tracer.span("crawl") if tracer else nullcontext():
        res = run_crawl(
            spark, docs, hosts, seeds, max_waves=spec.waves, warehouse=wh,
            n_salts=N_SALTS, fetcher=fetcher, seen_index=index,
        )
    wall = time.time() - t0
    ends = [c["end"] for c in wh.commits if c["table"] == "crawl_state"]
    waves = [b - a for a, b in zip([t0, *ends], ends)]
    rows = [
        (int(r["wave"]), r["url"], int(r["status"]), int(r["n_spans"]))
        for r in res.fetch_log.orderBy("wave", "visit_rank")
        .select("wave", "url", "status", "n_spans").collect()
    ]
    docs_clean.unpersist()
    index.drop()
    spark.catalog.clearCache()
    return {"wall": wall, "waves": waves, "rows": rows, "warehouse": wh, "t0": t0, "ends": ends}


def _crawl_layers(tracer, c):
    from tracing import union_length

    wh, t0, ends, rows = c["warehouse"], c["t0"], c["ends"], c["rows"]
    jobs = tracer.jobs()
    spans = tracer.spans
    m = {}
    for t in COMMIT_TABLES:
        m[f"storage.commit_s.{t}"] = sum(s.wall_s for s in spans if s.name == f"storage.commit.{t}")
    m["storage.mb_written"] = sum(c.get("mb", 0.0) for c in wh.commits)
    m["storage.files_written"] = sum(c.get("files", 0) for c in wh.commits)
    appends = [s for s in spans if s.name == "seen_index.append"]
    m["seen_index.append_s"] = sum(s.wall_s for s in appends)
    m["seen_index.rows_appended"] = tracer.stage_sums({s.job_group for s in appends}).output_records
    ok = [r for r in rows if r[2] == 200]
    m["fetch.pages"] = len(rows)
    m["fetch.n_404"] = len(rows) - len(ok)
    m["links.links_per_page"] = sum(r[3] for r in ok) / max(1, len(ok))
    m["crawl.jobs_per_wave"] = len(jobs) / max(1, len(ends))
    idle = 0.0
    for a, b in zip([t0, *ends], ends):
        busy = [
            (max(a, j["start"]), min(b, j["end"])) for j in jobs
            if j["start"] is not None and j["end"] is not None
            and j["end"] > a and j["start"] < b
        ]
        idle += (b - a) - union_length(busy)
    m["crawl.driver_idle_s"] = idle
    m["crawl.spill_mb"] = tracer.stage_sums({j["group"] for j in jobs}).spill_mb
    return m


def run_crawl_workload(spark, args, spec, jvm_pid, tracer):
    import checks
    import gen
    from docrawl_spark.plans.simulator import simulate_crawl

    docs_path = os.path.join(WORK, "inputs", "docs")
    docs, hosts, seeds = gen.corpus_dfs(spark, spec, args.seed)
    docs.write.mode("overwrite").parquet(docs_path)
    # the reference visit list, from the same corpus, outside the clock
    corpus = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in spark.read.parquet(docs_path).collect()
    }
    expected = simulate_crawl(
        corpus, [r.asDict() for r in hosts.collect()],
        [r.asDict() for r in seeds.collect()], max_waves=spec.waves,
    ).visits

    def op(tr=None):
        c = crawl_op(spark, spark.read.parquet(docs_path), hosts, seeds, spec, tr)
        return c, checks.check_crawl([(w, u) for w, u, _, _ in c["rows"]], expected)

    result = Result()
    if tracer is not None:
        try:
            result.layers = trace_crawl(tracer, op, result)
        except Exception:
            traceback.print_exc()
            result.add(None, ["traced crawl raised"])
        return result
    from tracing import RssSampler

    wave_walls, pages, cands = [], [], []
    with RssSampler(jvm_pid) as rss:
        while result.wants_more(args.seconds):
            try:
                c, problems = op()
                wall, rows = c["wall"], c["rows"]
                print(f"# crawl wall {wall:.3f} s, waves "
                      + " ".join(f"{w:.3f}" for w in c["waves"]) + " s", flush=True)
                result.add(wall, problems)
                if problems:
                    continue
                wave_walls.extend(c["waves"])
                pages.append(len(rows) / wall)
                # candidates scheduled: the seeds, then every link found
                # on a page of a wave that had a successor wave
                cands.append((spec.n_hosts + sum(r[3] for r in rows if r[0] < spec.waves - 1)) / wall)
            except Exception:  # one failed crawl must not cost the run
                traceback.print_exc()
                result.add(None, ["crawl raised"])
    result.e2e = {
        "wave_urls_per_s": statistics.median(cands) if cands else float("nan"),
        "crawl_pages_per_s": statistics.median(pages) if pages else float("nan"),
        "crawl_wave_s_p50": statistics.median(wave_walls) if wave_walls else float("nan"),
        "peak_rss_mb": rss.peak_mb,
    }
    return result


def trace_crawl(tracer, op, result):
    """The traced crawl, its check, and the overhead against untraced
    crawls on both sides of it (A-B-A, so the mean shares its JIT and
    cache warmth)."""
    untraced = []
    for tr in (None, tracer, None):
        c, problems = op(tr)
        result.add(None if problems else c["wall"], problems)
        if tr is None:
            untraced.append(c["wall"])
        else:
            traced = c
    layers = _crawl_layers(tracer, traced)
    layers["trace.untraced_s"] = sum(untraced) / 2
    layers["trace.overhead_s"] = traced["wall"] - layers["trace.untraced_s"]
    return layers


# ---------------------------------------------------------------------------
# Driver
# ---------------------------------------------------------------------------


class Result:
    """Operations attempted and failed, the walls of the good ones, the
    problems the checks found, and the metrics."""

    def __init__(self):
        self.walls: list[float] = []
        self.problems: list[str] = []
        self.busy_s = 0.0
        self.last_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layers: dict = {}

    def wants_more(self, seconds: float) -> bool:
        """At least one operation; another only if one more of the last
        one's length still fits in ``seconds``. The count then depends
        on the budget, not on whether an operation ran a little fast."""
        return self.attempted == 0 or self.busy_s + self.last_s <= seconds

    def add(self, wall, problems):
        self.attempted += 1
        # an operation that raised still uses up a second of the budget
        self.last_s = wall if wall is not None else 1.0
        self.busy_s += self.last_s
        if wall is None or problems:
            self.failed += 1
            self.problems.extend(problems)
        else:
            self.walls.append(wall)


def _setup(nproc: int, warmup_spec, seed: int):
    """SETUP_REPS fresh sessions, each followed by one small warm-up
    wave (it absorbs the session's first Arrow-UDF stage). The first
    also launches the JVM."""
    import gen
    from docrawl_spark.session import stop_spark

    times, spark = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark()
        spark = _start_session(nproc)
        wave_op(
            spark,
            gen.wave_links_df(spark, warmup_spec, seed),
            gen.wave_seen_df(spark, warmup_spec, seed),
            gen.hosts_df(spark, warmup_spec.n_hosts, warmup_spec.budget),
            collect=False,
        )
        times.append(time.perf_counter() - t0)
    print("# setup reps " + " ".join(f"{t:.3f}" for t in times) + " s", flush=True)
    return spark, times


def _arm_watchdog(limit_s: float) -> None:
    """A run must end within its time limit even if Spark hangs: kill
    every process this one started, then exit non-zero."""
    import signal
    import threading

    from tracing import process_tree

    def fire():
        print(f"# run exceeded {limit_s:.0f} s, stopping", file=sys.stderr, flush=True)
        for pid in reversed(process_tree(os.getpid())[1:]):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        shutil.rmtree(WORK, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(limit_s, fire)
    timer.daemon = True
    timer.start()


def run_one(args) -> dict:
    _arm_watchdog(RUN_LIMIT_S)
    nproc = len(os.sched_getaffinity(0))
    heap = _heap_mb()
    sys.path.insert(0, ROOT)
    import docrawl_spark  # noqa: F401  (fails fast outside a checkout)

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    wave_spec, warmup_spec, crawl_spec = _specs()
    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={nproc} driver_heap={heap}m", flush=True)
    try:
        spark, setup_times = _setup(nproc, warmup_spec, args.seed)
        jvm_pid = _jvm_pid(spark)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
        if args.workload == "wave_skew":
            result = run_wave(spark, args, wave_spec, jvm_pid, tracer)
        else:
            result = run_crawl_workload(spark, args, crawl_spec, jvm_pid, tracer)
        if tracer is not None:
            out = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl")
            with open(out, "w") as f:
                for sp in tracer.spans:
                    f.write(json.dumps(sp.as_dict()) + "\n")
            print(f"# spans written to {os.path.relpath(out, ROOT)}", flush=True)
    finally:
        _shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
    result.e2e["setup_s"] = statistics.median(setup_times)
    for p in result.problems:
        print(f"# check failed: {p}", flush=True)
    print(f"# failed_frac {result.failed / max(1, result.attempted):.4f} ratio "
          f"({result.failed} of {result.attempted} operations)", flush=True)
    if args.trace:
        names = PER_LAYER
        values = {k: result.layers.get(k, 0.0) for k in names}
    else:
        names = END_TO_END
        values = result.e2e
    # a run whose every operation failed has no measurement: report 0
    # (the run is already marked incorrect) rather than a non-JSON NaN
    metrics = {
        k: {"value": float(values[k]) if values[k] == values[k] else 0.0, "unit": u}
        for k, u in names.items()
    }
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}", flush=True)
    return {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }


def run_all(args) -> dict:
    """Every workload in its own driver process, one after another."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        lines = proc.stdout.strip().splitlines()
        for ln in lines[:-1]:
            print(f"[{w}] {ln}", flush=True)
        res = json.loads(lines[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            summary["metrics"][f"{w}.{k}"] = v
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        res = run_all(args)
    else:
        sys.path.insert(0, HERE)
        res = run_one(args)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
