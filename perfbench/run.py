#!/usr/bin/env python3
"""Benchmark of file_scraper_spark: scrape and query workloads.

    python3 perfbench/run.py --workload scrape_resync --seed 1 --seconds 15 --trace 0

Run from the repository root: the package is imported from there. A run
generates its inputs from ``--seed`` under ``.perfbench_work/``, starts a
local Spark session on every core, sets up, then runs ops closed-loop
(one client, one op at a time) for ``--seconds``. Every op is checked.
The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: BENCHMARK.json's
``end_to_end`` metrics with ``--trace 0``, its ``per_layer`` metrics
with ``--trace 1``.

Workloads (BENCHMARK.json lists the ones the run budget allows):

- ``scrape_cold``: ``pipeline.scrape_all`` of a generated tree into an
  empty DuckDB file, every op.
- ``scrape_resync``: the same tree, synced once during set-up; each op
  applies a seeded delta (rewrites, truncations, deletions, additions)
  and rescrapes.
- ``query_relational`` / ``query_llm``: one pass over a query set on a
  generated fixture, each query written to the ``noop`` sink. Every
  query starts cold: ``tables.reset_session_state`` and a fresh, empty
  ``FSS_EDGE_SPILL_DIR`` before it.

Op and set-up times are divided by the host's speed over them, as
measured by ``speedprobe.py`` running alongside (see ``HostSpeed``).

The traced run (``--trace 1``) alternates traced and untraced ops.
Traced ops carry Spark job groups and wrap the package's entry points
in this process to time each layer; Spark's event log (on for the whole
traced run) gives task, GC, shuffle, spill and Python-worker totals.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Regular files in the generated tree (one more entry is the symlink).
TREE_FILES = 400
DRIVER_MEM = "3g"
#: Query sets trimmed so that a pass takes a few seconds and a run fits
#: the time budget, each still loading its layers (see README.md).
QUERY_SETS = {
    "query_relational": (
        "agg_groupby", "join_family", "window_rank", "rollup_cube",
        "sessionize", "asof_join", "tpch_q3_shape", "tpch_q18_shape",
        "topk_sort_limit", "merge_upsert", "antijoin_deleted",
    ),
    "query_llm": (
        "dedup_exact", "text_redact", "text_langid", "doc_fingerprint",
        "similarity_topk", "text_phrase_search",
    ),
}
SCRAPE_WORKLOADS = ("scrape_cold", "scrape_resync")
WORKLOADS = SCRAPE_WORKLOADS + tuple(QUERY_SETS)


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- process tree -----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and its descendants
    (the Spark JVM and its Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_event.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self.sample())

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


class HostSpeed:
    """Host speed from ``speedprobe.py``, run alongside the benchmark.

    On a shared host the same CPU task can take twice as long from one
    second to the next, and Spark slows with it. ``factor`` is the
    probe's median CPU time over an interval (widened by ``WIDEN_S`` on
    each side, so that even a short query gets a score of samples) as a
    multiple of ``REF_S``; op times are divided by it, so they read as
    seconds on a host that runs the probe task in ``REF_S``."""

    REF_S = 0.01
    WIDEN_S = 1.0

    def __init__(self, work: str):
        import subprocess  # noqa: PLC0415

        self.path = os.path.join(work, "speedprobe.txt")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "speedprobe.py"), self.path]
        )
        self.samples: list[tuple[float, float]] = []

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait(timeout=30)

    def factor(self, start: float, end: float) -> float:
        if not self.samples:
            with open(self.path) as fh:
                self.samples = [tuple(map(float, ln.split())) for ln in fh if ln.strip()]
        lo, hi = start - self.WIDEN_S, end + self.WIDEN_S
        inside = [d for t, d in self.samples if lo <= t <= hi]
        return statistics.median(inside) / self.REF_S


# -- Spark session ----------------------------------------------------------


def pin_environment(work: str) -> None:
    """Everything the run writes goes under ``work``; Spark runs on every
    core with a fixed heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, trace: bool):
    from file_scraper_spark.session import get_spark  # noqa: PLC0415

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (the JVM exits when its stdin closes; its Python
    workers exit with it)."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- tracing ----------------------------------------------------------------


@contextmanager
def patched(owner, name: str, wrap: Callable) -> Iterator[None]:
    original = getattr(owner, name)
    setattr(owner, name, wrap(original))
    try:
        yield
    finally:
        setattr(owner, name, original)


class Tracer:
    """Job groups and layer timers for the traced ops of one run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.samples: dict[str, list[float]] = {}
        self.traced_ops: list[str] = []

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def add(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items()}


def _timed(acc: dict, key: str, count: str | None = None) -> Callable:
    def wrap(fn: Callable) -> Callable:
        def inner(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[key] = acc.get(key, 0.0) + time.perf_counter() - t0
                if count:
                    acc[count] = acc.get(count, 0) + 1

        return inner

    return wrap


# -- scrape workloads -------------------------------------------------------


def table_snapshot(db_path: str) -> dict[str, tuple]:
    """external_file as path -> (size, mtime ms, created, deleted)."""
    import duckdb  # noqa: PLC0415

    if not os.path.exists(db_path):
        return {}
    con = duckdb.connect(db_path)
    try:
        rows = con.execute(
            "SELECT path, filename, size, epoch_ms(modified), created, deleted "
            "FROM external_file"
        ).fetchall()
    finally:
        con.close()
    return {os.path.join(p, f): tuple(rest) for p, f, *rest in rows}


def check_sync(before, after, disk, delta, scrape_time) -> tuple[list[str], dict]:
    """Compare one scrape's table transition with the generator's delta.

    The expectation is taken modulo the files the listing did not return
    (those show in ``recall``, not here): every live row matches a file
    on disk, gone files are soft-deleted, modified files that stay
    listed are updated, nothing else is rewritten or inserted, and every
    unseen row carries this scrape's stamp (the reference re-stamps)."""
    live0 = {k for k, r in before.items() if r[3] is None}
    live1 = {k for k, r in after.items() if r[3] is None}
    on_disk = {**disk.regular, **disk.links}
    if delta is None:  # cold scrape: every file is new
        added, modified, gone = set(on_disk), frozenset(), frozenset()
    else:
        added, modified, gone = delta.added, delta.modified, delta.deleted
    inserted = after.keys() - before.keys()
    updated = {k for k in live0 & live1 if after[k][:3] != before[k][:3]}
    soft_deleted = live0 - live1
    problems = []

    def expect(keys, what: str) -> None:
        if keys:
            problems.append(f"{len(keys)} {what}, e.g. {sorted(keys)[0]!r}")

    expect({k for k in live1 if on_disk.get(k) != after[k][:2]},
           "live rows not matching the file on disk")
    expect({k for k, r in after.items() if r[3] not in (None, scrape_time)},
           "soft-delete stamps not equal to this scrape's time")
    expect(gone & live1, "deleted files still live")
    expect(inserted - added, "inserted rows for files not added")
    expect((live0 & live1 & modified) - updated, "modified files not updated")
    expect(updated - modified, "unmodified files rewritten")
    expect(soft_deleted - gone - modified, "unmodified files soft-deleted")
    counts = {
        "sinks.rows_inserted": len(inserted),
        "sinks.rows_updated": len(updated),
        "sinks.rows_unchanged": len((live0 & live1) - updated),
        "sinks.rows_soft_deleted": len(soft_deleted),
        "sources.rows_not_regular": len(live1 & disk.links.keys()),
    }
    found = sum(1 for k, v in disk.regular.items() if k in live1 and after[k][:2] == v)
    counts["recall"] = found / len(disk.regular)
    return problems, counts


class ScrapeWorkload:
    def __init__(self, name: str, work: str, seed: int):
        from perfbench import treegen  # noqa: PLC0415

        self.treegen = treegen
        self.resync = name == "scrape_resync"
        self.tree = treegen.generate(os.path.join(work, "tree"), TREE_FILES, seed)
        self.db_path = os.path.join(work, "scrape.duckdb")
        self.recalls: list[float] = []
        self.spans: list[tuple[float, float, float]] = []  # (wall, start, end)

    def _sink(self):
        import duckdb  # noqa: PLC0415

        from file_scraper_spark.sinks.merge_sink import MergeSink  # noqa: PLC0415

        path = self.db_path
        return MergeSink(lambda: duckdb.connect(path))

    def scrape(self, spark, op: int, delta, tracer: Tracer | None) -> tuple[float, list[str], dict]:
        """One timed scrape_all plus its untimed check."""
        from file_scraper_spark import pipeline  # noqa: PLC0415

        before = table_snapshot(self.db_path)
        scrape_time = datetime.now(timezone.utc).replace(tzinfo=None)
        sink = self._sink()
        m0, t0 = time.monotonic(), time.perf_counter()
        if tracer is None:
            pipeline.scrape_all(spark, [self.tree.root], sink, scrape_time=scrape_time)
            layers = {}
        else:
            layers = self._traced_scrape(spark, op, sink, scrape_time, tracer)
        wall, m1 = time.perf_counter() - t0, time.monotonic()
        after = table_snapshot(self.db_path)
        problems, counts = check_sync(
            before, after, self.treegen.scan(self.tree.root), delta, scrape_time
        )
        self.recalls.append(counts.pop("recall"))
        if not problems:
            self.spans.append((wall, m0, m1))
        return wall, problems, {**counts, **layers}

    def _traced_scrape(self, spark, op, sink, scrape_time, tracer) -> dict:
        from file_scraper_spark import pipeline  # noqa: PLC0415
        from file_scraper_spark.sinks import merge_sink  # noqa: PLC0415
        from file_scraper_spark.sources import fs  # noqa: PLC0415

        acc: dict[str, float] = {}
        sync_group = f"op{op}:sync"

        def sync_in_group(fn):
            def inner(*args, **kwargs):
                tracer.group(sync_group)
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer.group(f"op{op}:scrape")

            return _timed(acc, "sinks.sync_s")(inner)

        def count_rows(fn):
            def inner(self_, rows):
                rows = list(rows)
                acc["sources.files_listed"] = acc.get("sources.files_listed", 0) + len(rows)
                return fn(self_, rows)

            return _timed(acc, "sinks.db_s", "sinks.db_batches")(inner)

        session = merge_sink.ScrapeSession
        tracer.group(f"op{op}:scrape")
        t0 = time.perf_counter()
        try:
            with patched(fs, "list_files", _timed(acc, "sources.list_s")), \
                    patched(merge_sink.MergeSink, "sync_snapshot", sync_in_group), \
                    patched(session, "__init__", _timed(acc, "sinks.db_s")), \
                    patched(session, "add_rows", count_rows), \
                    patched(session, "finalize", _timed(acc, "sinks.db_s")):
                pipeline.scrape_all(spark, [self.tree.root], sink, scrape_time=scrape_time)
        finally:
            tracer.clear_group()
        wall = time.perf_counter() - t0
        acc["sinks.fetch_s"] = acc.get("sinks.sync_s", 0.0) - acc.get("sinks.db_s", 0.0)
        acc["pipeline.pre_sync_s"] = wall - acc.get("sinks.sync_s", 0.0)
        acc["sinks.fetch_jobs"] = tracer.jobs(sync_group)
        return acc

    def setup(self, spark) -> list[str]:
        """Initial sync (resync only) and the warm-up op; their checks
        are returned, not timed by the caller's clock."""
        problems = []
        if self.resync:
            _, p, _ = self.scrape(spark, -2, None, None)
            problems += p
        _, p, _ = self.op(spark, -1, None)
        self.recalls.clear()  # recall and op time are reported over the timed ops
        self.spans.clear()
        return problems + p

    def op(self, spark, i: int, tracer: Tracer | None):
        if self.resync:
            delta = self.treegen.apply_delta(self.tree, i)
        else:  # cold: every op starts from an empty database
            if os.path.exists(self.db_path):
                os.unlink(self.db_path)
            delta = None
        return self.scrape(spark, i, delta, tracer)

    def trace_extras(self, spark, tracer: Tracer) -> dict:
        """Source-layer cost on its own: list, project, mime join and
        ``created`` stat, written to noop."""
        from file_scraper_spark.sources import fs  # noqa: PLC0415

        tracer.group("extra:scrape_fs")
        try:
            tasks = fs.list_files(spark, self.tree.root).rdd.getNumPartitions()
            t0 = time.perf_counter()
            fs.scrape_fs(spark, self.tree.root).write.format("noop").mode("overwrite").save()
            scrape_fs_s = time.perf_counter() - t0
        finally:
            tracer.clear_group()
        return {"sources.list_tasks": tasks, "sources.scrape_fs_s": scrape_fs_s}

    def items(self) -> int:
        return TREE_FILES

    def op_seconds(self, speed: Callable[[float, float], float]) -> float:
        return statistics.median(w / speed(a, b) for w, a, b in self.spans)



# -- query workloads --------------------------------------------------------


class QueryWorkload:
    def __init__(self, name: str, work: str, seed: int):
        from perfbench import fixture  # noqa: PLC0415

        self.queries = QUERY_SETS[name]
        self.work = work
        self.fixture_dir = os.path.join(work, "fixture")
        fixture.generate(self.fixture_dir, seed)
        self.rng = random.Random(f"order:{seed}")
        self.spill_n = 0
        self.checked: dict[str, tuple[list[str], list[tuple]]] = {}
        # per query: (seconds, start, end) of every completed pass
        self.times: dict[str, list[tuple[float, float, float]]] = {
            name: [] for name in self.queries
        }

    def _cold(self, spark) -> None:
        from file_scraper_spark import tables  # noqa: PLC0415

        self.spill_n += 1
        spill = os.path.join(self.work, "spill", str(self.spill_n))
        os.makedirs(spill)
        os.environ["FSS_EDGE_SPILL_DIR"] = spill
        tables.reset_session_state(spark)

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def setup(self, spark) -> list[str]:
        """Warm-up pass; each query's rows are collected for the check."""
        from file_scraper_spark import registry  # noqa: PLC0415

        self.fns = registry.all_queries()
        for name in self._order():
            self._cold(spark)
            df = self.fns[name](spark, self.fixture_dir)
            self.checked[name] = (df.columns, [tuple(r) for r in df.collect()])
        return []

    def op(self, spark, i: int, tracer: Tracer | None):
        times, layers = {}, {}
        for name in self._order():
            self._cold(spark)
            if tracer is not None:
                tracer.group(f"op{i}:plan:{name}")
            m0, t0 = time.monotonic(), time.perf_counter()
            df = self.fns[name](spark, self.fixture_dir)
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.group(f"op{i}:exec:{name}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            times[name] = (t2 - t0, m0, time.monotonic())
            if tracer is not None:
                tracer.clear_group()
                layers[f"operators.{name}.plan_s"] = t1 - t0
                layers[f"operators.{name}.exec_s"] = t2 - t1
                layers[f"operators.{name}.plan_jobs"] = tracer.jobs(f"op{i}:plan:{name}")
        for name, t in times.items():
            self.times[name].append(t)
        return sum(t for t, _, _ in times.values()), [], layers

    def op_seconds(self, speed: Callable[[float, float], float]) -> float:
        """A pass's typical time: the sum of each query's median, which
        one slow query in one pass cannot move."""
        return sum(
            statistics.median(t / speed(a, b) for t, a, b in v)
            for v in self.times.values()
        )

    def check(self) -> list[str]:
        """Each query's collected rows against its DuckDB oracle, by
        row count, column names and canonical value hash."""
        from file_scraper_spark import registry  # noqa: PLC0415
        from file_scraper_spark.tables import ORACLE_SF_DIR  # noqa: PLC0415
        from tools.check_correctness import duckdb_run, value_hash  # noqa: PLC0415

        problems = []
        for name in self.queries:
            cols, rows = self.checked[name]
            oracle = registry.REGISTRY[name].oracle.replace(ORACLE_SF_DIR, self.fixture_dir)
            o_cols, o_rows = duckdb_run(self.fixture_dir, oracle)
            if len(rows) != len(o_rows) or sorted(cols) != sorted(o_cols):
                problems.append(f"{name}: {len(rows)} rows {sorted(cols)} vs oracle "
                                f"{len(o_rows)} rows {sorted(o_cols)}")
            elif value_hash(cols, rows) != value_hash(o_cols, o_rows):
                problems.append(f"{name}: value hash differs from the oracle")
        return problems

    def trace_extras(self, spark, tracer: Tracer) -> dict:
        return {}

    def items(self) -> int:
        return len(self.queries)


# -- run --------------------------------------------------------------------


def metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def spark_layers(log_dir: str, traced_ops: list[str], traced_wall_s: float, cores: int) -> dict:
    from perfbench import eventlog  # noqa: PLC0415

    ops = set(traced_ops)
    totals = eventlog.group_totals(
        eventlog.read_events(log_dir),
        lambda g: "traced" if g.split(":")[0] in ops else None,
    ).get("traced", dict.fromkeys(eventlog.FIELDS, 0))
    n = max(1, len(traced_ops))
    per_op = {k: v / n for k, v in totals.items()}
    return {
        "spark.jobs": per_op["jobs"],
        "spark.tasks": per_op["tasks"],
        "spark.task_run_s": per_op["task_run_ms"] / 1e3,
        "spark.task_cpu_s": per_op["task_cpu_ns"] / 1e9,
        "spark.gc_s": per_op["gc_ms"] / 1e3,
        "spark.cpu_busy_ratio": totals["task_run_ms"] / 1e3 / max(1e-9, traced_wall_s * cores),
        "spark.shuffle_write_bytes": per_op["shuffle_write_bytes"],
        "spark.shuffle_fetch_wait_s": per_op["shuffle_fetch_wait_ms"] / 1e3,
        "spark.spill_bytes": per_op["spill_bytes"],
        "spark.python_start_s": per_op["python_start_ms"] / 1e3,
        "spark.python_run_s": per_op["python_run_ms"] / 1e3,
        "spark.python_sent_bytes": per_op["python_sent_bytes"],
    }


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there


def _run(args, work: str) -> dict:
    pin_environment(work)
    import pyspark  # noqa: F401,PLC0415  (fail fast outside a checkout)

    import file_scraper_spark  # noqa: F401,PLC0415

    rss = PeakRss()
    rss.start()
    host = HostSpeed(work)
    try:
        return _measure(args, work, rss, host)
    finally:
        rss.stop()
        host.stop()


def _measure(args, work: str, rss: PeakRss, host: HostSpeed) -> dict:
    t0 = time.perf_counter()
    workload_cls = ScrapeWorkload if args.workload in SCRAPE_WORKLOADS else QueryWorkload
    workload = workload_cls(args.workload, work, args.seed)
    generate_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    start_s = time.perf_counter() - t0
    problems: list[str] = []
    try:
        t0 = time.perf_counter()
        setup_problems = workload.setup(spark)
        warm_s = time.perf_counter() - t0
        age, setup_end = process_age_s(), time.monotonic()
        setup_span = (setup_end - age, setup_end)
        setup_s = age - generate_s  # generating the inputs is not set-up
        problems += setup_problems

        tracer = Tracer(spark) if args.trace else None
        walls = {True: [], False: []}
        layer_samples: list[dict] = []
        attempted = failed = 0
        t_end = time.perf_counter() + args.seconds
        i = 0
        while True:
            traced = tracer is not None and i % 2 == 0
            attempted += 1
            try:
                wall, op_problems, layers = workload.op(spark, i, tracer if traced else None)
            except Exception as exc:  # noqa: BLE001  (a failed op is counted, the run goes on)
                op_problems, wall, layers = [f"op {i} raised {exc!r}"], None, {}
            if op_problems:
                failed += 1
                problems += op_problems
            elif wall is not None:
                walls[traced].append(wall)
                if traced:
                    tracer.traced_ops.append(f"op{i}")
                    layer_samples.append(layers)
            i += 1
            if time.perf_counter() >= t_end:
                break
        check_problems = []
        if isinstance(workload, QueryWorkload):
            check_problems = workload.check()
            problems += check_problems
            attempted += 1
            failed += bool(check_problems)
        extras = workload.trace_extras(spark, tracer) if tracer else {}
    finally:
        stop_spark(spark)

    all_walls = walls[True] + walls[False]
    if not all_walls:
        raise RuntimeError(f"no op succeeded: {problems[:3]}")
    wall_s = workload.op_seconds(host.factor)
    raw_wall_s = workload.op_seconds(lambda a, b: 1.0)
    setup_factor = host.factor(*setup_span)
    recall = (
        statistics.median(workload.recalls) if isinstance(workload, ScrapeWorkload)
        else 1.0 - len(check_problems) / len(workload.queries)
    )
    metrics: dict[str, float] = {
        "setup_s": setup_s / setup_factor,
        "wall_s": wall_s,
        "items_per_s": workload.items() / wall_s,
        "recall": recall,
        "success_ratio": 1.0 - failed / attempted,
    }
    if tracer is not None:
        for layers in layer_samples:
            for k, v in layers.items():
                tracer.add(k, v)
        metrics = tracer.medians()
        metrics.update(extras)
        metrics["session.start_s"] = start_s
        metrics["session.warm_s"] = warm_s
        metrics["process.peak_rss_mb"] = rss.peak_bytes / 2**20
        metrics["host.speed_factor"] = raw_wall_s / wall_s
        metrics["host.raw_wall_s"] = raw_wall_s
        metrics["host.raw_setup_s"] = setup_s
        metrics["trace_overhead"] = (
            statistics.median(walls[True]) / statistics.median(walls[False])
            if walls[True] and walls[False] else 1.0
        )
        metrics.update(spark_layers(
            os.path.join(work, "eventlog"), tracer.traced_ops, sum(walls[True]),
            int(os.environ["SPARK_GRAFT_CPUS"]),
        ))
    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "ops": i,
                      "walls": all_walls, "raw_wall_s": raw_wall_s, "wall_s": wall_s,
                      "raw_setup_s": setup_s, "setup_factor": setup_factor}),
          file=sys.stderr)
    out = {}
    for spec in metric_specs(bool(args.trace)):
        value = metrics.get(spec["name"])
        if value is None and not args.trace:
            raise KeyError(f"end-to-end metric {spec['name']} not measured")
        out[spec["name"]] = {"value": float(value or 0.0), "unit": spec["unit"]}
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
