"""Layer trace for the crawler benchmark, driven from outside the program.

Nothing in ``flink_crawler_spark`` is edited. The loop trace rebinds
``select_frontier`` where ``plans.crawl_loop`` looks it up at call time,
so each call marks a tick boundary; the operator replay calls each public
operator alone on a captured mid-crawl state and forces it with a ``noop``
write; engine counters come from Spark's status store; py4j round-trips
are counted at the client connection.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import py4j.clientserver as py4j_cs
from pyspark.sql import DataFrame, SparkSession

from flink_crawler_spark.plans import crawl_loop

MB = 1024 * 1024


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def live_heap_mb(spark: SparkSession) -> float:
    """JVM heap in use after forced full GCs (MemoryMXBean).

    Python proxies of dead JVM objects go first. Each GC lets Spark's
    ContextCleaner see unreachable RDDs, shuffles and broadcasts, and only
    the next GC frees what the cleaner then dropped, which can release more
    for the cleaner in turn. After a crawl the heap took three GCs a second
    apart to settle (e.g. 236, 199, 105, 104 MB), and the cleaner's thread
    can lag on a busy host, so GCs repeat, each after the listener bus has
    drained, until one frees less than 1 MB (at least three, at most
    eight)."""
    import gc

    gc.collect()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used: list[int] = []
    while len(used) < 8:
        if used:
            time.sleep(1.0)
        bus.waitUntilEmpty(60_000)
        bean.gc()
        used.append(bean.getHeapMemoryUsage().getUsed())
        if len(used) >= 3 and used[-2] - used[-1] < MB:
            break
    return min(used) / MB


def calib_jvm_seconds(spark: SparkSession, rows: int = 40_000_000) -> float:
    """All-core JVM probe in the manner of bench.py's cpu_calib."""
    t0 = time.perf_counter()
    spark.range(0, rows, 1, 4).selectExpr(
        "sum(pmod(xxhash64(id), 1000000)) AS h"
    ).collect()
    return time.perf_counter() - t0


def force(df: DataFrame) -> float:
    """Run a frame's whole plan without a sink cost; returns milliseconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000


class Py4jCounter:
    """Counts Python -> JVM round-trips on every py4j client connection."""

    def __init__(self):
        self.calls = 0
        self.own_s = 0.0  # time spent counting
        self.paused = False  # the tracer's own calls are not the program's
        self._lock = threading.Lock()
        self._orig = None

    def __enter__(self) -> Py4jCounter:
        orig = self._orig = py4j_cs.ClientServerConnection.send_command
        counter = self

        def send_command(conn, *args, **kwargs):
            if not counter.paused:
                t0 = time.perf_counter()
                with counter._lock:
                    counter.calls += 1
                    counter.own_s += time.perf_counter() - t0
            return orig(conn, *args, **kwargs)

        py4j_cs.ClientServerConnection.send_command = send_command
        return self

    def __exit__(self, *exc) -> None:
        py4j_cs.ClientServerConnection.send_command = self._orig


class Engine:
    """Cumulative engine counters from the status store (all jobs are
    retained: the session sets spark.ui.retainedJobs/Stages high)."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._jsc = sc._jsc

    def jobs(self) -> int:
        return self._store.jobsList(self._jvm.java.util.ArrayList()).size()

    def job_submit_ms(self, job_id: int) -> int | None:
        sub = self._store.job(job_id).submissionTime()
        return sub.get().getTime() if sub.isDefined() else None

    def stages(self) -> list:
        lst = self._store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return [lst.apply(i) for i in range(lst.size())]

    def executors(self) -> dict[str, float]:
        ex = self._store.executorList(True)
        tot = {"tasks": 0, "gc_ms": 0, "shuffle_write": 0, "failed": 0}
        for i in range(ex.size()):
            e = ex.apply(i)
            tot["tasks"] += e.totalTasks()
            tot["gc_ms"] += e.totalGCTime()
            tot["shuffle_write"] += e.totalShuffleWrite()
            tot["failed"] += e.failedTasks()
        return tot

    def persistent_ids(self) -> set[int]:
        return {int(i) for i in self._jsc.getPersistentRDDs().keySet().toArray()}

    def cached(self, exclude: set[int]) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk), leaving out
        the RDD ids in ``exclude``: the benchmark's own inputs and copies."""
        ids = self.persistent_ids() - exclude
        infos = self._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos if i.id() in ids) / MB
        return len(ids), mb


class EngineWindow:
    """Engine counter deltas over one phase (the ``spark.*`` metrics)."""

    def __init__(self, engine: Engine):
        self.engine = engine
        self.ex0 = engine.executors()
        self.stage0 = max((s.stageId() for s in engine.stages()), default=-1)

    def metrics(self) -> dict[str, float]:
        """Task time is the stages' executor run time: in local mode the
        executor summary's task duration follows wall time instead."""
        ex = self.engine.executors()
        stages = [s for s in self.engine.stages() if s.stageId() > self.stage0]
        return {
            "spark.task_ms": sum(s.executorRunTime() for s in stages),
            "spark.gc_ms": ex["gc_ms"] - self.ex0["gc_ms"],
            "spark.shuffle_write_mb": (ex["shuffle_write"] - self.ex0["shuffle_write"]) / MB,
            "spark.spill_mb": sum(s.diskBytesSpilled() for s in stages) / MB,
            "spark.failed_tasks": ex["failed"] - self.ex0["failed"],
        }


class TickClock:
    """Tick boundaries of crawl(): each ``select_frontier`` call starts a
    tick, and the crawl's return ends the last one. Costs one clock read
    per tick, so the untraced runs use it too."""

    def __init__(self):
        self.ticks: list[dict] = []  # this crawl's ticks
        self.all_ticks: list[dict] = []  # every crawl's ticks
        self._start: float | None = None
        self._orig = None

    def __enter__(self) -> TickClock:
        orig = self._orig = crawl_loop.select_frontier

        def select_frontier(*args, **kwargs):
            self._boundary(args, kwargs)
            return orig(*args, **kwargs)

        crawl_loop.select_frontier = select_frontier
        return self

    def __exit__(self, *exc) -> None:
        crawl_loop.select_frontier = self._orig

    def begin_crawl(self) -> None:
        self.ticks = []
        self._start = None

    def _boundary(self, args, kwargs) -> None:
        now = time.perf_counter()
        self._close(now)
        self._start = now

    def _close(self, now: float) -> None:
        if self._start is not None:
            self.ticks.append({"wall_s": now - self._start})

    def end_crawl(self) -> list[dict]:
        self._close(time.perf_counter())
        self._start = None
        self.all_ticks += self.ticks
        return self.ticks


class LoopTracer(TickClock):
    """Per-tick build time, py4j calls, jobs and tasks, and one captured
    mid-crawl state for the operator replay."""

    def __init__(self, spark: SparkSession, counter: Py4jCounter, capture_tick: int | None):
        super().__init__()
        self.engine = Engine(spark)
        self.counter = counter
        self.capture_tick = capture_tick
        self.captured: tuple[DataFrame, dict] | None = None
        self.own_rdds: set[int] = set()  # the captured state's persisted RDDs
        self.bookkeeping_s = 0.0  # tracer time spent on the driver's critical path
        self._mark: dict = {}

    def _snapshot(self) -> dict:
        return {
            "wall": time.time(),
            "py4j": self.counter.calls,
            "jobs": self.engine.jobs(),
            "tasks": self.engine.executors()["tasks"],
        }

    def capture(self, state: DataFrame, kwargs: dict) -> None:
        """Keep a materialized copy of ``state`` for the replay."""
        paused, self.counter.paused = self.counter.paused, True
        try:
            before = self.engine.persistent_ids()
            self.captured = (state.localCheckpoint(eager=True), kwargs)
            self.own_rdds |= self.engine.persistent_ids() - before
        finally:
            self.counter.paused = paused

    def _boundary(self, args, kwargs) -> None:
        t0 = time.perf_counter()
        self.counter.paused = True
        try:
            self._close(t0)
            self._start = t0
            self._mark = self._snapshot()
            if len(self.ticks) + 1 == self.capture_tick and self.captured is None:
                self.capture(args[0], dict(kwargs))
                self._mark["capture"] = True
        finally:
            self.counter.paused = False
            spent = time.perf_counter() - t0
            self.bookkeeping_s += spent
            self._start += spent  # the tick starts when the loop resumes

    def _close(self, now: float) -> None:
        if self._start is None:
            return
        end = self._snapshot()
        first = self.engine.job_submit_ms(self._mark["jobs"]) if end["jobs"] > self._mark["jobs"] else None
        self.ticks.append(
            {
                "wall_s": now - self._start,
                "build_ms": (first - self._mark["wall"] * 1000) if first is not None else None,
                "py4j": end["py4j"] - self._mark["py4j"],
                "jobs": end["jobs"] - self._mark["jobs"],
                "tasks": end["tasks"] - self._mark["tasks"],
                "capture": self._mark.get("capture", False),
            }
        )

    def end_crawl(self) -> list[dict]:
        t0 = time.perf_counter()
        self.counter.paused = True
        try:
            self._close(t0)
        finally:
            self.counter.paused = False
            self.bookkeeping_s += time.perf_counter() - t0
        self._start = None
        self.all_ticks += self.ticks
        return self.ticks


def loop_metrics(ticks: list[dict]) -> dict[str, float]:
    """Per-tick medians over a traced phase (the capture tick excluded)."""
    plain = [t for t in ticks if not t["capture"]]
    return {
        "crawl_loop.build_ms_per_tick": median(t["build_ms"] for t in plain if t["build_ms"] is not None),
        "crawl_loop.py4j_calls_per_tick": median(t["py4j"] for t in plain),
        "crawl_loop.jobs_per_tick": median(t["jobs"] for t in plain),
        "crawl_loop.tasks_per_tick": median(t["tasks"] for t in plain),
    }


# ---------------------------------------------------------------------------
# Operator replay
# ---------------------------------------------------------------------------

#: the confs crawl() scopes to its loop (plans/crawl_loop.py), so replayed
#: operators run the way they run inside a tick
LOOP_CONFS = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4m",
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def replay_operators(
    spark: SparkSession,
    state: DataFrame,
    *,
    now_ms: int,
    pages: DataFrame,
    rules: DataFrame | None,
    cfg: crawl_loop.CrawlConfig,
    reps: int = 3,
) -> tuple[dict[str, float], DataFrame]:
    """One tick's operators, each run alone on materialized inputs and
    forced with a ``noop`` write; exec times are medians of ``reps``, but
    the bucketed table merge, whose state save dominates the replay, runs
    once to keep a traced run well inside its time limit. Returns the
    layer metrics and the tick's updates (for the URL-DB replay)."""
    from flink_crawler_spark.operators.fetch import (
        fetch_status_updates,
        mock_fetch,
        politeness_split,
    )
    from flink_crawler_spark.operators.frontier import select_frontier
    from flink_crawler_spark.operators.merge import OBS_COLS, merge_updates
    from flink_crawler_spark.operators.parse import outlink_output, parse_outlinks_slim
    from flink_crawler_spark.operators.robots import (
        blocked_status_updates,
        check_urls_against_robots,
    )
    from flink_crawler_spark.operators.state_table import save_bucketed_state, tick_merge_bucketed

    if rules is None:  # the loop's stand-in for "no robots rules"
        rules = spark.createDataFrame(
            [], "host_root string, disallow array<string>, allow array<string>, "
            "crawl_delay_ms long, sitemaps array<string>"
        )
    saved = {k: spark.conf.get(k, None) for k in LOOP_CONFS}
    for k, v in LOOP_CONFS.items():
        spark.conf.set(k, v)
    held: list[DataFrame] = []
    out: dict[str, float] = {}

    def timed(df: DataFrame) -> tuple[float, DataFrame, int]:
        ms = median(force(df) for _ in range(reps))
        kept = df.persist()
        held.append(kept)
        return ms, kept, kept.count()

    try:
        out["frontier.exec_ms"], frontier, n_front = timed(
            select_frontier(
                state,
                now_ms=now_ms,
                max_queue_size=cfg.max_queue_size,
                min_fetch_score=cfg.min_fetch_score,
                max_per_domain=cfg.max_per_domain,
            )
        )
        out["frontier.rows_out"] = n_front
        out["robots.exec_ms"], routed, _ = timed(
            check_urls_against_robots(
                frontier,
                rules,
                force_crawl_delay_ms=cfg.force_crawl_delay_ms,
                default_crawl_delay_ms=cfg.default_crawl_delay_ms,
            )
        )
        n_blocked = routed.where("route = 'blocked'").count()
        out["robots.blocked_ratio"] = n_blocked / n_front if n_front else 0.0
        passed = routed.where("route = 'passed'").drop("route")
        out["fetch.politeness_exec_ms"], split, _ = timed(
            politeness_split(passed, now_ms=now_ms, tick_ms=cfg.tick_ms)
        )
        to_fetch = split.where("route = 'fetch'")
        out["fetch.mock_fetch_exec_ms"], results, _ = timed(
            mock_fetch(to_fetch, pages, now_ms=now_ms, refetch_interval_ms=cfg.refetch_interval_ms)
        )
        n_fetched = results.where("status = 'FETCHED'").count()
        out["fetch.fetched_per_admitted"] = n_fetched / n_front if n_front else 0.0
        out["parse.exec_ms"], parsed, n_parsed = timed(
            parse_outlinks_slim(results, max_outlinks=cfg.max_outlinks)
        )
        n_links = parsed.agg({"n_outlinks": "sum"}).collect()[0][0] or 0
        out["parse.outlinks_per_page"] = n_links / n_parsed if n_parsed else 0.0
        new_urls = outlink_output(parsed).select("url", "score")
        out["urls.rows_in"] = new_urls.count()
        out["urls.clean_exec_ms"], cleaned, out["urls.rows_valid"] = timed(
            crawl_loop.clean_urls(new_urls, single_domain=cfg.single_domain)
        )
        cols = list(OBS_COLS)
        updates = (
            fetch_status_updates(results).select(*cols)
            .unionByName(blocked_status_updates(routed, now_ms=now_ms).select(*cols))
            .unionByName(crawl_loop.seeds_to_state(cleaned, now_ms=now_ms).select(*cols))
        ).localCheckpoint(eager=True)
        out["merge.exec_ms"], _, out["merge.state_rows"] = timed(merge_updates(state, updates))

        table = "perfbench_replay_state"
        save_bucketed_state(state, table, buckets=cfg.state_buckets)
        t0 = time.perf_counter()
        tick_merge_bucketed(spark, table, updates, buckets=cfg.state_buckets)
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        out["state_table.exec_ms"] = (time.perf_counter() - t0) * 1000
        out["state_table.bytes_written"] = _dir_bytes(os.path.join(warehouse, table))
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        return out, updates
    finally:
        for df in held:
            df.unpersist()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Streaming URL DB
# ---------------------------------------------------------------------------


def url_db_metrics(progress: list[dict], state_urls: int) -> dict[str, float]:
    """``url_db.*`` from per-batch streaming progress."""
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "url_db.add_batch_ms": median(add),
        "url_db.batch_overhead_ms": median(t - a for t, a in zip(trig, add)),
        "url_db.state_rows": state_urls,
        "url_db.state_mem_mb": ops[-1]["memoryUsedBytes"] / MB if ops else 0.0,
        "url_db.commit_ms": median(o["commitTimeMs"] for o in ops),
    }


def replay_url_db(
    spark: SparkSession, state: DataFrame, updates: DataFrame, work_dir: str
) -> dict[str, float]:
    """The streaming URL DB fed one crawl tick: micro-batch 0 loads the
    captured state as observations, micro-batch 1 merges the tick's
    updates; the metrics are micro-batch 1's."""
    from flink_crawler_spark.operators.merge import OBS_COLS
    from flink_crawler_spark.streaming.url_db import OBS_SCHEMA, url_db_stateful

    src = os.path.join(work_dir, "url_db_replay")
    for k, df in enumerate((state, updates)):
        part_dir = os.path.join(work_dir, f"url_db_part{k}")
        df.select(*OBS_COLS).coalesce(1).write.mode("overwrite").parquet(part_dir)
        os.makedirs(src, exist_ok=True)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = os.path.join(src, f"obs_{k}.parquet")
        shutil.move(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
    stream = spark.readStream.schema(OBS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        url_db_stateful(stream)
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", os.path.join(work_dir, "url_db_replay_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    urls = state.select("url").unionByName(updates.select("url")).distinct().count()
    progress = [p for p in q.recentProgress if p["batchId"] == 1]
    return url_db_metrics(progress, urls)
