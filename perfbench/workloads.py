"""The benchmark's three workloads over the crawler's public entry points.

Each workload generates its inputs from the seed, warms the path it times
(untimed, inside set-up), then runs a closed loop for the measured
seconds: the next crawl, tick or micro-batch starts when the previous one
ends. Why each workload exists is in README.md.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

import checks
import gen
import tracing
from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.sources.fixtures import render_pages

# The work in a run is fixed by --seconds at nominal per-unit times measured
# on a 4-core host, so every run of a workload does the same work (same
# crawls, same state size) and a faster program finishes sooner.
WIDE = {"n_pages": 8000, "n_plds": 300, "n_layers": 4}
WIDE_CRAWL_S = 18.0  # nominal time of one crawl_wide crawl
POLITE = {"n_plds": 40, "pages_per_pld": 150, "seeds_per_pld": 60}
POLITE_TICKS = 2  # polite crawls never run dry; each stops after this many ticks
POLITE_CRAWL_S = 14.0
STREAM = {"batch_rows": 3000, "n_plds": 200}
STREAM_BATCH_S = 2.5  # nominal time of one url_db_stream micro-batch
# warm-up inputs: same code paths, fewer rows
WIDE_WARM = {"n_pages": 600, "n_plds": 30, "n_layers": 3}
POLITE_WARM = {"n_plds": 2, "pages_per_pld": 10, "seeds_per_pld": 3}
# the stream warms on its full PLD range, so every shuffle partition has
# started its Python worker and run the state merge before timing starts
STREAM_WARM = {"n_batches": 2, "batch_rows": 1000, "n_plds": STREAM["n_plds"]}

POLITE_TABLE = "perfbench_polite_state"


@dataclass
class Phase:
    """What one measured phase produced."""

    items: int = 0  # crawls: URLs that reached FETCHED; stream: observations merged
    wall_s: float = 0.0
    steps_s: list[float] = field(default_factory=list)  # ticks or micro-batches
    # items per second of each step, where every step does the same work
    # (the stream's micro-batches); items_per_s is then their median
    step_rates: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    live_heap_mb: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)  # traced phases only


def _units(seconds: float, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


class CrawlWorkload:
    name = "crawl"
    crawl_s = 1.0  # nominal seconds per crawl
    # tick whose input state the operator replay captures; None: the state
    # the first crawl ends with (a polite crawl stops mid-crawl)
    capture_tick: int | None = 3

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed

    # -- inputs -----------------------------------------------------------
    def graph(self, warm: bool) -> gen.WebGraph:
        raise NotImplementedError

    def config(self) -> CrawlConfig:
        raise NotImplementedError

    def _load(self, graph: gen.WebGraph, sub: str, pin: bool):
        """The graph's tables; ``pin``: materialized once, so the timed
        crawls do not re-read and re-render them."""
        paths = gen.write_graph(graph, os.path.join(self.work_dir, sub))
        read = self.spark.read.parquet
        frames = [render_pages(read(paths["web_graph"])), read(paths["seeds"])]
        frames.append(read(paths["rules"]) if "rules" in paths else None)
        if pin:
            frames = [f.localCheckpoint(eager=True) if f is not None else None for f in frames]
        return frames

    def setup(self, seconds: float) -> dict[str, float]:
        t0 = time.perf_counter()
        self.inputs = self.graph(warm=False)
        self.pages, self.seeds, self.rules = self._load(self.inputs, "inputs", pin=True)
        warm = self.graph(warm=True)
        pages, seeds, rules = self._load(warm, "warm", pin=False)
        t1 = time.perf_counter()
        cfg = self.config()
        cfg.max_ticks = 2
        self._reset()
        crawl(self.spark, seeds, pages=pages, robots_rules=rules, config=cfg)
        self._reset()
        return {"inputs_s": t1 - t0, "warm_s": time.perf_counter() - t1}

    # -- measured phase ---------------------------------------------------
    def _reset(self) -> None:
        """Make the next crawl start from its seeds."""

    def _check(self, res) -> list[str]:
        raise NotImplementedError

    def phase(self, seconds: float, clock: tracing.TickClock | None = None) -> Phase:
        """Whole crawls back to back, as many as fill ``seconds`` at the
        nominal crawl time."""
        clock = clock or tracing.TickClock()
        out = Phase()
        res = None
        if isinstance(clock, tracing.LoopTracer):
            inputs = clock.engine.persistent_ids()  # the benchmark's, not the program's
        with clock:
            for _ in range(_units(seconds, self.crawl_s)):
                if res is not None:
                    self._record_check(out, res)
                    res = None
                    self._reset()
                clock.begin_crawl()
                t0 = time.perf_counter()
                res = crawl(
                    self.spark,
                    self.seeds,
                    pages=self.pages,
                    robots_rules=self.rules,
                    config=self.config(),
                )
                took = time.perf_counter() - t0
                ticks = clock.end_crawl()
                out.wall_s += took
                out.items += res.stats[-1]["status_counts"].get("FETCHED", 0)
                out.steps_s += [t["wall_s"] for t in ticks if not t.get("capture")]
                out.attempted += 1
                if isinstance(clock, tracing.LoopTracer) and self.capture_tick is None and clock.captured is None:
                    clock.capture(
                        res.crawl_state, {"now_ms": gen.START_MS + (res.ticks + 1) * gen.TICK_MS}
                    )
        out.live_heap_mb = tracing.live_heap_mb(self.spark)
        if isinstance(clock, tracing.LoopTracer):
            rdds, mb = clock.engine.cached(inputs | clock.own_rdds)
            out.layers["crawl_loop.cached_rdds_end"] = rdds
            out.layers["crawl_loop.cached_mb_end"] = mb
        self._record_check(out, res)
        res = None
        self._reset()
        return out

    def _record_check(self, out: Phase, res) -> None:
        errors = self._check(res)
        out.failed += bool(errors)
        out.errors += errors

    def replay_rules(self) -> DataFrame | None:
        """robots rules for the operator replay: the crawl's own."""
        return self.rules

    def replay(self, clock: tracing.LoopTracer) -> dict[str, float]:
        state, kwargs = clock.captured
        layers, updates = tracing.replay_operators(
            self.spark,
            state,
            now_ms=kwargs["now_ms"],
            pages=self.pages,
            rules=self.replay_rules(),
            cfg=self.config(),
        )
        layers.update(tracing.replay_url_db(self.spark, state, updates, self.work_dir))
        return layers


class CrawlWide(CrawlWorkload):
    name = "crawl_wide"
    crawl_s = WIDE_CRAWL_S

    def graph(self, warm: bool) -> gen.WebGraph:
        return gen.wide_graph(self.seed, **(WIDE_WARM if warm else WIDE))

    def config(self) -> CrawlConfig:
        return CrawlConfig(
            max_ticks=10_000,
            max_duration_sec=3_600.0,
            force_crawl_delay_ms=0,
            max_per_domain=None,
        )

    def _check(self, res) -> list[str]:
        fetched = {r.url for r in res.crawl_state.where("status = 'FETCHED'").select("url").collect()}
        return checks.check_wide(fetched, self.inputs)

    def replay_rules(self) -> DataFrame:
        """The crawl itself runs without robots rules; the replay gives
        every host the polite rules, so the robots operator matches real
        disallows (its ``/private/`` pages) instead of an empty table."""
        rules = gen.host_rules(self.seed, self.inputs.adjacency)
        path = gen.write_rules(rules, os.path.join(self.work_dir, "replay_rules.parquet"))
        return self.spark.read.parquet(path)


class CrawlPolite(CrawlWorkload):
    name = "crawl_polite"
    crawl_s = POLITE_CRAWL_S
    capture_tick = None

    def graph(self, warm: bool) -> gen.WebGraph:
        return gen.polite_graph(self.seed, **(POLITE_WARM if warm else POLITE))

    def config(self) -> CrawlConfig:
        return CrawlConfig(
            max_ticks=POLITE_TICKS,
            max_duration_sec=3_600.0,
            max_per_domain=100,
            state_table=POLITE_TABLE,
        )

    def _reset(self) -> None:
        for suffix in ("", "__staging", "__old"):
            self.spark.sql(f"DROP TABLE IF EXISTS {POLITE_TABLE}{suffix}")

    def _check(self, res) -> list[str]:
        rows = res.crawl_state.where("status = 'FETCHED'").select("url", "status_time").collect()
        return checks.check_polite([(r.url, r.status_time) for r in rows], self.inputs)


class UrlDbStream:
    name = "url_db_stream"

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self._runs = 0

    def setup(self, seconds: float) -> dict[str, float]:
        t0 = time.perf_counter()
        n_batches = _units(seconds, STREAM_BATCH_S)
        self.files = gen.write_backlog(
            gen.stream_backlog(self.seed, n_batches=n_batches, **STREAM),
            os.path.join(self.work_dir, "backlog"),
        )
        warm = gen.write_backlog(
            gen.stream_backlog(self.seed, **STREAM_WARM), os.path.join(self.work_dir, "warm")
        )
        t1 = time.perf_counter()
        self._run(os.path.dirname(warm[0]))
        return {"inputs_s": t1 - t0, "warm_s": time.perf_counter() - t1}

    def _run(self, src: str, counter: tracing.Py4jCounter | None = None):
        """Every backlog file once, one file per micro-batch, each batch
        starting when the previous one ends (availableNow). The sink's
        collection of each batch is the benchmark's, so ``counter`` skips
        its py4j calls."""
        from flink_crawler_spark.streaming.url_db import OBS_SCHEMA, url_db_stateful

        outputs: list[tuple[int, object, float]] = []

        def sink(df: DataFrame, batch_id: int) -> None:
            if counter:
                counter.paused = True
            try:
                pdf = df.toPandas()
            finally:
                if counter:
                    counter.paused = False
            outputs.append((batch_id, pdf, time.perf_counter()))

        self._runs += 1
        stream = self.spark.readStream.schema(OBS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        t0 = time.perf_counter()
        q = (
            url_db_stateful(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(self.work_dir, f"ckpt{self._runs}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(150):
                raise TimeoutError("url_db_stateful did not drain its backlog in 150 s")
        finally:
            q.stop()
        return t0, outputs, q.recentProgress

    def phase(self, seconds: float, counter: tracing.Py4jCounter | None = None) -> Phase:
        from flink_crawler_spark.operators.merge import merge_crawl_state
        from flink_crawler_spark.streaming.url_db import OBS_SCHEMA

        engine = tracing.Engine(self.spark) if counter is not None else None
        window = tracing.EngineWindow(engine) if engine else None
        jobs0 = engine.jobs() if engine else 0
        tasks0 = engine.executors()["tasks"] if engine else 0
        calls0 = counter.calls if counter else 0
        inputs = engine.persistent_ids() if engine else set()
        t0, done, progress = self._run(os.path.dirname(self.files[0]), counter)
        out = Phase()
        out.items = sum(p["numInputRows"] for p in progress)
        out.wall_s = done[-1][2] - t0
        out.steps_s = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        out.step_rates = [
            p["numInputRows"] * 1000 / p["durationMs"]["triggerExecution"]
            for p in progress
            if p["numInputRows"]
        ]
        out.attempted = len(done)
        out.live_heap_mb = tracing.live_heap_mb(self.spark)
        if engine:
            n = max(len(done), 1)
            rdds, mb = engine.cached(inputs)
            out.layers.update(
                {
                    "crawl_loop.build_ms_per_tick": tracing.median(
                        sum(p["durationMs"].get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning"))
                        for p in progress
                    ),
                    "crawl_loop.py4j_calls_per_tick": (counter.calls - calls0) / n,
                    "crawl_loop.jobs_per_tick": (engine.jobs() - jobs0) / n,
                    "crawl_loop.tasks_per_tick": (engine.executors()["tasks"] - tasks0) / n,
                    "crawl_loop.cached_rdds_end": rdds,
                    "crawl_loop.cached_mb_end": mb,
                }
            )
            out.layers.update(window.metrics())
        final_rows = (
            row for _, pdf, _ in done for row in zip(*(pdf[c].tolist() for c in pdf.columns))
        )
        actual = checks.last_rows(final_rows)
        merged = merge_crawl_state(self.spark.read.schema(OBS_SCHEMA).parquet(*self.files)).collect()
        expected = {r.url: (r.pld, r.status, r.status_time, r.score, r.next_fetch_time) for r in merged}
        out.errors = checks.check_stream(actual, expected)
        out.failed = out.attempted if out.errors else 0
        if engine:
            out.layers.update(tracing.url_db_metrics(progress, len(actual)))
            self.final_state = actual
        return out

    def replay(self, clock=None) -> dict[str, float]:
        """Crawl operators over the stream's final URL DB, as the fetch
        queue would read it: no pages are served and no robots rules apply."""
        rows = [(u, *v) for u, v in sorted(self.final_state.items())]
        state = self.spark.createDataFrame(
            rows,
            "url string, pld string, status string, status_time long, score double, next_fetch_time long",
        ).localCheckpoint(eager=True)
        pages = self.spark.createDataFrame([], "page_url string, page_score double, html string")
        now_ms = max(v[2] for v in self.final_state.values()) + 1
        layers, _ = tracing.replay_operators(
            self.spark, state, now_ms=now_ms, pages=pages, rules=None, cfg=CrawlConfig()
        )
        return layers


WORKLOADS = {w.name: w for w in (CrawlWide, CrawlPolite, UrlDbStream)}
