"""The workloads. Each drives the program through its public API only:
``setup()`` builds the program-side objects (timed, repeated), ``warmup()``
makes the fixed unmeasured first calls, and ``op(i)`` runs op ``i`` of the
seeded sequence, checks every answer and returns an :class:`OpResult`.
"""

from __future__ import annotations

import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from hybridbench import inputs


@dataclass
class OpResult:
    primary_s: float          # latency of the workload's primary call
    calls: int                # checked calls in the op
    failed: int               # calls that raised or answered wrong
    primary_ok: bool          # the primary call's answer was right
    parts: dict = field(default_factory=dict)  # per-call seconds / counters
    #: the answers the run's ``correct`` flag covers were right: the
    #: primary call's and, in ingest-append, the append's (see README)
    covered_ok: bool | None = None

    def __post_init__(self):
        if self.covered_ok is None:
            self.covered_ok = self.primary_ok


@dataclass
class Context:
    spark: object
    tracer: object
    #: harness.HostWindow; answer checks and input landing run under
    #: ``host.excluded()``, so goodput and CPU count program work only
    host: object
    workdir: Path
    seed: int
    tiny: bool
    store_location: str | None = None


def timed(tracer, name: str, fn):
    """Run ``fn`` in a span with Spark counters; returns (result, s)."""
    with tracer.span(name, spark=True):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


class Workload:
    needs_store = False

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.excluded = ctx.host.excluded
        #: query text -> id of the DataFrame Engine.query returned last;
        #: the same object back again is a plan-cache hit
        self._returned: dict[str, int] = {}
        self.query_calls = 0
        self.cache_hits = 0

    def query_collect(self, engine, text: str):
        """``Engine.query`` then ``collect``; returns (rows, build_s,
        collect_s)."""
        df, build_s = timed(self.tracer, "engine.query",
                            lambda: engine.query(text))
        self.query_calls += 1
        if self._returned.get(text) == id(df):
            self.cache_hits += 1
        self._returned[text] = id(df)
        rows, collect_s = timed(self.tracer, "collect", df.collect)
        return rows, build_s, collect_s

    def guarded(self, fn):
        """Run one checked call; an exception is a failed answer."""
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None


# -- dashboards over Flight -----------------------------------------------------

def _graph(spark):
    from otit_swt_spark import GraphStore
    from otit_swt_spark.windpower import kg_triples

    graph = GraphStore.from_triples(spark, kg_triples(inputs.TURBINES))
    graph.df = graph.df.cache()
    graph.df.count()
    return graph


class DashboardCold(Workload):
    """One long-lived Engine over the Flight store; op ``i`` refreshes the
    two panels for the i-th seeded (turbine, window), a text never issued
    before."""

    needs_store = True

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        import duckdb

        from otit_swt_spark.windpower import series_frame

        self.points = store_points(ctx.tiny)
        self.oracle = duckdb.connect(config={"threads": 1})
        pdf = series_frame(self.points, inputs.TURBINES)  # noqa: F841 - read by DuckDB
        self.oracle.execute("CREATE TABLE ts AS SELECT * FROM pdf")
        self.params = DashboardSequence(ctx.seed, self.points)
        self.graph = None

    def setup(self) -> None:
        from otit_swt_spark import Engine
        from otit_swt_spark.sources.flight import flight_timeseries

        from hybridbench.store import TABLE_QUERY

        if self.graph is not None:
            self.graph.df.unpersist()
        self.graph = _graph(self.spark)
        self.engine = Engine(self.spark, self.graph)
        self.engine.add_timeseries_table(flight_timeseries(
            self.spark, self.ctx.store_location, TABLE_QUERY))

    def warmup(self) -> None:
        for turbine, lo, hi in self.params.warmups:
            self.refresh(turbine, lo, hi)

    def refresh(self, turbine: int, lo: str, hi: str) -> OpResult:
        panels = (
            ("single", inputs.panel_single_text(turbine, lo, hi),
             inputs.expected_single, ["avg_val"]),
            ("sync", inputs.panel_sync_text(turbine, lo, hi),
             inputs.expected_sync, [f"avg_{p}" for _, p in inputs.SIGNALS]))
        parts, answers = {}, []
        t0 = time.perf_counter()
        for name, text, _, _ in panels:
            out = self.guarded(lambda: self.query_collect(self.engine, text))
            answers.append(out)
            if out is not None:
                parts[f"{name}_build_s"], parts[f"{name}_collect_s"] = out[1:]
        latency = time.perf_counter() - t0
        with self.excluded():
            ok = all(out is not None and inputs.same_answer(
                         inputs.got_buckets(out[0], cols),
                         expect(self.oracle, turbine, lo, hi))
                     for out, (_, _, expect, cols) in zip(answers, panels))
        return OpResult(latency, 1, 0 if ok else 1, ok, parts)

    def op(self, i: int) -> OpResult:
        return self.refresh(*self.params.op(i))


def store_points(tiny: bool) -> int:
    from otit_swt_spark.windpower import REFERENCE_POINTS

    return 2880 if tiny else REFERENCE_POINTS


class DashboardSequence:
    """The seeded refresh sequence, generated in chunks as ops run; the
    first WARMUPS entries are the warm-up, so no measured text was issued
    before."""

    CHUNK = 64
    WARMUPS = 1

    def __init__(self, seed: int, points: int):
        self.seed, self.points = seed, points
        self._items: list = []

    def _get(self, j: int):
        while j >= len(self._items):
            self._items = inputs.dashboard_params(
                self.seed, len(self._items) + self.CHUNK, self.points)
        return self._items[j]

    @property
    def warmups(self):
        return [self._get(j) for j in range(self.WARMUPS)]

    def op(self, i: int):
        return self._get(i + self.WARMUPS)


# -- append-then-read ingest ------------------------------------------------------

class IngestAppend(Workload):
    """Each cycle lands one 10-minute fleet batch as a parquet file, then
    (1) appends it through the streaming sink and the incremental fold,
    (2) runs a new-text moving read, (3) repeats the fixed running-count
    read."""

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        import duckdb

        self.root = ctx.workdir / "ingest"
        self.landing = self.root / "landing"
        self.table = self.root / "table"
        self.rollup = self.root / "rollup"
        self.landing.mkdir(parents=True)
        self.oracle = duckdb.connect(config={"threads": 1})
        self.oracle.execute(
            "CREATE TABLE ts (id VARCHAR, timestamp TIMESTAMP, value DOUBLE)")
        self.batches = 0
        self.engine = None

    def setup(self) -> None:
        from otit_swt_spark import Engine
        from otit_swt_spark.streaming.ingest import registered_table

        if self.engine is not None:
            self.engine.graph.df.unpersist()
        self.engine = Engine(self.spark, _graph(self.spark))
        self.engine.add_timeseries_table(
            registered_table(str(self.table), value_column="value"))

    def land(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = inputs.ingest_batch(self.ctx.seed, self.batches)
        tmp = self.root / f".batch-{self.batches:05d}.parquet"
        schema = pa.schema([("id", pa.string()),
                            ("timestamp", pa.timestamp("us", tz="UTC")),
                            ("value", pa.float64())])
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                            preserve_index=False), tmp)
        # rename into place so the stream never sees a half-written file
        tmp.rename(self.landing / f"batch-{self.batches:05d}.parquet")
        local = pdf.assign(timestamp=pdf["timestamp"].dt.tz_localize(None))
        self.oracle.execute("INSERT INTO ts SELECT * FROM local")
        self.batches += 1

    def append(self) -> dict:
        from otit_swt_spark.streaming.ingest import (
            read_timeseries_stream, stream_incremental_agg,
            to_timeseries_sink)

        def sink():
            q = to_timeseries_sink(
                read_timeseries_stream(self.spark, str(self.landing)),
                str(self.table), str(self.root / "table_ckpt"),
                available_now=True)
            q.awaitTermination()
            return q

        def fold():
            q = stream_incremental_agg(
                read_timeseries_stream(self.spark, str(self.landing)),
                str(self.rollup), keys=["id"], sum_cols=["value"],
                checkpoint=str(self.root / "rollup_ckpt"))
            q.awaitTermination()
            return q

        q, sink_s = timed(self.tracer, "ingest.sink", sink)
        _, fold_s = timed(self.tracer, "ingest.fold", fold)
        commit_ms = 0.0
        for p in q.recentProgress:
            if p.numInputRows:
                d = p.durationMs
                commit_ms = float(d.get("walCommit", 0)
                                  + d.get("commitOffsets", 0))
        return {"sink_s": sink_s, "fold_s": fold_s, "commit_ms": commit_ms}

    def rollup_ok(self) -> bool:
        got = {r["id"]: (int(r["n"]), float(r["sum_value"]))
               for r in self.spark.read.parquet(str(self.rollup)).collect()}
        return inputs.same_rollup(got, inputs.expected_rollup(self.oracle))

    def moving_read(self, k: int):
        """Returns (ok, seconds); the answer check is excluded work."""
        turbine, lo, hi = inputs.moving_read_params(self.ctx.seed, k)
        rows, build_s, collect_s = self.query_collect(
            self.engine, inputs.panel_single_text(turbine, lo, hi))
        with self.excluded():
            ok = inputs.same_answer(
                inputs.got_buckets(rows, ["avg_val"]),
                inputs.expected_single(self.oracle, turbine, lo, hi))
        return ok, build_s + collect_s

    def repeat_read(self):
        rows, build_s, collect_s = self.query_collect(
            self.engine, inputs.REPEAT_TEXT)
        with self.excluded():
            ok = (len(rows) == 1 and int(rows[0]["n"])
                  == inputs.expected_repeat(self.oracle))
        return ok, build_s + collect_s

    def warmup(self) -> None:
        # one hour of history, then the first calls: the sink and fold
        # start their checkpoints, the repeat text enters the plan cache;
        # then one unmeasured cycle, without which the first measured
        # moving read ran about 25 % slower than the rest
        for _ in range(inputs.INITIAL_BATCHES):
            self.land()
        self.append()
        self.moving_read(self.batches - 1)
        self.repeat_read()
        self.op(-1)

    def op(self, i: int) -> OpResult:
        with self.excluded():
            self.land()
            files, size = table_files(self.table), table_bytes(self.table)
        k = self.batches - 1
        parts = {"points": len(inputs.fleet_ids()) * inputs.BATCH_POINTS}
        t0 = time.perf_counter()
        app = self.guarded(self.append)
        parts["append_s"] = time.perf_counter() - t0
        with self.excluded():
            parts["bytes_added"] = table_bytes(self.table) - size
            parts["files_added"] = table_files(self.table) - files
            append_ok = app is not None and bool(self.guarded(self.rollup_ok))
        failed = 0 if append_ok else 1
        if app is not None:
            parts.update(app)
        with self.tracer.span("ingest.moving_read"):
            moving = self.guarded(lambda: self.moving_read(k))
        primary_ok = moving is not None and moving[0]
        primary_s = moving[1] if moving is not None else 0.0
        failed += 0 if primary_ok else 1
        with self.tracer.span("ingest.repeat_read"):
            repeat = self.guarded(self.repeat_read)
        if repeat is None or not repeat[0]:
            failed += 1
        if repeat is not None:
            parts["repeat_read_s"] = repeat[1]
        return OpResult(primary_s, 3, failed, primary_ok, parts,
                        covered_ok=primary_ok and append_ok)


def table_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet")) \
        if path.exists() else 0


def table_files(path: Path) -> int:
    return sum(1 for _ in path.rglob("*.parquet")) if path.exists() else 0


# -- mapper expansion ---------------------------------------------------------------

class MapperExpand(Workload):
    """Each op expands the seeded block of sensor rows through a 3-triple
    stOTTR template on a fresh ``Mapping`` and writes the N-Triples with
    ``ntriples_lines().write.text``."""

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        rows = 2000 if ctx.tiny else inputs.MAPPER_ROWS
        self.block = inputs.mapper_block(ctx.seed, rows)
        self.expected = inputs.expected_ntriples(self.block)
        self.out = ctx.workdir / "mapper"
        self.rows = None

    def setup(self) -> None:
        # the input frame the mapper reads: the seeded block, cached
        if self.rows is not None:
            self.rows.unpersist()
        self.rows = self.spark.createDataFrame(self.block).cache()
        self.rows.count()

    def warmup(self) -> None:
        self.op(-1)

    def op(self, i: int) -> OpResult:
        from otit_swt_spark.mapper import Mapping

        path = self.out / f"op{i}"

        def expand():
            m = Mapping.from_str(inputs.MAPPER_TEMPLATE, spark=self.spark)
            m.expand(inputs.MAPPER_TEMPLATE_IRI, self.rows)
            return m

        def write():
            mapping.ntriples_lines().write.text(str(path))
            return True

        t0 = time.perf_counter()
        mapping, expand_s = timed(self.tracer, "mapper.expand",
                                  lambda: self.guarded(expand))
        written, write_s = (None, 0.0) if mapping is None else timed(
            self.tracer, "mapper.write", lambda: self.guarded(write))
        latency = time.perf_counter() - t0
        with self.excluded():
            ok = bool(written) and inputs.same_ntriples(
                inputs.read_ntriples(read_lines(path)), self.expected)
            shutil.rmtree(path, ignore_errors=True)
        return OpResult(latency, 1, 0 if ok else 1, ok,
                        {"expand_s": expand_s, "write_s": write_s})


def read_lines(path: Path):
    for part in sorted(path.glob("part-*")):
        with open(part) as f:
            for line in f:
                yield line.rstrip("\n")


WORKLOADS = {
    "dashboard-cold": DashboardCold,
    "ingest-append": IngestAppend,
    "mapper-expand": MapperExpand,
}
