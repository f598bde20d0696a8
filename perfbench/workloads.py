"""The benchmark's two workloads.

``etl_batch``: each wave is the ``cli pipeline`` call sequence
(``run_step1`` -> ``run_step2`` -> ``finalize`` -> ``write_parquet``)
over one fresh day of raw telemetry and the month's accounting CSV.

``etl_stream``: each wave lands one continuation CSV per node and
metric, then drains ``run_step1_incremental`` (four queries),
``run_step2_incremental`` and re-finalizes step-2's touched months
with ``pipeline.step3.finalize``.  The landing tree keeps growing, so
the per-wave cost grows with the files already landed.

Both are closed loops with one client: the next wave starts only
after the previous one returned.  Inputs are generated from the seed
before any timer starts; every wave's final table is checked against
an independent DuckDB computation outside the timer.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time
import traceback
from dataclasses import asdict, dataclass, field
from functools import reduce

from perfbench import gen, oracle
from perfbench.trace import Tracer

MB = 2**20


@dataclass(frozen=True)
class Shape:
    """Wave size and fixed unit counts of one workload.

    ``warmup`` waves run after session start and count into
    ``setup_s``; the timed wave count is ``seconds / nominal_wave_s``
    (at least ``min_timed``), so both sides of a comparison do the
    same work whatever their speed.  ``history`` waves (stream only)
    land in ``warmup`` equal chunks, one chunk per warm-up unit, so the
    timed waves see a grown landing tree."""

    nodes: int
    samples: int
    warmup: int
    nominal_wave_s: float
    min_timed: int
    history: int = 0

    def timed(self, seconds: int) -> int:
        return max(self.min_timed, round(seconds / self.nominal_wave_s))


BATCH = Shape(nodes=16, samples=288, warmup=3, nominal_wave_s=3.5,
              min_timed=3)
STREAM = Shape(nodes=4, samples=40, warmup=1, nominal_wave_s=10.0,
               min_timed=2, history=4)


@dataclass
class Wave:
    """One unit of work as recorded for the run."""

    index: int
    kind: str  # "warmup", "timed" or "traced"
    wall_s: float = 0.0
    raw_rows: int = 0
    files: int = 0
    output_mb: float = 0.0
    error: str | None = None


@dataclass
class Run:
    """State of one benchmark run: the session, the run's private
    directories and every wave attempted."""

    name: str
    seed: int
    seconds: int
    run_dir: str
    tracer: Tracer
    spark: object = None
    start_s: float = 0.0
    setup_s: float = 0.0
    waves: list[Wave] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start_session(self) -> None:
        from stampede_to_fresco_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        """JVM high-water RSS plus this Python process's, read once."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            hwm_kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("VmHWM:")
            )
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + own_kb) / 1024.0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        spawned) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None

    def attempt(self, wave: Wave, body) -> bool:
        """Run ``body`` timed.  Returns whether it completed; a raise
        fails the wave."""
        self.waves.append(wave)
        t0 = time.perf_counter()
        try:
            body()
        except Exception:  # a failed unit is counted, the run goes on
            wave.error = traceback.format_exc(limit=3).splitlines()[-1]
        wave.wall_s = time.perf_counter() - t0
        return wave.error is None

    @staticmethod
    def check(wave: Wave, fn) -> None:
        """Untimed correctness check: a reason returned by ``fn`` or a
        raise fails the wave."""
        if wave.error is not None:
            return
        try:
            wave.error = fn()
        except Exception:
            wave.error = traceback.format_exc(limit=3).splitlines()[-1]

    # ---- result ---------------------------------------------------------

    @property
    def failed(self) -> int:
        return sum(w.error is not None for w in self.waves)

    def result(self, layers: dict) -> tuple[dict, dict]:
        timed = [w for w in self.waves if w.kind == "timed"]
        walls = [w.wall_s for w in timed]
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "wave_s_p50": (statistics.median(walls), "s"),
            "wave_s_last": (walls[-1], "s"),
            "raw_rows_per_s": (
                sum(w.raw_rows for w in timed) / sum(walls), "rows/s"
            ),
            "output_mb": (
                statistics.median(w.output_mb for w in timed), "MB"
            ),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }
        metrics = layers if self.tracer.enabled else e2e
        out = {
            "correct": self.failed == 0,
            "attempted": len(self.waves),
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }
        record = {
            "workload": self.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.tracer.enabled),
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_1m": os.getloadavg()[0],
            "waves": [asdict(w) for w in self.waves],
        }
        return out, record


def dir_mb(path: str) -> float:
    """Bytes of the data files under ``path`` (no markers or CRCs)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total / MB


def _check(spark, final_dir: str, raw_glob: str, acct: str):
    got = spark.read.parquet(final_dir).toPandas()
    return oracle.compare(got, oracle.expected(raw_glob, acct))


# Per-layer metric names and units.  Every traced run reports all of
# them; a layer the workload does not run reads 0 (its bypass case).
LAYERS = {
    "session.start_s": "s",
    "sources.readers.list_s": "s",
    "sources.readers.files": "count",
    "sources.readers.scan_s": "s",
    "sources.readers.rows": "count",
    "pipeline.step1.block_s": "s",
    "pipeline.step1.cpu_s": "s",
    "pipeline.step1.llite_s": "s",
    "pipeline.step1.mem_s": "s",
    "pipeline.step1.rows_out": "count",
    "sources.writers.long_write_s": "s",
    "sources.writers.long_mb": "MB",
    "sources.writers.final_write_s": "s",
    "sources.writers.final_mb": "MB",
    "operators.interval_join.join_s": "s",
    "operators.interval_join.rows_out": "count",
    "operators.windows.bucket_s": "s",
    "pipeline.step2.partial_s": "s",
    "pipeline.step2.finish_s": "s",
    "pipeline.step2.rows_out": "count",
    "pipeline.step3.finalize_s": "s",
    "streaming.step1_stream.drain_s": "s",
    "streaming.step1_stream.latest_offset_s": "s",
    "streaming.step1_stream.add_batch_s": "s",
    "streaming.step1_stream.commit_s": "s",
    "streaming.step1_stream.planning_s": "s",
    "streaming.step1_stream.input_rows": "count",
    "streaming.step1_stream.state_rows": "count",
    "streaming.step1_stream.state_mb": "MB",
    "streaming.step1_stream.files_landed": "count",
    "streaming.step1_stream.drain_growth_s": "s",
    "streaming.step1_stream.latest_offset_growth_s": "s",
    "streaming.step1_stream.add_batch_growth_s": "s",
    "streaming.step2_stream.drain_s": "s",
    "streaming.step2_stream.latest_offset_s": "s",
    "streaming.step2_stream.add_batch_s": "s",
    "streaming.step2_stream.commit_s": "s",
    "streaming.step2_stream.input_rows": "count",
    "streaming.step2_stream.state_mb": "MB",
    "trace.layer_sum_s": "s",
    "trace.gap_s": "s",
    "trace.overhead_s": "s",
}


def layer_metrics(values: dict[str, float]) -> dict:
    return {n: (float(values.get(n, 0.0)), u) for n, u in LAYERS.items()}


# ---- etl_batch -------------------------------------------------------------


def batch_wave(spark, raw_dir: str, acct: str, out_dir: str) -> None:
    """The ``cli pipeline`` sequence over one day of raw telemetry."""
    from stampede_to_fresco_etl_spark.pipeline.step1 import run_step1
    from stampede_to_fresco_etl_spark.pipeline.step2 import run_step2
    from stampede_to_fresco_etl_spark.pipeline.step3 import finalize
    from stampede_to_fresco_etl_spark.schemas import ACCOUNTING_RAW
    from stampede_to_fresco_etl_spark.sources.readers import read_csv_robust
    from stampede_to_fresco_etl_spark.sources.writers import write_parquet

    long_dir = f"{out_dir}/long"
    run_step1(spark, raw_dir, long_dir)
    wide = run_step2(
        spark.read.parquet(long_dir),
        read_csv_robust(spark, acct, ACCOUNTING_RAW),
    )
    write_parquet(finalize(wide), f"{out_dir}/final")


def batch_wave_traced(spark, raw_dir: str, acct: str, out_dir: str,
                      tr: Tracer) -> None:
    """The same wave split at each layer's public function; each
    layer's input is materialized first, its output forced inside
    its span."""
    from stampede_to_fresco_etl_spark.operators.interval_join import (
        join_metrics_to_accounting,
    )
    from stampede_to_fresco_etl_spark.operators.windows import (
        with_day,
        with_job_aligned_window,
    )
    from stampede_to_fresco_etl_spark.pipeline import step1, step2
    from stampede_to_fresco_etl_spark.pipeline.step3 import finalize
    from stampede_to_fresco_etl_spark.schemas import (
        ACCOUNTING_RAW,
        BLOCK_RAW,
        CPU_RAW,
        LLITE_RAW,
        MEM_RAW,
    )
    from stampede_to_fresco_etl_spark.sources.readers import read_csv_robust
    from stampede_to_fresco_etl_spark.sources.writers import write_parquet

    kernels = {
        "block": (BLOCK_RAW, step1.process_block),
        "cpu": (CPU_RAW, step1.process_cpu),
        "llite": (LLITE_RAW, step1.process_llite),
        "mem": (MEM_RAW, step1.process_mem),
    }
    held = []

    def hold(df):
        """Persist and count: forces a layer's output and keeps it as
        the next layer's input.  Returns (frame, rows)."""
        df = df.persist()
        held.append(df)
        return df, df.count()

    with tr.span("sources.readers.list"):
        raws = {
            m: read_csv_robust(spark, f"{raw_dir}/*/{m}.csv", schema)
            for m, (schema, _) in kernels.items()
        }
    tr.count("sources.readers.files",
             sum(len(df.inputFiles()) for df in raws.values()))
    with tr.span("sources.readers.scan"):
        for m in kernels:
            raws[m], n = hold(raws[m])
            tr.count("sources.readers.rows", n)
    parts = []
    for m, (_, kernel) in kernels.items():
        with tr.span(f"pipeline.step1.{m}"):
            part, n = hold(kernel(raws[m]))
        parts.append(part)
        tr.count("pipeline.step1.rows_out", n)
    long = reduce(lambda a, b: a.unionByName(b), parts)
    long_dir = f"{out_dir}/long"
    with tr.span("sources.writers.long_write"):
        write_parquet(
            with_day(long, "Timestamp"), long_dir, partition_by=["date"],
            sort_within_partitions=["Job Id", "Host", "Timestamp"],
        )
    tr.count("sources.writers.long_mb", dir_mb(long_dir))

    metrics, _ = hold(spark.read.parquet(long_dir))
    accounting, _ = hold(step2.parse_accounting(
        read_csv_robust(spark, acct, ACCOUNTING_RAW)
    ))
    with tr.span("operators.interval_join.join"):
        joined, n = hold(join_metrics_to_accounting(metrics, accounting))
    tr.count("operators.interval_join.rows_out", n)
    with tr.span("operators.windows.bucket"):
        hold(with_job_aligned_window(
            joined, ts_col="Timestamp", anchor_col="start", end_col="end"
        ))
    with tr.span("pipeline.step2.partial"):
        partial, _ = hold(step2.partial_step2(metrics, accounting))
    with tr.span("pipeline.step2.finish"):
        wide, n = hold(step2.finish_step2(partial))
    tr.count("pipeline.step2.rows_out", n)
    with tr.span("pipeline.step3.finalize"):
        final, _ = hold(finalize(wide))
    final_dir = f"{out_dir}/final"
    with tr.span("sources.writers.final_write"):
        write_parquet(final, final_dir)
    tr.count("sources.writers.final_mb", dir_mb(final_dir))
    for df in held:
        df.unpersist()


def run_batch(run: Run) -> tuple[dict, dict]:
    shape = BATCH
    n_timed = shape.timed(run.seconds)
    n_traced = 0
    if run.tracer.enabled:
        # the traced run spends its timed budget on two layer-by-layer
        # waves and keeps at least one fused wave as the overhead
        # baseline
        n_traced = 2
        n_timed = max(1, n_timed - n_traced)
    n_days = shape.warmup + n_timed + n_traced
    acct = run.path("acct", "2013-03.csv")
    gen.write_accounting(acct, [
        gen.batch_timeline(d, shape.nodes, shape.samples)
        for d in range(n_days)
    ])
    days = []
    for d in range(n_days):
        raw = run.path("raw", f"day{d:02d}")
        files = gen.write_batch_day(raw, run.seed, d, shape.nodes,
                                    shape.samples)
        days.append((raw, run.path("out", f"day{d:02d}"), files))

    def wave(d: int, kind: str) -> Wave:
        raw, out, files = days[d]
        w = Wave(d, kind, raw_rows=files.raw_rows, files=files.files)
        if kind == "traced":
            run.tracer.begin_unit()
            run.attempt(w, lambda: batch_wave_traced(
                run.spark, raw, acct, out, run.tracer))
        else:
            run.attempt(w, lambda: batch_wave(run.spark, raw, acct, out))
        return w

    def check(w: Wave) -> None:
        raw, out, _ = days[w.index]
        run.check(w, lambda: _check(
            run.spark, f"{out}/final", f"{raw}/*/{{metric}}.csv", acct
        ))
        w.output_mb = dir_mb(f"{out}/final")
        shutil.rmtree(out, ignore_errors=True)

    run.start_session()
    run.setup_s = run.start_s
    kinds = (["warmup"] * shape.warmup + ["timed"] * n_timed
             + ["traced"] * n_traced)
    for d, kind in enumerate(kinds):
        w = wave(d, kind)
        if kind == "warmup":
            run.setup_s += w.wall_s
        check(w)

    layers = {}
    if run.tracer.enabled:
        layers = run.tracer.medians()
        fused = statistics.median(
            w.wall_s for w in run.waves if w.kind == "timed"
        )
        traced = statistics.median(
            w.wall_s for w in run.waves if w.kind == "traced"
        )
        layer_sum = sum(v for k, v in layers.items() if k.endswith("_s"))
        layers.update({
            "trace.layer_sum_s": layer_sum,
            "trace.gap_s": fused - layer_sum,
            "trace.overhead_s": traced - fused,
        })
        layers["session.start_s"] = run.start_s
    return run.result(layer_metrics(layers))


# ---- etl_stream ------------------------------------------------------------


def _progress(queries) -> dict[str, float]:
    """Sum of the drain's micro-batch durations and counts, read from
    ``StreamingQuery.recentProgress``."""
    out = dict.fromkeys(
        ("latest_offset_s", "add_batch_s", "commit_s", "planning_s",
         "input_rows", "state_rows", "state_mb"), 0.0
    )
    for q in queries:
        for p in q.recentProgress:
            d = p.durationMs
            out["latest_offset_s"] += d.get("latestOffset", 0) / 1000.0
            out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
            out["commit_s"] += (d.get("walCommit", 0)
                                + d.get("commitOffsets", 0)) / 1000.0
            out["planning_s"] += d.get("queryPlanning", 0) / 1000.0
            out["input_rows"] += p.numInputRows
        last = q.lastProgress
        for op in (last.stateOperators if last else []):
            out["state_rows"] += op.numRowsTotal
            out["state_mb"] += op.memoryUsedBytes / MB
    return out


def _record_progress(tr: Tracer, q1, q2, state_dir: str,
                     files_landed: int) -> None:
    for k, v in _progress(q1).items():
        tr.count(f"streaming.step1_stream.{k}", v)
    p2 = _progress([q2])
    for k in ("latest_offset_s", "add_batch_s", "commit_s", "input_rows"):
        tr.count(f"streaming.step2_stream.{k}", p2[k])
    latest = max(os.listdir(state_dir), key=lambda v: int(v[1:]))
    tr.count("streaming.step2_stream.state_mb",
             dir_mb(os.path.join(state_dir, latest)))
    tr.count("streaming.step1_stream.files_landed", files_landed)


@dataclass
class StreamDirs:
    landing: str
    long: str
    wide: str
    final: str
    state: str
    ck1: str
    ck2: str


def stream_wave(spark, d: StreamDirs, accounting, months, tr: Tracer):
    """Drain step-1 and step-2 over everything landed so far, then
    re-finalize step-2's touched months into the final table.

    Step-3 runs as a batch re-finalize of the touched month
    partitions, not as ``run_step3_incremental``: step-2's output is
    overwrite-maintained, and a file stream over it re-emits every
    rewritten month (see NOTES.md)."""
    from pyspark.sql import functions as F

    from stampede_to_fresco_etl_spark.pipeline.step3 import finalize
    from stampede_to_fresco_etl_spark.streaming.step1_stream import (
        run_step1_incremental,
    )
    from stampede_to_fresco_etl_spark.streaming.step2_stream import (
        run_step2_incremental,
    )

    with tr.span("streaming.step1_stream.drain"):
        q1 = run_step1_incremental(spark, d.landing, d.long, d.ck1)
        for q in q1:
            q.awaitTermination()
    with tr.span("streaming.step2_stream.drain"):
        q2 = run_step2_incremental(
            spark, d.long, accounting, d.state, d.wide, d.ck2,
            recursive=True,
        )
        q2.awaitTermination()
    with tr.span("pipeline.step3.finalize"):
        wide = spark.read.parquet(d.wide).filter(F.col("month").isin(months))
        (
            finalize(wide).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .partitionBy("month")
            .parquet(d.final)
        )
    return q1, q2


def run_stream(run: Run) -> tuple[dict, dict]:
    from stampede_to_fresco_etl_spark.pipeline.step2 import parse_accounting
    from stampede_to_fresco_etl_spark.schemas import ACCOUNTING_RAW
    from stampede_to_fresco_etl_spark.sources.readers import read_csv_robust

    shape = STREAM
    n_timed = shape.timed(run.seconds)
    kinds = ["warmup"] * shape.warmup + ["timed"] * n_timed
    chunk = shape.history // shape.warmup
    n_waves = shape.history + n_timed
    src = gen.StreamSource(run.seed, n_waves, shape.nodes, shape.samples)
    acct = run.path("acct", "2013-03.csv")
    gen.write_accounting(acct, [src.timeline])
    d = StreamDirs(*(run.path(n) for n in StreamDirs.__dataclass_fields__))
    tl = src.timeline
    months = sorted({tl.ts(i).strftime("%Y-%m") for i in (0, tl.total - 1)})

    def land(i: int) -> gen.WaveFiles:
        """Warm-up unit ``i`` lands a chunk of history waves at once;
        a timed unit lands one wave."""
        if i < shape.warmup:
            waves = range(i * chunk, (i + 1) * chunk)
        else:
            waves = [shape.history + i - shape.warmup]
        out = gen.WaveFiles()
        for w in waves:
            f = src.land(d.landing, w)
            out.files += f.files
            out.raw_rows += f.raw_rows
        out.waves = len(waves)
        return out

    first = land(0)  # lands before the session, like all inputs so far
    run.start_session()
    t0 = time.perf_counter()
    accounting = parse_accounting(
        read_csv_robust(run.spark, acct, ACCOUNTING_RAW)
    ).persist()
    accounting.count()
    run.setup_s = run.start_s + time.perf_counter() - t0

    tr = run.tracer
    files_landed = waves_landed = 0
    for i, kind in enumerate(kinds):
        files = first if i == 0 else land(i)
        files_landed += files.files
        waves_landed += files.waves
        wave = Wave(i, kind, raw_rows=files.raw_rows, files=files.files)
        traced = tr.enabled and kind == "timed"
        if traced:
            tr.begin_unit()
        queries = []

        def body():
            queries[:] = stream_wave(
                run.spark, d, accounting, months,
                tr if traced else Tracer(False),
            )

        if not run.attempt(wave, body):
            break  # the stream's state is undefined after a failure
        if kind == "warmup":
            run.setup_s += wave.wall_s
        if traced:
            t0 = time.perf_counter()
            _record_progress(tr, *queries, d.state, files_landed)
            tr.count("trace.overhead_s", time.perf_counter() - t0)
        run.check(wave, lambda: _check(
            run.spark, d.final, f"{d.landing}/*/{{metric}}*.csv", acct
        ))
        wave.output_mb = dir_mb(d.final) / waves_landed

    layers = {}
    if tr.enabled and tr.units:
        layers = tr.medians()
        layer_sum = sum(layers.get(f"{n}_s", 0.0) for n in (
            "streaming.step1_stream.drain", "streaming.step2_stream.drain",
            "pipeline.step3.finalize",
        ))
        fused = statistics.median(
            w.wall_s for w in run.waves if w.kind == "timed"
        )
        layers.update({
            "trace.layer_sum_s": layer_sum,
            "trace.gap_s": fused - layer_sum,
            "session.start_s": run.start_s,
        })
        for n in ("drain_s", "latest_offset_s", "add_batch_s"):
            key = f"streaming.step1_stream.{n}"
            layers[key[:-2] + "_growth_s"] = tr.growth(key)
    return run.result(layer_metrics(layers))


WORKLOADS = {"etl_batch": run_batch, "etl_stream": run_stream}
