"""Session lifecycle and the closed measuring loop of one workload."""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import sys
import time

N_SETUPS = 3

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout is for results."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Session:
    """One Spark session in its own JVM, with warmed Python workers."""

    def __init__(self, cores: int, seed: int, event_dir: str | None):
        from pyspark.sql import functions as F

        from h2spark.fixtures import corpus_df
        from h2spark.golden import PAGE_SPEC
        from h2spark.pipeline.kernel import extract_spans_arrow
        from h2spark.pipeline.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        try:
            self.spark = get_spark(
                "perfbench",
                master=f"local[{cores}]",
                shuffle_partitions=max(2 * cores, 8),
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            # up to the first kernel batch: one small extraction job
            docs = corpus_df(self.spark, 16 * cores, seed=seed, n_partitions=cores)
            extract_spans_arrow(docs, PAGE_SPEC).agg(F.count("error")).collect()
            t2 = time.perf_counter()
        except BaseException:
            stop_spark()
            raise
        self.get_spark_s = t1 - t0
        self.worker_warm_s = t2 - t1

    def stop(self) -> None:
        stop_spark()


def stop_spark() -> None:
    """Stop the Spark session and its JVM, if one is running, and wait
    for the JVM and the Python workers it leaves behind to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench import procs

    gw = SparkContext._gateway
    try:
        if gw is not None:
            if SparkSession._instantiatedSession is not None:
                SparkSession._instantiatedSession.stop()
            elif SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gw.shutdown()
    finally:
        try:
            if gw is not None:
                SparkContext._gateway = None
                SparkContext._jvm = None
                # the JVM exits when its stdin closes
                gw.proc.stdin.close()
                gw.proc.wait(120)
        finally:
            procs.end_children()


def cycles(seconds: float, min_cycles: int = 1):
    """Closed-loop cycle numbers for about ``seconds``: the next cycle
    starts while at least half of the last cycle's time is left."""
    start = time.perf_counter()
    last = 0.0
    i = 0
    while i < min_cycles or time.perf_counter() + last / 2 < start + seconds:
        t0 = time.perf_counter()
        yield i
        last = time.perf_counter() - t0
        i += 1


@dataclasses.dataclass
class Outcome:
    metrics: dict
    walls: list  # untraced pass wall times
    attempted: int = 0
    failed: int = 0
    setups: list = dataclasses.field(default_factory=list)
    extra: dict = dataclasses.field(default_factory=dict)


def run_workload(cls, scratch: str, seed: int, seconds: float, size: str,
                 cores: int, trace: bool) -> Outcome:
    """Prepare, set up ``N_SETUPS`` times, load, warm, then measure."""
    work = os.path.join(scratch, "work", cls.name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    w = cls(work, seed, size, cores)
    log(f"{cls.name}: preparing inputs")
    w.prepare()
    event_dir = os.path.join(scratch, "eventlog", cls.name) if trace else None
    if event_dir:
        shutil.rmtree(event_dir, ignore_errors=True)
    log(f"{cls.name}: setting up {N_SETUPS} sessions")
    setups = []
    try:
        for _ in range(N_SETUPS):
            if setups:
                setups[-1].stop()
            setups.append(Session(cores, seed, event_dir))
        spark = setups[-1].spark
        log(f"{cls.name}: loading")
        w.load(spark)
        log(f"{cls.name}: warm pass")
        attempted = failed = 0
        # the first pass after warm-up still runs slow; a traced run has
        # too few passes to outvote it, so it warms once more
        for _ in range(2 if trace else 1):
            a, f = w.verify(spark, w.run_pass(spark))
            attempted += a
            failed += f
        log(f"{cls.name}: measuring")
        if trace:
            out, pending = _measure_traced(w, spark, seconds, cores, scratch)
        else:
            out = _measure(w, spark, seconds)
    finally:
        if setups:
            setups[-1].stop()
    out.attempted += attempted
    out.failed += failed
    out.setups = [(s.get_spark_s, s.worker_warm_s) for s in setups]
    out.extra = w.extra()
    if trace:
        from perfbench import layers

        out.metrics["session.get_spark_s"] = median([a for a, _ in out.setups])
        out.metrics["session.worker_warm_s"] = median([b for _, b in out.setups])
        out.metrics.update(layers.from_event_log(out.metrics, *pending, event_dir))
    else:
        out.metrics["setup_s"] = median([a + b for a, b in out.setups])
    log(f"{cls.name}: cleaning up")
    shutil.rmtree(work, ignore_errors=True)
    log(f"{cls.name}: done")
    return out


def _measure(w, spark, seconds: float) -> Outcome:
    from perfbench.tracing import RssSampler

    out = Outcome(metrics={}, walls=[])
    with RssSampler() as rss:
        # a median needs three passes; ops_sf fits only two in 8 s
        for _ in cycles(seconds, min_cycles=3):
            t0 = time.perf_counter()
            result = w.run_pass(spark)
            out.walls.append(time.perf_counter() - t0)
            a, f = w.verify(spark, result)
            out.attempted += a
            out.failed += f
    wall = median(out.walls)
    out.metrics = {
        "wall_s": wall,
        "docs_per_s": w.n_docs / wall,
        "peak_worker_rss_mb": rss.peak_mb,
    }
    return out


def _measure_traced(w, spark, seconds: float, cores: int, scratch: str):
    """Interleave plain and traced passes, then run the noop stage and
    the in-process engine pass.  Returns the outcome and what the
    event-log metrics need once the session has stopped."""
    from perfbench import layers
    from perfbench.engine import engine_pass
    from perfbench.tracing import KernelProbe, Tracer, wrapped

    sc = spark.sparkContext
    tracer = Tracer(f"{w.name}-seed{w.seed}")
    probe = KernelProbe(sc)
    out = Outcome(metrics={}, walls=[])
    traced: dict[str, float] = {}
    for i in cycles(seconds, min_cycles=4):
        # plain, traced, traced, plain, ...: drift in either direction
        # lands on both sides
        is_traced = i % 4 in (1, 2)
        group = f"{'traced' if is_traced else 'plain'}-{i}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        if is_traced:
            with tracer.span("pass", group=group), \
                    wrapped(tracer, w.trace_targets()), probe.active():
                result = w.run_pass(spark, tracer=tracer, group=group)
            traced[group] = time.perf_counter() - t0
        else:
            result = w.run_pass(spark)
            out.walls.append(time.perf_counter() - t0)
        sc.setJobGroup("verify", "verify")
        a, f = w.verify(spark, result)
        out.attempted += a
        out.failed += f
    sc.setJobGroup("noop", "noop")
    w.noop_stage(spark)
    m = engine_pass(tracer, w.cs, w.engine_sample())
    m.update(layers.from_spans(tracer, probe.snapshot(), len(traced)))
    untraced = median(out.walls)
    m["kernel.parallel_eff"] = (w.n_docs / w.extraction_s(m, untraced)) / (
        cores * m["kernel.parallel_eff_base_docs_per_s"]
    )
    m["trace.untraced_wall_s"] = untraced
    m["trace.traced_wall_s"] = median(list(traced.values()))
    m["trace.overhead_ratio"] = m["trace.traced_wall_s"] / untraced
    tracer.write(os.path.join(scratch, "traces", f"{tracer.run_id}.jsonl"))
    out.metrics = m
    return out, (tracer, set(traced))
