"""Layered extraction benchmark for h2spark.

    python3 perfbench/run.py --workload corpus_job --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout, on ``local[N]`` with N = the cores
this process may use.  ``--workload`` takes a name, a unique prefix of
one, or ``all``.  Each workload:

1. generates its inputs from ``--seed`` and its in-process reference
   (untimed);
2. sets up a Spark session plus Python worker warm-up three times, each
   in a fresh JVM, and reports the median as ``setup_s``;
3. runs one untimed warm pass, then closed-loop passes for about
   ``--seconds`` (at least three), verifying each result before the
   next pass starts.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` interleaves
plain and traced passes with the Spark event log on and reports the
per-layer metrics; the spans go to ``.perfbench/traces/``.  See
``LAYERS.md`` for what each metric means.

Every line but the last is for people; the last line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".perfbench")


def metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, as ``BENCHMARK.json``
    lists them: the per-layer ones when traced, else the end-to-end."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    return p.parse_args(argv)


def _isolate() -> None:
    """Keep every file the run writes (Python and JVM temp files, Spark
    local dirs, the warehouse, the package archive) under SCRATCH."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    os.environ["H2SPARK_WAREHOUSE"] = os.path.join(SCRATCH, "warehouse")
    os.environ.setdefault("H2SPARK_DRIVER_MEM", "2g")
    # every JVM, the spark-submit launcher included: temp files here and
    # no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import h2spark  # noqa: F401
        import oracle_utils  # noqa: F401

        from perfbench import harness, procs, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    try:
        chosen = workloads.select(args.workload)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    _isolate()
    procs.become_subreaper()
    # a terminated run still stops Spark and its workers on the way out
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        cores = len(os.sched_getaffinity(0))
        units = metric_units(bool(args.trace))
        attempted = failed = redone = 0
        metrics: dict = {}
        for cls in chosen:
            out = harness.run_workload(
                cls, SCRATCH, args.seed, args.seconds, args.size, cores, bool(args.trace)
            )
            missing = [n for n in units if n not in out.metrics]
            if missing:
                raise RuntimeError(f"{cls.name}: metrics not produced: {missing}")
            attempted += out.attempted
            failed += out.failed
            # a resume that redoes committed work is wrong, not just slow
            redone += out.extra.get("recomputed_buckets", 0)
            print(f"== {cls.name} (seed {args.seed}, local[{cores}], size {args.size})")
            print(f"   setup runs (s): {[round(a + b, 3) for a, b in out.setups]}")
            print(f"   untraced pass walls (s): {[round(x, 3) for x in out.walls]}")
            print(f"   failed_share = {out.failed / out.attempted:.6f} share "
                  f"({out.failed}/{out.attempted})")
            for k, v in out.extra.items():
                print(f"   {k} = {v} count")
            prefix = f"{cls.name}." if len(chosen) > 1 else ""
            for n, unit in units.items():
                print(f"   {n} = {out.metrics[n]:.6g} {unit}")
                metrics[prefix + n] = {"value": out.metrics[n], "unit": unit}
    finally:
        harness.stop_spark()
    print(json.dumps({
        "correct": failed == 0 and redone == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
