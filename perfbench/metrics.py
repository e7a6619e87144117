"""Names the layer code shares.  Every metric's name, unit and direction
is listed once, in ``BENCHMARK.json``.

End-to-end metrics come from untraced runs (``--trace 0``), per-layer
metrics from traced runs (``--trace 1``).  Per-layer times are per pass
(averaged over the traced passes) unless the name says otherwise; the
``core.*`` rows are one-core seconds for one pass's documents,
estimated from a fixed in-process sample.
"""

# the roles a Spark stage is grouped by, and the fields of each
ROLES = ("scan", "exchange", "kernel", "write", "agg")

STAGE_FIELDS = (
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "fetch_wait_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "task_max_over_median",
    "failed_tasks",
)

OPS_NAMES = ("flagship", "minhash", "lsh_adaptive", "ivf")
