"""Per-layer metrics derived from spans, the kernel probe and the Spark
event log.  Times and counts are per traced pass."""

from __future__ import annotations

import statistics

from perfbench.metrics import OPS_NAMES
from perfbench.tracing import Tracer, jobs_in, read_event_log, role_run_s, stage_metrics


def from_spans(tracer: Tracer, probe: dict, n_passes: int) -> dict[str, float]:
    """Kernel-probe, salting, job/manifest and ops metrics."""
    m: dict[str, float] = {}
    m["kernel.mapper_s"] = probe["mapper_s"] / n_passes
    m["kernel.engine_s"] = probe["engine_s"] / n_passes
    m["kernel.boundary_s"] = m["kernel.mapper_s"] - m["kernel.engine_s"]
    m["kernel.batches"] = probe["batches"] / n_passes
    m["kernel.rows_per_batch"] = (
        probe["rows"] / probe["batches"] if probe["batches"] else 0.0
    )
    salt = [s for s in tracer.spans if s["name"].startswith("salting.")]
    m["salting.build_s"] = sum(s["end"] - s["start"] for s in salt) / n_passes
    parts = [s["partitions"] for s in salt if s.get("partitions")]
    m["salting.partitions"] = statistics.median(parts) if parts else 0.0
    waves = wave_times(tracer)
    m["job.waves"] = len(waves) / n_passes
    m["job.wave_s_p50"] = statistics.median(waves) if waves else 0.0
    m["job.wave_s_max"] = max(waves, default=0.0)
    for name, span in (
        ("manifests.commit_s", "manifests.commit_manifest"),
        ("manifests.completed_buckets_s", "manifests.completed_buckets"),
        ("manifests.check_s", "manifests.check_job_manifest"),
    ):
        m[name] = tracer.total(span) / n_passes
    m["manifests.commits"] = len(tracer.named("manifests.commit_manifest")) / n_passes
    for q in OPS_NAMES:
        m[f"ops.{q}.build_s"] = tracer.total(f"ops.{q}.build") / n_passes
        m[f"ops.{q}.exec_s"] = tracer.total(f"ops.{q}.exec") / n_passes
    return m


def wave_times(tracer: Tracer) -> list[float]:
    """A wave of ``run_extraction_job`` runs from its
    ``salted_repartition`` call to its last ``commit_manifest``."""
    waves = []
    for leg in tracer.named("job.run_extraction_job"):
        kids = [s for s in tracer.spans if s["parent"] == leg["id"]]
        starts = [s for s in kids if s["name"] == "salting.salted_repartition"]
        commits = [s for s in kids if s["name"] == "manifests.commit_manifest"]
        for k, st in enumerate(starts):
            nxt = starts[k + 1]["start"] if k + 1 < len(starts) else leg["end"]
            ends = [c["end"] for c in commits if st["start"] <= c["start"] < nxt]
            waves.append((max(ends) if ends else nxt) - st["start"])
    return waves


def from_event_log(
    m: dict, tracer: Tracer, groups: set[str], event_dir: str
) -> dict[str, float]:
    """Stage, job and reconciliation metrics; ``m`` holds the metrics
    already derived (``kernel.engine_s``).  Read after the session has
    stopped, when the event log is complete."""
    n = len(groups)
    log = read_event_log(event_dir)
    out = stage_metrics(log, groups, n)
    legs = [(s["start"] * 1e3, s["end"] * 1e3)
            for s in tracer.named("job.run_extraction_job")]
    out["job.spark_jobs"] = sum(
        1
        for j in log["jobs"].values()
        if j["group"] in groups
        and any(a <= (j["start_ms"] or 0) <= b for a, b in legs)
    ) / n
    for q in OPS_NAMES:
        out[f"ops.{q}.jobs"] = sum(jobs_in(log, f"{g}:{q}") for g in groups) / n
    out["kernel.noop_stage_s"] = role_run_s(log, "noop", "kernel")
    # kernel-stage executor run time = engine + noop-stage cost + the rest
    out["kernel.unexplained_s"] = (
        out["stage.kernel.run_s"] - m["kernel.engine_s"] - out["kernel.noop_stage_s"]
    )
    return out
