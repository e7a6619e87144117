"""Spans, wrappers, the worker RSS sampler and the event-log reader.

Nothing here changes program code.  Layers are measured from outside:

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  and writes them as JSON lines when the run ends.
- ``wrapped`` swaps a module-level name (for example
  ``h2spark.pipeline.job.commit_manifest``) for a recording wrapper
  while a traced pass runs, and puts the original back afterwards.
- ``KernelProbe`` wraps the Arrow kernel the same way, in this process
  before the mapper is pickled, so that executors report mapper time,
  engine time, batches and rows through accumulators.
- ``RssSampler`` is one thread that samples the RSS of every PySpark
  Python worker from ``/proc``.
- ``read_event_log`` turns a Spark JSON event log into per-job,
  per-stage and per-task records.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import threading
import time

from perfbench.metrics import ROLES, STAGE_FIELDS


class Tracer:
    """In-memory spans.  Times are ``time.time()`` seconds so they line
    up with the event log's millisecond timestamps."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """A finished span whose times were taken by the caller."""
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "run": self.run_id,
            }
        )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Replace each ``(module, attribute, span name)`` by a wrapper that
    records a span around every call; restore the originals on exit.
    A call that returns a DataFrame repartitioned to a fixed count
    records that count on its span as ``partitions``."""
    saved = []
    for mod, attr, span_name in targets:
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))

        def wrapper(*a, _orig=orig, _name=span_name, **kw):
            with tracer.span(_name) as rec:
                out = _orig(*a, **kw)
                parts = _plan_partitions(out)
                if parts is not None:
                    rec["partitions"] = parts
                return out

        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def _plan_partitions(out) -> int | None:
    """Partition count of a DataFrame whose top logical node is a
    repartition (planning only, no job); None otherwise."""
    jdf = getattr(out, "_jdf", None)
    if jdf is None:
        return None
    node = jdf.queryExecution().logical()
    if "Repartition" not in node.nodeName():
        return None
    return int(node.numPartitions())


class KernelProbe:
    """Executor-side timing of the ``mapInArrow`` extraction kernel.

    While active, ``h2spark.pipeline.kernel.make_arrow_mapper`` returns
    the real mapper wrapped in a timer, and the two engine calls the
    mapper makes per document (``extract_one_flat``, ``flatten_into``)
    are wrapped too.  The wrappers are pickled by value with the mapper,
    so every executor reports into four accumulators: seconds spent
    producing output batches (``mapper_s``), seconds inside the engine
    calls (``engine_s``), batches and rows.
    """

    def __init__(self, sc):
        self.acc = {
            k: sc.accumulator(0.0 if k.endswith("_s") else 0)
            for k in ("mapper_s", "engine_s", "batches", "rows")
        }

    def snapshot(self) -> dict:
        return {k: a.value for k, a in self.acc.items()}

    @contextlib.contextmanager
    def active(self):
        from pyspark import cloudpickle

        from h2spark.core import runner
        from h2spark.pipeline import kernel

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        engine_acc = self.acc["engine_s"]
        mapper_acc = self.acc["mapper_s"]
        batch_acc = self.acc["batches"]
        row_acc = self.acc["rows"]
        orig_extract = runner.extract_one_flat
        orig_flatten = runner.flatten_into
        orig_factory = kernel.make_arrow_mapper

        def extract_one_flat(*a):
            t0 = time.perf_counter()
            try:
                return orig_extract(*a)
            finally:
                engine_acc.add(time.perf_counter() - t0)

        def flatten_into(*a):
            t0 = time.perf_counter()
            try:
                return orig_flatten(*a)
            finally:
                engine_acc.add(time.perf_counter() - t0)

        def make_arrow_mapper(*a, **kw):
            inner = orig_factory(*a, **kw)

            def mapper(batches):
                it = inner(batches)
                spent = 0.0
                n_batches = n_rows = 0
                try:
                    while True:
                        t0 = time.perf_counter()
                        try:
                            out = next(it)
                        except StopIteration:
                            spent += time.perf_counter() - t0
                            return
                        spent += time.perf_counter() - t0
                        n_batches += 1
                        n_rows += out.num_rows
                        yield out
                finally:
                    mapper_acc.add(spent)
                    batch_acc.add(n_batches)
                    row_acc.add(n_rows)

            return mapper

        runner.extract_one_flat = extract_one_flat
        runner.flatten_into = flatten_into
        kernel.make_arrow_mapper = make_arrow_mapper
        try:
            yield
        finally:
            runner.extract_one_flat = orig_extract
            runner.flatten_into = orig_flatten
            kernel.make_arrow_mapper = orig_factory


class RssSampler:
    """One thread sampling the RSS of PySpark Python workers (the
    ``pyspark.daemon`` process and its forked workers) from ``/proc``."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._is_worker: dict[str, bool] = {}

    def _worker(self, pid: str) -> bool:
        known = self._is_worker.get(pid)
        if known is None:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                return False
            known = b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd
            self._is_worker[pid] = known
        return known

    def sample(self) -> None:
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or not self._worker(pid):
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            if rss > self.peak_bytes:
                self.peak_bytes = rss

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, name="rss-sampler")
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


# --- event log --------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Parse the newest event log in ``log_dir`` into
    ``{"jobs": {id: {...}}, "stages": {id: {...}}}``.  A job records its
    job group and stage ids; a stage its role, tasks and metrics."""
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    ]
    if not files:
        return {"jobs": {}, "stages": {}}
    path = max(files, key=os.path.getmtime)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev.get("Stage IDs", []),
                    "start_ms": ev.get("Submission Time"),
                }
            elif kind == "SparkListenerStageCompleted":
                # a stage's tasks have all ended by the time it completes
                info = ev["Stage Info"]
                scopes = " ".join(
                    json.loads(rdd["Scope"]).get("name", "")
                    for rdd in info.get("RDD Info", [])
                    if rdd.get("Scope")
                )
                st = stages.setdefault(info["Stage ID"], {"tasks": []})
                st["role"] = stage_role(
                    scopes,
                    sum(t["shuffle_read_b"] for t in st["tasks"]),
                    sum(t["shuffle_write_b"] for t in st["tasks"]),
                )
            elif kind == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                read_b = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st = stages.setdefault(ev["Stage ID"], {"tasks": []})
                st["tasks"].append(
                    {
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                        "shuffle_read_b": read_b,
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "in_b": read_b + im.get("Bytes Read", 0),
                        "failed": bool(ti.get("Failed")),
                    }
                )
    return {"jobs": jobs, "stages": stages}


def stage_role(scopes: str, shuffle_read_b: int, shuffle_write_b: int) -> str:
    """A stage running Python code is ``kernel``; else one writing files
    is ``write``.  The rest go by data flow: reading shuffle output and
    writing none is ``agg`` (the reduce side of an aggregate, join or
    collect), reading and writing shuffle data is ``exchange``, and
    reading only input (files, cached tables, local data) is ``scan``.
    Aggregates are not told apart by operator name because whole-stage
    codegen hides them from the RDD scopes."""
    if any(k in scopes for k in ("InArrow", "InPandas", "EvalPython")):
        return "kernel"
    if "WriteFiles" in scopes:
        return "write"
    if shuffle_read_b:
        return "exchange" if shuffle_write_b else "agg"
    return "scan"


def _max_over_median(values: list[float]) -> float | None:
    if len(values) < 2:
        return None
    med = statistics.median(values)
    return max(values) / med if med > 0 else None


def stage_metrics(log: dict, groups: set[str], n_passes: int) -> dict[str, float]:
    """Per-pass stage metrics by role over the jobs in ``groups`` (a
    group ``g:q`` counts as ``g``)."""
    stage_ids: set[int] = set()
    n_jobs = 0
    for job in log["jobs"].values():
        if (job["group"] or "").split(":")[0] in groups:
            n_jobs += 1
            stage_ids.update(job["stages"])
    per = max(n_passes, 1)
    out: dict[str, float] = {
        "spark.jobs": n_jobs / per,
        "spark.stages": sum(
            1 for s in stage_ids if log["stages"].get(s, {}).get("tasks")
        ) / per,
    }
    for role in ROLES:
        acc = {k: 0.0 for k in STAGE_FIELDS}
        skews: list[float] = []
        byte_skews: list[float] = []
        for sid in stage_ids:
            st = log["stages"].get(sid)
            if not st or not st["tasks"] or st.get("role") != role:
                continue
            tasks = st["tasks"]
            acc["tasks"] += len(tasks)
            acc["run_s"] += sum(t["run_ms"] for t in tasks) / 1e3
            acc["cpu_s"] += sum(t["cpu_ns"] for t in tasks) / 1e9
            acc["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1e3
            acc["fetch_wait_s"] += sum(t["fetch_wait_ms"] for t in tasks) / 1e3
            acc["shuffle_read_mb"] += sum(t["shuffle_read_b"] for t in tasks) / (1 << 20)
            acc["shuffle_write_mb"] += sum(t["shuffle_write_b"] for t in tasks) / (1 << 20)
            acc["failed_tasks"] += sum(t["failed"] for t in tasks)
            r = _max_over_median([t["run_ms"] for t in tasks])
            if r is not None:
                skews.append(r)
            b = _max_over_median([t["in_b"] for t in tasks])
            if b is not None:
                byte_skews.append(b)
        for k in STAGE_FIELDS:
            if k != "task_max_over_median":
                out[f"stage.{role}.{k}"] = acc[k] / per
        out[f"stage.{role}.task_max_over_median"] = (
            statistics.median(skews) if skews else 0.0
        )
        if role == "kernel":
            out["stage.kernel.bytes_max_over_median"] = (
                statistics.median(byte_skews) if byte_skews else 0.0
            )
    return out


def jobs_in(log: dict, group: str) -> int:
    return sum(1 for j in log["jobs"].values() if j["group"] == group)


def role_run_s(log: dict, group: str, role: str) -> float:
    """Summed executor run time of the ``role`` stages of one job group."""
    sids = {
        sid
        for job in log["jobs"].values()
        if job["group"] == group
        for sid in job["stages"]
    }
    total = 0.0
    for sid in sids:
        st = log["stages"].get(sid)
        if st and st.get("role") == role:
            total += sum(t["run_ms"] for t in st["tasks"]) / 1e3
    return total
