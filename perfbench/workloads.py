"""The three workloads.

Each workload is a closed loop: one pass (a job or a set of queries) at
a time, and the next pass starts only after the previous result has
been verified.  A workload

- ``prepare``s its inputs from the seed and its in-process reference
  before Spark starts (untimed);
- ``load``s what needs Spark, such as the bucketized job input and the
  reference digest (untimed);
- runs ``run_pass`` (timed) and ``verify`` (untimed) in turn;
- in a traced run, also names the module attributes to wrap, a fixed
  engine sample and an identity ("noop") kernel stage over its kernel
  input.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import shutil

from pyspark.sql import functions as F

from h2spark.core import runner
from h2spark.core.extract import compile_spec
from h2spark.golden import PAGE_SPEC
from h2spark.ops import dedup, flagship, similarity
from h2spark.pipeline import job, kernel, salting

from perfbench import inputs
from perfbench.engine import reference

SIZES = {
    "full": {
        "corpus_docs": 8000,
        "whale_typical": 8000,
        "whale_wide": [1500, 1500],
        "whale_deep": [("ulli", 3000), ("ulli", 2000), ("ulli", 2000),
                       ("div", 4000), ("div", 4000), ("b", 4000), ("b", 4000)],
        "sf_docs": 5000,
        "sf_vecs": 2000,
        "engine_sample": 1000,
    },
    "toy": {
        "corpus_docs": 400,
        "whale_typical": 300,
        "whale_wide": [200],
        "whale_deep": [("ulli", 300), ("div", 300), ("b", 300)],
        "sf_docs": 300,
        "sf_vecs": 200,
        "engine_sample": 100,
    },
}


def _maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def count_failed(ref_rows: list[dict], got_rows: list[dict]) -> int:
    """Reference documents missing from ``got_rows``, errored or with
    other spans there, plus output rows that repeat a doc_id or name one
    the reference lacks."""
    ref = {r["doc_id"]: r for r in ref_rows}
    got: dict = {}
    bad = 0
    for r in got_rows:
        if r["doc_id"] in got or r["doc_id"] not in ref:
            bad += 1
        else:
            got[r["doc_id"]] = r
    for d, r in ref.items():
        g = got.get(d)
        if g is None or g["error"] is not None or g["spans_out"] != r["spans_out"]:
            bad += 1
    return bad


def digest(df):
    """Order-independent digest of (doc_id, spans_out), plus counts."""
    h = F.xxhash64("doc_id", "spans_out")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("error").alias("n_err"),
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("s"),
        F.bit_xor(h).alias("x"),
    )


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, size: str, cores: int):
        self.work = work
        # the benchmark's scratch directory, which outlives the run's work dir
        self.scratch = os.path.dirname(os.path.dirname(work))
        self.seed = seed
        self.size = SIZES[size]
        self.cores = cores

    def load(self, spark) -> None:
        pass

    def extra(self) -> dict:
        return {}

    def extraction_s(self, m: dict, wall_s: float) -> float:
        """Seconds one pass spends extracting its ``n_docs`` documents,
        given the traced metrics ``m`` and the untraced pass wall time:
        the whole pass for the extraction workloads."""
        return wall_s


class ExtractionWorkload(Workload):
    """Shared by ``corpus_job`` and ``whale_tail``: seeded spans rows
    with by-construction expected values, and the in-process reference
    the Spark output is checked against."""

    def __init__(self, *a):
        super().__init__(*a)
        self.cs = compile_spec(PAGE_SPEC)
        self.raw_path = os.path.join(self.work, "input")
        self.rows: list[dict] = []
        self.ref_table = None
        self.ref_digest = None
        self.bad_expected = 0

    @property
    def n_docs(self) -> int:
        return len(self.rows)

    def make_rows(self) -> list[dict]:
        raise NotImplementedError

    def prepare(self) -> None:
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor
        from multiprocessing import resource_tracker

        import pyarrow as pa

        self.rows = self.make_rows()
        inputs.write_spans_parquet(self.rows, self.raw_path)
        # the in-process reference, split over the cores by interleaving
        # rows so that whales spread out
        n = self.cores
        with ProcessPoolExecutor(n, mp_context=multiprocessing.get_context("spawn")) as ex:
            parts = list(ex.map(
                reference,
                [PAGE_SPEC] * n,
                [[r["spans"] for r in self.rows[i::n]] for i in range(n)],
                [[r["expected"] for r in self.rows[i::n]] for i in range(n)],
            ))
        # the pool leaves its resource tracker process running until
        # this process exits
        resource_tracker._resource_tracker._stop()
        spans_out: list = [None] * len(self.rows)
        errors: list = [None] * len(self.rows)
        for i, (outs, errs, bad) in enumerate(parts):
            spans_out[i::n] = outs
            errors[i::n] = errs
            self.bad_expected += bad
        span_t = pa.list_(
            pa.struct(
                [("kind", pa.string()), ("text", pa.string()),
                 ("media_ref", pa.string()), ("order", pa.int32())]
            )
        )
        self.ref_table = pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in self.rows], pa.string()),
                "spans_out": pa.array(spans_out, span_t),
                "error": pa.array(errors, pa.string()),
            }
        )

    def load(self, spark) -> None:
        self.ref_digest = digest(spark.createDataFrame(self.ref_table)).first()

    def failed_docs(self, got_digest, out_df) -> int:
        """Failed documents of one pass's output ``out_df`` (see
        ``count_failed``), at least one if its digest differs from the
        reference digest, plus documents whose reference value differs
        from the by-construction expected value; at most every
        document."""
        if got_digest == self.ref_digest:
            return self.bad_expected
        got = out_df.select("doc_id", "spans_out", "error").toArrow().to_pylist()
        bad = count_failed(self.ref_table.to_pylist(), got)
        return min(max(bad, 1) + self.bad_expected, self.n_docs)

    def engine_sample(self) -> list[tuple[list, float]]:
        k = min(self.size["engine_sample"], len(self.rows))
        w = len(self.rows) / k
        return [(r["spans"], w) for r in self.rows[:k]]

    def noop_stage(self, spark) -> None:
        def identity(batches):
            yield from batches

        df = salting.salted_repartition(
            spark.read.parquet(self.raw_path), 2 * self.cores
        ).select("doc_id", "spans")
        df.mapInArrow(identity, df.schema).agg(F.count(F.lit(1))).collect()

    def trace_targets(self) -> list:
        return [
            (salting, "salted_repartition", "salting.salted_repartition"),
            (kernel, "extract_spans_arrow", "kernel.extract_spans_arrow"),
        ]


class CorpusJob(ExtractionWorkload):
    name = "corpus_job"
    n_buckets = 32
    wave_buckets = 8

    def __init__(self, *a):
        super().__init__(*a)
        self.bucketed_path = os.path.join(self.work, "bucketed")
        self.recomputed = 0
        self.n_pass = 0

    def make_rows(self) -> list[dict]:
        return inputs.corpus_rows(self.size["corpus_docs"], self.seed)

    def load(self, spark) -> None:
        super().load(spark)
        job.bucketize_input(
            spark, spark.read.parquet(self.raw_path), self.bucketed_path,
            n_buckets=self.n_buckets,
        )

    def run_pass(self, spark, tracer=None, group=None):
        self.n_pass += 1
        out = os.path.join(self.work, f"out-{self.n_pass}")
        n_waves = -(-self.n_buckets // self.wave_buckets)
        legs = []
        for max_waves in (n_waves // 2, None):  # a kill, then the resume
            with _maybe_span(tracer, "job.run_extraction_job"):
                legs.append(job.run_extraction_job(
                    spark,
                    spark.read.parquet(self.bucketed_path),
                    PAGE_SPEC,
                    out,
                    n_buckets=self.n_buckets,
                    wave_buckets=self.wave_buckets,
                    input_lineage="perfbench",
                    max_waves=max_waves,
                    input_is_bucketed=True,
                ))
        return out, legs

    def verify(self, spark, result) -> tuple[int, int]:
        out, (first, resume) = result
        committed = {b for w in first["ran_waves"] for b in w}
        redone = {b for w in resume["ran_waves"] for b in w}
        self.recomputed += len(committed & redone)
        out_df = spark.read.parquet(os.path.join(out, "data"))
        failed = self.failed_docs(digest(out_df).first(), out_df)
        if resume["completed"] != self.n_buckets:
            failed = self.n_docs
        self._discard(out)
        return self.n_docs, failed

    def _discard(self, out: str) -> None:
        """Delete the pass's data but park its manifests in the work dir,
        which is deleted after measuring: the job fsyncs each manifest,
        and unlinking an fsynced file costs ~65 ms on a filesystem
        mounted with ``discard`` (2 s per pass)."""
        shutil.rmtree(os.path.join(out, "data"))
        spent = os.path.join(self.work, "spent")
        os.makedirs(spent, exist_ok=True)
        os.rename(out, os.path.join(spent, os.path.basename(out)))

    def extra(self) -> dict:
        return {"recomputed_buckets": self.recomputed}

    def trace_targets(self) -> list:
        return [
            (job, "check_job_manifest", "manifests.check_job_manifest"),
            (job, "completed_buckets", "manifests.completed_buckets"),
            (job, "commit_manifest", "manifests.commit_manifest"),
            (job, "salted_repartition", "salting.salted_repartition"),
            (job, "extract_spans_arrow", "kernel.extract_spans_arrow"),
        ]


class WhaleTail(ExtractionWorkload):
    name = "whale_tail"

    def make_rows(self) -> list[dict]:
        return inputs.whale_rows(
            self.size["whale_typical"], self.seed,
            self.size["whale_wide"], self.size["whale_deep"],
        )

    def run_pass(self, spark, tracer=None, group=None):
        df = salting.salted_repartition(
            spark.read.parquet(self.raw_path), 2 * self.cores
        )
        out = kernel.extract_spans_arrow(df.select("doc_id", "spans"), self.cs)
        return digest(out).first(), out

    def verify(self, spark, result) -> tuple[int, int]:
        """On a digest mismatch the documents are compared on the same
        plan the pass ran (salting included), executed once more."""
        got, out = result
        return self.n_docs, self.failed_docs(got, out)

    def engine_sample(self) -> list[tuple[list, float]]:
        """The first typical documents, weighted, and every whale."""
        typical = [r for r in self.rows if not r.get("whale")]
        k = min(self.size["engine_sample"], len(typical))
        w = len(typical) / k
        sample = [(r["spans"], w) for r in typical[:k]]
        sample += [(r["spans"], 1.0) for r in self.rows if r.get("whale")]
        return sample


OPS_QUERIES = {
    "flagship": ("flagship_extract_spans", flagship),
    "minhash": ("dedup_minhash_lsh", dedup),
    "lsh_adaptive": ("dedup_embedding_lsh_adaptive", dedup),
    "ivf": ("ann_ivf_topk", similarity),
}


class OpsSf(Workload):
    name = "ops_sf"

    def __init__(self, *a):
        super().__init__(*a)
        self.cs = compile_spec(flagship.FLAGSHIP_SPEC)
        self.sf_dir = os.path.join(self.work, "sf")
        self.expected: dict[str, tuple] = {}
        self.oracle_path = ""

    @property
    def n_docs(self) -> int:
        return self.size["sf_docs"]

    def prepare(self) -> None:
        import duckdb

        inputs.write_sf_tables(
            self.sf_dir, self.seed, self.size["sf_docs"], self.size["sf_vecs"]
        )
        # the oracles take ~11 s at full size; their rows depend only on
        # the DuckDB version, the SQL and the table bytes, so a run reuses
        # the rows an earlier run computed from the same three
        key = hashlib.sha256(duckdb.__version__.encode())
        for qname, mod in OPS_QUERIES.values():
            key.update(mod.ORACLES[qname].encode())
        for t in ("documents", "embeddings"):
            with open(f"{self.sf_dir}/{t}.parquet", "rb") as f:
                key.update(f.read())
        self.oracle_path = os.path.join(
            self.scratch, "cache", f"oracles-{key.hexdigest()}.pkl"
        )
        if os.path.exists(self.oracle_path):
            with open(self.oracle_path, "rb") as f:
                self.expected = pickle.load(f)
            return
        # computed before Spark starts: run in a thread beside the warm
        # pass instead, they left the measured passes about 8% slower
        self.expected = self._run_oracles()
        os.makedirs(os.path.dirname(self.oracle_path), exist_ok=True)
        with open(self.oracle_path + ".tmp", "wb") as f:
            pickle.dump(self.expected, f)
        os.replace(self.oracle_path + ".tmp", self.oracle_path)

    def _run_oracles(self) -> dict[str, tuple]:
        import duckdb

        from oracle_utils import _norm_cell, null_int_degrades

        expected = {}
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{self.sf_dir}/{t}.parquet'"
                )
            for q, (qname, mod) in OPS_QUERIES.items():
                sql = mod.ORACLES[qname]
                ddf = con.execute(sql).fetchdf()
                if null_int_degrades(con, sql, ddf):
                    raise RuntimeError(f"{qname}: oracle integer column has NULLs")
                cols = sorted(ddf.columns)
                rows = sorted(
                    tuple(_norm_cell(v) for v in row)
                    for row in ddf[cols].itertuples(index=False, name=None)
                )
                expected[q] = (cols, rows)
        finally:
            con.close()
        return expected

    def run_pass(self, spark, tracer=None, group=None):
        """Build and collect every query.  With a tracer, each query's
        plan build and execution get a span and their own job group."""
        results = {}
        for q, (qname, mod) in OPS_QUERIES.items():
            if tracer is None:
                df = mod.QUERIES[qname](spark, self.sf_dir)
                results[q] = (df.columns, df.collect())
                continue
            spark.sparkContext.setJobGroup(f"{group}:{q}", q)
            with tracer.span(f"ops.{q}.build"):
                df = mod.QUERIES[qname](spark, self.sf_dir)
            with tracer.span(f"ops.{q}.exec"):
                results[q] = (df.columns, df.collect())
        return results

    def verify(self, spark, results) -> tuple[int, int]:
        from oracle_utils import _norm_cell

        failed = 0
        for q, (cols, rows) in results.items():
            scols = sorted(cols)
            got = sorted(tuple(_norm_cell(r[c]) for c in scols) for r in rows)
            if (scols, got) != self.expected[q]:
                failed += 1
        spark.catalog.clearCache()  # ann_ivf persists its assignment
        return len(results), failed

    def extraction_s(self, m: dict, wall_s: float) -> float:
        """The flagship query's execution; the other queries extract
        nothing."""
        return m["ops.flagship.exec_s"]

    def engine_sample(self) -> list[tuple[list, float]]:
        """Flagship documents rebuilt in-process the way the query's SQL
        builds them (texts need no escaping: plain words)."""
        import pyarrow.parquet as pq

        t = pq.read_table(f"{self.sf_dir}/documents.parquet").to_pylist()
        k = min(self.size["engine_sample"], len(t))
        w = len(t) / k
        sample = []
        for r in t[:k]:
            html = (
                f'<html lang="{r["lang"]}"><body><article class="main">'
                f'{r["text"]}</article><footer><span>{r["source"]}'
                "</span></footer></body></html>"
            )
            third = len(html) // 3
            spans = runner.html_as_spans(html) + [
                {"kind": "media", "text": "",
                 "media_ref": f"media://img/{r['doc_id']}", "offset": third + 1}
            ]
            sample.append((spans, w))
        return sample

    def noop_stage(self, spark) -> None:
        def identity(batches):
            yield from batches

        d = salting.ensure_min_parallelism(
            spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        )
        df = d.select("doc_id", flagship.docs_to_interleaved_spans(d))
        df.mapInArrow(identity, df.schema).agg(F.count(F.lit(1))).collect()

    def trace_targets(self) -> list:
        return [
            (salting, "ensure_min_parallelism", "salting.ensure_min_parallelism"),
            (kernel, "extract_spans_arrow", "kernel.extract_spans_arrow"),
        ]


WORKLOADS = {w.name: w for w in (CorpusJob, WhaleTail, OpsSf)}


def select(name: str) -> list[type]:
    """The workload named exactly or by a unique prefix, or every
    workload for ``all``.  An unknown or ambiguous name raises
    ValueError, so a selection never silently runs nothing."""
    if name == "all":
        return list(WORKLOADS.values())
    hits = [name] if name in WORKLOADS else [w for w in WORKLOADS if w.startswith(name)]
    if len(hits) != 1:
        raise ValueError(
            f"workload {name!r} matches {hits or 'nothing'}; "
            f"choose from {sorted(WORKLOADS)} or all"
        )
    return [WORKLOADS[hits[0]]]
