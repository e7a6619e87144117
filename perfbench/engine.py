"""In-process runs of the engine: the reference the Spark output is
checked against, and a single-core pass over the engine layers.

``engine_pass`` calls each engine layer's public function directly on
one core, per document, inside a span: ``core.runner.reassemble``,
``core.tokenizer.tokenize`` (standalone and consumed, since it is a lazy
generator), ``core.treebuilder.parse_document``,
``core.extract.apply_struct`` and ``core.flatten.flatten_document``.
``parse_document`` tokenizes internally, so ``tokenize_s`` is a part of
``parse_s``, not an addition to it.

The sample is fixed per workload.  Each sampled document carries a
weight (documents of its class in one pass / sampled documents of that
class), so the reported seconds estimate one pass's documents on one
core and line up with the kernel stage of one pass.
"""

from __future__ import annotations

import gc
import time

from h2spark.core import runner
from h2spark.core.dom import Document, Element
from h2spark.core.extract import CompiledStruct, apply_struct, compile_spec
from h2spark.core.flatten import flatten_document
from h2spark.core.runner import reassemble
from h2spark.core.tokenizer import tokenize
from h2spark.core.treebuilder import parse_document

from perfbench.tracing import Tracer


def reference(spec, spans: list, expected: list) -> tuple[list, list, int]:
    """``core.runner.run_flat_batch`` over ``spans``: (spans_out, errors,
    documents whose extracted value differs from ``expected``).  Runs in
    a worker process, so ``extract_one`` is wrapped there to keep each
    document's value."""
    cs = compile_spec(spec)
    values: list = []
    orig = runner.extract_one

    def keep_value(cs, spans):
        res = orig(cs, spans)
        values.append(res[0])
        return res

    runner.extract_one = keep_value
    try:
        spans_out, errors = runner.run_flat_batch(cs, spans, False)
    finally:
        runner.extract_one = orig
    return spans_out, errors, sum(v != e for v, e in zip(values, expected))


def _count_nodes(doc: Document) -> int:
    """DOM nodes below the document (template contents excluded)."""
    n = 0
    todo = list(doc.children)
    while todo:
        cur = todo.pop()
        n += 1
        if isinstance(cur, Element):
            todo.extend(cur.children)
    return n


def engine_pass(
    tracer: Tracer, cs: CompiledStruct, sample: list[tuple[list, float]]
) -> dict[str, float]:
    """Run the engine layers over ``sample`` = [(spans, weight)] and
    return the ``core.*`` metrics plus the 1-core docs/s base.

    Objects alive before the pass (the benchmark's inputs and reference)
    are frozen out of the garbage collector meanwhile, so collections
    cost what they cost in a Python worker, not more."""
    gc.collect()
    gc.freeze()
    try:
        return _engine_pass(tracer, cs, sample)
    finally:
        gc.unfreeze()


def _engine_pass(tracer, cs, sample) -> dict[str, float]:
    tot = {k: 0.0 for k in ("reassemble", "tokenize", "parse", "apply", "flatten")}
    kb = nodes = fields = spans_out = docs = 0.0
    parse_ms: list[float] = []
    pc = time.perf_counter
    for spans, w in sample:
        with tracer.span("engine.doc") as doc_span:
            parent = doc_span["id"]
            t0 = pc()
            html, media, first = reassemble(spans)
            t1 = pc()
            for _ in tokenize(html):
                pass
            t2 = pc()
            doc = parse_document(html)
            t3 = pc()
            value, raw = apply_struct(cs, doc.root_element())
            t4 = pc()
            out = flatten_document(cs, raw, media, first)
            t5 = pc()
        base = doc_span["start"] - t0
        for name, a, b in (
            ("core.runner.reassemble", t0, t1),
            ("core.tokenizer.tokenize", t1, t2),
            ("core.treebuilder.parse_document", t2, t3),
            ("core.extract.apply_struct", t3, t4),
            ("core.flatten.flatten_document", t4, t5),
        ):
            tracer.add(name, base + a, base + b, parent=parent)
        tot["reassemble"] += w * (t1 - t0)
        tot["tokenize"] += w * (t2 - t1)
        tot["parse"] += w * (t3 - t2)
        tot["apply"] += w * (t4 - t3)
        tot["flatten"] += w * (t5 - t4)
        parse_ms.append((t3 - t2) * 1e3)
        kb += w * len(html.encode()) / 1024
        nodes += w * _count_nodes(doc)
        n_out = len(out)
        n_media = len(media)
        fields += w * (n_out - n_media)
        spans_out += w * n_out
        docs += w
    engine_s = tot["reassemble"] + tot["parse"] + tot["apply"] + tot["flatten"]
    parse_ms.sort()
    p99 = parse_ms[min(len(parse_ms) - 1, int(0.99 * len(parse_ms)))]
    return {
        "core.runner.reassemble_s": tot["reassemble"],
        "core.tokenizer.tokenize_s": tot["tokenize"],
        "core.treebuilder.parse_s": tot["parse"],
        "core.treebuilder.parse_us_per_kb": tot["parse"] * 1e6 / kb,
        "core.treebuilder.doc_ms_p99": p99,
        "core.treebuilder.doc_ms_max": parse_ms[-1],
        "core.treebuilder.nodes": nodes,
        "core.extract.apply_struct_s": tot["apply"],
        "core.extract.fields": fields,
        "core.flatten.flatten_s": tot["flatten"],
        "core.flatten.spans_out": spans_out,
        "kernel.parallel_eff_base_docs_per_s": docs / engine_s,
    }
