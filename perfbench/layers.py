"""Per-layer metrics of a traced run.

Stage and task numbers come from Spark's event log, folded onto the
spans that issued them (``tracing.fold``). Each is taken per rep and the
median over reps is reported, so the number of reps a run fits does not
move them. Kernel phase costs come from calling the ``kernel`` public
functions in this process on a seeded sample of the workload's texts.
"""

from __future__ import annotations

import os
import random
import statistics
import time

# Printed by every traced run, with units: each is measured on every
# workload.
PRINTED = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "scan.tasks": "count",
    "scan.empty_tasks": "count",
    "scan.bytes": "B",
    "scan.task_max_over_p50": "ratio",
    "pyboundary.bytes_to_worker": "B",
    "pyboundary.bytes_from_worker": "B",
    "pyboundary.worker_start_ms": "ms",
    "pyboundary.worker_init_ms": "ms",
    "pyboundary.worker_run_ms": "ms",
    "pyboundary.task_max_over_p50": "ratio",
    "kernel.sniff_us": "us",
    "kernel.html_us": "us",
    "kernel.layout_us": "us",
    "kernel.plain_us": "us",
    "kernel.classify_us": "us",
    "kernel.confidence_us": "us",
    "kernel.turns_html": "count",
    "kernel.turns_layout": "count",
    "kernel.turns_plain": "count",
    "kernel.sighash_us_per_doc": "us",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.spill_bytes": "B",
    "shuffle.records": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.jobs": "count",
    "trace.wall_s": "s",
}

SAMPLE = 2000
PY_NAMES = ("bytes_to_worker", "bytes_from_worker", "worker_start_ms",
            "worker_init_ms", "worker_run_ms")


def _skew(stages) -> float:
    """Task-weighted mean over stages of max/median task run time."""
    num = den = 0
    for st in stages:
        runs = [t["run_ms"] for t in st["tasks"]]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            num += len(runs) * max(runs) / statistics.median(runs)
            den += len(runs)
    return num / den if den else 0.0


class _Trace:
    def __init__(self, spans: list[dict], folded: dict):
        self.spans = spans
        self.folded = folded
        self.children: dict = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def subtree(self, span) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs(self, span) -> int:
        return sum(self.folded.get(s["id"], {}).get("jobs", 0) for s in self.subtree(span))

    def stages(self, span) -> list[dict]:
        return [st for s in self.subtree(span) for st in self.folded.get(s["id"], {}).get("stages", [])]

    def tasks(self, span) -> list[dict]:
        return [t for st in self.stages(span) for t in st["tasks"]]


def _dur(span) -> float:
    return span["end"] - span["start"]


def _rep_layers(tr: _Trace, rep_span: dict, out: str) -> dict:
    stages = tr.stages(rep_span)
    tasks = [t for st in stages for t in st["tasks"]]
    scan = [st for st in stages if st["scan"]]
    scan_tasks = [t for st in scan for t in st["tasks"]]
    py = [st for st in stages if st["python"]]
    builds = [s for s in tr.subtree(rep_span) if s["name"].startswith("build:")]
    m = {
        "scan.tasks": len(scan_tasks),
        "scan.empty_tasks": sum(t["input_records"] == 0 for t in scan_tasks),
        "scan.bytes": sum(
            tr.folded.get(s["id"], {}).get("scan_file_bytes", 0) for s in tr.subtree(rep_span)
        ),
        "scan.task_max_over_p50": _skew(scan),
        "pyboundary.task_max_over_p50": _skew(py),
        "shuffle.write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "shuffle.read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "shuffle.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "shuffle.records": sum(t["shuffle_records"] for t in tasks),
        "plans.build_s": sum(_dur(s) for s in builds),
        "plans.build_jobs": sum(tr.jobs(s) for s in builds),
        "plans.jobs": tr.jobs(rep_span),
    }
    for name in PY_NAMES:
        m[f"pyboundary.{name}"] = sum(st["python"].get(name, 0.0) for st in py)

    # Workload-specific numbers, for the trace artifact only: the calls a
    # rep makes into one layer (checkpoint, segmentation, dedup).
    for s in tr.children.get(rep_span["id"], []):
        name = s["name"]
        m["sections.s" if name == "sections" else f"{name}_s"] = _dur(s)
        if name == "sections":
            m["sections.shuffle_bytes"] = sum(t["shuffle_write_bytes"] for t in tr.tasks(s))
        elif name == "checkpoint.run":
            m["checkpoint.bytes_written"] = sum(t["output_bytes"] for t in tr.tasks(s))
            m["checkpoint.files_written"] = sum(
                f.endswith(".parquet")
                for sub in ("extracted", "lineage")
                for _, _, files in os.walk(os.path.join(out, sub))
                for f in files
            )
        elif name.startswith("chain."):
            m["chain.jobs"] = m.get("chain.jobs", 0) + tr.jobs(s)
            if name == "chain.lsh_pairs":
                m["chain.pairs"] = sum(t["output_records"] for t in tr.tasks(s))
    return m


def _per_item(fn, items) -> tuple[float, list]:
    if not items:
        return 0.0, []
    t = time.perf_counter()
    out = [fn(x) for x in items]
    return (time.perf_counter() - t) * 1e6 / len(items), out


def kernel_phases(turns: list[tuple], seed: int) -> dict:
    """Microseconds per turn of each extraction phase and of the signature
    kernel per document, on a seeded sample of ``(text, role, tool)``
    turns; payload-kind counts over all of them."""
    import pyarrow as pa

    from accelerated_intelligent_document_processing_on_aws_spark.kernel import sighash
    from accelerated_intelligent_document_processing_on_aws_spark.kernel.classify import (
        classify_turn,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.kernel.confidence import (
        score_confidence,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.kernel.html_extract import (
        strip_boilerplate,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.kernel.layout import (
        extract_spans,
        plain_spans,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.kernel.oracle import (
        KIND_HTML,
        KIND_LAYOUT,
        KIND_PLAIN,
        sniff_payload_kind,
    )

    kinds = [sniff_payload_kind(t[0] or "") for t in turns]
    sample = [turns[i] for i in random.Random(seed).sample(range(len(turns)), min(SAMPLE, len(turns)))]
    texts = [t[0] or "" for t in sample]
    m = {}
    m["kernel.sniff_us"], sample_kinds = _per_item(sniff_payload_kind, texts)
    phases = []  # (extracted, spans, role, tool)
    for kind, fn in ((KIND_HTML, strip_boilerplate), (KIND_LAYOUT, extract_spans),
                     (KIND_PLAIN, plain_spans)):
        mine = [t for t, k in zip(sample, sample_kinds) if k == kind]
        m[f"kernel.{kind}_us"], res = _per_item(fn, [t[0] or "" for t in mine])
        phases.extend((e, s, t[1], t[2]) for (e, s), t in zip(res, mine))
        m[f"kernel.turns_{kind}"] = kinds.count(kind)
    m["kernel.classify_us"], _ = _per_item(lambda p: classify_turn(p[0], p[2], p[3]), phases)
    m["kernel.confidence_us"], _ = _per_item(lambda p: score_confidence(p[0], p[1]), phases)
    a, b = sighash.remix_params(32, 1)
    arr = pa.array(texts, pa.string())
    t = time.perf_counter()
    sighash.minhash_bands_batch(arr, 3, a, b, 8, want_shingles=True)
    m["kernel.sighash_us_per_doc"] = (time.perf_counter() - t) * 1e6 / len(texts)
    return m


def workload_turns(spec: dict) -> list[tuple]:
    """``(text, role, tool)`` of every record the workload feeds the program;
    documents without a role are user turns."""
    import pyarrow.parquet as pq

    t = pq.read_table(spec["input"])
    if "role" in t.column_names:
        return list(zip(*(t[c].to_pylist() for c in ("text", "role", "tool"))))
    return [(x, "user", None) for x in t["text"].to_pylist()]


def per_layer(result: dict, folded: dict, kernel: dict) -> dict:
    """Every per-layer metric of a traced run, ``PRINTED`` ones included."""
    tr = _Trace(result["spans"], folded)
    by_name = {s["name"]: s for s in result["spans"]}
    rep_spans = [s for s in result["spans"] if s["parent"] is None and s["name"].startswith("rep")]
    per_rep = [_rep_layers(tr, s, r["out"]) for s, r in zip(rep_spans, result["reps"])]
    m = {
        k: statistics.median(r.get(k, 0) for r in per_rep)
        for k in sorted({k for r in per_rep for k in r})
    }
    m["session.start_s"] = _dur(by_name["session.start"])
    warm = by_name["session.worker_warm"]
    m["session.worker_warm_s"] = _dur(warm)
    # workers start during set-up and are reused by the reps
    m["pyboundary.worker_start_ms"] += sum(
        st["python"].get("worker_start_ms", 0.0) for st in tr.stages(warm)
    )
    m["trace.wall_s"] = statistics.median(r["wall_s"] for r in result["reps"])
    m.update(kernel)
    return m
