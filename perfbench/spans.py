"""In-memory span recorder and the layer wrappers of the traced run.

Spans are recorded only from the benchmark's side of each layer boundary:
the program itself is not instrumented. `kernel_layers` swaps the names
`kernels.analyze` calls (normalize_batch, detect_batch, crosscheck_batch)
and the model's probe methods for timed, counting wrappers, and restores
them on exit; `analyze_batch` itself runs unchanged.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans (name, start, end, parent, job) plus named counters, kept in
    memory until `write`."""

    def __init__(self, job_id: str):
        self.job_id = job_id
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "job": self.job_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: int) -> None:
        self.counts[name] += int(n)

    def totals(self) -> dict[str, float]:
        """Inclusive seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by its child spans (spans
        nest strictly: one thread, one stack)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: Path, extra: dict | None = None) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                 for s in self.spans]
        doc = {"job": self.job_id, "spans": spans, "counts": dict(self.counts),
               "totals_s": self.totals(), "self_s": self.self_times()}
        doc.update(extra or {})
        path.write_text(json.dumps(doc, indent=1, default=str))


def _timed(tracer: Tracer, name: str, fn):
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return call


def _timed_probe(tracer: Tracer, name: str, fn):
    def probe(*args, **kwargs):
        with tracer.span(f"kernels.model.{name}"):
            found, langs, qprobs = fn(*args, **kwargs)
        tracer.count(f"kernels.model.{name}_keys", len(found))
        tracer.count(f"kernels.model.{name}_hits", int(found.sum()))
        return found, langs, qprobs
    return probe


class _TextProxy:
    """Stands in for the `kernels.text` module inside `kernels.analyze`,
    timing normalize_batch and forwarding every other name."""

    def __init__(self, module, tracer: Tracer):
        self._module = module
        self._tracer = tracer

    def normalize_batch(self, texts):
        with self._tracer.span("kernels.text.normalize"):
            return self._module.normalize_batch(texts)

    def __getattr__(self, name):
        return getattr(self._module, name)


@contextmanager
def kernel_layers(tracer: Tracer, model):
    """Wrap the kernel layer boundaries `analyze_batch` crosses. Quad
    probes are the per-script main quadgram tables; octa probes are the
    reference word tables (delta + distinct)."""
    import cld2_spark.kernels.analyze as A

    orig_detect, orig_cc, orig_text = A.detect_batch, A.crosscheck_batch, A.T

    def detect_batch(*args, **kwargs):
        rescue = bool(kwargs.get("best_effort"))
        with tracer.span("kernels.detect.rescue" if rescue
                         else "kernels.detect.pass1"):
            out = orig_detect(*args, **kwargs)
        if rescue:
            ok = (out["summary_lang"] != "un") & out["is_reliable"]
            tracer.count("kernels.detect.rescue_rows", len(ok))
            tracer.count("kernels.detect.rescue_ok_rows", int(ok.sum()))
        return out

    wrapped = []
    for tbl in {id(t): t for t in model.group_tables.values()}.values():
        tbl.probe = _timed_probe(tracer, "quad_probe", tbl.probe)
        wrapped.append((tbl, "probe"))
    for rt in (model.ref_word_delta, model.ref_word_distinct):
        if rt is not None and not any(rt is w for w, _ in wrapped):
            rt.probe_octa = _timed_probe(tracer, "octa_probe", rt.probe_octa)
            wrapped.append((rt, "probe_octa"))
    A.detect_batch = detect_batch
    A.crosscheck_batch = _timed(tracer, "kernels.crosscheck", orig_cc)
    A.T = _TextProxy(orig_text, tracer)
    try:
        yield
    finally:
        A.detect_batch, A.crosscheck_batch, A.T = orig_detect, orig_cc, orig_text
        for obj, attr in wrapped:
            delattr(obj, attr)  # drop the instance attribute: the class method shows again


@contextmanager
def pipeline_layers(tracer: Tracer):
    """Time the sink, manifest and lineage calls `run_resumable` makes."""
    import cld2_spark.pipeline.run as R
    import cld2_spark.pipeline.sink as S

    orig = (S.write_bucketed, R.save_manifest, R.load_manifest,
            R.write_metrics_sidecar)
    S.write_bucketed = _timed(tracer, "pipeline.sink.write", orig[0])
    R.save_manifest = _timed(tracer, "pipeline.run.manifest", orig[1])
    R.load_manifest = _timed(tracer, "pipeline.run.manifest", orig[2])
    R.write_metrics_sidecar = _timed(tracer, "pipeline.lineage.sidecar", orig[3])
    try:
        yield
    finally:
        (S.write_bucketed, R.save_manifest, R.load_manifest,
         R.write_metrics_sidecar) = orig
