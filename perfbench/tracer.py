"""In-process layer tracer for the benchmark's traced run.

Wraps the layers' public functions (module attributes, restored on exit) so
that running ``pipeline.extract_row`` over a sample of pages records one span
per call: ``dom.parse_document``, each ``pipeline.DEFAULT_STAGES`` stage,
``pipeline.run_pipeline``, ``scoring.grab_article`` / ``top_candidate`` /
``score_candidates``, ``prep.prep_article``, ``dom.serialize`` and
``dom.Node.text``.  Spans stay in memory; a layer's self time is its span's
duration minus the time its child spans cover.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from readability_spark import dom, pipeline, prep, scoring

#: span name -> per-layer metric name (ms of self time per document)
LAYER_METRICS = {
    "dom.parse_document": "dom.parse_ms",
    "dom.Node.text": "dom.text_ms",
    "dom.serialize": "dom.serialize_ms",
    **{f"stages.{s.__name__}": f"stages.{s.__name__}_ms" for s in pipeline.DEFAULT_STAGES},
    "pipeline.run_pipeline": "pipeline.run_pipeline_ms",
    "scoring.grab_article": "scoring.grab_article_ms",
    "scoring.score_candidates": "scoring.score_candidates_ms",
    "scoring.top_candidate": "scoring.top_candidate_ms",
    "prep.prep_article": "prep.prep_article_ms",
}
ROOT = "pipeline.extract_row"


class LayerTracer:
    def __init__(self):
        # [span_id, parent_id, name, start, end, doc]
        self.spans = []
        self._stack = []
        self._doc = -1

    def wrap(self, name, fn):
        spans, stack = self.spans, self._stack
        clock = time.perf_counter

        def traced(*args, **kwargs):
            span = [len(spans), stack[-1][0] if stack else None, name, clock(), 0.0, self._doc]
            spans.append(span)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span[4] = clock()
                stack.pop()

        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    @contextmanager
    def installed(self):
        """Patch the layer functions for the duration of the block."""
        patches = [
            (dom, "parse_document"),
            (dom, "serialize"),
            (dom.Node, "text"),
            (pipeline, "run_pipeline"),
            (scoring, "grab_article"),
            (scoring, "top_candidate"),
            (scoring, "score_candidates"),
            (prep, "prep_article"),
        ]
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr in patches]
        saved.append((pipeline, "DEFAULT_STAGES", pipeline.DEFAULT_STAGES))
        try:
            for owner, attr in patches:
                prefix = "dom.Node" if owner is dom.Node else owner.__name__.rsplit(".", 1)[-1]
                setattr(owner, attr, self.wrap(f"{prefix}.{attr}", getattr(owner, attr)))
            pipeline.DEFAULT_STAGES = tuple(
                self.wrap(f"stages.{s.__name__}", s) for s in pipeline.DEFAULT_STAGES
            )
            yield self
        finally:
            for owner, attr, value in saved:
                setattr(owner, attr, value)

    def extract_row(self, doc_index, html, **kwargs):
        self._doc = doc_index
        return self.wrap(ROOT, pipeline.extract_row)(html, **kwargs)

    def self_times(self):
        """Span name -> total self time in seconds."""
        child_time = [0.0] * len(self.spans)
        for _, parent, _, start, end, _ in self.spans:
            if parent is not None:
                child_time[parent] += end - start
        out = {}
        for (sid, _, name, start, end, _), covered in zip(self.spans, child_time):
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out


def trace_sample(rows, extract_kwargs):
    """Run ``extract_row`` over ``rows`` (html values) untraced and then
    traced; return ``(metrics, spans)``.  ``trace.overhead_frac`` is the
    traced throughput's shortfall against the untraced one."""
    for html in rows[:100]:  # warm the interpreter's caches before timing
        pipeline.extract_row(html, **extract_kwargs)
    t0 = time.perf_counter()
    for html in rows:
        pipeline.extract_row(html, **extract_kwargs)
    untraced_s = time.perf_counter() - t0

    tracer = LayerTracer()
    with tracer.installed():
        t0 = time.perf_counter()
        for i, html in enumerate(rows):
            tracer.extract_row(i, html, **extract_kwargs)
        traced_s = time.perf_counter() - t0

    n = len(rows)
    self_s = tracer.self_times()
    metrics = {metric: self_s.get(span, 0.0) * 1000.0 / n for span, metric in LAYER_METRICS.items()}
    row_ms = [(end - start) * 1000.0 for _, _, name, start, end, _ in tracer.spans if name == ROOT]
    cuts = statistics.quantiles(row_ms, n=100, method="inclusive")
    metrics["pipeline.extract_row_ms.p50"] = statistics.median(row_ms)
    metrics["pipeline.extract_row_ms.p99"] = cuts[98]
    # node counts come from a separate untraced parse, outside every span
    nodes = [len(dom.parse_document(html).descendants()) for html in rows if _decodes(html)]
    metrics["dom.nodes"] = statistics.fmean(nodes) if nodes else 0.0
    metrics["trace.overhead_frac"] = 1.0 - untraced_s / traced_s
    return metrics, tracer.spans


def _decodes(html):
    try:
        return html is not None and bool(bytes(html).decode("utf-8").strip())
    except UnicodeDecodeError:
        return False
