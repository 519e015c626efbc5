"""Serial, traced run of ``operators.score.process_batch``.

``replay_batch`` calls the real ``process_batch`` on one Arrow-sized
batch with timing wrappers patched around each layer call it makes
(``textops.signals_frame``, ``zh.lm.ppl_batch``, ``zh.detect``,
``zh.correct``, ``en.correct``, ``config.keep_decision``,
``textops.scrub_series``) for the duration of the call. Each layer gets
one span per batch, a child of the batch span, whose busy time is the sum
of its calls; the batch span's self time is the glue. A layer call made
from inside another layer call (``zh.correct`` reranks candidates with
``lm.ppl_batch``) belongs to the outer span only, so the layer spans never
overlap and layers plus glue add up to the batch span.

Spans stay in memory (``Tracer.spans``) and are written out with the run
record when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import time

from pycorrector_spark import textops
from pycorrector_spark.operators import score as score_mod

# layer spans and the counters each one records
LAYERS = {
    "textops.signals_frame": (),
    "lm.model.ppl_batch": ("texts", "chars"),
    "refimpl.core.Corrector.detect": ("calls", "suspects"),
    "refimpl.core.Corrector.correct": ("calls", "corrections"),
    "refimpl.core.EnSpellCorrector.correct": ("calls", "corrections"),
    "config.keep_decision": ("calls",),
    "textops.scrub_series": ("rows_changed",),
}
BATCH_SPAN = "operators.score.process_batch"


class Span:
    """A named interval with a parent, busy time and counters."""

    __slots__ = ("id", "name", "parent", "trace", "start_ns", "end_ns", "busy_ns", "counts")

    def __init__(self, sid, name, parent, trace, counters=()):
        self.id, self.name, self.parent, self.trace = sid, name, parent, trace
        self.start_ns = self.end_ns = None
        self.busy_ns = 0
        self.counts = dict.fromkeys(counters, 0)

    def add(self, t0: int, t1: int) -> None:
        """Account one call that ran from t0 to t1 (perf_counter_ns)."""
        if self.start_ns is None:
            self.start_ns = t0
        self.end_ns = t1
        self.busy_ns += t1 - t0

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent, "trace": self.trace,
                "start_ns": self.start_ns, "end_ns": self.end_ns,
                "busy_ms": self.busy_ns / 1e6, "counts": self.counts}


class Tracer:
    def __init__(self):
        self.spans = []
        self.in_layer = False  # a wrapped layer call is running

    def open(self, name, parent, trace, counters=()) -> Span:
        span = Span(len(self.spans), name, parent, trace, counters)
        self.spans.append(span)
        return span

    def totals(self) -> dict:
        """{span name: (busy ms, {counter: total})} over all traces."""
        out = {}
        for s in self.spans:
            ms, counts = out.get(s.name, (0.0, {}))
            for k, v in s.counts.items():
                counts[k] = counts.get(k, 0) + v
            out[s.name] = (ms + s.busy_ns / 1e6, counts)
        return out


def _count_calls(c, args, out):
    c["calls"] += 1


def _count_ppl(c, args, out):
    c["texts"] += len(args[0])
    c["chars"] += sum(map(len, args[0]))


def _count_detect(c, args, out):
    c["calls"] += 1
    c["suspects"] += len(out)


def _count_correct(c, args, out):
    c["calls"] += 1
    c["corrections"] += len(out["errors"])


def _count_scrub(c, args, out):
    c["rows_changed"] += int((out.astype(object) != args[0]).sum())


def _layer_calls(zh, en):
    """(owner, attribute, layer span, counter update) of every call
    ``process_batch`` makes into a layer."""
    return [
        (textops, "signals_frame", "textops.signals_frame", None),
        (zh.lm, "ppl_batch", "lm.model.ppl_batch", _count_ppl),
        (zh, "detect", "refimpl.core.Corrector.detect", _count_detect),
        (zh, "correct", "refimpl.core.Corrector.correct", _count_correct),
        (en, "correct", "refimpl.core.EnSpellCorrector.correct", _count_correct),
        (score_mod, "keep_decision", "config.keep_decision", _count_calls),
        (score_mod, "scrub_series", "textops.scrub_series", _count_scrub),
    ]


def _timed(fn, span: Span, count, tracer: Tracer):
    clock = time.perf_counter_ns

    def wrapper(*args, **kwargs):
        if tracer.in_layer:  # called from another layer: its time is the caller's
            return fn(*args, **kwargs)
        tracer.in_layer = True
        t0 = clock()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = clock()
            tracer.in_layer = False
        span.add(t0, t1)
        if count is not None:
            count(span.counts, args, out)
        return out

    return wrapper


@contextlib.contextmanager
def traced_layers(zh, en, tracer: Tracer, root: Span):
    """Patch timing wrappers around the layer calls, one child span of
    ``root`` per layer; everything is restored on exit."""
    patched = []
    try:
        for owner, attr, name, count in _layer_calls(zh, en):
            span = tracer.open(name, root.id, root.trace, LAYERS[name])
            own = vars(owner)
            patched.append((owner, attr, attr in own, own.get(attr)))
            setattr(owner, attr, _timed(getattr(owner, attr), span, count, tracer))
        yield
    finally:
        for owner, attr, had, old in reversed(patched):
            if had:
                setattr(owner, attr, old)
            else:  # an instance attribute shadowing the class's method
                delattr(owner, attr)


def replay_batch(pdf, zh, en, cfg, tracer: Tracer, trace: int):
    """``process_batch(pdf, zh, en, cfg)`` under a batch span, its layer
    calls traced."""
    root = tracer.open(BATCH_SPAN, None, trace)
    with traced_layers(zh, en, tracer, root):
        t0 = time.perf_counter_ns()
        out = score_mod.process_batch(pdf, zh, en, cfg)
        root.add(t0, time.perf_counter_ns())
    return out
