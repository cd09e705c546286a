"""Spans around calls into the program, and the fold of Spark's event
log into per-layer numbers.

A span records (name, parent, start, end) and labels every Spark job
submitted inside it with ``setJobDescription(label)``; the label's
first dotted part names the layer (``load.load_run`` -> ``load``).
``fold`` reads the uncompressed JSON-lines event log and sums, per
layer, executor time, shuffle and spill bytes and the bytes sent to
and returned from Python workers, and derives driver time as the
layer's span self-time not covered by any of its jobs.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

LAYERS = ("vcv_xml", "load", "annotate", "vcf", "queries")
_LAYER_OF_PREFIX = {"query": "queries"}
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        label = label or name
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "label": label, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobDescription(label)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                up = self.spans[self._stack[-1]]["label"] if self._stack else None
                self.sc.setJobDescription(up)

    def current(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def wrap(self, module, attr: str, name, label=None) -> None:
        """Replace ``module.attr`` by a wrapper that runs the original
        inside a span. ``name`` may be a callable of the enclosing
        span's name (None: run untraced)."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            n = name(self.current()) if callable(name) else name
            if n is None:
                return orig(*a, **kw)
            with self.span(n, label):
                return orig(*a, **kw)

        setattr(module, attr, wrapper)


def total(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def self_time(spans: list[dict], name: str) -> float:
    """Summed duration of the spans called ``name`` minus their children."""
    out = 0.0
    for i, s in enumerate(spans):
        if s["name"] == name:
            kids = sum(k["end"] - k["start"] for k in spans if k["parent"] == i)
            out += s["end"] - s["start"] - kids
    return out


def layer_of(label: str | None) -> str | None:
    if not label:
        return None
    head = label.split(".", 1)[0]
    head = _LAYER_OF_PREFIX.get(head, head)
    return head if head in LAYERS else None


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _self_intervals(spans: list[dict]) -> dict[int, list[tuple[float, float]]]:
    """Per span: its interval minus its children's intervals."""
    kids = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for i, s in enumerate(spans):
        pieces, cur = [], s["start"]
        for ks, ke in sorted(kids[i]):
            if ks > cur:
                pieces.append((cur, ks))
            cur = max(cur, ke)
        if s["end"] > cur:
            pieces.append((cur, s["end"]))
        out[i] = pieces
    return out


def read_events(path: str) -> dict:
    """Jobs and stages of one uncompressed event log, keyed by label."""
    jobs, stages = {}, {}
    stage_label = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {"label": props.get("spark.job.description"),
                                     "start": e["Submission Time"] / 1000.0, "end": None}
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_label[e["Stage Info"]["Stage ID"]] = props.get("spark.job.description")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc = defaultdict(float)
                for a in info.get("Accumulables") or []:
                    try:
                        acc[a.get("Name")] += float(a.get("Value") or 0)
                    except (TypeError, ValueError):
                        pass
                stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                    "label": stage_label.get(info["Stage ID"]), "acc": dict(acc)}
    return {"jobs": jobs, "stages": stages}


def fold(spans: list[dict], events: dict) -> dict:
    """Per-layer Spark metrics: ``<layer>.driver_s``, ``.executor_s``,
    ``.shuffle_mb``, ``.spill_mb``, ``.python_io_mb``."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS
           for m in ("driver_s", "executor_s", "shuffle_mb", "spill_mb", "python_io_mb")}
    for st in events["stages"].values():
        layer = layer_of(st["label"])
        if layer is None:
            continue
        a = st["acc"]
        out[f"{layer}.executor_s"] += a.get("internal.metrics.executorRunTime", 0) / 1000.0
        out[f"{layer}.shuffle_mb"] += a.get("internal.metrics.shuffle.write.bytesWritten", 0) / 1e6
        out[f"{layer}.spill_mb"] += (a.get("internal.metrics.memoryBytesSpilled", 0)
                                     + a.get("internal.metrics.diskBytesSpilled", 0)) / 1e6
        out[f"{layer}.python_io_mb"] += (a.get(_PY_SENT, 0) + a.get(_PY_RETURNED, 0)) / 1e6
    jobs_by_label = defaultdict(list)
    for j in events["jobs"].values():
        if j["end"] is not None:
            jobs_by_label[j["label"]].append((j["start"], j["end"]))
    selfs = _self_intervals(spans)
    for i, s in enumerate(spans):
        layer = layer_of(s["label"])
        if layer is None:
            continue
        for lo, hi in selfs[i]:
            busy = _union_length([(max(js, lo), min(je, hi))
                                  for js, je in jobs_by_label[s["label"]]
                                  if je > lo and js < hi])
            out[f"{layer}.driver_s"] += (hi - lo) - busy
    return out
