"""Spans around the program's public entry points, and the event-log fold.

Spans are recorded from outside: ``Tracer.install`` replaces each
target module attribute with a wrapper that records the call's span
(name, layer, start, end, parent) and sets the Spark job description to
``bench:<layer>#<span id>`` for the duration of the call, so every job
the call launches can be attributed to it in Spark's event log.  The
originals are restored by ``uninstall``.

A span around a lazy call (``tag_flat``, ``extract_pages``) times only
planning; that work runs later inside some eager call's jobs.  The fold
finds it through the Python plan node it runs (the tag kernel's
``MapInPandas``, the extractor's ``ArrowEvalPython``): every stage whose
tasks updated that node's metrics becomes a child span of the layer
that owns the node, nested under the span whose job ran the stage.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import time
from collections import defaultdict

from pyspark import SparkContext

#: (module[:class], attribute, layer).  A function is wrapped in every
#: module that calls it through its own global, because ``from x import
#: f`` binds a second reference.
TARGETS = [
    ("gaia_spark.operators.mentions", "tag_flat", "mentions"),
    ("gaia_spark.plans.pipeline", "tag_flat", "mentions"),
    ("gaia_spark.plans.pipeline", "extract_pages", "extract"),
    ("gaia_spark.checkpoint", "big_local_checkpoint", "checkpoint"),
    ("gaia_spark.operators.canonicalize", "big_local_checkpoint",
     "checkpoint"),
    ("gaia_spark.operators.linking", "link_mentions", "linking"),
    ("gaia_spark.plans.pipeline", "link_mentions", "linking"),
    ("gaia_spark.operators.linking", "nil_clusters", "linking"),
    ("gaia_spark.plans.pipeline", "nil_clusters", "linking"),
    ("gaia_spark.operators.linking", "connected_components", "graph"),
    ("gaia_spark.operators.event_coref", "connected_components", "graph"),
    ("gaia_spark.plans.pipeline", "merged_events", "event_coref"),
    ("gaia_spark.plans.pipeline", "canonical_triples", "canonicalize"),
    ("gaia_spark.plans.pipeline", "clean_kb", "cleankb"),
    ("gaia_spark.operators.cleankb", "valid_triples", "cleankb"),
    ("gaia_spark.catalog:Catalog", "write", "catalog"),
    ("gaia_spark.catalog:Catalog", "has", "catalog"),
]
#: Engine calls that are a layer only when the plan itself makes them,
#: outside every program span: build_triples_df's own localCheckpoints
#: are its in-session materialization policy, as Catalog.write is
#: run_pipeline's; inside nil_clusters or connected_components the same
#: call is that layer's work.
TOP_LEVEL_TARGETS = [
    ("pyspark.sql.classic.dataframe:DataFrame", "localCheckpoint",
     "checkpoint"),
]

DESC_KEY = "spark.job.description"


def _resolve(path: str):
    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


def _storage_bytes(sc: SparkContext) -> dict[int, int]:
    return {i.id(): i.memSize() + i.diskSize()
            for i in sc._jsc.sc().getRDDStorageInfo()}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []

    @property
    def _sc(self) -> SparkContext:
        return SparkContext._active_spark_context

    def open(self, name: str, layer: str) -> dict:
        sc = self._sc
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "prev_desc": sc.getLocalProperty(DESC_KEY),
                "start": time.time(), "end": None}
        self.spans.append(span)
        self._stack.append(span)
        sc.setJobDescription(f"bench:{layer}#{span['id']}")
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        self._sc.setLocalProperty(DESC_KEY, span.pop("prev_desc"))

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span)

    def _wrap(self, fn, layer: str, top_level: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if top_level and len(tracer._stack) != 1:
                # inside a span: no span of its own, but the result is
                # kept on the caller's span (nil_clusters' blocks table)
                out = fn(*args, **kwargs)
                if tracer._stack:
                    tracer._stack[-1].setdefault("inner", []).append(out)
                return out
            before = (_storage_bytes(tracer._sc)
                      if layer == "checkpoint" else None)
            span = tracer.open(fn.__name__, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            span.update(fn=fn, args=args, kwargs=kwargs, out=out)
            if before is not None:
                span["block_bytes"] = sum(
                    b for i, b in _storage_bytes(tracer._sc).items()
                    if i not in before)
            return out

        return wrapper

    def install(self) -> None:
        targets = ([t + (False,) for t in TARGETS]
                   + [t + (True,) for t in TOP_LEVEL_TARGETS])
        for path, attr, layer, top_level in targets:
            owner = _resolve(path)
            fn = owner.__dict__.get(attr)
            if fn is None:
                continue
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, layer, top_level))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def calls(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# -- event log ---------------------------------------------------------------

#: Python plan nodes → owning layer, matched on the node's plan string.
PY_NODES = [
    ("extract_text_udf", "extract"),
    ("_blocking_batches", "linking"),
    ("kind#", "mentions"),          # tag_flat's MapInPandas output schema
]
PY_TIME = "time to run Python workers"
#: SQL metric update → base unit (seconds for timings)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _py_layer(simple: str) -> str:
    for needle, layer in PY_NODES:
        if needle in simple:
            return layer
    return "python"


def _plan_nodes(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _plan_nodes(child)


def _union_len(ivs: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(ivs):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_eventlog(path: str, spans: list[dict]) -> dict:
    """Per-layer engine metrics plus virtual spans for lazily run UDFs.

    Only jobs whose description is ``bench:<layer>#<span>`` with a span
    in ``spans`` count, i.e. the traced job's.
    """
    events = [json.loads(line) for line in open(path)]
    by_id = {s["id"]: s for s in spans}
    py_acc: dict[int, tuple[str, str, float]] = {}
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for n in _plan_nodes(ev["sparkPlanInfo"]):
                names = {m["name"] for m in n["metrics"]}
                if PY_TIME in names:
                    layer = _py_layer(n["simpleString"])
                    for m in n["metrics"]:
                        py_acc[m["accumulatorId"]] = (
                            layer, m["name"],
                            _SCALE.get(m["metricType"], 1.0))
        elif kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(DESC_KEY) or ""
            span = (int(desc.rsplit("#", 1)[1])
                    if desc.startswith("bench:") and "#" in desc else None)
            if span in by_id:
                job_span[ev["Job ID"]] = span
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])

    tasks: dict[int, list[dict]] = defaultdict(list)
    stage_py: dict[int, dict[str, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: defaultdict(float)))
    stage_time: dict[int, tuple[float, float]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            sid = ev["Stage ID"]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks[sid].append({"launch": info["Launch Time"],
                               "finish": info["Finish Time"], "m": tm})
            for acc in info.get("Accumulables", []):
                hit = py_acc.get(acc["ID"])
                if hit:
                    # SQL metric updates are logged as strings
                    stage_py[sid][hit[0]][hit[1]] += (
                        float(acc["Update"]) * hit[2])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si["Stage ID"] in stage_job and "Submission Time" in si:
                stage_time[si["Stage ID"]] = (si["Submission Time"] / 1e3,
                                              si["Completion Time"] / 1e3)

    layers: dict[str, dict] = defaultdict(lambda: {
        "jobs": set(), "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "stage_tasks": []})
    py: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    virtual: list[dict] = []
    for sid, ts in tasks.items():
        job = stage_job[sid]
        owner = by_id[job_span[job]]
        layer = next(iter(stage_py[sid]), owner["layer"])
        for lay, vals in stage_py[sid].items():
            for k, v in vals.items():
                py[lay][k] += v
        if layer != owner["layer"] and sid in stage_time:
            a, b = stage_time[sid]
            virtual.append({"id": f"s{sid}", "name": f"stage{sid}",
                            "layer": layer, "parent": owner["id"],
                            "start": a, "end": b})
        rec = layers[layer]
        rec["jobs"].add(job)
        rec["tasks"] += len(ts)
        rec["stage_tasks"].append([t["finish"] - t["launch"] for t in ts])
        for t in ts:
            m = t["m"]
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rec["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0))
            rec["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
    engine = {}
    for layer, rec in layers.items():
        # skew of the layer's heaviest stage: max ÷ median task time
        heavy = max(rec.pop("stage_tasks"), key=sum)
        rec["task_skew"] = max(heavy) / max(1, statistics.median(heavy))
        rec["jobs"] = len(rec["jobs"])
        engine[layer] = rec
    return {"engine": engine, "python": py, "virtual_spans": virtual}


def self_times(spans: list[dict]) -> dict:
    """span id → duration minus the part its children's intervals cover."""
    kids: dict = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
               for c in kids[s["id"]]]
        out[s["id"]] = (s["end"] - s["start"]) - _union_len(
            [iv for iv in ivs if iv[1] > iv[0]])
    return out
