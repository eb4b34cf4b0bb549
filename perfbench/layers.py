"""The traced run and its per-layer metrics.

One extra job per ``--trace 1`` run, after the untraced ones: spans
around the program's entry points (tracing.TARGETS), a ``canonicalize``
span around the job's final action, then the layer counters, the
single-core tag-kernel rates, and — once the session has stopped and
its event log is complete — the event-log fold.  Counters are computed
after the clock stopped, by the benchmark's own queries over the
DataFrames the traced calls received, built and returned.
"""

from __future__ import annotations

import inspect
import os
import statistics
import time
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import tracing

CATALOG_TABLES = ["pages_text", "tagged", "linked", "nil_ids", "triples",
                  "event_clusters", "nodes", "edges"]
ENGINE = ["jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes", "task_skew"]
KERNEL_SAMPLE_DOCS = 200
RESUMES = 3
ENGINE_LAYERS = ["mentions", "extract", "checkpoint", "linking", "graph",
                 "event_coref", "canonicalize", "catalog"]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _bound(span: dict) -> dict:
    fn = span["fn"]
    b = inspect.signature(fn).bind(*span["args"], **span["kwargs"])
    b.apply_defaults()
    return b.arguments


def _outermost(tr: tracing.Tracer, name: str) -> list[dict]:
    by_id = {s["id"]: s for s in tr.spans}
    return [s for s in tr.calls(name)
            if s["parent"] is None
            or by_id[s["parent"]]["layer"] != s["layer"]]


def _linking_counters(tr: tracing.Tracer) -> dict:
    """Blocking counters from the program's own tables: the blocks table
    nil_clusters checkpointed (after its size cap), the pairs its
    self-join condition yields on it, and the verified edges it handed
    to connected_components."""
    from gaia_spark.operators import linking

    out = dict.fromkeys(["surfaces", "linked_ratio", "block_rows",
                         "capped_blocks", "candidate_pairs",
                         "verified_pairs", "verify_yield"], 0)
    calls = tr.calls("nil_clusters")
    if not calls:
        return out
    nil = calls[0]
    linked = nil["args"][0]
    block_cols = list(linking._BLOCK_SCHEMA.fieldNames())
    blocks = next((df for df in nil.get("inner", [])
                   if df.columns == block_cols), None)
    edges = next((s["args"][0] for s in tr.calls("connected_components")
                  if s["parent"] == nil["id"]), None)
    if blocks is None or edges is None:
        raise RuntimeError("nil_clusters no longer checkpoints a blocks "
                           "table or calls connected_components")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = a.join(b, [F.col("a.coarse") == F.col("b.coarse"),
                      F.col("a.block_key") == F.col("b.block_key"),
                      F.col("a.link_norm") < F.col("b.link_norm")]).count()
    verified = edges.count()
    surfaces = linked.select("coarse", "link_norm").distinct().count()
    unlinked = (linked.filter(F.col("entity_id").isNull())
                .select("coarse", "link_norm").distinct())
    # blocks above the cap are gone from the checkpointed table: re-run
    # the program's blocking kernel over the unlinked keys to count them
    capped = (unlinked.mapInPandas(linking._blocking_batches,
                                   schema=linking._BLOCK_SCHEMA)
              .groupBy("coarse", "block_key").count()
              .filter(F.col("count") > linking.MAX_BLOCK_SIZE).count())
    out.update(
        surfaces=surfaces,
        linked_ratio=1 - unlinked.count() / surfaces if surfaces else 0.0,
        block_rows=blocks.count(), capped_blocks=capped,
        candidate_pairs=cand, verified_pairs=verified,
        verify_yield=verified / cand if cand else 0.0)
    return out


def _cc_edges(span: dict) -> int:
    e = span["args"][0]
    return e.select(F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b")).distinct().count()


def _kernel_rates(bench, tr: tracing.Tracer) -> dict:
    """L0: the per-doc tag kernel in this process on one core, and L0
    plus the batch's row→pandas frame building, over the first
    KERNEL_SAMPLE_DOCS pages of the same corpus, with the row families
    the traced job asked tag_flat for."""
    from gaia_ref.extract import extract_text
    from gaia_spark.operators import mentions
    from gaia_spark.session import ARROW_BATCH_ROWS

    calls = tr.calls("tag_flat")
    if not calls:
        return {"kernel_docs_per_core_s": 0.0, "batch_docs_per_core_s": 0.0}
    a = _bound(calls[0])
    kinds, from_text = a["kinds"], a["from_text"]
    path = os.path.join(bench.inputs, "pages.parquet")
    pdf = pq.read_table(path, columns=["url", "html", "lang"]).slice(
        0, KERNEL_SAMPLE_DOCS).to_pandas()
    if from_text:
        pdf["text"] = [extract_text(h) for h in pdf["html"]]
        pdf = pdf.drop(columns=["html"])
    src = "text" if from_text else "html"

    def kernel():
        for u, doc in zip(pdf["url"], pdf[src]):
            mentions._flat_rows(u, doc if from_text else extract_text(doc),
                                kinds)

    def batch():
        run = mentions._tag_flat_batches(kinds, from_text, True)
        chunks = (pdf.iloc[i:i + ARROW_BATCH_ROWS]
                  for i in range(0, len(pdf), ARROW_BATCH_ROWS))
        for _ in run(chunks):
            pass

    def rate(fn):
        fn()  # warm the kernel's caches, as a long-lived worker has them
        times = []
        for _ in range(3):
            t0 = time.process_time()
            fn()
            times.append(time.process_time() - t0)
        return len(pdf) / statistics.median(times)

    return {"kernel_docs_per_core_s": rate(kernel),
            "batch_docs_per_core_s": rate(batch)}


def traced_run(bench):
    """The traced job, then (kg_catalog) RESUMES traced resumes over its
    catalog, and everything measured while the session lives."""
    tr = tracing.Tracer()
    untraced = statistics.median(
        [r["wall_s"] for r in bench.reps if r["ok"]] or [0.0])
    resumes: list[float] = []
    tr.install()
    try:
        rep = bench.job(around=lambda: tr.span("job", "bench"),
                        final=lambda: tr.span("final", "canonicalize"),
                        rss=True)
        for _ in range(RESUMES):
            with tr.span("resume", "bench"):
                dt = bench.wl.resume(bench.spark, bench.inputs, bench.work)
            if dt is None:
                break
            resumes.append(dt)
    finally:
        tr.uninstall()
    root = tr.calls("job")[0]
    setups = bench.setups
    m: dict = {}
    m["session.get_spark_s"] = statistics.median(
        s["get_spark_s"] for s in setups)
    m["session.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
    m["session.peak_rss_mb"] = rep.get("peak_rss_mb", 0.0)

    for k, v in _linking_counters(tr).items():
        m[f"linking.{k}"] = v
    cc = tr.calls("connected_components")
    by_id = {s["id"]: s for s in tr.spans}
    m["graph.cc_edges"] = sum(_cc_edges(s) for s in cc)
    ev_cc = [s for s in cc if s["parent"] is not None
             and by_id[s["parent"]]["layer"] == "event_coref"]
    m["event_coref.edges"] = sum(_cc_edges(s) for s in ev_cc)
    m["event_coref.clusters"] = sum(s["out"].count()
                                    for s in tr.calls("merged_events"))
    ct = tr.calls("canonical_triples")
    m["canonicalize.assertions_in"] = sum(s["args"][0].count() for s in ct)
    m["canonicalize.triples_out"] = sum(s["out"].count() for s in ct)
    m["cleankb.rows_dropped"] = sum(
        s["args"][0].count() - s["out"].count()
        for s in _outermost(tr, "clean_kb") + _outermost(tr, "valid_triples"))
    m["checkpoint.block_bytes"] = sum(
        s.get("block_bytes", 0) for s in tr.spans if s["layer"] == "checkpoint")

    # catalog: wall between consecutive stage writes vs the manifest timer
    writes = sorted(tr.calls("write"), key=lambda s: s["end"])
    prev = root["start"]
    stage_s, manifest_s = {}, {}
    for s in writes:
        name = _bound(s)["name"]
        stage_s[name] = s["end"] - prev
        manifest_s[name] = s["out"]["metrics"]["elapsed_sec"]
        prev = s["end"]
    for t in CATALOG_TABLES:
        m[f"catalog.stage_s.{t}"] = stage_s.get(t, 0.0)
        m[f"catalog.manifest_s.{t}"] = manifest_s.get(t, 0.0)
    m["catalog.manifest_gap_s"] = (sum(stage_s.values())
                                   - sum(manifest_s.values()))
    m["catalog.write_s"] = sum(s["end"] - s["start"] for s in writes)
    # Catalog.has runs only on resume: its time per resume
    has_per_resume = [sum(h["end"] - h["start"] for h in tr.calls("has")
                          if h["parent"] == r["id"])
                      for r in tr.calls("resume")[:len(resumes)]]
    m["catalog.has_s"] = _median(has_per_resume)
    m["catalog.resume_s"] = _median(resumes)
    cat = os.path.join(bench.work, "catalog")
    m["catalog.bytes_written"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(cat) for f in fs) if writes else 0

    for k, v in _kernel_rates(bench, tr).items():
        m[f"mentions.{k}"] = v

    m["trace.wall_s"] = rep.get("wall_s", 0.0)
    m["trace.overhead_s"] = m["trace.wall_s"] - untraced
    trace = {
        "app_id": bench.spark.sparkContext.applicationId,
        "root": root["id"],
        "spans": [{k: s[k] for k in ("id", "name", "layer", "parent",
                                     "start", "end")} for s in tr.spans],
        "summary": {"traced_wall_s": m["trace.wall_s"],
                    "untraced_median_wall_s": untraced,
                    "overhead_s": m["trace.overhead_s"],
                    "traced_digest_ok": rep["ok"],
                    "stage_s": stage_s, "manifest_elapsed_s": manifest_s},
    }
    return rep, m, trace


def fold(bench, m: dict, trace: dict) -> None:
    """Event-log metrics and self times; needs the stopped session's log."""
    path = os.path.join(bench.eventlog, trace["app_id"])
    # only the traced job's span tree counts (not the resumes after it)
    tree = {trace["root"]}
    for s in trace["spans"]:
        if s["parent"] in tree:
            tree.add(s["id"])
    spans = [s for s in trace["spans"] if s["id"] in tree]
    ev = tracing.fold_eventlog(path, spans)
    # self times, with the stages that ran a lazily built Python node as
    # child spans of that node's layer
    timed = spans + ev["virtual_spans"]
    self_s = tracing.self_times(timed)
    busy: dict = defaultdict(float)
    by_name: dict = defaultdict(float)
    for s in timed:
        busy[s["layer"]] += self_s[s["id"]]
        by_name[s["name"]] += self_s[s["id"]]
    for layer in ("mentions", "extract", "checkpoint", "event_coref",
                  "canonicalize"):
        m[f"{layer}.busy_s"] = busy.get(layer, 0.0)
    m["linking.link_busy_s"] = by_name.get("link_mentions", 0.0)
    m["linking.nil_busy_s"] = by_name.get("nil_clusters", 0.0)
    m["graph.cc_busy_s"] = busy.get("graph", 0.0)
    m["trace.unattributed_s"] = busy.get("bench", 0.0)

    py = ev["python"]
    tag, ext = py.get("mentions", {}), py.get("extract", {})
    m["mentions.py_worker_s"] = tag.get(tracing.PY_TIME, 0)
    m["mentions.bytes_to_py"] = tag.get("data sent to Python workers", 0)
    m["mentions.bytes_from_py"] = tag.get(
        "data returned from Python workers", 0)
    m["mentions.rows_out"] = tag.get("number of output rows", 0)
    m["extract.bytes_out"] = ext.get("data returned from Python workers", 0)
    for layer in ENGINE_LAYERS:
        rec = ev["engine"].get(layer, {})
        for k in ENGINE:
            m[f"{layer}.{k}"] = rec.get(k, 0)
    m["graph.cc_jobs"] = m["graph.jobs"]

    total = sum(busy.values())
    trace["summary"]["self_time_share"] = {
        k: round(v / total, 4) for k, v in sorted(busy.items())} if total else {}
