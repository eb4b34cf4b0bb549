"""End-to-end KG-construction plan: T1→T13 over the checkpoint catalog.

The reference's orchestration is a shell script running Docker stages
with file handoff (`pipeline_sample_full.sh`,
/root/reference/README.md:53-55); here each stage is a pure
DataFrame→DataFrame operator, materialized to a catalog table with a
stage hash, so a killed run resumes after its last completed stage and
re-runs are idempotent replace-by-run_id writes (SURVEY.md §2.5/§3.1).

Stage boundaries (each = one checkpoint table; per-output-file lineage
read from the parquet footers, so materializing a stage costs one
Spark write):
  pages_text   T1   (partitioned by lang → language filters prune;
                     the byte-identical ltf-analog artifact)
  tagged       T2/T3/T5/T7 + per-doc T6/T8/T9 — the fused flat pass
               over the checkpointed text (kinds "msa": mentions for
               graph stats, surfaces for linking, assertions)
  linked       T4a over DISTINCT surfaces (broadcast alias dict)
  nil_ids      T4b (LSH + containment + connected components)
  triples      T11 + T13 (canonical, cleaned; partitioned by lang)
  nodes/edges  graph materialization (T11 dedup surface)

Within a stage Catalyst pipelines the narrow ops; across stages the
materialization is deliberate — resumability over pipelining
(SURVEY.md §4.1 "stage = full materialization" row).  The same fused
kernel backs build_triples_df (the single-job throughput path, no
checkpoints); the per-stage relational formulations of T5/T6/T8
(operators/coref.py, relations.py, events.py) remain the documented
decomposition and per-operator test surface.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gaia_spark.catalog import Catalog, input_fingerprint, stage_hash
from gaia_spark.operators.canonicalize import (
    canonical_map,
    canonical_triples,
    graph_edges,
    graph_nodes,
)
from gaia_spark.operators.cleankb import clean_kb
from gaia_spark.operators.event_coref import merged_events
from gaia_spark.operators.extract import extract_pages
from gaia_spark.operators.linking import (
    canonicalize_mentions,
    link_mentions,
    nil_clusters,
)
from gaia_spark.operators.mentions import (
    flat_assertions,
    flat_mentions,
    flat_surfaces,
    tag_flat,
)


def _balance_pages(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """The page-balancing rule both KG paths apply before extraction.

    The extractor/tagger wants ≥2 waves of tasks (page cost varies
    ~20×, so at 1 partition per core the slowest task gates the
    stage).  When the parquet scan already yields that many splits
    (files.maxPartitionBytes is sized for it in session.py) the scan
    splits feed the Arrow pass STRAIGHT — repartitioning first would
    exchange the whole corpus (html included) for nothing: scan
    splits are row-group-granular, so each page's rows stay
    partition-local either way, which is the only property the
    downstream dedup needs.  Unsplittable inputs (one small file, a
    handful of createDataFrame partitions) are repartitioned by url,
    which is unique per page, so no salt is needed to spread them.
    """
    nparts = 2 * spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < nparts:
        pages = pages.repartition(nparts, "url")
    return pages


def run_pipeline(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    run_id: str | None = None,
    resume: bool = True,
    suppress_validation: bool = False,
) -> dict:
    """Run (or resume) the full pipeline; returns {stage: manifest}."""
    run_id = run_id or uuid.uuid4().hex[:12]
    cat = Catalog(out_dir)
    results: dict[str, dict] = {}
    conf = f"suppress_validation={suppress_validation}"

    pages_path = os.path.join(corpus_dir, "pages.parquet")
    kb_e_path = os.path.join(corpus_dir, "kb_entities.parquet")
    kb_a_path = os.path.join(corpus_dir, "kb_aliases.parquet")
    corpus_fp = input_fingerprint(pages_path)
    kb_fp = input_fingerprint(kb_e_path) + input_fingerprint(kb_a_path)

    def step(name: str, shash: str, build, partition_by=None) -> str:
        if resume and cat.has(name, shash):
            results[name] = cat.current_manifest(name)
            results[name]["skipped"] = True
            return shash
        # the stage timer covers build(): some stages (nil_ids) do
        # their Spark work eagerly while building the DataFrame
        t0 = time.perf_counter()
        df: DataFrame = build()
        results[name] = cat.write(
            df, name, shash, run_id, partition_by=partition_by, started=t0)
        results[name]["skipped"] = False
        return shash

    # T1 — extract text; lang partitions for pruning
    h_text = stage_hash("pages_text", corpus_fp)
    step(
        "pages_text", h_text,
        lambda: extract_pages(
            _balance_pages(spark, spark.read.parquet(pages_path))),
        partition_by=["lang"],
    )

    # T2/T3/T5/T7 + per-doc T6/T8/T9 — the fused flat pass over the
    # checkpointed text ('m' rows for graph stats, 's' for linking,
    # 'a' assertions); one Python round-trip for the whole corpus
    h_tag = stage_hash("tagged", h_text)
    step("tagged", h_tag,
         lambda: tag_flat(cat.read(spark, "pages_text"), kinds="msa",
                          from_text=True))

    # T4a — broadcast alias link over DISTINCT surfaces (the linking
    # problem is over the surface vocabulary, not mention occurrences)
    h_link = stage_hash("linked", h_tag, kb_fp)
    step(
        "linked", h_link,
        lambda: link_mentions(
            flat_surfaces(cat.read(spark, "tagged")).distinct(),
            spark.read.parquet(kb_e_path),
            spark.read.parquet(kb_a_path)),
    )

    # T4b — NIL clustering over the unlinked surfaces
    h_nil = stage_hash("nil_ids", h_link)
    step("nil_ids", h_nil,
         lambda: nil_clusters(cat.read(spark, "linked")),
         )

    def _cmap():
        return canonical_map(canonicalize_mentions(
            cat.read(spark, "linked"), cat.read(spark, "nil_ids")))

    # T11 + T13 — canonical triples, cleaned; `lang` carried through
    # the tagged stage (TAG_FLAT_SCHEMA), so no re-attach join
    h_tri = stage_hash("triples", h_tag, h_nil, h_link, config=conf)
    def _triples():
        # stable_input: both sides read parquet checkpoints, so the
        # dedup split re-executes the scan instead of re-materializing
        triples = canonical_triples(
            flat_assertions(cat.read(spark, "tagged"), with_lang=True),
            _cmap(), stable_input=True)
        return clean_kb(
            triples, spark.read.parquet(pages_path),
            suppress_validation=suppress_validation)
    step("triples", h_tri, _triples, partition_by=["lang"])

    # T10 — graph-based event coreference over the canonical triples:
    # one cluster row per merged event (similarity edges on shared
    # canonical args + type → CC kernel)
    h_ecoref = stage_hash("event_clusters", h_tri)
    step("event_clusters", h_ecoref,
         lambda: merged_events(cat.read(spark, "triples")))

    # graph materialization — canonical node/edge tables (Multimedia-KB
    # cylinder analog, diagram): deduplicated graph surface.  Node
    # stats need per-mention rows ('m' slice) rewritten to canonical.
    h_nodes = stage_hash("nodes", h_tag, h_nil, h_link)
    def _nodes():
        m = flat_mentions(cat.read(spark, "tagged"))
        return graph_nodes(m.join(_cmap(), ["coarse", "link_norm"]))
    step("nodes", h_nodes, _nodes)
    h_edges = stage_hash("edges", h_tri)
    step("edges", h_edges,
         lambda: graph_edges(cat.read(spark, "triples"),
                             stable_input=True))

    return results


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return Catalog(out_dir).read(spark, "triples")


def build_triples_df(
    spark: SparkSession,
    pages: DataFrame,
    kb_entities: DataFrame,
    kb_aliases: DataFrame,
    suppress_validation: bool = False,
) -> DataFrame:
    """The T1→T13 chain as one DataFrame job (no checkpoint catalog).

    NOT fully lazy: NIL clustering runs eagerly at construction time
    (connected components needs actions), and three intermediates are
    localCheckpoint-ed (materialized, lineage truncated) and left
    cached for the caller; the checkpoint storage is released when the
    returned DataFrame is garbage-collected.

    Same operators as run_pipeline, minus the parquet materialization
    between stages.  Two scale guards:

    - the input goes through the same page-balancing rule as
      run_pipeline's T1 (``_balance_pages``: a single parquet file
      would otherwise pin T1/T2 to ONE task — files.maxPartitionBytes
      only splits big files, not small ones);
    - fan-in stages (tagged feeds T5/T6/T7; resolved feeds T4/T6/T8)
      are localCheckpoint-ed (materialize + TRUNCATE LINEAGE) so the
      expensive Python tagging runs once, not once per consumer — and,
      just as important, so the serialized physical plan every later
      stage broadcasts to executors stays flat.  With plain persist()
      the task binary still carries the FULL upstream plan (for a
      createDataFrame input that includes the input rows themselves);
      measured 8 MiB task binaries re-broadcast on each of ~25
      downstream stages, dominating wall time at small scale and
      taxing every stage at large scale.  run_pipeline gets the same
      truncation from its parquet stage materialization; here
      localCheckpoint is the in-session equivalent.
    """
    from gaia_spark.operators.mentions import (
        flat_assertions,
        flat_surfaces,
        tag_flat,
    )

    from gaia_spark.checkpoint import big_local_checkpoint

    pages = _balance_pages(spark, pages)
    # fused T1+T2+T5: ONE wide stage (single Arrow pass
    # extract+tag+coref) emitting pre-exploded rows.
    # flat_mentions(tagged) IS the resolved table — downstream is pure
    # relational algebra until the final write.
    # corpus-sized fan-in → SERIALIZED checkpoint blocks (several-fold
    # fewer bytes for the 3-4 downstream re-scans; see checkpoint.py)
    tagged = big_local_checkpoint(tag_flat(pages, kinds="sa"))
    # T4/T4b/T11 operate on DISTINCT SURFACES, not mention occurrences:
    # the tagger pre-dedups per doc ('s' rows), the map-side-combined
    # distinct collapses those to the corpus surface vocabulary before
    # any linking join runs, so the KB join, LSH blocking, and
    # connected components all touch tiny tables and the canonical map
    # broadcasts back out (north_star: broadcast alias/KB dictionary;
    # AQE-aware join choice).
    surfaces = flat_surfaces(tagged).distinct()
    linked_s = link_mentions(surfaces, kb_entities,
                             kb_aliases).localCheckpoint()
    # NIL clustering is already eager (CC needs actions) and its result
    # is vocabulary-sized; localCheckpoint pins it so the blocking/
    # verification subplan never re-executes under the cmap joins
    nil = nil_clusters(linked_s).localCheckpoint()
    # cmap feeds BOTH the subj- and obj-side rewrites — persist it or
    # the whole NIL-clustering plan re-executes once per join side
    cmap = canonical_map(
        canonicalize_mentions(linked_s, nil)
    ).localCheckpoint()
    # The checkpointed cmap is a LogicalRDD — Catalyst has NO size
    # statistics for it, so left alone the rewrite joins plan as
    # sort-merge (+ Spark-injected bloom-filter passes), and the
    # 10^9-row assertion side pays two shuffle writes before AQE can
    # notice the build side is tiny.  cmap is materialized at this
    # point, so measure it directly: vocabulary-sized → static
    # broadcast hint (no assertion-side exchange at all); genuinely
    # huge vocabularies fall through to the adaptive sort-merge path.
    # The gate is BYTES, not rows: 2M rows of wide canonical strings
    # can blow past the 64MB broadcast budget a row count can't see,
    # and the static hint bypasses autoBroadcastJoinThreshold entirely.
    # One cheap agg over the already-materialized checkpoint gives the
    # exact payload size (string bytes + ~48B/row struct overhead).
    sz = cmap.agg(
        F.coalesce(F.sum(
            F.length("coarse") + F.length("link_norm")
            + F.length("canonical") + F.lit(48)), F.lit(0)).alias("b")
    ).collect()[0]["b"]
    if sz <= 48 * 1024 * 1024:
        cmap = F.broadcast(cmap)
    # T6/T8/T9 were computed per-doc inside the tag_flat pass
    # (oracle-exact); the 'a' slice of the cached flat table IS the
    # assertion table — zero additional shuffles.  `lang` rides along
    # from the input pages through the tagger (TAG_FLAT_SCHEMA), so the
    # T12 language tag falls out of the dedup aggregation itself — the
    # former full-corpus lang_map groupBy + sort-merge re-attach join
    # is gone entirely.  cleanKB's orphan-provenance semi-join is
    # vacuous on this path (every assertion url IS a page url by
    # construction), leaving only the row-level validity predicate.
    assertions = flat_assertions(tagged, with_lang=True)
    # stable_input: both join inputs (tagged, cmap) are localCheckpoint
    # blocks, so the dedup split may re-execute the cheap broadcast
    # joins instead of materializing the full triple table again
    triples = canonical_triples(assertions, cmap, stable_input=True)
    if not suppress_validation:
        from gaia_spark.operators.cleankb import valid_triples
        triples = valid_triples(triples)
    return triples.select(
        "url", "sent_id", "subj", "pred", "obj",
        "subj_type", "obj_type", "conf", "lang")
