"""Checkpoint catalog: replace-by-run_id tables, per-file lineage,
stage-hash resume (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

The reference's resume model is "success = output file exists"
(/root/reference/README.md:114) with full re-runs otherwise; ours
(SURVEY.md §2.5) replaces that with content-addressed stages:

- every stage write lands in ``<root>/<table>/data_<run_id>/`` and a
  ``_CURRENT`` pointer is swapped atomically (os.replace) — a killed
  run never corrupts the readable table, re-running never
  double-appends (idempotent replace-by-run_id).
- a manifest records the stage_hash = sha1(stage name, input hashes,
  config, code version); ``has()`` lets the pipeline SKIP stages whose
  inputs didn't change (kill → re-run resumes after the last completed
  stage).
- lineage rows are per OUTPUT FILE: (stage, run_id, part_id, file,
  key_min, key_max, out_rows, ts) — the url range + counts demanded by
  the north_star, read from the written files' parquet footers
  (row count + min/max statistics), so a stage costs one Spark write
  and no read-back job.

On a real cluster this module is the seam where Iceberg slots in, and
the seam is now LIVE code, not a comment: when an iceberg-spark-runtime
jar is supplied (SPARK_GRAFT_ICEBERG_JAR — session.get_spark configures
the ``gaia_ice`` hadoop catalog automatically), ``Catalog.write``
switches to native ``df.writeTo(tbl).createOrReplace()`` with spec
``(*partition_by, bucket(16, url))`` and ``read`` serves
``spark.table(...)``, while manifest/pointer/stage-hash resume stay
identical (tests/test_iceberg.py).  This sandbox is offline with no
jar, so the parquet-directory emulation below is what actually runs
here.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Bump whenever any stage's OUTPUT SCHEMA or semantics change: the
# stage hash is (stage, CODE_VERSION, config, input hashes), so without
# a bump a resume after upgrading would silently accept checkpoints
# written in the old format.  "2": tagged stage moved from nested-array
# TAGGED_SCHEMA to flat TAG_FLAT_SCHEMA; linked stage moved to distinct
# surfaces.  "3": TAG_FLAT_SCHEMA gained `lang` and triples switched to
# lang-carried-through-tagger semantics (min over producing copies) —
# resuming over a v2 output dir must rebuild `tagged`, not crash on the
# missing column or serve old-semantics triples.
CODE_VERSION = "3"


#: Spark catalog name configured by session.get_spark when an Iceberg
#: runtime jar is supplied via SPARK_GRAFT_ICEBERG_JAR.
ICEBERG_CATALOG = "gaia_ice"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is loadable on the session's
    JVM classpath AND the gaia_ice catalog is configured (both happen
    automatically in session.get_spark when the runtime jar env var is
    set).  Callers fall back to the parquet emulation otherwise, so
    dropping a jar into the environment upgrades every Catalog.write
    with no code change."""
    try:
        spark.conf.get(f"spark.sql.catalog.{ICEBERG_CATALOG}")
    except Exception:
        return False
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def stage_hash(stage: str, *inputs: str, config: str = "") -> str:
    h = hashlib.sha1()
    for part in (stage, CODE_VERSION, config, *inputs):
        h.update(part.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()


def input_fingerprint(path: str) -> str:
    """Cheap content fingerprint of an external input file/dir."""
    h = hashlib.sha1()
    if os.path.isdir(path):
        names = sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(path) for f in fs
        )
    else:
        names = [path]
    for n in names:
        st = os.stat(n)
        h.update(f"{n}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _footer_lineage(path: str, key: str | None) -> list[dict]:
    """One lineage row per parquet file under ``path``: its row count
    and the min/max of column ``key``, all read from the file footer
    (no Spark job).  ``part_id`` numbers the files in path order;
    key bounds are None when the column is absent from the files (a
    partition column) or a row group carries no statistics for it."""
    files = sorted(
        os.path.relpath(os.path.join(r, f), path)
        for r, _d, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    rows = []
    for i, rel in enumerate(files):
        md = pq.read_metadata(os.path.join(path, rel))
        cols = [j for j in range(md.num_columns)
                if md.schema.column(j).path == key]
        stats = [md.row_group(g).column(cols[0]).statistics
                 for g in range(md.num_row_groups)] if cols else []
        # an all-null row group (no non-null values) needs no bounds
        stats = [st for st in stats if st is None or st.num_values]
        lo = hi = None
        if stats and all(st is not None and st.has_min_max
                         for st in stats):
            lo = min(st.min for st in stats)
            hi = max(st.max for st in stats)
        rows.append({"part_id": i, "file": rel, "key_min": lo,
                     "key_max": hi, "out_rows": md.num_rows})
    return rows


def _manifest(name: str, shash: str, run_id: str, lineage: list[dict],
              t0: float, metrics: dict | None, **extra) -> dict:
    return {
        "table": name, "run_id": run_id, "stage_hash": shash, **extra,
        "rows": sum(r["out_rows"] for r in lineage),
        "n_partitions": len(lineage),
        "created": dt.datetime.now(dt.timezone.utc).isoformat(),
        "metrics": {
            "elapsed_sec": round(time.perf_counter() - t0, 3),
            **(metrics or {}),
        },
        "lineage": [{"stage": name, "run_id": run_id, **r}
                    for r in lineage],
    }


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_CURRENT")

    def current_manifest(self, name: str) -> dict | None:
        ptr = self._pointer(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            run_id = f.read().strip()
        mpath = os.path.join(self._tdir(name), f"data_{run_id}",
                             "_MANIFEST.json")
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def has(self, name: str, shash: str) -> bool:
        m = self.current_manifest(name)
        return bool(m and m.get("stage_hash") == shash)

    def data_path(self, name: str) -> str:
        m = self.current_manifest(name)
        if m is None:
            raise FileNotFoundError(f"no current data for table {name}")
        return os.path.join(self._tdir(name), f"data_{m['run_id']}")

    # -- IO ---------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        name: str,
        shash: str,
        run_id: str,
        partition_by: list[str] | None = None,
        lineage_key: str = "url",
        metrics: dict | None = None,
        started: float | None = None,
    ) -> dict:
        """Atomic replace-by-run_id write + per-output-file lineage rows.

        The manifest's ``metrics`` block records the stage's wall time
        since ``started`` (a ``time.perf_counter()`` reading; default:
        entry to this call) merged with any caller-provided counters:
        the north_rule's per-stage metrics record.  A caller whose
        ``df`` was built eagerly passes the time it started building,
        so the record covers that work too.
        """
        t0 = time.perf_counter() if started is None else started
        tmp = os.path.join(self._tdir(name), f"_tmp_{run_id}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

        if iceberg_available(df.sparkSession):
            return self._write_iceberg(
                df, name, shash, run_id, partition_by, lineage_key,
                metrics, t0, tmp)

        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        lineage = _footer_lineage(tmp, lineage_key)
        return self._commit(
            tmp, _manifest(name, shash, run_id, lineage, t0, metrics))

    def _commit(self, staged: str, manifest: dict) -> dict:
        """Publish ``staged`` as the table's current generation: write
        the manifest into it, rename it to ``data_<run_id>``, swap the
        ``_CURRENT`` pointer (both os.replace, so atomic), then drop
        superseded generations."""
        name, run_id = manifest["table"], manifest["run_id"]
        tdir = self._tdir(name)
        with open(os.path.join(staged, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f)
        final = os.path.join(tdir, f"data_{run_id}")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(staged, final)
        ptr_tmp = self._pointer(name) + f".{run_id}"
        with open(ptr_tmp, "w") as f:
            f.write(run_id)
        os.replace(ptr_tmp, self._pointer(name))
        for d in os.listdir(tdir):
            if d.startswith("data_") and d != f"data_{run_id}":
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        return manifest

    def _ice_table(self, name: str) -> str:
        ns = "g_" + hashlib.sha1(
            os.path.abspath(self.root).encode()).hexdigest()[:10]
        return f"{ICEBERG_CATALOG}.{ns}.{name}"

    def _write_iceberg(self, df, name, shash, run_id, partition_by,
                       lineage_key, metrics, t0, staged):
        """Native Iceberg write: atomic replace + snapshots come from
        the table format itself (`writeTo(...).createOrReplace()`),
        spec = (*partition_by, bucket(16, lineage_key)) — the
        (lang, bucket(url)) layout the north_rule's input hint implies.
        The file-based manifest/pointer still records stage_hash +
        lineage (here per Spark partition of a table scan) so `has()`/resume semantics are IDENTICAL
        across both storage backends."""
        tbl = self._ice_table(name)
        w = df.writeTo(tbl).using("iceberg")
        spec = [F.col(c) for c in (partition_by or [])]
        if lineage_key and lineage_key in df.columns:
            spec.append(F.bucket(16, lineage_key))
        if spec:
            w = w.partitionedBy(spec[0], *spec[1:])
        w.createOrReplace()

        out = df.sparkSession.table(tbl)
        key = lineage_key if lineage_key in out.columns else None
        agg = [F.count(F.lit(1)).alias("out_rows")]
        if key:
            agg += [F.min(key).alias("key_min"), F.max(key).alias("key_max")]
        else:
            agg += [F.lit(None).cast("string").alias("key_min"),
                    F.lit(None).cast("string").alias("key_max")]
        lineage = [
            {"part_id": r["part_id"], "key_min": r["key_min"],
             "key_max": r["key_max"], "out_rows": r["out_rows"]}
            for r in out.groupBy(
                F.spark_partition_id().alias("part_id")).agg(*agg).collect()
        ]
        os.makedirs(staged)
        return self._commit(staged, _manifest(
            name, shash, run_id, lineage, t0, metrics,
            storage="iceberg", iceberg_table=tbl))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        m = self.current_manifest(name)
        if m and m.get("storage") == "iceberg":
            return spark.table(m["iceberg_table"])
        return spark.read.parquet(self.data_path(name))

    # -- bucketed tables ----------------------------------------------------

    def write_bucketed(self, df: DataFrame, name: str,
                       bucket_key: str, n_buckets: int = 16,
                       sort_by: str | None = None) -> str:
        """Bucketed managed table for CO-LOCATED joins.

        Two tables bucketed on the same key with the same bucket count
        join with ZERO exchanges: each task zips bucket i with bucket
        i.  This is the 100 TB answer to any join that repeats across
        runs (triples ⋈ node stats, edges ⋈ ranks per PageRank
        iteration, pair re-verification against postings): pay the
        shuffle ONCE at write time, never at read time.  Plain
        ``spark.read.parquet`` cannot express this — bucket metadata
        lives in the table catalog, hence ``saveAsTable``.  Returns the
        table identifier (``gaia_b_<name>``).

        Kept separate from the run_id checkpoint tables: bucketed
        tables are the long-lived, re-joined artifacts; checkpoints
        are per-run.
        """
        tbl = f"gaia_b_{name}"
        path = os.path.join(os.path.abspath(self.root),
                            f"bucketed_{name}")
        spark = df.sparkSession
        # external table rooted under THIS catalog (not the session
        # warehouse), so a stale location from a killed run can't
        # collide and rm -rf of the catalog root cleans everything
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if os.path.exists(path):
            shutil.rmtree(path)
        w = (df.write.mode("overwrite").format("parquet")
             .option("path", path)
             .bucketBy(n_buckets, bucket_key)
             .sortBy(sort_by or bucket_key))
        w.saveAsTable(tbl)
        return tbl

    def lineage(self, spark: SparkSession) -> DataFrame:
        """All current tables' per-file lineage as one DataFrame."""
        rows = []
        for name in sorted(os.listdir(self.root)):
            m = self.current_manifest(name)
            if m:
                for r in m["lineage"]:
                    rows.append((m["table"], m["run_id"], m["stage_hash"],
                                 r["part_id"], r["key_min"], r["key_max"],
                                 r["out_rows"], m["created"]))
        return spark.createDataFrame(
            rows,
            schema="stage string, run_id string, stage_hash string, "
                   "part_id int, key_min string, key_max string, "
                   "out_rows long, created string",
        )

    def vacuum(self, grace_seconds: float = 3600.0) -> dict[str, list[str]]:
        """Remove killed-run debris across all tables: ``_tmp_*``
        staging dirs and ``data_*`` generations not referenced by
        _CURRENT.

        ``write`` already drops superseded generations eagerly on its
        pointer swap — but only for the table IT writes.  A killed
        run leaves debris (a half-written ``_tmp_x``, or a completed
        ``data_x`` whose pointer swap never happened) on tables a
        RESUME then skips forever, so an explicit GC is the only
        thing that ever reclaims them.  Safe by the same atomicity
        argument as write's own cleanup: anything other than the
        _CURRENT generation is unreferenced.  Tables without a valid
        _CURRENT pointer are skipped entirely (never guess what a
        broken table should keep).

        An in-flight writer in ANOTHER process is indistinguishable
        from killed-run debris by name alone, so dirs modified within
        ``grace_seconds`` (default 1 h) are left untouched — a live
        ``_tmp_*`` stage is always younger than that, while genuinely
        orphaned debris ages past it.  ``grace_seconds=0`` restores
        the single-process everything-goes behavior for tests.

        → {table: [removed dir names]}, for the operator's log.
        """
        now = time.time()
        removed: dict[str, list[str]] = {}
        for name in sorted(os.listdir(self.root)):
            tdir = self._tdir(name)
            if not os.path.isdir(tdir):
                continue
            m = self.current_manifest(name)
            if m is None:
                continue
            cur = f"data_{m['run_id']}"
            for d in sorted(os.listdir(tdir)):
                if d == cur:
                    continue
                if d.startswith("_tmp_") or d.startswith("data_"):
                    path = os.path.join(tdir, d)
                    try:
                        age = now - os.path.getmtime(path)
                    except OSError:
                        continue  # racing removal — nothing to do
                    if age < grace_seconds:
                        continue
                    shutil.rmtree(path)
                    removed.setdefault(name, []).append(d)
        return removed
