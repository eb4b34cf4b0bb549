"""Cluster entry point: spark-submit --py-files gaia_spark.zip run_pipeline.py

    spark-submit \
      --py-files dist/gaia_spark.zip \
      run_pipeline.py --corpus /data/corpus --out /data/kg \
      [--run-id RID] [--no-resume] [--suppress-validation] [--export-cs DIR]

Build the zip with tools/make_pyfiles.sh.  On a cluster, master/executor
conf comes from spark-submit (this script never sets master); locally it
falls back to gaia_spark.session defaults (local[$SPARK_GRAFT_CPUS]).

The job is the checkpointed T1→T13 pipeline (gaia_spark/plans/
pipeline.py): each stage materializes with a stage hash + per-file
lineage, so re-submitting after a failure resumes at the first stage
whose inputs changed — idempotent replace-by-run_id writes mean a
killed attempt never double-appends (north_rule resumability clause).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--corpus", required=True,
                   help="dir with pages/kb_entities/kb_aliases parquet")
    p.add_argument("--out", required=True, help="checkpoint catalog root")
    p.add_argument("--run-id", default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--suppress-validation", action="store_true",
                   help="skip cleanKB checks (reference README.md:218)")
    p.add_argument("--export-cs", default=None,
                   help="also export Cold Start .cs lines to this dir")
    args = p.parse_args(argv)

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from gaia_spark.session import get_spark
        spark = get_spark("gaia_kg_pipeline")

    from gaia_spark.plans.pipeline import read_triples, run_pipeline

    results = run_pipeline(
        spark, args.corpus, args.out,
        run_id=args.run_id,
        resume=not args.no_resume,
        suppress_validation=args.suppress_validation,
    )
    if args.export_cs:
        from gaia_spark.sources.coldstart import write_cs
        write_cs(read_triples(spark, args.out), args.export_cs)
    print(json.dumps({k: {kk: vv for kk, vv in v.items()
                          if kk in ("rows", "run_id", "skipped")}
                      for k, v in results.items()}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
