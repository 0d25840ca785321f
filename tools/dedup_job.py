#!/usr/bin/env python
"""The ``spark-submit --py-files`` dedup job (north_rule deployment mode).

Usage (any Spark master — the script takes the session the launcher built):

    python tools/dedup_job.py --make-pyfiles-zip /tmp/srpr_lsh_spark.zip
    spark-submit --master <cluster> --py-files /tmp/srpr_lsh_spark.zip \
        tools/dedup_job.py \
        --input  /path/to/clips_parquet \
        --warehouse /path/to/warehouse \
        --output /path/to/clusters_out

Input: a parquet (or, with the jar on the cluster, Iceberg) table with the
BASELINE.json input_hint schema — (clip_id string, bytes binary, sr_hz int,
dur_ms int, codec string, transcript string). Output: (clip_id, cluster_id)
parquet. The warehouse directory holds every stage's checkpoint + lineage;
rerunning the same command after a failure resumes from the last complete
stage, per the north_rule's "resumable from checkpoint" requirement.

Exit is a single JSON line on stdout with stage wall-times, cluster count,
and the resume decision per stage — machine-consumable, mirroring
``bench.py``'s contract.

This script deliberately contains NO SparkSession tuning beyond what
correctness needs (Arrow on, ANSI-safe): masters, executor counts, memory,
and shuffle partitions belong to the spark-submit command line, where the
cluster operator sets them (``--conf spark.sql.shuffle.partitions=…``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def make_pyfiles_zip(out_path: str) -> str:
    """Zip the ``srpr_lsh_spark`` package next to this script for
    ``--py-files`` shipping (same layout ``bench.py`` ships to its
    process-isolated executors)."""
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "srpr_lsh_spark")
    with zipfile.ZipFile(out_path, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    p = os.path.join(root, fn)
                    z.write(p, os.path.relpath(p, repo))
    return out_path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="clips table path (parquet dir)")
    ap.add_argument("--warehouse", help="checkpoint/lineage warehouse dir")
    ap.add_argument("--output", default=None,
                    help="clusters output parquet dir (default: "
                         "<warehouse>/clusters_out)")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore existing stage checkpoints")
    ap.add_argument("--conf", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="DedupConfig field override, repeatable "
                         "(e.g. --conf jaccard_threshold=0.85)")
    ap.add_argument("--make-pyfiles-zip", metavar="OUT_ZIP",
                    help="write the --py-files package zip and exit "
                         "(run locally, before spark-submit)")
    args = ap.parse_args(argv)

    if args.make_pyfiles_zip:
        print(make_pyfiles_zip(args.make_pyfiles_zip))
        return 0
    if not args.input or not args.warehouse:
        ap.error("--input and --warehouse are required (or --make-pyfiles-zip)")

    # Under spark-submit the package arrives via --py-files (already on
    # PYTHONPATH); only a plain-python invocation from outside the repo needs
    # the repo root added. Try the launcher's path first so the test that
    # drives this through real spark-submit exercises the shipped zip.
    from pyspark.sql import SparkSession

    try:
        from srpr_lsh_spark.config import DedupConfig, tune_allocator_env
    except ImportError:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from srpr_lsh_spark.config import DedupConfig, tune_allocator_env

    tune_allocator_env()  # no-op if the JVM is already up (spark-submit)
    builder = SparkSession.builder.appName("srpr-lsh-dedup")
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        # plain-python invocation: no launcher-owned gateway JVM (spark-submit
        # sets PYSPARK_GATEWAY_PORT and carries the master in its conf), so
        # pick a master ourselves
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", "local[*]"))
    spark = (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from srpr_lsh_spark.plans.pipeline import run_dedup

    overrides = {}
    defaults = DedupConfig()
    for kv in args.conf:
        k, _, v = kv.partition("=")
        if not hasattr(defaults, k):
            ap.error(f"unknown DedupConfig field: {k}")
        cur = getattr(defaults, k)
        # strict bool parsing (json.loads('1') would silently assign int 1)
        # and a clean CLI error for any malformed/uncoercible value
        # (r5 ADVICE #4)
        if isinstance(cur, bool):
            if v.lower() not in ("true", "false"):
                ap.error(f"--conf {k} expects true/false, got {v!r}")
            overrides[k] = v.lower() == "true"
        else:
            try:
                overrides[k] = type(cur)(v)
            except (TypeError, ValueError):
                ap.error(f"--conf {k}: cannot coerce {v!r} to {type(cur).__name__}")
    cfg = DedupConfig(**overrides) if overrides else DedupConfig()

    clips = spark.read.parquet(args.input)
    t0 = time.time()
    res = run_dedup(spark, clips, cfg, warehouse_dir=args.warehouse,
                    resume=not args.no_resume)
    out_dir = args.output or os.path.join(args.warehouse, "clusters_out")
    res["clusters"].write.mode("overwrite").parquet(out_dir)
    n_clusters = spark.read.parquet(out_dir).select("cluster_id").distinct().count()
    print(json.dumps({
        "metric": "e2e_dedup_sec",
        "value": round(time.time() - t0, 2),
        "unit": "sec",
        "stage_secs": res.get("stage_secs", {}),
        "stage_cpu_secs": res.get("stage_cpu_secs", {}),
        "stages_resumed": res.get("skipped", []),
        "n_clusters": n_clusters,
        "output": out_dir,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
