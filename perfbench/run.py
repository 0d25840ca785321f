#!/usr/bin/env python3
"""Near-duplicate dedup benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload mixed --seed 42 --seconds 30 --trace 0

Run from the repository root. Each run is one fresh process, like one
``dedup_job`` submit:

1. set-up: start a ``local[4]`` Spark session, synthesize the workload's
   corpus from ``--seed`` with ``synthesize_clips`` and open it;
2. the measurement: one cold pass, the session's first ``run_dedup``, clips
   to clusters written to the warehouse. It takes what it takes; ``--seconds``
   is the nominal length of that pass and is not otherwise used: a second
   (warm) pass would push a run well past a minute (see ``NOTES.md``).

The whole process tree's CPU and peak RSS come from /proc (``procstat.py``).
After each pass, outside its timed window, the correctness gate checks
dup-pair recall and precision against the planted oracle and the cluster and
verified-pair counts against those pinned for the seed, or for other seeds
against the run's cold pass.

With ``--trace 1`` the cold pass runs with spans around each layer
(``spans.py``) and is followed by an untraced warm pass, a resume of the
finished warehouse and single-process kernel rates (``kernelbench.py``); the
run prints per-layer metrics instead of the end-to-end ones.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from sparkenv import CORES, ROOT, local_spark, prepare

MIN_RECALL = 0.99
MIN_PRECISION = 0.99
COUNTS = ("n_clusters", "verified_pairs")
# verify branch -> candidate/verified ``source`` label
SOURCES = {"text": "minhash", "audio": "simhash", "substr": "substr"}


def _read(path: str, columns: "list[str]"):
    import pyarrow.dataset as ds

    return ds.dataset(path).to_table(columns=columns).to_pandas()


def _pair_quality(clusters, oracle) -> "tuple[float, float]":
    """Dup-pair recall and precision against the planted oracle by pair
    counting over the (found, planted) contingency table, as
    ``bench.py::_pair_quality`` does in Spark: agree = sum C(n,2) over cells,
    got/want = the same over found/planted clusters."""
    j = clusters.merge(oracle, on="clip_id", suffixes=("_g", "_w"))
    cells = j.groupby(["cluster_id_g", "cluster_id_w"]).size()
    c2 = lambda s: float((s * (s - 1) / 2).sum())  # noqa: E731
    agree = c2(cells)
    got = c2(cells.groupby(level=0).sum())
    want = c2(cells.groupby(level=1).sum())
    return agree / max(want, 1.0), agree / max(got, 1.0)


def _check(res: "dict | None", err: "str | None", oracle, expected: "dict | None") -> dict:
    """Correctness gate of one pass; returns its counts, quality and problems."""
    if res is None:
        return {"n_clusters": 0, "verified_pairs": 0, "recall": 0.0,
                "precision": 0.0, "problems": [err]}
    wh = res["warehouse"]
    clusters = _read(os.path.join(wh.root, "clusters"), ["clip_id", "cluster_id"])
    recall, precision = _pair_quality(clusters, oracle)
    out = {
        "n_clusters": int(clusters["cluster_id"].nunique()),
        "verified_pairs": int(wh.manifest("verified_pairs")["rows"]),
        "recall": recall,
        "precision": precision,
        "problems": [],
    }
    if recall < MIN_RECALL:
        out["problems"].append(f"recall {recall:.5f} < {MIN_RECALL}")
    if precision < MIN_PRECISION:
        out["problems"].append(f"precision {precision:.5f} < {MIN_PRECISION}")
    for k, v in (expected or {}).items():
        if out[k] != v:
            out["problems"].append(f"{k} {out[k]} != expected {v}")
    return out


class Runner:
    """Times and gates ``run_dedup`` passes on one corpus and session."""

    def __init__(self, spark, clips, oracle, cfg, run_dir: str, tree, expected):
        self.spark, self.clips, self.oracle, self.cfg = spark, clips, oracle, cfg
        self.run_dir, self.tree, self.expected = run_dir, tree, expected
        self.checks: "list[dict]" = []

    def run(self, name: str, resume: bool = False) -> "tuple[dict | None, dict]":
        """One pass on warehouse ``name``: (result or None, measures). A pass
        that raises is measured and counted as failed, never dropped."""
        from procstat import cpu_delta
        from srpr_lsh_spark.plans.pipeline import run_dedup

        c0 = self.tree.cpu()
        self.tree.reset_peak()
        t0 = time.perf_counter()
        res, err = None, None
        try:
            res = run_dedup(self.spark, self.clips, self.cfg, resume=resume,
                            warehouse_dir=os.path.join(self.run_dir, name))
        except Exception as e:  # noqa: BLE001 — reported as a failed pass
            err = f"pass raised {type(e).__name__}: {str(e)[:500]}"
        wall = time.perf_counter() - t0
        cpu = cpu_delta(c0, self.tree.cpu())
        rss = self.tree.peak_rss()
        check = _check(res, err, self.oracle, self.expected)
        if self.expected is None and not check["problems"]:
            # seeds without pinned counts: later passes must match this one
            self.expected = {k: check[k] for k in COUNTS}
        self.checks.append(check)
        print(f"pass {name}: {wall:.2f} s, cpu {cpu}, rss {rss}, {check}",
              file=sys.stderr)
        return res, {"wall": wall, "cpu": sum(cpu.values()), "layers": cpu,
                     "rss": rss, "peak_rss_mb": sum(rss.values()) / 2**20}

    def drop(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.run_dir, name), ignore_errors=True)


def _open(spark, cdir: str, n_clips: int):
    """Read the corpus and count its rows in one Python-worker pass."""
    import pandas as pd
    from pyspark.sql import functions as F

    full = spark.read.parquet(os.path.join(cdir, "clips_full"))

    def count(batches):
        for pdf in batches:
            yield pd.DataFrame({"rows": [len(pdf)]})

    rows = (full.select("clip_id", "bytes").mapInPandas(count, "rows long")
            .agg(F.sum("rows")).first()[0])
    if rows != n_clips:
        raise RuntimeError(f"corpus has {rows} rows, expected {n_clips}")
    return full.drop("cluster_id", "role")


def _layer_counts(res: dict, n_clusters: int) -> "dict[str, tuple]":
    wh = res["warehouse"]
    cand = _read(os.path.join(wh.root, "candidates"), ["source"])["source"].value_counts()
    ver = _read(os.path.join(wh.root, "verified_pairs"), ["source"])["source"].value_counts()
    stats = res.get("verify_stats") or {}
    out = {
        "signatures.rows": (wh.manifest("signatures")["rows"], "count"),
        "candidates.rows": (wh.manifest("candidates")["rows"], "count"),
        "clusters.count": (n_clusters, "count"),
        # accumulators exist only on the broadcast-ladder plan
        "verify.audio.ladder": (1 if stats else 0, "bool"),
        "verify.audio.int8_pass_ratio": (
            stats["int8_pass"] / stats["pairs_in"] if stats.get("pairs_in") else 0.0,
            "ratio"),
    }
    for branch, src in SOURCES.items():
        n_in, n_out = int(cand.get(src, 0)), int(ver.get(src, 0))
        out[f"verify.{branch}.pairs_in"] = (n_in, "count")
        out[f"verify.{branch}.pairs_out"] = (n_out, "count")
        out[f"verify.{branch}.accept_ratio"] = (n_out / n_in if n_in else 0.0, "ratio")
    return out


def _traced(r: Runner, cdir: str) -> "dict[str, tuple]":
    """Per-layer metrics: the cold pass under spans, then an untraced warm
    pass, a resume of the traced warehouse and the kernel rates."""
    from kernelbench import kernel_rates
    from spans import Tracer, harvest_stages, span_metrics

    tracer = Tracer(r.spark, r.tree)
    undo = tracer.install()
    try:
        res, m = r.run("wh_traced")
    finally:
        undo()
    if res is None:
        return {}
    t0 = time.perf_counter()
    stages = harvest_stages(r.spark.sparkContext, since=min(s["t0"] for s in tracer.spans))
    metrics = span_metrics(tracer, stages, CORES)
    metrics["trace.harvest_s"] = (time.perf_counter() - t0, "s")
    # the overhead is this minus the untraced runs' cold_dedup_s
    metrics["trace.dedup_s"] = (m["wall"], "s")
    metrics.update(_layer_counts(res, r.checks[-1]["n_clusters"]))
    for layer, cpu in m["layers"].items():
        metrics[f"stack.{layer}_cpu_s"] = (cpu, "s")
        metrics[f"stack.{layer}_peak_rss_mb"] = (m["rss"][layer] / 2**20, "MB")
    metrics["stack.idle_core_s"] = (CORES * m["wall"] - m["cpu"], "s")
    metrics["stack.peak_rss_mb"] = (m["peak_rss_mb"], "MB")

    _res, warm = r.run("wh_warm")
    r.drop("wh_warm")
    metrics["warm.dedup_s"] = (warm["wall"], "s")
    metrics["warm.cpu_s"] = (warm["cpu"], "s")

    res_r, m_r = r.run("wh_traced", resume=True)
    if res_r is not None and len(res_r["skipped"]) != 4:
        r.checks[-1]["problems"].append(f"resume skipped only {res_r['skipped']}")
    metrics["checkpoint.resume_s"] = (m_r["wall"], "s")

    metrics.update(kernel_rates(os.path.join(cdir, "clips_full"), r.cfg, r.run_dir))
    return metrics


def bench(args, run_dir: str, tree) -> dict:
    from srpr_lsh_spark.sources.synth import synthesize_clips

    from workloads import WORKLOADS, dedup_config, synth_params

    n_clips = WORKLOADS[args.workload]["synth"]["n_clips"]
    cdir = os.path.join(run_dir, "corpus")
    t0 = time.perf_counter()
    with local_spark(run_dir, tree) as spark:
        session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        synthesize_clips(spark, synth_params(args.workload, args.seed), out_dir=cdir)
        synth_s = time.perf_counter() - t1
        t1 = time.perf_counter()
        clips = _open(spark, cdir, n_clips)
        open_s = time.perf_counter() - t1
        # one set-up per run: a JVM start and a synthesis cannot be repeated
        # within the run's time budget
        setup_s = session_s + synth_s + open_s
        print(f"setup {setup_s:.2f} s: session {session_s:.2f}, synthesis "
              f"{synth_s:.2f}, open {open_s:.2f}", file=sys.stderr)

        oracle = _read(os.path.join(cdir, "clips_full"), ["clip_id", "cluster_id"])
        expected = WORKLOADS[args.workload]["expected"].get(args.seed)
        r = Runner(spark, clips, oracle, dedup_config(args.workload, 2 * CORES),
                   run_dir, tree, expected)
        if args.trace:
            metrics = _traced(r, cdir)
        else:
            _res, cold = r.run("wh_cold")
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_dedup_s": (cold["wall"], "s"),
                "clips_per_s": (n_clips / cold["wall"], "1/s"),
                "cpu_s": (cold["cpu"], "s"),
                "dup_pair_recall": (r.checks[0]["recall"], "ratio"),
                "dup_pair_precision": (r.checks[0]["precision"], "ratio"),
            }
    failed = sum(1 for c in r.checks if c["problems"])
    if not args.trace:
        # 1 - failed_op_ratio: a ratio that reads 0 cannot carry a bound
        metrics["ok_op_ratio"] = (1.0 - failed / len(r.checks), "ratio")
    return {"correct": failed == 0, "attempted": len(r.checks), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main() -> int:
    from workloads import DEFAULT_SEED, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=30,
                    help="nominal length of the measured pass (unused)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "srpr_lsh_spark")):
        print(f"no srpr_lsh_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare(run_dir)
    from procstat import ProcTree

    try:
        with ProcTree() as tree:
            result = bench(args, run_dir, tree)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
