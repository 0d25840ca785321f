"""Spans around the pipeline's calls into each layer, for the traced run.

``Tracer.install`` wraps, from outside the package, the public calls that
``plans.pipeline.run_dedup`` makes:

- ``stage.<name>``: ``Warehouse.stage``;
- ``checkpoint.write.<name>``: ``Warehouse.write``, where the deferred plan of
  a stage executes;
- one operator span per operator function (``OPERATORS``).

Each span records wall time and the process tree's CPU per layer at its
edges. Spark stages are attributed afterwards from the status store: to
stage and write spans by submission time (those spans run one after another
on the driver's main thread), and to operator spans by job group, because
operators run concurrently on the pipeline's thread pools. Operator spans
that overlap in time share the CPU burned in the overlap.
"""

from __future__ import annotations

import functools
import glob
import os
import threading
import time

from procstat import LAYERS, cpu_delta

# operator span name -> function name imported into plans.pipeline
OPERATORS = {
    "candidates.lsh": "combined_candidates",
    "candidates.containment": "containment_candidates",
    "verify.text": "verify_text_pairs",
    "verify.audio": "verify_audio_pairs",
    "verify.substr": "verify_containment",
    "verify.exact": "exact_content_edges",
    "clusters.cc": "connected_components",
}

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, tree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: "list[dict]" = []
        self._lock = threading.Lock()

    def _run(self, name: str, fn, *args, group: bool = False, after=None, **kw):
        prev = self.sc.getLocalProperty(_GROUP_KEY) if group else None
        if group:
            self.sc.setLocalProperty(_GROUP_KEY, name)
        rec = {"name": name, "t0": time.time(), "c0": self.tree.cpu()}
        try:
            return fn(*args, **kw)
        finally:
            rec["t1"], rec["c1"] = time.time(), self.tree.cpu()
            if group:
                self.sc.setLocalProperty(_GROUP_KEY, prev)
            if after is not None:
                after(rec)
            with self._lock:
                self.spans.append(rec)

    def install(self):
        """Wrap the pipeline's layer calls; returns a function that undoes it."""
        from srpr_lsh_spark.plans import checkpoint, pipeline

        wh = checkpoint.Warehouse
        ops = {fn: getattr(pipeline, fn) for fn in OPERATORS.values()}
        methods = {m: getattr(wh, m) for m in ("stage", "write")}

        for span, fn in OPERATORS.items():
            setattr(pipeline, fn, functools.partial(self._run, span, ops[fn], group=True))

        def method(prefix, orig):
            @functools.wraps(orig)
            def wrapped(w, name, *a, **kw):
                def files(rec):
                    parts = glob.glob(os.path.join(w.root, name, "part-*"))
                    rec["files"] = len(parts)
                    rec["bytes"] = sum(os.path.getsize(f) for f in parts)

                after = files if prefix == "checkpoint.write" else None
                return self._run(f"{prefix}.{name}", orig, w, name, *a,
                                 after=after, **kw)
            return wrapped

        wh.stage = method("stage", methods["stage"])
        wh.write = method("checkpoint.write", methods["write"])

        def undo():
            for fn, orig in ops.items():
                setattr(pipeline, fn, orig)
            for m, orig in methods.items():
                setattr(wh, m, orig)
        return undo


def harvest_stages(sc, since: float) -> "list[dict]":
    """Spark stages submitted at or after ``since`` (epoch seconds), read from
    the status store. Works with ``spark.ui.enabled=false``; the session must
    retain enough stages (``spark.ui.retainedStages``) for one pass."""
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    group_of = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined():
            ids = j.stageIds()
            for k in range(ids.size()):
                group_of[ids.apply(k)] = g.get()
    out = []
    # newest first: stop at the first stage submitted before the window
    stages = store.stageList(None, False, True, q, None)
    for i in range(stages.size()):
        s = stages.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined():
            continue  # skipped stage: reused shuffle output, no tasks ran
        t = sub.get().getTime() / 1000.0
        if t < since:
            break
        dist = s.taskMetricsDistributions()
        p50 = mx = 0.0
        if dist.isDefined() and s.numCompleteTasks() > 1:
            rt = dist.get().executorRunTime()
            p50, mx = rt.apply(0), rt.apply(1)
        out.append({
            "t": t,
            "group": group_of.get(s.stageId()),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "gc_ms": s.jvmGcTime(),
            "failed_tasks": s.numFailedTasks(),
            "task_p50_ms": p50,
            "task_max_ms": mx,
        })
    return out


def span_metrics(tracer: Tracer, stages: "list[dict]", cores: int) -> "dict[str, tuple]":
    """Per-layer metrics ``name -> (value, unit)`` of one traced pass."""
    mb = 1024.0 * 1024.0
    out: "dict[str, tuple]" = {}
    for sp in tracer.spans:
        name = sp["name"]
        wall = sp["t1"] - sp["t0"]
        cpu = cpu_delta(sp["c0"], sp["c1"])
        if name.startswith("checkpoint.write."):
            out[f"{name}.wall_s"] = (wall, "s")
            out[f"{name}.bytes_mb"] = (sp["bytes"] / mb, "MB")
            out[f"{name}.files"] = (sp["files"], "count")
            continue
        total = sum(cpu[k] for k in LAYERS)
        out[f"{name}.wall_s"] = (wall, "s")
        out[f"{name}.cpu_s"] = (total, "s")
        out[f"{name}.pyworker_cpu_s"] = (cpu["pyworker"], "s")
        if name.startswith("stage."):
            mine = [s for s in stages if sp["t0"] <= s["t"] <= sp["t1"]]
            out[f"{name}.idle_core_s"] = (cores * wall - total, "s")
            out[f"{name}.spill_mb"] = (sum(s["spill"] for s in mine) / mb, "MB")
            out[f"{name}.gc_s"] = (sum(s["gc_ms"] for s in mine) / 1000.0, "s")
            # straggler cost over the span: summed slowest-task time over
            # summed median-task time, across its multi-task stages
            p50 = sum(s["task_p50_ms"] for s in mine)
            mx = sum(s["task_max_ms"] for s in mine)
            out[f"{name}.task_skew"] = (mx / p50 if p50 else 1.0, "ratio")
            out[f"{name}.failed_tasks"] = (sum(s["failed_tasks"] for s in mine), "count")
        else:
            mine = [s for s in stages if s["group"] == name]
        out[f"{name}.shuffle_write_mb"] = (sum(s["shuffle_write"] for s in mine) / mb, "MB")
    return out
