"""The benchmark's workloads: corpus parameters, config and expected counts
(why each exists: ``BENCHMARK.json`` and ``NOTES.md``).

Every corpus comes from ``synthesize_clips(SynthParams(..., seed=<arg>))``;
the program receives only the generated clips. ``expected`` pins the output
counts of the default seed, so a change that alters which pairs verify or how
clips cluster fails the correctness gate instead of reading as a speed-up.
"""

from __future__ import annotations

import dataclasses

DEFAULT_SEED = 42

WORKLOADS = {
    "mixed": {
        "synth": dict(n_clips=2000, block_size=250, min_dur_ms=300, max_dur_ms=1200),
        # The default 400k-pair gate is crossed only at ~41k clips, far beyond
        # what one run can afford; 0 sends every branch to the production
        # lookup plan. The field is plan-only (excluded from the config hash).
        "config": dict(verify_small_join_max_pairs=0),
        "expected": {DEFAULT_SEED: {"n_clusters": 1671, "verified_pairs": 818}},
    },
    "audio_long": {
        "synth": dict(n_clips=600, block_size=150, min_dur_ms=2000, max_dur_ms=6000),
        "config": {},
        "expected": {DEFAULT_SEED: {"n_clusters": 493, "verified_pairs": 274}},
    },
}


def dedup_config(name: str, shuffle_partitions: int):
    """The workload's ``DedupConfig``. Overrides naming a field the config no
    longer has are dropped, so deleting a plan gate keeps the benchmark
    running on the one plan left."""
    from srpr_lsh_spark.config import DedupConfig

    fields = {f.name for f in dataclasses.fields(DedupConfig)}
    over = {k: v for k, v in WORKLOADS[name]["config"].items() if k in fields}
    return DedupConfig(shuffle_partitions=shuffle_partitions, **over)


def synth_params(name: str, seed: int):
    from srpr_lsh_spark.sources.synth import SynthParams

    return SynthParams(seed=seed, **WORKLOADS[name]["synth"])
