"""End-to-end pipeline tests: cluster parity vs planted oracle (recall ≥ 0.99,
zero false positives), checkpoint resume, lineage (FIXTURES.md §4)."""

import json
import os

import pandas as pd
import pytest

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.plans.pipeline import run_dedup
from srpr_lsh_spark.sources.synth import SynthParams, synthesize_clips

CFG = DedupConfig()
PARAMS = SynthParams(n_clips=600, block_size=200, seed=42, min_dur_ms=300, max_dur_ms=1500)


def _canon(assign: "dict[str, str]") -> "dict[str, str]":
    groups: dict[str, list] = {}
    for k, v in assign.items():
        groups.setdefault(v, []).append(k)
    return {m: min(ms) for ms in groups.values() for m in ms}


def _pairs(assign: "dict[str, str]") -> set:
    groups: dict[str, list] = {}
    for k, v in assign.items():
        groups.setdefault(v, []).append(k)
    out = set()
    for ms in groups.values():
        ms = sorted(ms)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("wh")
    clips, oracle = synthesize_clips(spark, PARAMS, out_dir=str(root / "data"))
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(root / "wh"))
    got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    want = {r["clip_id"]: r["cluster_id"] for r in oracle.collect()}
    return res, got, want, root, clips


def test_all_clips_labeled(result):
    res, got, want, *_ = result
    assert set(got) == set(want)


def test_cluster_parity_and_recall(result):
    res, got, want, *_ = result
    gp, wp = _pairs(got), _pairs(want)
    missing = wp - gp
    extra = gp - wp
    recall = 1 - len(missing) / max(len(wp), 1)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f}; missing e.g. {sorted(missing)[:5]}"
    assert not extra, f"false-positive pairs: {sorted(extra)[:5]}"


def test_exact_parity_canonical(result):
    """At this config the clustering should be *exactly* the oracle."""
    res, got, want, *_ = result
    assert _canon(got) == _canon(want)


def test_candidate_funnel_recorded(result):
    """The audio verify ladder records its candidate funnel at every scale,
    this tiny corpus included."""
    res, *_ = result
    stats = res["verify_stats"]
    assert stats["pairs_in"] > 0
    assert 0 <= stats["int8_pass"] <= stats["pairs_in"]


def test_lineage_written(result):
    res, *_ = result
    lin = res["warehouse"].lineage().toPandas()
    assert set(lin["stage"]) >= {"signatures", "candidates", "verified_pairs", "clusters"}
    assert (lin["rows_out"] > 0).any()
    assert (lin["config_hash"] == CFG.config_hash()).all()


def test_resume_skips_completed_stages(result, spark):
    res, got, want, root, clips = result
    # rerun over the same warehouse: every stage must be restored, output equal
    res2 = run_dedup(spark, clips, CFG, warehouse_dir=str(root / "wh"))
    assert sorted(res2["skipped"]) == sorted(
        ["signatures", "candidates", "verified_pairs", "clusters"]
    )
    got2 = {r["clip_id"]: r["cluster_id"] for r in res2["clusters"].collect()}
    assert got2 == got


def test_resume_after_partial_run(spark, tmp_path):
    params = SynthParams(n_clips=200, block_size=100, seed=43, min_dur_ms=300, max_dur_ms=900)
    clips, oracle = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    wdir = str(tmp_path / "wh")
    # simulate a crash after the candidates stage
    partial = run_dedup(spark, clips, CFG, warehouse_dir=wdir, stop_after="candidates")
    assert "clusters" not in partial
    sig_manifest = json.load(open(os.path.join(wdir, "signatures._manifest.json")))
    # resume to completion: early stages skipped, not recomputed
    full = run_dedup(spark, clips, CFG, warehouse_dir=wdir)
    assert "signatures" in full["skipped"] and "candidates" in full["skipped"]
    sig_manifest2 = json.load(open(os.path.join(wdir, "signatures._manifest.json")))
    assert sig_manifest["run_id"] == sig_manifest2["run_id"]  # untouched on disk
    # and a config change invalidates resume
    cfg2 = DedupConfig(jaccard_threshold=0.85)
    res3 = run_dedup(spark, clips, cfg2, warehouse_dir=wdir, stop_after="signatures")
    assert res3["skipped"] == []


def test_resume_invalidated_by_different_input(spark, tmp_path):
    """Same warehouse dir + same config but a DIFFERENT corpus must not serve
    stale stage outputs (resume is keyed by input identity, not just config)."""
    params_a = SynthParams(n_clips=200, block_size=100, seed=45, min_dur_ms=300, max_dur_ms=800)
    params_b = SynthParams(n_clips=200, block_size=100, seed=46, min_dur_ms=300, max_dur_ms=800)
    clips_a, _ = synthesize_clips(spark, params_a, out_dir=str(tmp_path / "da"))
    clips_b, _ = synthesize_clips(spark, params_b, out_dir=str(tmp_path / "db"))
    wdir = str(tmp_path / "wh")
    run_dedup(spark, clips_a, CFG, warehouse_dir=wdir, stop_after="signatures")
    res_b = run_dedup(spark, clips_b, CFG, warehouse_dir=wdir, stop_after="signatures")
    assert res_b["skipped"] == []
    sigs_ids = {r["clip_id"] for r in res_b["signatures"].select("clip_id").collect()}
    clips_b_ids = {r["clip_id"] for r in clips_b.select("clip_id").collect()}
    assert sigs_ids == clips_b_ids


def test_parallelism_invariance(spark, tmp_path):
    """FIXTURES.md §4.6: identical clusters regardless of partitioning —
    min-id labels + total-order tie-breaks + seeded hashing make the output a
    pure function of the data."""
    params = SynthParams(n_clips=200, block_size=100, seed=44, min_dur_ms=300, max_dur_ms=800)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    outs = []
    for i, parts in enumerate((3, 13)):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            res = run_dedup(
                spark, clips.repartition(parts), CFG,
                warehouse_dir=str(tmp_path / f"wh{i}"), resume=False,
            )
            outs.append(
                {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    assert outs[0] == outs[1]


def test_verified_pair_evidence_columns(result):
    res, *_ = result
    vp = res["verified_pairs"].toPandas()
    assert set(vp["source"]) >= {"exact", "minhash"}
    mh = vp[vp["source"] == "minhash"]
    assert (mh["jaccard"] >= CFG.jaccard_threshold).all()
    sh = vp[vp["source"] == "simhash"]
    if len(sh):
        assert (sh["cosine"] >= CFG.cosine_threshold).all()
        assert (sh["snr_db"] >= CFG.snr_db_threshold).all()


def test_g711_reencode_dedups_against_pcm_original(spark, tmp_path):
    """A μ-law/A-law re-encode of a clip (same audio, different codec —
    byte-unequal, so the exact-content path can't link it) must still dedup
    against the PCM16 original through the audio path: near-parallel
    fingerprints → same SRP buckets → cosine + SNR verify (G.711 round trip
    keeps SNR ≥ ~35 dB, above the 30 dB threshold)."""
    import numpy as np

    from srpr_lsh_spark.kernels.audio import encode_g711_wav, encode_pcm16_wav
    from srpr_lsh_spark.sources.readers import clips_schema

    rng = np.random.default_rng(17)
    t = np.arange(8000) / 16000.0

    def tone(f1, f2):
        return 0.4 * np.sin(2 * np.pi * f1 * t) + 0.2 * np.sin(2 * np.pi * f2 * t)

    x = tone(523.0, 1777.0)
    other = tone(211.0, 941.0) + 0.05 * rng.normal(size=t.size)
    rows = [
        ("orig", encode_pcm16_wav(x, 16000), 16000, 500, "pcm_s16le", "alpha words"),
        ("mulaw", encode_g711_wav(x, 16000, "pcm_mulaw"), 16000, 500, "pcm_mulaw",
         "beta text"),
        ("alaw", encode_g711_wav(x, 16000, "pcm_alaw"), 16000, 500, "pcm_alaw",
         "gamma talk"),
        ("other", encode_pcm16_wav(other, 16000), 16000, 500, "pcm_s16le",
         "delta speech"),
    ]
    clips = spark.createDataFrame(
        [(cid, bytearray(b), sr, d, c, tr) for cid, b, sr, d, c, tr in rows],
        clips_schema(),
    )
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(tmp_path / "wh"),
                    resume=False, input_key="g711_test")
    got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert got["orig"] == got["mulaw"] == got["alaw"]
    assert got["other"] != got["orig"]


def test_phase1_join_fallback_matches_lookup_plan(spark, tmp_path, monkeypatch):
    """The two phase-1 plans — memmapped fp lookup (below
    FP_COLLECT_MAX_ROWS) and the join-based beyond-ceiling fallback —
    must verify the SAME pairs with the SAME cosines: the int8 prefilter is
    sound (margin bound), so plan choice can never change results."""
    from srpr_lsh_spark.operators import verify
    from srpr_lsh_spark.operators.banding import SOURCE_SIMHASH, space_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures

    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=400, block_size=100, seed=7, min_dur_ms=300, max_dur_ms=900),
        out_dir=str(tmp_path / "d"),
    )
    cfg = CFG
    sigs = compute_signatures(clips, cfg).localCheckpoint(eager=True)
    cands = space_candidates(sigs, cfg, SOURCE_SIMHASH).localCheckpoint(eager=True)

    def rows(df):
        return sorted(
            (r["a"], r["b"], r["source"], round(r["cosine"], 9), round(r["snr_db"], 6))
            for r in df.collect()
        )

    got_lookup = rows(verify.verify_audio_pairs(cands, clips, sigs, cfg))
    monkeypatch.setattr(verify, "FP_COLLECT_MAX_ROWS", 0)  # force fallback
    got_join = rows(verify.verify_audio_pairs(cands, clips, sigs, cfg))
    assert got_lookup == got_join
    assert len(got_lookup) > 0


def test_text_lookup_plan_matches_join_plan(spark, tmp_path, monkeypatch):
    """The two text-verify plans — memmapped shingle-CSR lookup (r6) and the
    transcript-join fallback — must verify the SAME pairs with the SAME
    jaccard values: the size-bound prefilter is exact (J ≤ min/max), so plan
    choice can never change results. Also pins the gating: an over-ceiling
    corpus selects the join plan."""
    from srpr_lsh_spark.operators import verify
    from srpr_lsh_spark.operators.banding import SOURCE_MINHASH, space_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import _verify_text_join, verify_text_pairs

    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=300, block_size=100, seed=9, min_dur_ms=300, max_dur_ms=900),
        out_dir=str(tmp_path / "d"),
    )
    cfg = CFG
    sigs = compute_signatures(clips, cfg).localCheckpoint(eager=True)
    n = sigs.count()
    cands = space_candidates(sigs, cfg, SOURCE_MINHASH).localCheckpoint(eager=True)

    def rows(df):
        return sorted(
            (r["a"], r["b"], r["source"], r["jaccard"]) for r in df.collect()
        )

    got_join = rows(_verify_text_join(cands, clips, cfg))
    got_lookup = rows(verify_text_pairs(cands, clips, cfg, n_rows=n))
    assert got_lookup == got_join
    assert len(got_join) > 0
    # over-ceiling corpus falls back to the join plan, same rows
    monkeypatch.setattr(verify, "TEXT_COLLECT_MAX_ROWS", 0)
    got_fallback = rows(verify_text_pairs(cands, clips, cfg, n_rows=n))
    assert got_fallback == got_join


def test_containment_fallback_matches_index_plan(result, monkeypatch):
    """The two containment-candidate plans — the broadcast inverted index
    restricted to sketch hashes, and the join-everything fallback taken when
    the sketch union exceeds ``CONTAINMENT_UNION_MAX_HASHES`` — must propose
    the SAME (short, long) pairs."""
    from srpr_lsh_spark.operators import substring

    res, *_, clips = result
    sigs = res["signatures"]

    def rows():
        return sorted((r["short"], r["long"]) for r in
                      substring.containment_candidates(clips, sigs, CFG).collect())

    got_index = rows()
    monkeypatch.setattr(substring, "CONTAINMENT_UNION_MAX_HASHES", 0)
    got_join = rows()
    assert got_index == got_join
    assert len(got_index) > 0


def test_lookup_sources_one_slot_per_kind(tmp_path, monkeypatch):
    """Publishing a lookup deletes the previous run's source files of the
    SAME kind only: the fp and text lookups are built concurrently by the
    verified-pairs stage, so neither may delete the other's sources."""
    import types

    import numpy as np

    from srpr_lsh_spark.kernels.cosine import save_fp_lookup
    from srpr_lsh_spark.kernels.text import save_shingle_lookup
    from srpr_lsh_spark.operators import verify

    monkeypatch.setattr(verify, "_PREV_SOURCES", {})
    sc = types.SimpleNamespace(master="local[1]", _temp_dir=str(tmp_path))
    ids, fps = ["a", "b"], np.zeros((2, 4), dtype=np.float32)
    flat, offsets = np.arange(3, dtype=np.int64), np.array([0, 1, 3])

    def live(prefix):
        return [f for d in ("fplk", "txlk") for f in os.listdir(tmp_path / d)
                if f.startswith(prefix)]

    fp1, _ = verify._publish_lookup(sc, "fplk", save_fp_lookup, ids, fps)
    tx1, _ = verify._publish_lookup(sc, "txlk", save_shingle_lookup, ids, flat, offsets)
    fp2, _ = verify._publish_lookup(sc, "fplk", save_fp_lookup, ids, fps)
    assert live(fp1) == []
    assert len(live(tx1)) == 3
    assert len(live(fp2)) == 3


def test_transformed_input_gets_own_fingerprint(spark, tmp_path):
    """Resume keys fold in the plan of any input that is not a bare file
    scan (r5 VERDICT #1): a filtered frame over the same files must get a
    DIFFERENT fingerprint (so warehouses can never cross-serve stale
    stages), an attribute-only projection keeps the bare scan's, and the
    signatures of a filtered input honour the filter."""
    from pyspark.sql import functions as F

    from srpr_lsh_spark.plans.checkpoint import (
        input_fingerprint,
        is_projected_file_scan,
    )

    params = SynthParams(n_clips=400, block_size=50, seed=45,
                         min_dur_ms=300, max_dur_ms=800)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    assert is_projected_file_scan(clips)
    filtered = clips.filter(F.col("dur_ms") >= 500)
    assert not is_projected_file_scan(filtered)
    assert input_fingerprint(clips) != input_fingerprint(filtered)
    # attribute-only projection is still a bare scan (shares the stage key)
    projected = clips.select(*clips.columns)
    assert is_projected_file_scan(projected)
    assert input_fingerprint(projected) == input_fingerprint(clips)

    res = run_dedup(spark, filtered, CFG, warehouse_dir=str(tmp_path / "wh"),
                    stop_after="signatures")
    n_filtered = filtered.count()
    assert res["signatures"].count() == n_filtered
    assert n_filtered < clips.count()


def test_combined_candidates_row_identical_to_per_space(spark, tmp_path):
    """The r5 one-pass bucket join over both LSH spaces must emit EXACTLY the
    rows of the per-space union (the band-id key spaces are disjoint)."""
    from srpr_lsh_spark.operators.banding import (
        SOURCE_MINHASH, SOURCE_SIMHASH, combined_candidates, space_candidates,
    )
    from srpr_lsh_spark.operators.signatures import compute_signatures

    params = SynthParams(n_clips=300, block_size=100, seed=46,
                         min_dur_ms=300, max_dur_ms=900)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    sigs = compute_signatures(clips, CFG).localCheckpoint(eager=True)
    rows = lambda df: sorted(map(tuple, df.collect()))
    want = rows(
        space_candidates(sigs, CFG, SOURCE_MINHASH).unionByName(
            space_candidates(sigs, CFG, SOURCE_SIMHASH))
    )
    assert rows(combined_candidates(sigs, CFG)) == want


def test_null_fields_survive_the_pipeline(spark, tmp_path):
    """Rows a 10^12-clip corpus will certainly contain — NULL transcript,
    NULL bytes, NULL sr_hz, all-NULL payload — must flow through every stage
    without poisoning a task, every clip must come out labeled, and the
    evidence rules must still hold:

    - two all-NULL-payload rows are byte-identical (empty) content → the
      exact-content path links them (the synth corpus's skew group is the
      planted version of exactly this);
    - a NULL-transcript row with REAL audio still dedups against the same
      audio under a different transcript via the SimHash→SNR path;
    - a NULL-bytes row with a unique transcript stays a singleton.
    """
    import numpy as np

    from srpr_lsh_spark.kernels.audio import encode_pcm16_wav
    from srpr_lsh_spark.sources.readers import clips_schema

    t = np.arange(8000) / 16000.0
    x = 0.4 * np.sin(2 * np.pi * 523.0 * t) + 0.2 * np.sin(2 * np.pi * 1777.0 * t)
    wav = encode_pcm16_wav(x, 16000)
    rows = [
        ("nt_audio", bytearray(wav), 16000, 500, "pcm_s16le", None),
        ("tr_audio", bytearray(wav), None, None, "pcm_s16le",
         "completely different words here"),
        ("nb_text", None, None, 500, None, "a unique transcript nothing shares"),
        ("allnull_1", None, None, None, None, None),
        ("allnull_2", None, None, None, None, None),
    ]
    clips = spark.createDataFrame(rows, clips_schema())
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(tmp_path / "wh"),
                    resume=False, input_key="null_fields_test")
    got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert set(got) == {r[0] for r in rows}          # every clip labeled
    assert got["allnull_1"] == got["allnull_2"]      # empty content = exact dup
    assert got["nt_audio"] == got["tr_audio"]        # same audio links sans text
    assert got["nb_text"] not in (got["nt_audio"], got["allnull_1"])  # singleton
