"""Structured Streaming tests: incremental signature ingest (exactly-once
across restarts via the stream checkpoint) + watermarked windowed rollup
pinned against the batch aggregation oracle."""

import os

import pytest

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.sources.synth import SynthParams, synthesize_clips
from srpr_lsh_spark.streaming.ingest import stream_signatures, windowed_event_rollup

CFG = DedupConfig()


def test_incremental_signature_ingest(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    # batch 1: 100 clips land
    p1 = SynthParams(n_clips=100, block_size=50, seed=42, min_dur_ms=300, max_dur_ms=800)
    clips1, _ = synthesize_clips(spark, p1, out_dir=str(tmp_path / "b1"))
    clips1.write.mode("append").parquet(in_dir)
    stream_signatures(spark, in_dir, out_dir, ckpt, CFG)
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == 100
    # signatures match the batch stage byte-for-byte on the shared kernel
    from srpr_lsh_spark.operators.signatures import compute_signatures

    want = {
        r["clip_id"]: r["content_key"]
        for r in compute_signatures(clips1, CFG).select("clip_id", "content_key").collect()
    }
    got_keys = {r["clip_id"]: r["content_key"] for r in got1.select("clip_id", "content_key").collect()}
    assert got_keys == want

    # batch 2: 60 more clips arrive; a restarted stream with the same
    # checkpoint processes ONLY the new files
    p2 = SynthParams(n_clips=60, block_size=30, seed=99, min_dur_ms=300, max_dur_ms=800)
    clips2, _ = synthesize_clips(spark, p2, out_dir=str(tmp_path / "b2"))
    from pyspark.sql import functions as F

    # both synth corpora number clips from 0 — disambiguate the new arrivals
    clips2 = clips2.withColumn("clip_id", F.concat(F.lit("b2_"), F.col("clip_id")))
    clips2.write.mode("append").parquet(in_dir)
    stream_signatures(spark, in_dir, out_dir, ckpt, CFG)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 160
    assert got2.select("clip_id").distinct().count() == 160  # no reprocessing dupes

    # idempotent rerun with nothing new: no growth
    stream_signatures(spark, in_dir, out_dir, ckpt, CFG)
    assert spark.read.parquet(out_dir).count() == 160


def test_stream_exact_dedup_cross_batch_state(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): a duplicate
    arriving in micro-batch 2 of content first seen in batch 1 must be
    DROPPED — state crosses batches. Winner rule = min clip_id within the
    first batch containing the key (pinned per batch below)."""
    from pyspark.sql import functions as F

    from srpr_lsh_spark.streaming.ingest import stream_exact_dedup

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def clips_df(rows):
        return spark.createDataFrame(
            [(cid, bytes(payload, "utf8")) for cid, payload in rows],
            "clip_id string, bytes binary",
        )

    def run_stream():
        stream = (
            spark.readStream.format("parquet")
            .schema("clip_id string, bytes binary")
            .option("maxFilesPerTrigger", "1000")
            .load(in_dir)
        )
        q = (
            stream_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: contents A (c1, c3 dup) and B (c2)
    clips_df([("c3", "AAAA"), ("c1", "AAAA"), ("c2", "BBBB")]).write.mode(
        "append"
    ).parquet(in_dir)
    run_stream()
    got1 = {r["clip_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {"c1", "c2"}  # min clip_id wins within the batch

    # batch 2: A again (c0 — would win by id, but A was already emitted),
    # B again (c9), and new content C (c7)
    clips_df([("c0", "AAAA"), ("c9", "BBBB"), ("c7", "CCCC")]).write.mode(
        "append"
    ).parquet(in_dir)
    run_stream()
    got2 = {r["clip_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {"c1", "c2", "c7"}  # state dropped the cross-batch dupes

    # content keys are the 128-bit prefix of sha2(bytes) — 3 distinct
    keys = spark.read.parquet(out_dir).select("content_key").distinct().count()
    assert keys == 3


class _FakeGroupState:
    """Mimics Spark's per-key GroupState bookkeeping: every invocation
    CLEARS the pending processing-time timeout (Spark semantics) — the state
    fn must re-arm it each call or the key never expires."""

    def __init__(self, exists=False, timed_out=False):
        self.exists = exists
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_ms = None  # cleared at every invocation, as Spark does

    def remove(self):
        self.removed = True

    def update(self, v):
        self.updated = v
        self.exists = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_stream_dedup_ttl_rearm_on_duplicate_arrival():
    """ADVICE r3: the duplicate-arrival branch must RE-ARM the TTL before
    returning — a key receiving a steady stream of duplicates must still
    expire. (Function-level test: a real ProcessingTimeTimeout can't be
    driven under availableNow — Spark schedules no-data batches until every
    pending timeout fires, so such a query never terminates.)"""
    import pandas as pd

    from srpr_lsh_spark.streaming.ingest import _dedup_state_fn

    fn = _dedup_state_fn(ttl_minutes=60)
    batch = [pd.DataFrame({"clip_id": ["c7", "c3"]})]

    # first sight: emits winner, arms TTL
    st = _FakeGroupState()
    out = list(fn(("k",), iter(batch), st))
    assert len(out) == 1 and out[0]["clip_id"][0] == "c3"
    assert st.timeout_ms == 60 * 60 * 1000

    # duplicate arrival: drops rows AND re-arms the (Spark-cleared) timeout
    st2 = _FakeGroupState(exists=True)
    out2 = list(fn(("k",), iter(batch), st2))
    assert out2 == []
    assert st2.timeout_ms == 60 * 60 * 1000  # the ADVICE fix

    # fired timeout: state removed, nothing emitted
    st3 = _FakeGroupState(exists=True, timed_out=True)
    assert list(fn(("k",), iter([]), st3)) == []
    assert st3.removed

    # without TTL the timeout API is never touched
    fn0 = _dedup_state_fn(ttl_minutes=0)
    st4 = _FakeGroupState(exists=True)
    assert list(fn0(("k",), iter(batch), st4)) == []
    assert st4.timeout_ms is None


def test_windowed_rollup_matches_batch_oracle(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for h in range(3):
        for m in (0, 20, 40):
            rows.append((base + dt.timedelta(hours=h, minutes=m), "click", 10.0 + h))
    rows.append((base + dt.timedelta(hours=1, minutes=5), "view", 1.5))
    events = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")

    got = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in windowed_event_rollup(events).collect()
    }
    assert got[(base, "click")] == (3, 30.0)
    assert got[(base + dt.timedelta(hours=1), "click")] == (3, 33.0)
    assert got[(base + dt.timedelta(hours=1), "view")] == (1, 1.5)
    assert len(got) == 4
