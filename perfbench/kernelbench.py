"""Single-process throughput of the numpy kernels the Spark UDFs call.

Runs in the driver on a fixed batch of the workload's corpus (the first
``BATCH`` clips by id), outside any Spark job. Pairs are fixed too: each
clip against its next ``PAIR_FANOUT`` neighbours in id order, which covers
the planted duplicate groups (adjacent ids) and unrelated clips alike.
"""

from __future__ import annotations

import statistics
import tempfile
import time

import numpy as np

BATCH = 256
PAIR_FANOUT = 4


def _rate(fn, items: int, min_s: float = 0.15, reps: int = 3) -> float:
    """Median over ``reps`` of items/s, each rep looping ``fn`` for at least
    ``min_s`` seconds."""
    rates = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(n * items / dt)
    return statistics.median(rates)


def kernel_rates(corpus_parquet: str, cfg, scratch: str) -> "dict[str, tuple]":
    """``kernels.<name> -> (rate, unit)`` for the workload's corpus."""
    import pyarrow.dataset as ds

    from srpr_lsh_spark.kernels.audio import (
        batch_pair_snr_db,
        decode_pcm16_wav,
        fingerprint,
    )
    from srpr_lsh_spark.kernels.cosine import (
        load_fp_lookup_mmap,
        pair_cosines,
        quant_margin,
        save_fp_lookup,
    )
    from srpr_lsh_spark.kernels.hashing import (
        minhash_signatures,
        shingle_hashes,
        srp_keys,
        srp_planes,
    )
    from srpr_lsh_spark.kernels.text import (
        load_shingle_lookup_mmap,
        normalize_transcript,
        pair_jaccards,
        save_shingle_lookup,
        suffix_array,
    )

    tbl = ds.dataset(corpus_parquet).to_table(
        columns=["clip_id", "bytes", "codec", "transcript"])
    tbl = tbl.sort_by("clip_id").slice(0, BATCH)
    ids = tbl.column("clip_id").to_pylist()
    blobs = tbl.column("bytes").to_pylist()
    codecs = tbl.column("codec").to_pylist()
    raw_texts = tbl.column("transcript").to_pylist()
    n = len(ids)
    texts = normalize_transcript(raw_texts)
    a_idx = np.repeat(np.arange(n), PAIR_FANOUT)
    b_idx = (a_idx + np.tile(np.arange(1, PAIR_FANOUT + 1), n)) % n
    a_ids = [ids[i] for i in a_idx]
    b_ids = [ids[i] for i in b_idx]
    m = len(a_ids)

    def shingle_minhash():
        flat, off = shingle_hashes(texts, k=cfg.k_shingle, seed=cfg.seed)
        minhash_signatures(flat, off, n_perm=cfg.n_perm, seed=cfg.seed)

    def decode_fingerprint():
        for blob, codec in zip(blobs, codecs):
            fingerprint(decode_pcm16_wav(blob, codec=codec), dim=cfg.fingerprint_dim)

    pcm = [decode_pcm16_wav(b, codec=c) for b, c in zip(blobs, codecs)]
    fps = np.stack([fingerprint(p, dim=cfg.fingerprint_dim) for p in pcm])
    planes = srp_planes(cfg.fingerprint_dim, cfg.sim_tables, cfg.sim_bits, cfg.seed)
    flat, off = shingle_hashes(texts, k=cfg.k_shingle, seed=cfg.seed)
    pcm_a = [pcm[i] for i in a_idx]
    pcm_b = [pcm[i] for i in b_idx]
    text_bytes = [t.encode("utf-8") for t in raw_texts]

    with tempfile.TemporaryDirectory(dir=scratch) as d:
        path = lambda name: f"{d}/{name}"  # noqa: E731
        fp_prefix, _ = save_fp_lookup(ids, fps, out_dir=d)
        fp_lk = load_fp_lookup_mmap(fp_prefix, path)
        tx_prefix, _ = save_shingle_lookup(ids, flat, off, out_dir=d)
        tx_lk = load_shingle_lookup_mmap(tx_prefix, path)
        margin = quant_margin(cfg.fingerprint_dim)
        return {
            "kernels.shingle_minhash": (_rate(shingle_minhash, n), "rows/s"),
            "kernels.decode_fingerprint": (_rate(decode_fingerprint, n), "rows/s"),
            "kernels.srp_keys": (_rate(
                lambda: srp_keys(fps, planes, tables=cfg.sim_tables, bits=cfg.sim_bits),
                n), "rows/s"),
            "kernels.pair_cosines": (_rate(
                lambda: pair_cosines(fp_lk, a_ids, b_ids, cfg.cosine_threshold, margin),
                m), "pairs/s"),
            "kernels.pair_jaccards": (_rate(
                lambda: pair_jaccards(tx_lk, a_ids, b_ids, cfg.jaccard_threshold),
                m), "pairs/s"),
            "kernels.pair_snr": (_rate(lambda: batch_pair_snr_db(pcm_a, pcm_b), m),
                                 "pairs/s"),
            "kernels.suffix_array": (_rate(
                lambda: [suffix_array(t) for t in text_bytes], n), "rows/s"),
        }
