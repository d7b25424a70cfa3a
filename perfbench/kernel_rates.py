"""One-core rates of the public finchspark kernels on a workload's own bytes
and pairs, timed in this process (no Spark).

`signature_chain_s` is the kernel work `build_signatures` does for the same
documents (shingle hashing, per-document distinct sort, bottom-k, SimHash,
OPH bands), in the same sub-batches of rows a scan task hands the UDF; the
traced run subtracts it from Spark's Python time of the signature stage to
get the Arrow/Python boundary cost.
"""
from __future__ import annotations

import time

import numpy as np

from finchspark.kernels import (
    band_hashes,
    blob_shingle_hashes,
    oph_signatures,
    segment_count_distinct,
    simhash64_batch,
)
from finchspark.kernels.distance import raw_distance_many
from finchspark.kernels.murmur3 import murmur3_sliding_low64
from finchspark.kernels.suffix import spans_and_coverage

SUFFIX_PAIRS = 200


def _blob(contents: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    off = np.zeros(len(contents) + 1, dtype=np.int64)
    np.cumsum([len(c) for c in contents], out=off[1:])
    return np.frombuffer(b"".join(contents), dtype=np.uint8), off


def _timed(fn, min_s: float = 0.2) -> tuple[float, object]:
    """Median seconds per call over at least three calls and `min_s`."""
    times, out, start = [], None, time.perf_counter()
    while len(times) < 3 or time.perf_counter() - start < min_s:
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return float(np.median(times)), out


def signature_chain_s(contents: list[bytes], cfg, rows_per_batch: int) -> float:
    k, seed = cfg.sketch.kmer_length, cfg.sketch.hash_seed
    n_bands, n_rows = cfg.lsh.n_bands, cfg.lsh.n_rows
    t = time.perf_counter()
    for i in range(0, len(contents), rows_per_batch):
        chunk = contents[i : i + rows_per_batch]
        blob, off = _blob(chunk)
        hashes, doc_off = blob_shingle_hashes(blob, off, k, seed)
        doc_idx = np.repeat(np.arange(len(chunk)), np.diff(doc_off))
        gd, gh, gcounts, rank = segment_count_distinct(doc_idx, hashes, len(chunk))
        keep = rank < cfg.sketch.final_size
        np.bincount(gd[keep], minlength=len(chunk)), gh[keep], gcounts[keep]
        simhash64_batch(hashes, doc_off, None)
        band_hashes(oph_signatures(hashes, doc_off, n_bands * n_rows), n_bands, n_rows, seed)
    return time.perf_counter() - t


def sketches(contents: dict[int, bytes], cfg) -> dict[int, np.ndarray]:
    """Bottom-k sketch (ascending unsigned hashes) per document id."""
    keys = list(contents)
    blob, off = _blob([contents[key] for key in keys])
    hashes, doc_off = blob_shingle_hashes(blob, off, cfg.sketch.kmer_length, cfg.sketch.hash_seed)
    doc_idx = np.repeat(np.arange(len(keys)), np.diff(doc_off))
    gd, gh, _, rank = segment_count_distinct(doc_idx, hashes, len(keys))
    keep = rank < cfg.sketch.final_size
    gd, gh = gd[keep], gh[keep]
    bounds = np.searchsorted(gd, np.arange(len(keys) + 1))
    return {key: gh[bounds[i] : bounds[i + 1]] for i, key in enumerate(keys)}


def rates(
    sig_contents: list[bytes],
    contents: dict[int, bytes],
    pairs: list[tuple[int, int]],
    pair_jaccard: list[float],
    cfg,
) -> tuple[dict[str, float], str | None]:
    """(metrics, error): `error` names a disagreement between the pipeline's
    verified Jaccard and `raw_distance_many` on the same pairs."""
    k, seed = cfg.sketch.kmer_length, cfg.sketch.hash_seed
    blob, off = _blob(sig_contents)
    t_murmur, _ = _timed(lambda: murmur3_sliding_low64(blob, k, seed))
    hashes, doc_off = blob_shingle_hashes(blob, off, k, seed)
    doc_idx = np.repeat(np.arange(len(sig_contents)), np.diff(doc_off))
    t_seg, _ = _timed(lambda: segment_count_distinct(doc_idx, hashes, len(sig_contents)))
    out = {
        "kernels.murmur_mb_per_s": len(blob) / 1e6 / t_murmur,
        "kernels.segment_mkeys_per_s": len(hashes) / 1e6 / t_seg,
    }

    error = None
    sk = sketches(contents, cfg)
    q = [sk[a] for a, _ in pairs]
    r = [sk[b] for _, b in pairs]
    q_off = np.zeros(len(pairs) + 1, dtype=np.int64)
    r_off = np.zeros(len(pairs) + 1, dtype=np.int64)
    np.cumsum([len(x) for x in q], out=q_off[1:])
    np.cumsum([len(x) for x in r], out=r_off[1:])
    q_vals = np.concatenate(q) if q else np.empty(0, np.uint64)
    r_vals = np.concatenate(r) if r else np.empty(0, np.uint64)
    t_raw, (_, jac, _, _) = _timed(lambda: raw_distance_many(q_vals, q_off, r_vals, r_off, 0.0))
    out["kernels.raw_distance_pairs_per_s"] = len(pairs) / t_raw
    if not np.array_equal(jac, np.asarray(pair_jaccard)):
        error = "verify_pairs Jaccard differs from raw_distance_many on the same pairs"

    sample = [(contents[a], contents[b]) for a, b in pairs[:SUFFIX_PAIRS]]
    t_sfx, _ = _timed(lambda: [spans_and_coverage(a, b, min_len=64) for a, b in sample])
    out["kernels.suffix_pairs_per_s"] = len(sample) / t_sfx
    return out, error
