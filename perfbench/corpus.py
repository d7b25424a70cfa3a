"""Seeded benchmark corpora, cached on disk by (workload, seed, size).

The program only ever sees the parquet files written here; the planted
truth (pairs the generator made on purpose) is kept beside them in
`truth.json` for the benchmark's own checks.

- bulk: `finchspark.sources.synth` (FIXTURES.md section B mix).
- dense: chained near-variant families with Pareto sizes, license
  boilerplate, one vendored file copied past the LSH bucket cap, and short
  docs that take the SimHash path.
- stream: the bulk mix in a seeded order, split into a preload part and
  equal micro-batch files.
"""
from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from finchspark.sources.synth import LICENSE_HEADER, synth_documents

# sizes per workload; part of the cache key so a resize never reads stale files
SIZES = {
    "bulk": {"n_base": 4000},
    "dense": {"n_families": 100, "n_singletons": 300, "n_short": 100},
    "stream": {"n_base": 1500, "n_batches": 16, "batch_docs": 100},
}
# bulk and dense corpora are written as this many parquet files, so the
# scan splits into several tasks, as it would on a corpus of many files
N_FILES = 8
# one vendored file copied past the default LSH bucket cap (2000)
VENDORED_COPIES = 2001
MAX_FAMILY = 64


_WORDS = "load save parse merge filter index batch queue shard token stream buffer".split()


def _ident(rng: random.Random) -> str:
    # random hex keeps unrelated files from sharing 21-byte shingles
    return f"{rng.choice(_WORDS)}_{rng.getrandbits(24):06x}"


def _source(rng: random.Random, n_funcs: int) -> str:
    """Python-looking text of `n_funcs` functions of five statements each:
    a fixed shape, so every seed generates about the same number of bytes."""
    funcs = []
    for _ in range(n_funcs):
        body = "\n".join(
            f"    {_ident(rng)} = {_ident(rng)}({rng.randint(0, 999)}, {_ident(rng)})"
            for _ in range(5)
        )
        funcs.append(f"def {_ident(rng)}({_ident(rng)}):\n{body}\n    return {_ident(rng)}\n")
    return "\n".join(funcs)


def _edit(rng: random.Random, text: str, rate: float) -> str:
    """Drop or annotate about `rate` of the lines."""
    out = []
    for line in text.split("\n"):
        r = rng.random()
        if r < rate / 2:
            continue
        out.append(line)
        if r < rate:
            out.append(f"    # edited {rng.randint(0, 9999)}")
    return "\n".join(out)


def _write(path: str, docs: list[dict]) -> None:
    cols = {
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "content": pa.array([d["content"] for d in docs], pa.string()),
    }
    pq.write_table(pa.table(cols), path)


def _dense(seed: int, n_families: int, n_singletons: int, n_short: int):
    rng = random.Random(seed)
    docs: list[dict] = []
    truth: list[tuple[int, int, str]] = []

    def add(content: str) -> int:
        docs.append({"doc_id": len(docs), "content": content})
        return len(docs) - 1

    # family sizes at evenly spaced quantiles of Pareto(alpha=1.2, x_m=2),
    # capped, and every third of each ten sizes with the license header:
    # every seed gets the same families (so the same amount of candidate
    # work), in its own order and with its own content
    families = [
        (min(MAX_FAMILY, int(2 * (1.0 - (i + 0.5) / n_families) ** (-1 / 1.2))), i % 10 < 3)
        for i in range(n_families)
    ]
    rng.shuffle(families)
    for size, licensed in families:
        boiler = LICENSE_HEADER if licensed else ""
        body = _source(rng, 3)
        prev = add(boiler + body)
        for _ in range(size - 1):
            # each member is a light edit of the previous one: a chain whose
            # neighbours are near-duplicates and whose ends drift apart
            body = _edit(rng, body, 0.02)
            cur = add(boiler + body)
            truth.append((prev, cur, "near_chain"))
            prev = cur
    for i in range(n_singletons):
        boiler = LICENSE_HEADER if i % 10 < 3 else ""
        add(boiler + _source(rng, 2))
    vendored = _source(rng, 3)
    first = add(vendored)
    for _ in range(VENDORED_COPIES - 1):
        truth.append((first, add(vendored), "exact"))
    # 24-byte docs (4 shingles at k=21, fewer than the 8 the MinHash path
    # needs) take the SimHash path; half come as byte-identical pairs
    for i in range(n_short):
        text = f"id_{rng.getrandbits(40):010x} = {rng.getrandbits(32):08x}"
        a = add(text)
        if i % 2 == 0:
            truth.append((a, add(text), "exact_short"))
    return docs, truth


def _stream(seed: int, n_base: int, n_batches: int, batch_docs: int):
    docs, truth = synth_documents(n_base=n_base, seed=seed)
    # a seeded order spreads each planted pair across preload and batches,
    # so the incremental join meets pairs with one old and one new member
    random.Random(seed).shuffle(docs)
    n_stream = n_batches * batch_docs
    return docs, truth, docs[: len(docs) - n_stream], [
        docs[len(docs) - n_stream + i * batch_docs :][:batch_docs]
        for i in range(n_batches)
    ]


def corpus_dir(root: str, workload: str, seed: int) -> str:
    size = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items()))
    # the generator's own source is part of the key, so editing it never
    # reads a corpus an older generator wrote
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    return os.path.join(root, f"{workload}-seed{seed}-{size}-{version}")


def ensure(root: str, workload: str, seed: int) -> str:
    """Directory holding the corpus of (workload, seed); generated on first
    use. Layout: `docs/part-NNN.parquet` (bulk, dense) or `preload.parquet` +
    `batches/batch-NNN.parquet` (stream), plus `truth.json`."""
    out = corpus_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "truth.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    size = SIZES[workload]
    if workload == "stream":
        docs, truth, preload, batches = _stream(seed, **size)
        _write(os.path.join(tmp, "preload.parquet"), preload)
        os.makedirs(os.path.join(tmp, "batches"))
        for i, b in enumerate(batches):
            _write(os.path.join(tmp, "batches", f"batch-{i:03d}.parquet"), b)
    else:
        gen = _dense if workload == "dense" else synth_documents
        docs, truth = gen(seed=seed, **size)
        os.makedirs(os.path.join(tmp, "docs"))
        step = -(-len(docs) // N_FILES)
        for i in range(N_FILES):
            _write(os.path.join(tmp, "docs", f"part-{i:03d}.parquet"), docs[i * step : (i + 1) * step])
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(
            {
                "n_docs": len(docs),
                "pairs": [[a, b, label] for a, b, label in truth],
            },
            f,
        )
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def load_truth(path: str) -> dict:
    with open(os.path.join(path, "truth.json")) as f:
        return json.load(f)
