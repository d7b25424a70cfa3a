"""Structured Streaming signature ingest: micro-batch output == batch
operator output; a restarted query resumes from the checkpoint and only
sketches NEW files."""
import pytest

from finchspark.config import PipelineConfig
from finchspark.kernels import SketchParams
from finchspark.operators.signature import build_signatures
from finchspark.streaming.ingest import signatures_stream


@pytest.fixture()
def cfg():
    return PipelineConfig(sketch=SketchParams(kmers_to_sketch=32, final_size=32))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_stream_matches_batch_and_resumes(spark, cfg, tmp_path):
    src = tmp_path / "incoming"
    out = str(tmp_path / "signatures")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    first = [(i, f"document number {i} with some repeated body text " * 4) for i in range(20)]
    _docs(spark, first).write.mode("append").parquet(str(src))

    schema = "doc_id long, content string"
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = signatures_stream(stream, cfg, out, ckpt)
    q.awaitTermination(120)

    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    want = {
        r["doc_id"]: r
        for r in build_signatures(_docs(spark, first), cfg, key_cols=("doc_id",)).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["sha256"] == want[k]["sha256"]
        assert got[k]["hashes"] == want[k]["hashes"]

    # append new files; a fresh query on the same checkpoint processes ONLY
    # the new rows (no re-sketching of already-committed ones)
    second = [(100 + i, f"fresh follow-up content {i} " * 6) for i in range(5)]
    _docs(spark, second).write.mode("append").parquet(str(src))
    stream2 = spark.readStream.schema(schema).parquet(str(src))
    q2 = signatures_stream(stream2, cfg, out, ckpt)
    q2.awaitTermination(120)

    after = spark.read.parquet(out)
    assert after.count() == len(first) + len(second)  # no duplicates
    ids = {r["doc_id"] for r in after.select("doc_id").collect()}
    assert ids == {i for i, _ in first} | {i for i, _ in second}


def test_neardup_stream_matches_batch_lsh_stage(spark, cfg, tmp_path):
    """Streaming incremental near-dup over ANY micro-batch split == the
    batch LSH->verify pair set on the full corpus, with no duplicate pairs
    across epochs."""
    from pyspark.sql import functions as F

    from finchspark.operators.lsh import candidate_pairs
    from finchspark.operators.verify import verify_pairs
    from finchspark.sources.synth import synth_documents
    from finchspark.streaming.neardup import neardup_stream

    docs, _ = synth_documents(n_base=36)
    rows = [(d["doc_id"], d["content"]) for d in docs]

    src = tmp_path / "incoming"
    store = str(tmp_path / "store")
    pairs_out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    # three uneven micro-batches (each its own file + maxFilesPerTrigger=1)
    for chunk in (rows[:11], rows[11:40], rows[40:]):
        _docs(spark, chunk).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("doc_id long, content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = neardup_stream(stream, cfg, store, pairs_out, ckpt)
    q.awaitTermination(240)

    got_rows = spark.read.parquet(pairs_out).collect()
    got = {(r["key_a"], r["key_b"]) for r in got_rows}
    assert len(got) == len(got_rows), "a pair was emitted by two epochs"
    assert {r["epoch_id"] for r in got_rows} != {0}, "expected >1 micro-batch"

    sigs = build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",))
    cands, _ = candidate_pairs(sigs, cfg.lsh, key_col="doc_id")
    want_rows = verify_pairs(cands, sigs, cfg, key_col="doc_id").filter(
        F.col("jaccard") >= cfg.jaccard_threshold
    )
    want = {(r["key_a"], r["key_b"]) for r in want_rows.collect()}
    assert want, "fixture must plant near-dup pairs"
    assert got == want

    # store holds each signature exactly once
    assert spark.read.parquet(store).count() == len(rows)


def test_neardup_stream_resumes_without_duplicate_pairs(spark, cfg, tmp_path):
    """Stop after the first micro-batch, add files, restart on the same
    checkpoint: old docs are not re-sketched and no pair is re-emitted."""
    from pyspark.sql import functions as F

    from finchspark.sources.synth import synth_documents
    from finchspark.streaming.neardup import neardup_stream

    docs, _ = synth_documents(n_base=24)
    rows = [(d["doc_id"], d["content"]) for d in docs]
    src = tmp_path / "incoming"
    store = str(tmp_path / "store")
    pairs_out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "doc_id long, content string"

    _docs(spark, rows[:15]).coalesce(1).write.mode("append").parquet(str(src))
    q = neardup_stream(
        spark.readStream.schema(schema).parquet(str(src)), cfg, store,
        pairs_out, ckpt,
    )
    q.awaitTermination(240)
    n_store_1 = spark.read.parquet(store).count()
    assert n_store_1 == 15

    _docs(spark, rows[15:]).coalesce(1).write.mode("append").parquet(str(src))
    q2 = neardup_stream(
        spark.readStream.schema(schema).parquet(str(src)), cfg, store,
        pairs_out, ckpt,
    )
    q2.awaitTermination(240)

    assert spark.read.parquet(store).count() == len(rows)  # no re-sketch
    got_rows = spark.read.parquet(pairs_out).collect()
    got = {(r["key_a"], r["key_b"]) for r in got_rows}
    assert len(got) == len(got_rows)  # no duplicate pair across the restart
    # every planted cross-boundary pair was caught by the second run
    from finchspark.operators.lsh import candidate_pairs
    from finchspark.operators.verify import verify_pairs

    sigs = build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",))
    cands, _ = candidate_pairs(sigs, cfg.lsh, key_col="doc_id")
    want = {
        (r["key_a"], r["key_b"])
        for r in verify_pairs(cands, sigs, cfg, key_col="doc_id")
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .collect()
    }
    assert got == want


def test_candidate_pairs_incremental_caps_store_buckets(spark, cfg):
    """A store-side mega-bucket above lsh.bucket_cap is excluded from the
    incremental probe (same skew discipline as the batch stage)."""
    from dataclasses import replace

    from finchspark.config import LshConfig
    from finchspark.operators.lsh import candidate_pairs_incremental

    body = "shared license header boilerplate text " * 8
    rows = [(i, body) for i in range(12)]  # identical -> one mega bucket
    sigs = build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",))
    new = sigs.filter("doc_id = 0")
    capped = replace(cfg, lsh=LshConfig(bucket_cap=4))
    assert candidate_pairs_incremental(new, sigs, capped.lsh).count() == 0
    uncapped = candidate_pairs_incremental(new, sigs, cfg.lsh)
    assert uncapped.count() == 11  # doc 0 paired with every other member


def test_latest_components_skips_uncommitted_versions(spark, tmp_path):
    """ADVICE r4: a crash mid-snapshot/delta write leaves a partial dir (no
    _SUCCESS); restart must resume from the last FULLY COMMITTED version,
    not fail schema inference on the partial one or read it as a silently
    wrong map."""
    import os

    from finchspark.streaming.neardup import _versions, latest_components

    comp = tmp_path / "components"
    spark.createDataFrame(
        [(1, 1), (2, 1)], "node long, component long"
    ).write.parquet(str(comp / "v=0"))
    spark.createDataFrame(
        [(3, 1)], "node long, component long"
    ).write.parquet(str(comp / "d=1"))
    # simulated crash: d=2 exists but never committed (only _temporary junk)
    os.makedirs(comp / "d=2" / "_temporary")
    (comp / "d=2" / "part-00000.parquet").write_bytes(b"partial garbage")

    assert _versions(str(comp)) == [(0, "v"), (1, "d")]
    final, v = latest_components(spark, str(comp))
    assert v == 1  # resumes from the last committed version
    got = {(r["node"], r["component"]) for r in final.collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


@pytest.mark.parametrize(
    "compact_every,layout",
    [
        (8, {("v", 0), ("d", 1), ("d", 2)}),  # snapshot then delta-only
        (2, {("v", 0), ("d", 1), ("v", 2)}),  # mid-stream compaction
    ],
)
def test_neardup_stream_continuous_clustering(
    spark, cfg, tmp_path, compact_every, layout
):
    """With components_path set, the stream maintains the snapshot+delta
    component map incrementally per epoch (delta-bounded writes); the
    folded latest map equals the batch pipeline's LSH-path components over
    the full corpus, and the on-disk layout matches the compaction
    cadence."""
    import os

    from pyspark.sql import functions as F

    from finchspark.operators.cc import connected_components
    from finchspark.operators.lsh import candidate_pairs
    from finchspark.operators.verify import verify_pairs
    from finchspark.sources.synth import synth_documents
    from finchspark.streaming.neardup import latest_components, neardup_stream

    docs, _ = synth_documents(n_base=36)
    rows = [(d["doc_id"], d["content"]) for d in docs]

    src = tmp_path / "incoming"
    comp_out = str(tmp_path / "components")
    src.mkdir()
    for chunk in (rows[:11], rows[11:40], rows[40:]):
        _docs(spark, chunk).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("doc_id long, content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = neardup_stream(
        stream,
        cfg,
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        components_path=comp_out,
        compact_every=compact_every,
    )
    q.awaitTermination(240)

    got_layout = {
        (d[0], int(d.split("=", 1)[1]))
        for d in os.listdir(comp_out)
        if d.startswith(("v=", "d="))
    }
    assert got_layout == layout
    final, v = latest_components(spark, comp_out)
    assert v == 2
    got = {(r["node"], r["component"]) for r in final.collect()}

    sigs = build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",))
    cands, _ = candidate_pairs(sigs, cfg.lsh, key_col="doc_id")
    pairs = verify_pairs(cands, sigs, cfg, key_col="doc_id").filter(
        F.col("jaccard") >= cfg.jaccard_threshold
    )
    want = {
        (r["node"], r["component"])
        for r in connected_components(
            pairs.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        ).collect()
    }
    assert want and got == want


def test_neardup_stream_iceberg_store(spark, cfg, tmp_path, monkeypatch):
    """The streaming near-dup path routed entirely through a (mocked-
    catalog) IcebergTableStore: signatures and pairs are per-epoch V2
    appends, the component map is a base table + truncating changelog with
    mid-stream compaction, a second run RESUMES against the same store
    without re-sketching or re-emitting pairs, and the folded final map
    equals the batch pipeline's components over the full corpus."""
    from pyspark.sql import functions as F

    from finchspark.operators.cc import connected_components
    from finchspark.operators.lsh import candidate_pairs
    from finchspark.operators.verify import verify_pairs
    from finchspark.plans.checkpoint import IcebergTableStore
    from finchspark.sources.synth import synth_documents
    from finchspark.streaming.neardup import neardup_stream, store_latest_components
    from tests.test_pipeline import _fake_v2_catalog

    calls, tables = _fake_v2_catalog(spark, tmp_path, monkeypatch)
    store = IcebergTableStore(
        tmp_path / "meta", cfg.params_hash(), namespace="finch.stream"
    )

    docs, _ = synth_documents(n_base=36)
    rows = [(d["doc_id"], d["content"]) for d in docs]
    src = tmp_path / "incoming"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "doc_id long, content string"
    # run 1: two epochs (compact_every=2 -> the second epoch compacts)
    for chunk in (rows[:11], rows[11:40]):
        _docs(spark, chunk).coalesce(1).write.mode("append").parquet(str(src))
    q = neardup_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        cfg, "signatures", "pairs", ckpt,
        components_path="components", compact_every=2, table_store=store,
    )
    q.awaitTermination(240)
    assert store.read("signatures").count() == 40
    assert ("append", "finch.stream.signatures") in calls
    assert ("append", "finch.stream.pairs") in calls
    # epoch 0 created the base; epoch 1 appended to the changelog
    assert calls.count(("createOrReplace", "finch.stream.components")) == 1
    assert ("append", "finch.stream.components_delta") in calls
    assert store.read("components_delta").count() > 0

    # run 2 resumes on the same checkpoint + store: only new docs sketched
    _docs(spark, rows[40:]).coalesce(1).write.mode("append").parquet(str(src))
    store2 = IcebergTableStore(
        tmp_path / "meta", cfg.params_hash(), namespace="finch.stream"
    )
    q2 = neardup_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        cfg, "signatures", "pairs", ckpt,
        components_path="components", compact_every=2, table_store=store2,
    )
    q2.awaitTermination(240)
    assert store2.read("signatures").count() == len(rows)  # no re-sketch
    # run 2's epoch hit the compaction cadence: base rewritten, changelog
    # truncated via createOrReplace-empty
    assert calls.count(("createOrReplace", "finch.stream.components")) == 2
    assert store2.read("components_delta").count() == 0
    got_pairs = [
        (r["key_a"], r["key_b"]) for r in store2.read("pairs").collect()
    ]
    assert len(got_pairs) == len(set(got_pairs))  # no duplicate pair

    final, _ = store_latest_components(spark, store2, "components")
    got = {(r["node"], r["component"]) for r in final.collect()}
    sigs = build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",))
    cands, _ = candidate_pairs(sigs, cfg.lsh, key_col="doc_id")
    pairs = verify_pairs(cands, sigs, cfg, key_col="doc_id").filter(
        F.col("jaccard") >= cfg.jaccard_threshold
    )
    want = {
        (r["node"], r["component"])
        for r in connected_components(
            pairs.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        ).collect()
    }
    assert want and got == want
    assert set(got_pairs) == {
        (r["key_a"], r["key_b"]) for r in pairs.collect()
    }


def test_neardup_stream_recovers_from_partial_component_write(
    spark, cfg, tmp_path
):
    """System-level crash recovery (ADVICE r4 medium): after epoch 1 a
    partial component version is planted (a crash mid-write: directory
    present, no _SUCCESS) — the restarted stream must resume from the last
    COMMITTED version, overwrite the partial directory, and still converge
    to the batch closure."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from finchspark.operators.cc import connected_components
    from finchspark.operators.lsh import candidate_pairs
    from finchspark.operators.verify import verify_pairs
    from finchspark.sources.synth import synth_documents
    from finchspark.streaming.neardup import latest_components, neardup_stream

    docs, _ = synth_documents(n_base=30)
    rows = [(d["doc_id"], d["content"]) for d in docs]
    src = tmp_path / "incoming"
    comp = str(tmp_path / "components")
    src.mkdir()
    schema = "doc_id long, content string"

    _docs(spark, rows[:18]).coalesce(1).write.mode("append").parquet(str(src))
    q = neardup_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        cfg, str(tmp_path / "store"), str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"), components_path=comp,
    )
    q.awaitTermination(240)
    committed = sorted(os.listdir(comp))
    assert any((tmp_path / "components" / d / "_SUCCESS").exists() for d in committed)

    # simulated crash mid-write of the NEXT version: partial dir, no _SUCCESS
    partial = os.path.join(comp, "d=1")
    os.makedirs(os.path.join(partial, "_temporary"), exist_ok=True)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
        f.write(b"partial garbage from a crashed writer")

    _docs(spark, rows[18:]).coalesce(1).write.mode("append").parquet(str(src))
    q2 = neardup_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        cfg, str(tmp_path / "store"), str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"), components_path=comp,
    )
    q2.awaitTermination(240)

    final, _ = latest_components(spark, comp)
    got = {(r["node"], r["component"]) for r in final.collect()}
    from finchspark.operators.signature import build_signatures as _bs

    sigs = _bs(_docs(spark, rows), cfg, key_cols=("doc_id",))
    cands, _ = candidate_pairs(sigs, cfg.lsh, key_col="doc_id")
    pairs = verify_pairs(cands, sigs, cfg, key_col="doc_id").filter(
        F.col("jaccard") >= cfg.jaccard_threshold
    )
    want = {
        (r["node"], r["component"])
        for r in connected_components(
            pairs.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        ).collect()
    }
    assert want and got == want
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_compaction_crash_window_is_noop(spark, tmp_path):
    """A crash BETWEEN the two compaction writes (new base committed,
    changelog not yet truncated) must degrade to a no-op fold: the base's
    in-table folded_epoch watermark makes store_latest_components ignore
    every leftover delta row with epoch_id <= watermark, so stale
    pre-compaction labels can never override the fresh base."""
    from pyspark.sql import functions as F

    from finchspark.plans.checkpoint import TableStore
    from finchspark.streaming.neardup import store_latest_components

    store = TableStore(tmp_path / "meta", params_hash="t")
    # fresh base as the compaction at epoch 5 wrote it (watermark IN-table)
    base = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "node long, component long"
    ).withColumn("folded_epoch", F.lit(5).cast("long"))
    store.write("components", base)
    # the crash left the pre-compaction changelog in place: stale labels
    # from epochs <= 5 (already folded into the base) plus one genuinely
    # newer epoch-6 delta
    delta = spark.createDataFrame(
        [(1, 99, 3), (2, 99, 4), (3, 30, 6), (4, 30, 6)],
        "node long, component long, epoch_id long",
    )
    store.write("components_delta", delta)

    folded, n_delta = store_latest_components(spark, store, "components")
    assert "folded_epoch" not in folded.columns
    got = {(r["node"], r["component"]) for r in folded.collect()}
    # stale epoch-3/4 rows ignored; epoch-6 delta applied
    assert got == {(1, 10), (2, 10), (3, 30), (4, 30)}
    assert n_delta == 1  # only the post-watermark epoch counts


def test_changelog_epoch_id_is_always_long(spark, tmp_path, cfg):
    """Every epoch_id written by the streaming table-store path is int64:
    mixed int32/int64 parquet files for one column make the vectorized
    reader schema-dependent on file listing order (round-5 ADVICE)."""
    from finchspark.plans.checkpoint import TableStore
    from finchspark.streaming.neardup import neardup_stream

    store = TableStore(tmp_path / "meta", cfg.params_hash())
    rows = [
        (i, f"streamed document body {i % 4} with shared text " * 6)
        for i in range(24)
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    for chunk in (rows[:12], rows[12:]):
        _docs(spark, chunk).coalesce(1).write.mode("append").parquet(str(src))
    q = neardup_stream(
        spark.readStream.schema("doc_id long, content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        cfg,
        "signatures",
        "pairs",
        str(tmp_path / "ckpt"),
        components_path="components",
        compact_every=10,  # never compacts: both epochs append deltas
        table_store=store,
    )
    q.awaitTermination(240)
    for stage in ("pairs", "components_delta"):
        df = store.read(stage)
        assert dict(df.dtypes)["epoch_id"] == "bigint", stage
    assert dict(store.read("components").dtypes)["folded_epoch"] == "bigint"


def test_empty_delta_epoch_keeps_compaction_cadence(spark, cfg, tmp_path):
    """The stream carries the component map's fold state (watermark, delta
    epochs) across epochs instead of re-reading it from the tables. An
    epoch whose micro-batch yields no pairs appends an empty delta, which
    leaves no epoch_id in the changelog, so it must not advance the
    compaction cadence. After every epoch, including after a restart, the
    carried state must match `store_latest_components` on the same tables:
    an epoch compacts exactly when the table-derived delta count says it
    should, and the folded map equals the closure of the emitted pairs."""
    import random

    from finchspark.plans.checkpoint import TableStore
    from finchspark.streaming.neardup import neardup_stream, store_latest_components

    rng = random.Random(11)

    def text():
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(300))

    base_docs = {i: text() for i in range(8)}
    next_id = iter(range(100, 1000))

    def paired(n):  # copies of preload docs: every doc pairs
        return [(next(next_id), base_docs[rng.randrange(8)]) for _ in range(n)]

    def unpaired(n):  # fresh random text: no pair
        return [(next(next_id), text()) for _ in range(n)]

    compact_every = 3
    store = TableStore(tmp_path / "meta", cfg.params_hash())
    src = tmp_path / "incoming"
    src.mkdir()

    def start():
        return neardup_stream(
            spark.readStream.schema("doc_id long, content string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            cfg, "signatures", "pairs", str(tmp_path / "ckpt"),
            available_now=False, components_path="components",
            compact_every=compact_every, table_store=store,
        )

    def closure():
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for r in store.read("pairs").collect():
            a, b = find(r["key_a"]), find(r["key_b"])
            parent[max(a, b)] = min(a, b)
        return {x: find(x) for x in parent}

    def epoch(q, rows):
        """Run one epoch; return whether it rewrote the base table."""
        before = store.read_meta("components")["write_id"]
        _, n_delta = store_latest_components(spark, store, "components")
        _docs(spark, rows).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        compacted = store.read_meta("components")["write_id"] != before
        assert compacted == (n_delta + 1 >= compact_every)
        folded, _ = store_latest_components(spark, store, "components")
        assert {r["node"]: r["component"] for r in folded.collect()} == closure()
        return compacted

    _docs(spark, list(base_docs.items())).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    q = start()
    q.processAllAvailable()  # preload epoch writes the base
    assert not epoch(q, paired(3))
    assert not epoch(q, unpaired(3))  # empty delta
    assert store.read_meta("components_delta")["write_row_count"] == 0
    assert store_latest_components(spark, store, "components")[1] == 1
    assert not epoch(q, paired(3))
    q.stop()
    # restart: the new query reads the fold state from the tables
    q = start()
    assert epoch(q, unpaired(3))  # third delta slot: compacts
    assert not epoch(q, unpaired(3))
    assert not epoch(q, paired(3))
    q.stop()
