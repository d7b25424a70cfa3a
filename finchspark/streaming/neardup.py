"""Incremental streaming near-duplicate detection (SURVEY.md §2.7).

Extends `ingest.signatures_stream` from "sketch new files" to the full
production loop: every micro-batch of new documents is sketched, banded,
and joined against the ACCUMULATED signature store, so verified near-dup
pairs stream out as documents arrive — old documents are never re-sketched
and old×old pairs are never recomputed.

Exactly-once pair semantics (at the logical level): a pair (x, y) is
emitted by precisely one micro-batch — the one in which its later member
arrives — because `candidate_pairs_incremental` only generates pairs with
at least one new member (see `operators/lsh.py`). Equivalence with the batch
LSH→verify stage over the same corpus (same config ⇒ same verified pair
set, for any split of the corpus into micro-batches, in any order) is
property-tested in `tests/test_streaming.py`; the batch pipeline's
SimHash short-doc fallback and sha256 exact-dup safety net remain batch
compactions over the store, exactly as in the bounded pipeline.

Physical caveats (same as `ingest.signatures_stream`): micro-batch progress
is tracked by the Structured Streaming checkpoint, so a restart resumes at
the failed epoch; the parquet appends themselves are transactional only on
a table format that makes them so (Iceberg/Delta) — a mid-epoch crash
between the pairs append and the store append can duplicate that epoch's
rows on parquet.

Clustering: pass `components_path` for a CONTINUOUSLY-MAINTAINED component
map — each epoch's verified pairs are contracted into the previous map via
`cc.connected_components_incremental_delta` (provably identical to a full
recompute; per-epoch compute bounded by the delta, not the corpus).
Storage is snapshot + delta: a full `v=<n>` snapshot every
`compact_every` epochs, and between snapshots a `d=<n>` delta holding
ONLY the changed rows (new nodes + relabelled members of touched
components) — so per-epoch WRITE volume is also delta-bounded, not
O(corpus). `latest_components` folds the deltas over the newest snapshot
(later epoch wins per node); the retained previous-snapshot chain is the
crash-restart point. On Iceberg the delta write becomes a MERGE into one
table. Without `components_path`, clustering stays a periodic batch
compaction (`operators.cc.connected_components` over the pairs table).
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import PipelineConfig
from ..operators.lsh import candidate_pairs_incremental
from ..operators.signature import build_signatures
from ..operators.verify import verify_pairs


def _versions(components_path: str) -> list[tuple[int, str]]:
    """Sorted [(version, kind)] for `v=<n>` snapshots / `d=<n>` deltas.

    Only FULLY COMMITTED versions count: a directory qualifies iff it
    contains Spark's `_SUCCESS` marker. A crash mid-write leaves a partial
    directory (often just `_temporary/`); without this check a restart
    would pick the partial dir as the newest version and either fail
    schema inference or — worse, under a committer that promotes files
    eagerly — silently read a truncated component map. Incomplete
    directories are left in place (the next write to the same version
    number uses mode("overwrite") and replaces them)."""
    if not os.path.isdir(components_path):
        return []
    out = []
    for d in os.listdir(components_path):
        if d.startswith(("v=", "d=")) and os.path.exists(
            os.path.join(components_path, d, "_SUCCESS")
        ):
            out.append((int(d.split("=", 1)[1]), d[0]))
    return sorted(out)


def latest_components(spark, components_path: str):
    """(DataFrame | None, latest version int) for the snapshot+delta
    component map under `components_path`: the newest `v=<n>` snapshot
    with every later `d=<m>` delta folded over it in epoch order (a
    delta's rows override the accumulated map per node)."""
    vs = _versions(components_path)
    if not vs:
        return None, -1
    snaps = [n for n, kind in vs if kind == "v"]
    base = max(snaps)
    cur = spark.read.parquet(f"{components_path}/v={base}")
    for n, kind in vs:
        if kind == "d" and n > base:
            delta = spark.read.parquet(f"{components_path}/d={n}")
            cur = cur.join(
                delta.select("node"), "node", "left_anti"
            ).unionByName(delta)
    return cur, vs[-1][0]


def store_latest_components(spark, table_store, stage: str):
    """(DataFrame | None, n_delta_epochs): the component map maintained in a
    TableStore as BASE table `stage` + append-only changelog `stage`_delta
    (the Iceberg-shaped twin of the path-based snapshot+delta layout): fold
    = base overridden per node by the latest-epoch delta row, for delta rows
    STRICTLY NEWER than the base's `folded_epoch` watermark.

    Crash-safety: compaction is two writes (replace base, truncate
    changelog) and a crash between them leaves the new base plus the
    pre-compaction delta rows. The watermark column — written atomically
    WITH the base data in the same table commit — makes that state a no-op:
    every leftover delta row has epoch_id <= folded_epoch and is ignored, so
    a half-finished compaction degrades to "changelog not yet truncated"
    instead of stale deltas overriding fresh base labels."""
    folded, _, n_delta = _fold_components(table_store, stage)
    return folded, n_delta


def _fold_components(table_store, stage: str, watermark=None, n_delta=None):
    """(folded | None, watermark, n_delta) behind `store_latest_components`.
    `watermark` and `n_delta` are read from the tables (one collect each)
    unless the caller carries them over from the epochs it wrote itself;
    the folded frame is a lazy plan either way."""
    from pyspark.sql.window import Window

    if not table_store.exists(stage):
        return None, -1, 0
    base = table_store.read(stage)
    if "folded_epoch" in base.columns:
        if watermark is None:
            row = base.select(F.max("folded_epoch").alias("w")).first()
            watermark = row["w"] if row["w"] is not None else -1
        base = base.drop("folded_epoch")
    elif watermark is None:
        watermark = -1
    delta_stage = f"{stage}_delta"
    if not table_store.exists(delta_stage):
        return base, watermark, 0
    d = table_store.read(delta_stage).filter(F.col("epoch_id") > watermark)
    if n_delta is None:
        n_delta = len(d.select("epoch_id").distinct().collect())
    if not n_delta:
        return base, watermark, 0
    w = Window.partitionBy("node").orderBy(F.col("epoch_id").desc())
    latest = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("node", "component")
    )
    folded = base.join(latest.select("node"), "node", "left_anti").unionByName(
        latest
    )
    return folded, watermark, n_delta


def neardup_stream(
    stream_df: DataFrame,
    config: PipelineConfig,
    store_path: str,
    pairs_path: str,
    checkpoint_path: str,
    key_cols: tuple[str, ...] = ("doc_id",),
    content_col: str = "content",
    filters=None,
    available_now: bool = True,
    components_path: str | None = None,
    compact_every: int = 8,
    table_store=None,
) -> StreamingQuery:
    """Start the incremental near-dup query.

    Per micro-batch: build signatures for the new documents → generate
    candidates (new × store∪new) → exact-verify → append pairs with
    `jaccard >= config.jaccard_threshold` to `pairs_path` → append the new
    signatures to `store_path`. The pairs action runs BEFORE the store
    append so the store-side read of this epoch never observes this epoch's
    own rows twice.

    `stream_df`: any streaming DataFrame carrying key_cols + content_col.
    With `available_now=True` the query drains what is currently available
    and stops (incremental-compaction mode); False = continuous.

    `table_store`: a `plans.checkpoint.TableStore` (e.g. `IcebergTableStore`
    against a real catalog) — when given, `store_path`/`pairs_path`/
    `components_path` are STAGE NAMES in that store rather than filesystem
    paths, and every write goes through the store's V2 write path with its
    params-hash resume gate and per-write lineage metrics: signatures and
    pairs are per-epoch appends; the component map is a base table +
    append-only `<stage>_delta` changelog truncated at each compaction
    (the Iceberg-shaped twin of the path-based `v=<n>`/`d=<n>` layout; on a
    real catalog the changelog naturally becomes a MERGE source). One code
    path for the 100-TB deployment: the local parquet mode below is the
    `table_store=None` degenerate case.
    """
    key_col = key_cols[0]
    # the table-store component map's fold state, carried across this
    # query's epochs so no epoch spends jobs re-reading it: the base's
    # folded_epoch watermark and the changelog epochs written past it.
    # None until the query's first epoch reads both from the tables (a
    # restarted query starts from the tables again)
    watermark = n_delta = None

    def _emit(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal watermark, n_delta
        spark = batch_df.sparkSession
        new_sigs = build_signatures(
            batch_df,
            config,
            key_cols=key_cols,
            content_col=content_col,
            filters=filters,
        ).persist()
        kept = None
        try:
            if table_store is not None:
                have_store = table_store.exists(store_path)
                all_sigs = (
                    table_store.read(store_path).unionByName(new_sigs)
                    if have_store
                    else new_sigs
                )
            elif os.path.isdir(store_path) and any(
                f.endswith(".parquet") for f in os.listdir(store_path)
            ):
                all_sigs = spark.read.parquet(store_path).unionByName(new_sigs)
            else:
                all_sigs = new_sigs
            cands = candidate_pairs_incremental(
                new_sigs, all_sigs, config.lsh, key_col
            )
            pairs = verify_pairs(cands, all_sigs, config, key_col=key_col)
            kept = pairs.filter(
                F.col("jaccard") >= config.jaccard_threshold
            ).persist()
            # always cast("long"): F.lit(int) is int32 for small epochs, and
            # mixed int32/int64 parquet files for one column make the
            # vectorized reader schema-dependent on file listing order
            tagged_pairs = kept.withColumn(
                "epoch_id", F.lit(int(epoch_id)).cast("long")
            )
            # the epoch's edge count (it sizes the CC remap broadcast) is
            # observed on the pairs write, not counted by a job of its own
            if table_store is not None:
                table_store.write(pairs_path, tagged_pairs, mode="append")
                n_edges = table_store.read_meta(pairs_path)["write_row_count"]
            else:
                obs = Observation()
                observed = tagged_pairs.observe(obs, F.count(F.lit(1)).alias("n"))
                observed.write.mode("append").parquet(pairs_path)
                n_edges = obs.get["n"]
            if components_path is not None and table_store is not None:
                from ..operators.cc import (
                    connected_components,
                    connected_components_incremental_delta,
                )

                edges = kept.select(
                    F.col("key_a").alias("src"), F.col("key_b").alias("dst")
                )
                delta_stage = f"{components_path}_delta"
                prev, watermark, n_delta = _fold_components(
                    table_store, components_path, watermark, n_delta
                )
                epoch_l = F.lit(int(epoch_id)).cast("long")
                if prev is None:
                    full = connected_components(edges)
                    # folded_epoch watermark rides IN the base table so it
                    # commits atomically with the data (see
                    # store_latest_components crash-safety note)
                    table_store.write(
                        components_path,
                        full.withColumn("folded_epoch", epoch_l),
                    )
                    # initialize the changelog empty with the final schema
                    table_store.write(
                        delta_stage,
                        full.limit(0).withColumn(
                            "epoch_id", F.lit(0).cast("long")
                        ),
                    )
                    watermark, n_delta = int(epoch_id), 0
                else:
                    from ..operators.cc import _BROADCAST_REMAP_MAX_EDGES

                    full, changed = connected_components_incremental_delta(
                        prev,
                        edges,
                        broadcast_remap=n_edges <= _BROADCAST_REMAP_MAX_EDGES,
                    )
                    if n_delta + 1 >= compact_every:
                        # compaction: rewrite the base (carrying the new
                        # folded_epoch watermark in the same commit), then
                        # truncate the changelog. A crash between the two
                        # writes is safe: leftover delta rows all have
                        # epoch_id <= the new watermark and are ignored on
                        # the next fold. localCheckpoint breaks the plan's
                        # lineage through the table being replaced (real
                        # Iceberg pins the read snapshot; a parquet-backed
                        # store would otherwise read its own overwrite)
                        full = full.localCheckpoint(eager=True)
                        table_store.write(
                            components_path,
                            full.withColumn("folded_epoch", epoch_l),
                        )
                        table_store.write(
                            delta_stage,
                            full.limit(0).withColumn(
                                "epoch_id", F.lit(0).cast("long")
                            ),
                        )
                        watermark, n_delta = int(epoch_id), 0
                    else:
                        table_store.write(
                            delta_stage,
                            changed.localCheckpoint(eager=True).withColumn(
                                "epoch_id", epoch_l
                            ),
                            mode="append",
                        )
                        # an empty delta leaves no epoch_id in the changelog,
                        # so (as in the table-derived count) it does not
                        # advance the compaction cadence
                        if table_store.read_meta(delta_stage)["write_row_count"]:
                            n_delta += 1
            elif components_path is not None:
                # continuously-maintained clustering: contract-and-merge the
                # epoch's pairs into the snapshot+delta component map —
                # per-epoch compute AND write volume bounded by the delta
                # (cc.connected_components_incremental_delta docstring).
                # Versioned dirs instead of in-place overwrite: Spark cannot
                # overwrite a path it is reading, and the retained
                # previous-snapshot chain is the crash-restart point. On
                # Iceberg this becomes a MERGE into one table.
                from ..operators.cc import (
                    connected_components,
                    connected_components_incremental_delta,
                )

                edges = kept.select(
                    F.col("key_a").alias("src"), F.col("key_b").alias("dst")
                )
                prev, v = latest_components(spark, components_path)
                snaps = [n for n, k in _versions(components_path) if k == "v"]
                last_snap = max(snaps, default=-1)
                if prev is None:
                    connected_components(edges).write.mode("overwrite").parquet(
                        f"{components_path}/v={v + 1}"
                    )
                else:
                    from ..operators.cc import _BROADCAST_REMAP_MAX_EDGES

                    full, changed = connected_components_incremental_delta(
                        prev,
                        edges,
                        broadcast_remap=n_edges <= _BROADCAST_REMAP_MAX_EDGES,
                    )
                    if v + 1 - last_snap >= compact_every:
                        # compaction epoch: full snapshot, then drop
                        # everything before the PREVIOUS snapshot (that
                        # chain stays readable as the restart point)
                        full.write.mode("overwrite").parquet(
                            f"{components_path}/v={v + 1}"
                        )
                        import shutil

                        for n, kind in _versions(components_path):
                            if n < last_snap:
                                shutil.rmtree(
                                    os.path.join(
                                        components_path, f"{kind}={n}"
                                    ),
                                    ignore_errors=True,
                                )
                    else:
                        changed.write.mode("overwrite").parquet(
                            f"{components_path}/d={v + 1}"
                        )
            if table_store is not None:
                table_store.write(store_path, new_sigs, mode="append")
            else:
                new_sigs.write.mode("append").parquet(store_path)
        finally:
            # both caches released even when an append throws — foreachBatch
            # retries in a long-lived session would otherwise accumulate
            # leaked cached partitions epoch over epoch
            if kept is not None:
                kept.unpersist()
            new_sigs.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
