"""Spans around the calls into each finchspark layer, plus the Spark task
metrics of the jobs each span ran (read back from Spark's event log).

Only the traced run installs these wrappers. A wrapper opens a span, tags
the calling thread's Spark jobs with `setJobGroup(<layer>)` and a
`perfbench.span` property, calls the layer's public function and then
materializes the lazy result (persist + count) inside the span, so the
Spark work of the layer lands in the layer's own span instead of in
whichever later action would have triggered it. That changes the execution
(the traced run measures its own overhead against untraced passes).
"""
from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("signature", "lsh", "sha", "simhash", "verify", "cc", "spandedup", "checkpoint")
LAYER_FIELDS = (
    "wall_s", "self_s", "cpu_s", "gc_s", "jobs", "tasks",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_out",
)
# Spark's SQL metric for the Python side of a mapInArrow node
PYTHON_TIME_METRIC = "time to run Python workers"
PROBE = "probe"  # the tracer's own counting jobs; belong to no layer


class Tracer:
    def __init__(self, spark, jaccard_threshold: float):
        self.sc = spark.sparkContext
        self.threshold = jaccard_threshold
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._cached: list = []
        self.active = False  # wrappers pass straight through while False

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "rows_out": 0}
        self.spans.append(rec)
        prev = {k: self.sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description", "perfbench.span")}
        self.sc.setJobGroup(name, f"perfbench {name} span {sid}")
        self.sc.setLocalProperty("perfbench.span", str(sid))
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)

    # -- materialization -------------------------------------------------
    def materialize(self, df):
        df = df.persist()
        self._cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def probe(self, fn):
        with self.span(PROBE):
            return fn()

    # -- install / remove --------------------------------------------------
    def _wrap(self, owner, attr: str, layer: str, after) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(layer) as rec:
                return after(rec, orig, args, kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layers' public functions for the rest of the process."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from finchspark.operators import cc, spandedup
        from finchspark.plans import checkpoint, pipeline
        from finchspark.streaming import neardup

        def frame(rec, orig, args, kwargs):
            out = orig(*args, **kwargs)
            out, rec["rows_out"] = self.materialize(out)
            return out

        def candidates(rec, orig, args, kwargs):
            pairs, overflow = orig(*args, **kwargs)
            pairs, rec["rows_out"] = self.materialize(pairs)
            overflow, n_over = self.materialize(overflow)
            self.counters["lsh.candidates"] += rec["rows_out"]
            self.counters["lsh.overflow_buckets"] += n_over
            return pairs, overflow

        def candidates_incremental(rec, orig, args, kwargs):
            out = frame(rec, orig, args, kwargs)
            self.counters["lsh.candidates"] += rec["rows_out"]
            return out

        def verify(rec, orig, args, kwargs):
            from pyspark.sql import functions as F

            out = frame(rec, orig, args, kwargs)
            self.counters["verify.kept"] += self.probe(
                lambda: out.filter(F.col("jaccard") >= self.threshold).count()
            )
            return out

        def components(rec, orig, args, kwargs):
            edges = args[0] if args else kwargs["edges"]
            if not self._nested_in("cc"):
                self.counters["cc.edges_in"] += self.probe(edges.count)
            return frame(rec, orig, args, kwargs)

        def components_delta(rec, orig, args, kwargs):
            # (full, changed) stay lazy: the epoch writes only one of them,
            # so forcing both would add work the untraced epoch never does
            edges = args[1] if len(args) > 1 else kwargs["new_edges"]
            self.counters["cc.edges_in"] += self.probe(edges.count)
            return orig(*args, **kwargs)

        def store_write(rec, orig, args, kwargs):
            store, stage = args[0], args[1]
            out = orig(*args, **kwargs)
            rec["rows_out"] = store.read_meta(stage)["write_row_count"]
            return out

        for mod in (pipeline, neardup):
            self._wrap(mod, "build_signatures", "signature", frame)
            self._wrap(mod, "verify_pairs", "verify", verify)
        self._wrap(pipeline, "candidate_pairs", "lsh", candidates)
        self._wrap(neardup, "candidate_pairs_incremental", "lsh", candidates_incremental)
        self._wrap(pipeline, "exact_dup_pairs_sha", "sha", frame)
        self._wrap(pipeline, "simhash_candidate_pairs", "simhash", frame)
        self._wrap(pipeline, "connected_components", "cc", components)
        self._wrap(cc, "connected_components", "cc", components)
        self._wrap(cc, "connected_components_incremental_delta", "cc", components_delta)
        self._wrap(spandedup, "span_dedup_pairs", "spandedup", frame)
        self._wrap(checkpoint.TableStore, "write", "checkpoint", store_write)

        orig_fb = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            def epoch(batch_df, epoch_id):
                if not tracer.active:
                    return func(batch_df, epoch_id)
                with tracer.span("stream"):
                    try:
                        return func(batch_df, epoch_id)
                    finally:
                        tracer.release()

            return orig_fb(writer, epoch)

        DataStreamWriter.foreachBatch = foreach_batch

    def _nested_in(self, name: str) -> bool:
        """Whether a span enclosing the current one is called `name`."""
        return any(self.spans[s]["name"] == name for s in self._stack[:-1])


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def span_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: wall (outermost spans of that name only, so a layer
    nested in itself is not counted twice) and self time (duration minus
    the union of its children's intervals)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"wall_s": 0.0, "self_s": 0.0, "rows_out": 0})
    for s in spans:
        dur = s["end"] - s["start"]
        o = out[s["name"]]
        o["self_s"] += dur - _covered(children[s["id"]])
        o["rows_out"] += s["rows_out"]
        p, nested = s["parent"], False
        while p is not None:
            if spans[p]["name"] == s["name"]:
                nested = True
                break
            p = spans[p]["parent"]
        if not nested:
            o["wall_s"] += dur
    return out


def read_event_log(log_dir: str) -> dict:
    """Task metrics per span id, job counts per span and per streaming
    batch, and the Python-worker time of SQL nodes, from the event log of
    the (stopped) application in `log_dir`."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_span: dict[int, str | None] = {}
    per_span: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    batch_jobs: dict[int, int] = defaultdict(int)
    tasks = failed = 0
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                per_span[props.get("perfbench.span")]["jobs"] += 1
                batch = props.get("streaming.sql.batchId")
                if batch is not None:
                    batch_jobs[int(batch)] += 1
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_span[ev["Stage Info"]["Stage ID"]] = props.get("perfbench.span")
            elif kind == "SparkListenerTaskEnd":
                agg = per_span[stage_span.get(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                tasks += 1
                agg["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    failed += 1
                    agg["failed_tasks"] += 1
                agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                agg["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 1e6
                agg["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") == PYTHON_TIME_METRIC:
                        # a "timing" SQL metric (milliseconds); it includes
                        # the worker start and initialization times
                        per_span[stage_span.get(info["Stage ID"])]["python_s"] += float(acc["Value"]) / 1e3
    return {"per_span": per_span, "batch_jobs": batch_jobs, "tasks": tasks, "failed_tasks": failed}


def trace_metrics(tracer: Tracer, events: dict, plain: list[float], traced: list[float],
                  kernels: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics, per traced sample (a batch pass or a stream
    epoch): span times and counts from `tracer`, Spark task metrics from
    `events` (see `read_event_log`), one-core kernel rates from `kernels`."""
    n = len(traced)
    times = span_times(tracer.spans)
    by_layer: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, agg in events["per_span"].items():
        if sid is not None:
            for k, v in agg.items():
                by_layer[tracer.spans[int(sid)]["name"]][k] += v
    out: dict[str, float] = dict(kernels)
    for layer in LAYERS:
        t, sp = times.get(layer, {}), by_layer.get(layer, {})
        for field in LAYER_FIELDS:
            out[f"{layer}.{field}"] = (t if field in ("wall_s", "self_s", "rows_out") else sp).get(field, 0.0) / n
    roots = [(s["start"], s["end"]) for s in tracer.spans if s["parent"] is None]
    out["other.self_s"] = (sum(traced) - _covered(roots)) / n
    out["stream.self_s"] = times.get("stream", {}).get("self_s", 0.0) / n
    out["signature.udf_s"] = by_layer.get("signature", {}).get("python_s", 0.0) / n
    out["signature.boundary_s"] = out["signature.udf_s"] - kernels["kernels.signature_chain_s"]
    c = tracer.counters
    out["lsh.candidates"] = c["lsh.candidates"] / n
    out["lsh.overflow_buckets"] = c["lsh.overflow_buckets"] / n
    out["cc.edges_in"] = c["cc.edges_in"] / n
    out["verify.yield"] = c["verify.kept"] / c["lsh.candidates"] if c["lsh.candidates"] else 0.0
    out["stream.jobs_per_epoch"] = 0
    out["stream.add_batch_p50_s"] = 0.0
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    out["trace.overhead_ratio"] = out["trace.overhead_s"] / statistics.median(plain)
    out["trace.samples"] = n
    return out
