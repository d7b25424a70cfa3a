"""Layered benchmark of the finchspark near-duplicate pipeline.

    python3 perfbench/run.py --workload bulk|dense|stream --seed N \
        --seconds S --trace 0|1

Run from the repository root. Each run starts one local Spark session,
warms it up on the workload, then repeats the workload's sample (a batch
pass or a stream epoch) until `--seconds` have been measured (a stream
measures whole compaction cycles), checks the outputs, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` they are the per-layer ones (see perfbench/spans.py and
perfbench/README.md). Inputs are generated from the seed and cached under
`.bench_build/perfbench/`; everything else the run writes lives in a
per-process work directory there and is removed at exit.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time


def _process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
MIN_SAMPLES = 2
# task slots: at these input sizes the pipeline is bound by per-job latency,
# and two slots leave CPU to Spark's own JVM threads, this process and the JIT
# (measured steadier than four on a 4-vCPU box)
CORES = 2
EPOCH_TIMEOUT_S = 120
SPAN_SAMPLE = 300
# the component map's compaction interval in the repository's streaming
# scaling run (scripts/stream_scaling.py); the library default, 8, makes a
# stream run too long for the benchmark's time budget (see README.md)
STREAM_COMPACT_EVERY = 4


class RssSampler(threading.Thread):
    """Peak summed RSS of the Spark JVM and the Python workers (every
    `java` or `python*` process descended from this one), sampled from /proc
    until `stop()`. A child the JVM has forked but not yet exec'd shares
    the JVM's pages and carries a thread's name, so it is not counted."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval, self.peak, self._halt = interval, 0, threading.Event()
        self.at_peak: dict[str, list[int]] = {}  # command -> RSS of each process
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> dict[str, list[int]]:
        rss: dict[str, list[int]] = {}
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                if comm != "java" and not comm.startswith("python"):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    rss.setdefault(comm, []).append(int(f.read().split()[1]) * self._page)
            except OSError:
                continue
        return rss

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            rss = self._sample()
            total = sum(map(sum, rss.values()))
            if total > self.peak:
                self.peak, self.at_peak = total, rss

    def stop(self) -> None:
        self._halt.set()
        self.join()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def descendants() -> set[int]:
    """Every live process below this one, from /proc."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    return mine


def start_spark(work: str, cores: int, event_log: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM (the launcher too) keeps its temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # one shuffle partition per task slot: at these input sizes each
        # extra task is overhead (stream epochs ran about 20% faster than
        # with two per slot on a 4-vCPU box)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both (and the
    Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        os.kill(pid, 9)


# ----------------------------------------------------------------- outputs


def read_table(path, cols: list[str]):
    """Columns `cols` of a parquet file, directory or list of files."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(columns=cols)


def table_digest(path: str, cols: list[str]) -> tuple[int, str]:
    """(rows, sha256 of the rows sorted by `cols`) of a parquet directory."""
    t = read_table(path, cols).sort_by([(c, "ascending") for c in cols])
    h = hashlib.sha256()
    for c in cols:
        h.update(t.column(c).combine_chunks().to_numpy(zero_copy_only=False).tobytes())
    return t.num_rows, h.hexdigest()


def read_components(path: str) -> dict[int, int]:
    t = read_table(path, ["node", "component"])
    return dict(zip(t.column("node").to_pylist(), t.column("component").to_pylist()))


def recall(pairs, labels, exact_labels, comp: dict[int, int]) -> tuple[float, int]:
    """(share of planted pairs with a label in `labels` clustered together,
    planted pairs with a label in `exact_labels` not clustered together)."""
    hit = total = exact_missed = 0
    for a, b, label in pairs:
        if label not in labels:
            continue
        together = a in comp and comp.get(a) == comp.get(b)
        total += 1
        hit += together
        exact_missed += label in exact_labels and not together
    return hit / total, exact_missed


def union_find(pairs) -> dict[int, int]:
    """node -> smallest node of its connected component, over `pairs`."""
    parent: dict[int, int] = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def keys(path) -> list[tuple[int, int]]:
    t = read_table(path, ["key_a", "key_b"])
    return list(zip(t.column("key_a").to_pylist(), t.column("key_b").to_pylist()))


def measure(step, seconds: float) -> list[float]:
    """Repeat `step()` (which returns its own time) until `seconds` are
    spent, and at least MIN_SAMPLES times."""
    samples: list[float] = []
    start = time.perf_counter()
    while True:
        samples.append(step())
        spent = time.perf_counter() - start
        if len(samples) >= MIN_SAMPLES and spent + statistics.median(samples) > seconds:
            return samples


# --------------------------------------------------------------- workloads


class Batch:
    """bulk / dense: `near_duplicates` with a TableStore, from documents to
    components written; dense then runs `span_dedup_pairs` over a seeded
    sample of the verified pairs that are not byte-identical. One sample is
    one such pass."""

    # planted pairs the pipeline must recover (near_mid and containment
    # pairs may legitimately fall below the 0.8 Jaccard threshold)
    recall_labels = {"exact", "exact_short", "near_high", "near_chain"}
    exact_labels = {"exact", "exact_short"}

    def __init__(self, spark, cfg, corpus_path: str, work: str, seed: int, n_docs: int, spans: bool):
        self.spark, self.cfg, self.seed, self.spans = spark, cfg, seed, spans
        self.docs_path = os.path.join(corpus_path, "docs")
        self.out = os.path.join(work, "run")
        self.files = n_docs
        self.digests: list[dict] = []
        self.ingested = None  # every document
        self.after_pass = None  # called after each pass, outside its time

    def _pass(self) -> float:
        from pyspark.sql import functions as F

        from finchspark.operators import spandedup
        from finchspark.plans import pipeline
        from finchspark.plans.checkpoint import TableStore

        shutil.rmtree(self.out, ignore_errors=True)
        t = time.perf_counter()
        store = TableStore(self.out, self.cfg.params_hash(), run_id="perfbench")
        docs = self.spark.read.parquet(self.docs_path)
        res = pipeline.near_duplicates(docs, self.cfg, store=store)
        if self.spans:
            sample = (
                res.pairs.filter(F.col("jaccard") < 1.0)
                .orderBy(F.xxhash64("key_a", "key_b", F.lit(self.seed)))
                .limit(SPAN_SAMPLE)
            )
            spandedup.span_dedup_pairs(sample, docs, min_len=64).drop("spans").write.parquet(
                os.path.join(self.out, "spans")
            )
        wall = time.perf_counter() - t
        self.digests.append(self._digest())
        if self.after_pass:
            self.after_pass()
        return wall

    def _digest(self) -> dict:
        d = {
            "pairs": table_digest(self.pairs_path(), ["key_a", "key_b", "jaccard", "containment"]),
            "components": table_digest(os.path.join(self.out, "components"), ["node", "component"]),
        }
        if self.spans:
            d["spans"] = table_digest(
                os.path.join(self.out, "spans"), ["key_a", "key_b", "n_spans", "longest_span", "coverage_a"]
            )
        return d

    def warm_up(self) -> list[float]:
        return [self._pass()]

    def measure(self, seconds: float) -> list[float]:
        return measure(self._pass, seconds)

    def files_per_s(self, samples: list[float]) -> float:
        return self.files / statistics.median(samples)

    def finish(self) -> None:
        pass

    def errors(self) -> list[str]:
        if any(d != self.digests[0] for d in self.digests):
            return ["pair, component or span checksums differ between passes"]
        return []

    def components(self) -> dict[int, int]:
        return read_components(os.path.join(self.out, "components"))

    def pairs_path(self) -> str:
        return os.path.join(self.out, "pairs")

    def signature_inputs(self):
        """Parquet path(s) of the documents one sample sketches."""
        return self.docs_path


class Stream:
    """stream: one `neardup_stream(components_path=..., table_store=...)`
    query fed a closed loop of parquet files, each its own epoch: the next
    file arrives when the previous epoch has committed. The first file is
    the preload (it fills the signature store and the component map, and
    warms the session up); the rest are equal micro-batches. One sample is
    one epoch, trigger start to commit. Epochs are measured in whole
    compaction cycles, so every measurement holds delta and compaction
    epochs in the ratio `compact_every` sets."""

    # zero-shingle docs have no LSH bands and the stream has no sha path
    recall_labels = {"exact", "near_high"}
    exact_labels = {"exact"}

    def __init__(self, spark, cfg, corpus_path: str, work: str):
        from finchspark.plans.checkpoint import TableStore

        self.spark, self.cfg, self.work = spark, cfg, work
        batch_dir = os.path.join(corpus_path, "batches")
        self.pending = [os.path.join(corpus_path, "preload.parquet")] + sorted(
            os.path.join(batch_dir, f) for f in os.listdir(batch_dir)
        )
        self.fed: list[str] = []
        self.store = TableStore(os.path.join(work, "tables"), cfg.params_hash(), run_id="perfbench")
        self.src = os.path.join(work, "source")
        os.makedirs(self.src)
        self.query = None
        self.files = 0
        self.window_s = 0.0
        # batch id, seconds, addBatch seconds, compacted: per measured epoch
        self.epochs: list[dict] = []
        self._base = None  # write id of the component map's base table
        self.ingested: set[int] = set()

    def _epoch(self) -> float:
        """Feed the next batch file and wait for its epoch to commit."""
        batch_id = len(self.fed)
        path = self.pending.pop(0)
        self.fed.append(path)
        os.symlink(path, os.path.join(self.src, os.path.basename(path)))
        deadline = time.time() + EPOCH_TIMEOUT_S
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            p = self.query.lastProgress
            if p and p["batchId"] == batch_id and p["numInputRows"] > 0:
                break
            if time.time() > deadline:
                raise RuntimeError(f"epoch {batch_id} did not commit in {EPOCH_TIMEOUT_S} s")
            time.sleep(0.02)
        # a compaction epoch rewrites the component map's base table
        base = self.store.read_meta("components")["write_id"]
        self.epochs.append({
            "batch": batch_id, "s": p["durationMs"]["triggerExecution"] / 1e3,
            "add_batch": p["durationMs"]["addBatch"] / 1e3, "compacted": base != self._base,
        })
        self._base = base
        self.files += p["numInputRows"]
        return self.epochs[-1]["s"]

    def warm_up(self) -> list[float]:
        from finchspark.streaming.neardup import neardup_stream

        stream_df = (
            self.spark.readStream.schema("doc_id long, content string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = neardup_stream(
            stream_df, self.cfg, "signatures", "pairs", os.path.join(self.work, "checkpoint"),
            available_now=False, components_path="components",
            compact_every=STREAM_COMPACT_EVERY, table_store=self.store,
        )
        return [self._epoch()]

    def measure(self, seconds: float) -> list[float]:
        """Whole compaction cycles (delta epochs up to and including the one
        that compacts) until `seconds` are spent, at least one."""
        self.files, self.epochs = 0, []
        start = time.perf_counter()
        cycle = 0
        while True:
            if not self.pending:
                raise RuntimeError("the corpus ran out of batch files inside a compaction cycle")
            self._epoch()
            cycle += 1
            if self.epochs[-1]["compacted"]:
                if time.perf_counter() - start >= seconds or len(self.pending) < cycle:
                    break
                cycle = 0
        self.window_s = time.perf_counter() - start
        log("epochs " + " ".join(f"{e['s']:.3f}" + "c" * e["compacted"] for e in self.epochs) + " s (c: compaction)")
        return [e["s"] for e in self.epochs]

    def files_per_s(self, samples: list[float]) -> float:
        return self.files / self.window_s

    def finish(self) -> None:
        self.query.stop()
        self.query.awaitTermination()
        self.ingested = set(read_contents(self.fed))

    def errors(self) -> list[str]:
        """The union of the stream's pairs must equal the batch
        candidate_pairs -> verify_pairs pair set over the same documents,
        and the incrementally kept component map must equal a full
        recompute over those pairs."""
        from pyspark.sql import functions as F

        from finchspark.operators.lsh import candidate_pairs
        from finchspark.operators.verify import verify_pairs

        sigs = self.store.read("signatures")
        cands, overflow = candidate_pairs(sigs, self.cfg.lsh)
        if overflow.count():
            return ["the stream corpus overflowed an LSH bucket, so the equivalence does not apply"]
        batch = {
            (r["key_a"], r["key_b"])
            for r in verify_pairs(cands, sigs, self.cfg)
            .filter(F.col("jaccard") >= self.cfg.jaccard_threshold)
            .select("key_a", "key_b")
            .collect()
        }
        streamed = keys(self.pairs_path())
        out = []
        if len(streamed) != len(set(streamed)):
            out.append("the stream emitted a pair twice")
        if set(streamed) != batch:
            out.append(f"stream pairs ({len(set(streamed))}) != batch pairs ({len(batch)})")
        if self.components() != union_find(streamed):
            out.append("the incremental component map differs from a full recompute")
        return out

    def components(self) -> dict[int, int]:
        from finchspark.streaming.neardup import store_latest_components

        comp, _ = store_latest_components(self.spark, self.store, "components")
        return {r["node"]: r["component"] for r in comp.collect()}

    def pairs_path(self) -> str:
        return os.path.join(self.work, "tables", "pairs")

    def signature_inputs(self):
        return self.fed[-1:]


# -------------------------------------------------------------------- main


def pipeline_config():
    """`scripts/submit_pipeline.py` defaults: k=21, bottom-128, J >= 0.8,
    16 bands x 4 rows, bucket cap 2000."""
    from finchspark.config import LshConfig, PipelineConfig
    from finchspark.kernels import SketchParams

    return PipelineConfig(
        sketch=SketchParams(kmers_to_sketch=128, final_size=128, kmer_length=21, hash_seed=0),
        lsh=LshConfig(n_bands=16, n_rows=4, bucket_cap=2000),
        jaccard_threshold=0.8,
    )


def task_counts(spark, groups) -> tuple[int, int]:
    """(tasks attempted, tasks failed) of the jobs of `groups` (None: jobs
    without a group; a streaming query's jobs run in a group named after
    its run id), from the status tracker."""
    st = spark.sparkContext.statusTracker()
    stages = set()
    for g in groups:
        for job in st.getJobIdsForGroup(g):
            info = st.getJobInfo(job)
            stages.update(info.stageIds if info else ())
    attempted = failed = 0
    for stage in stages:
        s = st.getStageInfo(stage)
        if s:
            attempted += s.numCompletedTasks + s.numFailedTasks
            failed += s.numFailedTasks
    return attempted, failed


def metric_units() -> dict[str, str]:
    """Unit of every metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def read_contents(files) -> dict[int, bytes]:
    t = read_table(files, ["doc_id", "content"])
    return {i: c.encode() for i, c in zip(t.column("doc_id").to_pylist(), t.column("content").to_pylist())}


def kernel_metrics(wl, cfg) -> tuple[dict[str, float], str | None]:
    import corpus
    from kernel_rates import rates, signature_chain_s

    sig_docs = read_contents(wl.signature_inputs())
    contents = read_contents(wl.docs_path if isinstance(wl, Batch) else wl.fed)
    sig_contents = [sig_docs[i] for i in sorted(sig_docs)]
    t = read_table(wl.pairs_path(), ["key_a", "key_b", "jaccard"]).sort_by([("key_a", "ascending"), ("key_b", "ascending")])
    pairs = list(zip(t.column("key_a").to_pylist(), t.column("key_b").to_pylist()))
    out, err = rates(sig_contents, contents, pairs, t.column("jaccard").to_pylist(), cfg)
    rows = -(-len(sig_contents) // corpus.N_FILES) if isinstance(wl, Batch) else len(sig_contents)
    out["kernels.signature_chain_s"] = signature_chain_s(sig_contents, cfg, rows)
    return out, err


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("bulk", "dense", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.perf_counter() - _process_age()

    if not os.path.isfile(os.path.join(ROOT, "finchspark", "__init__.py")):
        log("run from the repository root (finchspark/ not found)")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # the C kernel caches its build under the temp dir: keep it in the checkout
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    import corpus

    t_gen = time.perf_counter()
    corpus_path = corpus.ensure(os.path.join(CACHE, "corpus"), args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    log(f"corpus {corpus_path} ready in {gen_s:.2f} s (not part of set-up)")
    truth = corpus.load_truth(corpus_path)

    work = os.path.join(CACHE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure_and_check(args, corpus_path, truth, t0 + gen_s, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure_and_check(args, corpus_path: str, truth: dict, t0: float, work: str) -> int:
    """Everything after corpus generation; `t0` is the process start plus
    the time corpus generation took, so set-up time leaves generation out."""
    event_log = os.path.join(work, "eventlog") if args.trace else None
    cfg = pipeline_config()
    sampler = RssSampler()
    sampler.start()
    spark = tracer = None
    try:
        spark = start_spark(work, min(CORES, len(os.sched_getaffinity(0))), event_log)
        if args.trace:
            from spans import Tracer

            # installed before the stream query starts (it wraps the
            # query's foreachBatch function); records nothing until active
            tracer = Tracer(spark, cfg.jaccard_threshold)
            tracer.install()
        if args.workload == "stream":
            wl = Stream(spark, cfg, corpus_path, work)
        else:
            wl = Batch(spark, cfg, corpus_path, work, args.seed, truth["n_docs"], spans=args.workload == "dense")
        t_ready = time.perf_counter() - t0
        warm = wl.warm_up()
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f} s: session and inputs {t_ready:.2f} s, warm-up "
            f"{[round(x, 2) for x in warm]} s")

        if args.trace:
            # untraced samples for half of --seconds, then traced ones
            if isinstance(wl, Batch):
                wl.after_pass = tracer.release
            plain = wl.measure(args.seconds / 2)
            plain_epochs = wl.epochs if isinstance(wl, Stream) else []
            tracer.active = True
            traced = wl.measure(args.seconds / 2)
            tracer.active = False
            log(f"untraced {[round(x, 3) for x in plain]} s; traced {[round(x, 3) for x in traced]} s")
        else:
            samples = wl.measure(args.seconds)
            log(f"samples {[round(x, 3) for x in samples]} s")
        sampler.stop()
        log(f"peak RSS {sampler.peak / 1e6:.0f} MB: " + ", ".join(
            f"{comm} {[round(r / 1e6) for r in v]}" for comm, v in sorted(sampler.at_peak.items())))
        wl.finish()

        t_check = time.perf_counter()
        errors = wl.errors()
        planted = [(a, b, lab) for a, b, lab in truth["pairs"] if wl.ingested is None or (a in wl.ingested and b in wl.ingested)]
        pair_recall, exact_missed = recall(planted, wl.recall_labels, wl.exact_labels, wl.components())
        if exact_missed:
            errors.append(f"{exact_missed} planted exact pairs not clustered")
        log(f"output checks {time.perf_counter() - t_check:.2f} s")
        if args.trace:
            kernels, err = kernel_metrics(wl, cfg)
            errors.append(err)
        else:
            groups = [None] + ([str(wl.query.runId)] if isinstance(wl, Stream) else [])
            attempted, failed = task_counts(spark, groups)
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)

    if args.trace:
        from spans import read_event_log, trace_metrics

        events = read_event_log(event_log)
        metrics = trace_metrics(tracer, events, plain, traced, kernels)
        if isinstance(wl, Stream):
            # the untraced cycle: the tracer's own jobs would inflate a traced one
            jobs = [events["batch_jobs"][e["batch"]] for e in plain_epochs]
            log(f"jobs per untraced epoch {jobs}")
            metrics["stream.jobs_per_epoch"] = sum(jobs) / len(jobs)
            metrics["stream.add_batch_p50_s"] = statistics.median(e["add_batch"] for e in plain_epochs)
        attempted, failed = events["tasks"], events["failed_tasks"]
        n_samples = len(warm) + len(plain) + len(traced)
    else:
        metrics = {
            "setup_s": setup_s,
            "files_per_s": wl.files_per_s(samples),
            "epoch_p50_s": statistics.median(samples),
            "pair_recall": pair_recall,
            "peak_rss_mb": sampler.peak / 1e6,
        }
        n_samples = len(warm) + len(samples)
    # every pass or epoch is one more attempted operation
    attempted += n_samples
    if args.trace:
        metrics["failure_ratio"] = failed / attempted
    errors = [e for e in errors if e]
    for e in errors:
        log(f"check failed: {e}")
    units = metric_units()
    metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
