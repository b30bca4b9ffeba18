#!/usr/bin/env python3
"""Benchmark of the transcript validator, end to end and layer by layer.

Run from the repository root (Python workers import the package from it):

    python3 perfbench/run.py --workload agent_batch --seed 1 --seconds 4 --trace 0

Workloads, all from ``datagen.gen_transcript_pair`` with the given seed and
its default divergence mix, on ``local[nproc]``:

* ``agent_batch``  — the batch job as ``validate_transcripts --mode batch``
  runs it, ≈ 176 k turns: scan → JSON normalize → fingerprint → per-side
  dedup → full-outer classify → classified parquet written → status totals
  collected from it.
* ``agent_stream`` — ``run_streaming_validation`` with the CLI's arguments
  (``dedup_keys=True``, the session's state store, ``TallyForeachBatch``),
  ≈ 67 k turns cut by event time into waves; ``availableNow`` with one wave
  per micro-batch: a closed loop, the next wave is admitted after the
  previous one commits. Totals are ``report()`` summed over windows.
* ``chat_batch``   — ``agent_batch`` with ``tool`` null on both sides, the
  no-JSON control; not in ``BENCHMARK.json``, run it by hand.

A run sets up once (JVM launch, SparkSession, one untimed warm-up pass over
the corpus: ``setup_s``), then runs timed passes for ``--seconds`` and at
least ``MIN_PASSES``. Each pass gets fresh output and checkpoint paths and is
checked: its status totals must equal the generator's ``expected``, or the
pass counts as failed, as does one that raises or times out.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` and ``turns_per_s``
(input turns of both sides over the median pass wall). ``--trace 1`` enables
a Spark event log and prints the per-layer metrics: the batch layer ladder,
Python UDF, shuffle and task-CPU totals from the event log, streaming phases,
state and median micro-batch commit time from the progress events, sink
times from wrapped sink callables and the memory peak.
The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. Host context, samples and spans go to
``.perfbench_out/``; scratch files go to ``.perfbench_work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "corpus_digests.json")

# agent_batch and agent_stream are the benchmark's workloads (BENCHMARK.json);
# chat_batch, the no-JSON control of agent_batch, runs on request
WORKLOADS = ("agent_batch", "agent_stream", "chat_batch")
BATCH_CONVS = 8_000       # ≈ 176 k turns over both sides
STREAM_CONVS = 3_000      # ≈ 67 k turns over both sides
WAVES = 2                 # event-time waves of the streaming corpus
N_FILES = 4               # parquet files per side of a batch corpus
# timed passes per run, at least: the JVM still speeds up from pass to pass,
# so a run that stops on time alone would take its median over more, faster
# passes on a quiet host than on a busy one; with --seconds below the time
# these passes take, every run times the same passes
MIN_PASSES = {"batch": 3, "stream": 1}
TINY_CONVS = 150          # --tiny: a few thousand turns, for the harness self-check
PASS_TIMEOUT_S = 90.0
JOIN, DEDUP = "symmetricHashJoin", "dedupeWithinWatermark"  # state operator names
# the micro-batch phases whose sum is the streaming layers' coverage
STREAM_PHASES = ("sources.latest_offset_s", "streaming.planning_s",
                 "streaming.add_batch_s", "streaming.wal_commit_s")


def same_totals(totals: dict[str, int], expected: dict[str, int]) -> bool:
    """Status totals equal, a status absent from the output counting 0."""
    return totals == {k: v for k, v in expected.items() if v}


class Bench:
    """One Spark session in one JVM for the whole run.

    The session is built once: a second ``get_spark`` after ``stop()`` in the
    same JVM leaves the cached JSON UDF bound to the old context's
    accumulator server (broken-pipe errors on every task).
    """

    def __init__(self, workload: str, work: str):
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.stream = workload == "agent_stream"
        self.spark = None
        self.seq = 0
        self.state_store = None  # provider the streaming job reported

    def fresh(self, kind: str) -> str:
        self.seq += 1
        return os.path.join(self.work, "out", f"{kind}-{self.seq:04d}")

    def start(self, extra: dict) -> None:
        from spanner_data_validator_spark.session import get_spark

        # JVM temp files in the run's own directory; no hsperfdata file,
        # which HotSpot would write under /tmp whatever java.io.tmpdir says
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                "-XX:+PerfDisableSharedMem", **extra}
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.nproc}]",
                               extra_conf=conf)

    def shutdown(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the launcher exits when its stdin closes
            gw.proc.wait(60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ---- one pass of the pipeline ----------------------------------------
    def batch_pass(self, src: str, tgt: str) -> dict[str, int]:
        from spanner_data_validator_spark.jobs.validate_transcripts import (
            run_batch_validation,
        )

        out = self.fresh("classified")
        run_batch_validation(self.spark, src, tgt).write.mode("overwrite").parquet(out)
        rows = self.spark.read.parquet(out).groupBy("status").count().collect()
        return {r["status"]: r["count"] for r in rows}

    def stream_pass(self, src: str, tgt: str) -> dict[str, int]:
        from pyspark.sql import functions as F

        from spanner_data_validator_spark.jobs.validate_transcripts import (
            run_streaming_validation,
        )

        # a fresh checkpoint and output per pass: a reused path fails with
        # STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY under RocksDB
        sink = run_streaming_validation(
            self.spark, src, tgt, self.fresh("stream_out"), self.fresh("ckpt"),
            dedup_keys=True, available_now=True, max_files_per_trigger=1,
            timeout_s=PASS_TIMEOUT_S)
        self.state_store = sink.state_store
        rows = sink.report(self.spark).groupBy("status").agg(F.sum("n").alias("n")).collect()
        return {r["status"]: int(r["n"]) for r in rows}

    def run_pass(self, corpus_dirs, stream: bool):
        """One pass under a watchdog that cancels its Spark jobs at the
        timeout; returns (wall seconds, status totals)."""
        watchdog = threading.Timer(PASS_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        watchdog.start()
        t0 = time.perf_counter()
        try:
            totals = (self.stream_pass if stream else self.batch_pass)(*corpus_dirs)
        finally:
            watchdog.cancel()
        return time.perf_counter() - t0, totals

    def timed(self, corpus_dirs, expected, stream: bool, listener, seconds: float,
              spans=None) -> dict:
        """Passes back to back until ``seconds`` have passed (the last one
        runs to its end) and at least ``MIN_PASSES`` have run. With
        ``spans``, each pass is traced: a span around it and timed sink
        callables."""
        from probes import wrap_sinks

        passes, attempted, failed = [], 0, 0
        deadline = time.perf_counter() + seconds
        min_passes = MIN_PASSES["stream" if stream else "batch"]
        while attempted < min_passes or time.perf_counter() < deadline:
            traced = spans is not None
            attempted += 1
            start = time.time()
            try:
                if traced:
                    with wrap_sinks(spans), spans.span("pass"):
                        wall, totals = self.run_pass(corpus_dirs, stream)
                else:
                    wall, totals = self.run_pass(corpus_dirs, stream)
            except Exception:  # a failed pass is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
                if stream:
                    listener.settle()  # keep its events out of the next pass
                continue
            rec = {"wall": wall, "window": (start, time.time()), "traced": traced}
            if stream:
                rec["progress"] = listener.settle()
            passes.append(rec)
            if not same_totals(totals, expected):
                print(f"pass {attempted}: totals {totals} != expected {expected}",
                      file=sys.stderr)
                failed += 1
        return {"passes": passes, "attempted": attempted, "failed": failed}


def stream_layers(passes: list[dict], spans) -> dict:
    """Streaming phase, state and sink figures per stream pass: phases and
    state from the progress events of every pass, sink times from the spans
    of the traced ones."""
    events = [e for p in passes for e in p["progress"]]
    states = [s for e in events for s in e.get("stateOperators", [])]
    per = len(passes)
    per_traced = sum(p["traced"] for p in passes)

    def dur(key: str) -> float:
        return sum(e["durationMs"].get(key, 0) for e in events) / 1000.0 / per

    def op(name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in states if s["operatorName"] == name) / 1000.0 / per

    def peak(key: str) -> float:
        return max((sum(s[key] for s in e.get("stateOperators", [])
                        if s["operatorName"] == JOIN) for e in events), default=0)

    def sink(name: str) -> float:
        return sum(spans.durations(name)) / per_traced

    return {
        "sources.latest_offset_s": (dur("latestOffset"), "s"),
        "streaming.planning_s": (dur("queryPlanning"), "s"),
        "streaming.add_batch_s": (dur("addBatch"), "s"),
        "streaming.wal_commit_s": (dur("walCommit"), "s"),
        "streaming.join.update_task_s": (op(JOIN, "allUpdatesTimeMs"), "s"),
        "streaming.join.removal_task_s": (op(JOIN, "allRemovalsTimeMs"), "s"),
        "streaming.join.commit_task_s": (op(JOIN, "commitTimeMs"), "s"),
        "streaming.join.state_rows_peak": (peak("numRowsTotal"), "rows"),
        "streaming.join.state_mb_peak": (peak("memoryUsedBytes") / 2**20, "MB"),
        "streaming.dedup.update_task_s": (op(DEDUP, "allUpdatesTimeMs"), "s"),
        "streaming.dedup.commit_task_s": (op(DEDUP, "commitTimeMs"), "s"),
        "streaming.late_rows_dropped": (
            sum(s.get("numRowsDroppedByWatermark", 0) for s in states) / per, "rows"),
        "streaming.sink.call_s": (sink("streaming.sink.call"), "s"),
        "streaming.sink.classified_s": (sink("streaming.sink.classified"), "s"),
        "streaming.sink.tallies_s": (sink("streaming.sink.tallies"), "s"),
        "streaming.sink.mismatches_s": (sink("streaming.sink.mismatches"), "s"),
        "streaming.microbatches": (len(events) / per, "count"),
        "streaming.wave_commit_p50_s": (statistics.median(
            e["durationMs"]["triggerExecution"] / 1000.0 for e in events), "s"),
    }


def host_context(b: Bench) -> dict:
    import pandas
    import pyarrow
    import pyspark

    from spanner_data_validator_spark.session import STATE_STORE_CLASSES

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    spark = b.spark
    provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    return {
        "nproc": b.nproc,
        "mem_total_mb": mem_kb // 1024,
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
        "state_store": b.state_store or next(
            (k for k, v in STATE_STORE_CLASSES.items() if v == provider), provider),
        "spark": spark.version, "pyspark": pyspark.__version__,
        "pandas": pandas.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def batch_ladder(b: Bench, dirs, expected, spans) -> tuple[dict, bool]:
    """Cumulative prefixes of the batch pipeline, each run once to a
    ``noop`` sink: scan, +normalize, +fingerprint, +dedup, +classify, then
    the full pass (written and checked). A layer's self time is its prefix's
    time minus the previous prefix's. Returns the self times and whether the
    full pass gave the expected totals."""
    from pyspark.sql import functions as F

    from spanner_data_validator_spark.functions.fingerprint import (
        fingerprint_expr,
        normalized_payload,
    )
    from spanner_data_validator_spark.jobs.validate_transcripts import sentinel_filter
    from spanner_data_validator_spark.operators.comparator import dedup_first
    from spanner_data_validator_spark.sources.transcript_source import (
        KEY_COLS,
        PAYLOAD_COLS,
        read_transcripts,
    )
    from spanner_data_validator_spark.streaming.validate_stream import classify_stream

    keys = [F.col(k) for k in KEY_COLS]

    def scan():
        return [read_transcripts(b.spark, d) for d in dirs]

    def payload(df):
        return normalized_payload(df, PAYLOAD_COLS, json_cols={"tool"})

    def normalize():
        # output the payload's length, not the string, so that this prefix
        # and the next both hand the sink one fixed-width column
        return [df.select(*keys, F.length(payload(df)).alias("payload_len"), "ts")
                for df in scan()]

    def fingerprint():
        return [df.select(*keys, fingerprint_expr(payload(df)).alias("fingerprint"), "ts")
                for df in scan()]

    def dedup():
        return [dedup_first(df, KEY_COLS, carry_cols=["ts"]) for df in fingerprint()]

    def classify():
        return [classify_stream(*dedup()).where(sentinel_filter())]

    def noop(build):
        def go():
            sides = build()
            df = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
            df.write.format("noop").mode("overwrite").save()
            return True
        return go

    def full():
        return same_totals(b.batch_pass(*dirs), expected)

    steps = [("sources.scan_s", noop(scan)), ("functions.normalize_s", noop(normalize)),
             ("functions.fingerprint_s", noop(fingerprint)), ("operators.dedup_s", noop(dedup)),
             ("streaming.classify_s", noop(classify)), ("jobs.write_s", full)]
    ok, cum = True, []
    for name, go in steps:
        with spans.span(f"ladder.{name}") as rec:
            ok &= go()
        cum.append(rec["end"] - rec["start"])
    return {name: (c - p, "s") for (name, _), c, p in zip(steps, cum, [0.0, *cum[:-1]])}, ok


def untraced_pass_s(results: str, workload: str, seed: int) -> float | None:
    """Median pass wall of the newest untraced run of this workload and seed
    recorded in ``results``, if any."""
    import glob

    paths = glob.glob(os.path.join(results, f"{workload}-seed{seed}-trace0-*.json"))
    if not paths:
        return None
    with open(max(paths, key=os.path.getmtime)) as f:
        return statistics.median(p["wall"] for p in json.load(f)["passes"])


def run(args, work: str, results: str) -> int:
    import corpus as cm
    from probes import ProgressListener, RssSampler, Spans, read_event_log, wrap_sinks

    b = Bench(args.workload, work)
    with_tool = args.workload != "chat_batch"
    stream_convs = TINY_CONVS if args.tiny else STREAM_CONVS
    batch_convs = TINY_CONVS if args.tiny else BATCH_CONVS
    t0 = time.perf_counter()
    corpus = cm.make_corpus(stream_convs if b.stream else batch_convs, args.seed,
                            with_tool=with_tool)
    digest = corpus.digest()
    gen_s = time.perf_counter() - t0
    identity = ("unchecked (--tiny)" if args.tiny
                else cm.check_identity(DIGESTS, args.workload, args.seed, digest))
    t0 = time.perf_counter()
    # the set-up warms up on the corpus itself, so that the timed passes run
    # on a JIT-compiled JVM
    if b.stream:
        dirs = cm.stage_waves(corpus, os.path.join(work, "corpus"), WAVES)
    else:
        dirs = cm.stage_batch(corpus, os.path.join(work, "corpus"), N_FILES)
    stage_s = time.perf_counter() - t0

    logdir = os.path.join(work, "eventlog")
    listener = ProgressListener()
    spans = Spans(f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
    attempted = failed = 0
    overhead = None
    try:
        # memory is sampled in the traced run only, off the timed path
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            # set-up: JVM launch, session, one untimed warm-up pass
            t0 = time.perf_counter()
            b.start({"spark.eventLog.enabled": "true", "spark.eventLog.dir": logdir,
                     "spark.eventLog.compress": "false"} if args.trace else {})
            b.run_pass(dirs, b.stream)
            setup_s = time.perf_counter() - t0
            b.spark.streams.addListener(listener)
            res = b.timed(dirs, corpus.expected, b.stream, listener, args.seconds, spans)
        ctx = host_context(b)
        attempted, failed = res["attempted"], res["failed"]
        passes = res["passes"]
        if not passes:
            print("perfbench: every timed pass raised", file=sys.stderr)
            return 1
        pass_s = statistics.median(p["wall"] for p in passes)
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "turns_per_s": (corpus.turns / pass_s, "1/s"),
            }
        else:
            ladder, ladder_ok = batch_ladder(b, dirs, corpus.expected, spans)
            attempted += 1
            failed += not ladder_ok
            if b.stream:
                stream_passes = passes
            else:
                # the streaming layers measured on a batch workload: one
                # traced drain of the streaming corpus (same generator, seed)
                sc = cm.make_corpus(stream_convs, args.seed, with_tool=with_tool)
                sdirs = cm.stage_waves(sc, os.path.join(work, "waves"), WAVES)
                start = time.time()
                attempted += 1
                with wrap_sinks(spans):
                    _, totals = b.run_pass(sdirs, stream=True)
                failed += not same_totals(totals, sc.expected)
                stream_passes = [{"window": (start, time.time()), "traced": True,
                                  "progress": listener.settle()}]
            b.spark.stop()
            b.spark = None  # the event log is complete once the context stops
            ev = read_event_log(logdir, [p["window"] for p in passes])
            sev = read_event_log(logdir, [p["window"] for p in stream_passes])
            n = len(passes)
            busy = sum(p["window"][1] - p["window"][0] for p in passes)
            nonnull = int(corpus.source["tool"].notna().sum()
                          + corpus.target["tool"].notna().sum())
            layers = stream_layers(stream_passes, spans)
            batches = layers["streaming.microbatches"][0] * len(stream_passes)
            covered = (sum(layers[k][0] for k in STREAM_PHASES) if b.stream
                       else sum(v for v, _ in ladder.values()))
            metrics = {
                "trace.pass_s": (pass_s, "s"),
                "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
                **ladder,
                "layers_coverage": (covered / pass_s, "ratio"),
                "functions.json_udf.rows_to_python": (ev["udf_rows"] / n, "rows"),
                "functions.json_udf.bytes_to_python": (ev["py_bytes"] / n, "bytes"),
                "functions.json_udf.python_run_s": (ev["py_run_s"] / n, "s"),
                "functions.json_udf.useful_ratio": (
                    nonnull / (ev["udf_rows"] / n) if ev["udf_rows"] else 1.0, "ratio"),
                "operators.shuffle_bytes": (ev["shuffle_bytes"] / n, "bytes"),
                "jobs.task_cpu_s": (ev["cpu_s"] / n, "s"),
                "jobs.cpu_util": (ev["cpu_s"] / (busy * b.nproc), "ratio"),
                **layers,
                "streaming.spark_jobs_per_batch": (sev["jobs"] / batches, "count"),
            }
            plain = untraced_pass_s(results, args.workload, args.seed)
            overhead = None if plain is None else pass_s - plain
            spans.write(os.path.join(
                results, f"{args.workload}-seed{args.seed}-{os.getpid()}-spans.jsonl"))
    finally:
        b.shutdown()

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": ctx,
        "corpus": {**digest, "identity": identity, "turns": corpus.turns,
                   "gen_s": gen_s, "stage_s": stage_s},
        "setup_s": setup_s, "passes": [
            {k: v for k, v in p.items() if k != "progress"} for p in passes],
        "attempted": attempted, "failed": failed, "fail_rate": failed / attempted,
        "trace_overhead_s": overhead,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"),
            "w") as f:
        json.dump(record, f, indent=1)
    for k, v in ctx.items():
        print(f"# {k}: {v}")
    print(f"# corpus: {corpus.turns} turns, identity {identity}, "
          f"generated in {gen_s:.3f} s, staged in {stage_s:.3f} s")
    print(f"# passes: {attempted} attempted, {failed} failed, fail_rate {failed / attempted}")
    if args.trace:
        print("# tracing overhead: " + ("no untraced run of this seed recorded" if overhead is None
              else f"{overhead:.3f} s per pass against the newest untraced run of this seed"))
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="a few thousand turns per workload (harness self-check)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spanner_data_validator_spark")):
        print(f"perfbench: no spanner_data_validator_spark package under {ROOT}; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    # Python workers unpickle the JSON UDF by import path: they need the
    # package on their path too
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "out", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    results = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(results, exist_ok=True)

    try:
        return run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
