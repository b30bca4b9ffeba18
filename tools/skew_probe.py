"""Hot-conversation state-skew probe (SURVEY §7.3, VERDICT r4 #7).

Corpus: ``gen_transcript_pair`` with ONE conversation carrying ~5% of all
turns, vs a uniform twin at the same total-turn count. Three measurements:

1. **Flagship join** — ``run_streaming_validation`` on skewed vs uniform:
   wall time + per-partition state distribution of the stream-stream join
   (statestore reader time-traveled to a mid-run batch). The join keys on
   ``(conv_id, turn_idx)``, so a hot conversation's turns hash-spread
   across partitions — the design claim is that state stays balanced and
   throughput degrades only marginally. This probe MEASURES it.
2. **Conv-keyed windowed agg (unsalted)** on the skewed corpus — the stage
   that genuinely skews: state/shuffle placement is hash(conv_id), so the
   hot conversation's rows funnel through one partition. Reported as the
   per-partition processed-row share (the same Murmur3 ``hash()`` the
   shuffle uses) + stream wall time.
3. **Salted two-phase twin** — phase 1 groups by (window, conv, salt=16),
   phase 2 chains window-on-window summing partials: placement flattened;
   equal output.

Usage: python tools/skew_probe.py [--turns 40000] [--partitions 8]
Prints one JSON line; BENCH.md records the measured numbers.
"""
from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")


def _stage(spark, pair, work, name):
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        append_sentinel)
    from spanner_data_validator_spark.sources.transcript_source import (
        write_transcripts)

    src_dir, tgt_dir = f"{work}/{name}_src", f"{work}/{name}_tgt"
    write_transcripts(pair.source, spark, src_dir, n_files=6)
    write_transcripts(pair.target, spark, tgt_dir, n_files=6)
    append_sentinel(spark, src_dir, tgt_dir)
    return src_dir, tgt_dir


def _join_state_shares(spark, ckpt):
    """Per-partition share of the join's buffered state after batch 0 —
    the pre-eviction snapshot. (The staged demo files are not event-time
    ordered, so from batch 1 on the watermark races to range-end and
    evicts nearly everything — the CLAUDE.md waves lesson; batch 0 buffers
    its whole input with the watermark still unset, which is exactly the
    distribution the state store carries at steady state.)"""
    from spanner_data_validator_spark.streaming.state_inspect import (
        read_state)

    st = read_state(spark, ckpt, operator_id=0, join_side="left",
                    batch_id=0)
    rows = st.groupBy("partition_id").agg(F.count("*").alias("n")).collect()
    total = sum(r["n"] for r in rows) or 1
    return {"batch_id": 0,
            "total_keys": total,
            "max_share": max(r["n"] for r in rows) / total,
            "n_partitions": len(rows)}


def _run_flagship(spark, work, name, src_dir, tgt_dir):
    from spanner_data_validator_spark.jobs.validate_transcripts import (
        run_streaming_validation)

    t0 = time.perf_counter()
    sink = run_streaming_validation(
        spark, src_dir, tgt_dir, f"{work}/{name}_out", f"{work}/{name}_ckpt",
        watermark="10 minutes", band="2 hours",
        max_files_per_trigger=2)
    wall = time.perf_counter() - t0
    n = sink.read_rows(spark).count()
    state = _join_state_shares(spark, f"{work}/{name}_ckpt")
    return {"wall_s": round(wall, 3), "rows": n, "join_state": state}


def _placement_shares(df, keys, n_parts):
    """Per-shuffle-partition row share under hash partitioning on ``keys``
    — the exact placement the agg's exchange uses (Murmur3 hash())."""
    part = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_parts))
    rows = (df.groupBy(part.alias("p")).agg(F.count("*").alias("n"))
            .collect())
    total = sum(r["n"] for r in rows) or 1
    return {"max_share": max(r["n"] for r in rows) / total,
            "n_partitions_hit": len(rows)}


def _run_conv_agg(spark, work, name, src_dir, *, salted):
    from spanner_data_validator_spark.sources.transcript_source import (
        TRANSCRIPT_SCHEMA)

    out, ckpt = f"{work}/{name}_aggout", f"{work}/{name}_aggckpt"
    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .option("maxFilesPerTrigger", 2).parquet(src_dir)
              .withWatermark("ts", "10 minutes"))
    if salted:
        partial = (stream.withColumn("salt", F.col("turn_idx") % 16)
                   .groupBy(F.window("ts", "1 hour").alias("w"),
                            "conv_id", "salt")
                   .agg(F.count(F.lit(1)).alias("pc")))
        final = (partial
                 .groupBy(F.window(F.col("w"), "1 hour").alias("w2"),
                          "conv_id")
                 .agg(F.sum("pc").alias("n"))
                 .select(F.col("w2.start").alias("ws"), "conv_id", "n"))
    else:
        final = (stream.groupBy(F.window("ts", "1 hour").alias("w"),
                                "conv_id")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .select(F.col("w.start").alias("ws"), "conv_id", "n"))
    t0 = time.perf_counter()
    q = (final.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.perf_counter() - t0
    got = (spark.read.parquet(out)
           .where(F.col("conv_id") != "__sentinel__"))
    return wall, got


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=40_000)
    ap.add_argument("--partitions", type=int, default=8)
    ap.add_argument("--hot-share", type=float, default=0.05)
    args = ap.parse_args()

    from spanner_data_validator_spark.datagen.transcripts import (
        gen_transcript_pair)
    from spanner_data_validator_spark.session import get_spark

    spark = get_spark(app_name="sdv-skew-probe")
    spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))

    # corpus sizing: avg uniform conv = 11.5 turns; one hot conv takes
    # hot_share of the total
    n_convs = max(10, int(args.turns * (1 - args.hot_share) / 11.5))
    hot_size = int(args.turns * args.hot_share)
    skewed = gen_transcript_pair(n_convs, seed=11, hot_convs=1,
                                 hot_size=hot_size, dup_rows=0)
    uniform = gen_transcript_pair(n_convs + int(hot_size / 11.5), seed=11,
                                  hot_convs=0, dup_rows=0)
    work = tempfile.mkdtemp(prefix="sdv_skew_probe_")
    try:
        sk_src, sk_tgt = _stage(spark, skewed, work, "sk")
        un_src, un_tgt = _stage(spark, uniform, work, "un")

        # one warm-up pass (JIT/page cache) on a small slice
        warm = gen_transcript_pair(30, seed=3, dup_rows=0)
        w_src, w_tgt = _stage(spark, warm, work, "warm")
        _run_flagship(spark, work, "warm", w_src, w_tgt)

        flag_sk = _run_flagship(spark, work, "sk", sk_src, sk_tgt)
        flag_un = _run_flagship(spark, work, "un", un_src, un_tgt)

        src_df = spark.createDataFrame(skewed.source)
        # scale-transferable witness: the flagship join partitions state by
        # (conv_id, turn_idx), so even the hot conversation hash-spreads
        join_place = _placement_shares(src_df, ["conv_id", "turn_idx"],
                                       args.partitions)
        unsalted_place = _placement_shares(src_df, ["conv_id"],
                                           args.partitions)
        salted_place = _placement_shares(
            src_df.withColumn("salt", F.col("turn_idx") % 16),
            ["conv_id", "salt"], args.partitions)

        t_un, out_un = _run_conv_agg(spark, work, "unsalted", sk_src,
                                     salted=False)
        t_sa, out_sa = _run_conv_agg(spark, work, "salted", sk_src,
                                     salted=True)
        # equal output law: salted two-phase == unsalted, exactly
        diff = out_un.exceptAll(out_sa).count() + \
            out_sa.exceptAll(out_un).count()

        result = {
            "metric": "hot-conversation skew probe",
            "turns": int(len(skewed.source)),
            "uniform_turns": int(len(uniform.source)),
            "hot_share": args.hot_share,
            "partitions": args.partitions,
            "flagship": {
                "skewed": flag_sk, "uniform": flag_un,
                "join_key_placement": join_place,
                "degradation":
                    round(flag_sk["wall_s"] / flag_un["wall_s"], 3),
            },
            "conv_agg": {
                "unsalted_wall_s": round(t_un, 3),
                "salted_wall_s": round(t_sa, 3),
                "unsalted_placement": unsalted_place,
                "salted_placement": salted_place,
                "salted_equals_unsalted": diff == 0,
            },
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
