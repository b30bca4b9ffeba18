"""Hot-conversation skew laws (SURVEY §7.3, VERDICT r4 #7).

The quantitative probe lives in tools/skew_probe.py (numbers in BENCH.md);
these tests pin the underlying placement/state laws deterministically.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from spanner_data_validator_spark.datagen.transcripts import gen_transcript_pair
from spanner_data_validator_spark.jobs.validate_transcripts import (
    append_sentinel,
    classify_transcripts,
)
from spanner_data_validator_spark.session import StateLayout, scoped_conf
from spanner_data_validator_spark.sources.transcript_source import (
    stream_transcripts,
    write_transcripts,
)
from spanner_data_validator_spark.streaming.sink import TallyForeachBatch
from spanner_data_validator_spark.streaming.state_inspect import read_state


def _shares(df, keys, n_parts):
    part = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_parts))
    rows = df.groupBy(part.alias("p")).agg(F.count("*").alias("n")).collect()
    total = sum(r["n"] for r in rows)
    return max(r["n"] for r in rows) / total


def test_join_keys_hash_spread_hot_conversation(spark):
    """The flagship join partitions on (conv_id, turn_idx): even a
    conversation carrying ~20% of all turns spreads across partitions,
    while conv_id-only placement concentrates it — and salting flattens
    that again. These are the exact Murmur3 placements the shuffles use."""
    pair = gen_transcript_pair(100, seed=5, hot_convs=1, hot_size=300,
                               dup_rows=0)
    df = spark.createDataFrame(pair.source)
    total = df.count()
    hot_share = (df.where(F.col("conv_id") == "conv-00000000").count()
                 / total)
    assert hot_share > 0.15  # the corpus is genuinely skewed
    join_max = _shares(df, ["conv_id", "turn_idx"], 8)
    conv_max = _shares(df, ["conv_id"], 8)
    salted_max = _shares(df.withColumn("salt", F.col("turn_idx") % 16),
                         ["conv_id", "salt"], 8)
    assert join_max < hot_share          # hot conv invisible to the join
    assert join_max < 0.25               # ~balanced at 8 partitions
    assert conv_max >= hot_share         # conv-keyed agg DOES concentrate
    assert salted_max < conv_max         # salting flattens it back
    assert salted_max < 0.25


def test_join_state_store_balanced_under_hot_conv(spark, tmp_path):
    """Real state distribution: run the streaming validator over a skewed
    corpus with multiple batches and read the join's state store at batch
    0 (pre-eviction snapshot). No partition may hold a hot-conv-sized
    share — state follows the (conv_id, turn_idx) placement law above."""
    pair = gen_transcript_pair(60, seed=9, hot_convs=1, hot_size=200,
                               dup_rows=0)
    src_dir, tgt_dir = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_transcripts(pair.source, spark, src_dir, n_files=4)
    write_transcripts(pair.target, spark, tgt_dir, n_files=4)
    append_sentinel(spark, src_dir, tgt_dir)
    # a pinned layout (RocksDB, 8 partitions): the state layout rule gives
    # a corpus this small one partition, where no spread can show
    classified = classify_transcripts(
        *(stream_transcripts(spark, d, watermark="10 minutes",
                             max_files_per_trigger=2)
          for d in (src_dir, tgt_dir)),
        band="2 hours")
    with scoped_conf(spark, StateLayout("rocksdb", 8).conf()):
        q = (classified.writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .foreachBatch(TallyForeachBatch(str(tmp_path / "out")))
             .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert not q.isActive
    st = read_state(spark, str(tmp_path / "ckpt"), operator_id=0,
                    join_side="left", batch_id=0)
    rows = st.groupBy("partition_id").agg(F.count("*").alias("n")).collect()
    total = sum(r["n"] for r in rows)
    assert total > 100  # batch 0 really buffered a corpus slice
    hot_share = len(pair.source[pair.source.conv_id == "conv-00000000"]) \
        / len(pair.source)
    assert max(r["n"] for r in rows) / total < hot_share
    assert max(r["n"] for r in rows) / total < 0.35
