"""Exactly-once JDBC sink against live embedded Derby."""
from __future__ import annotations

import pytest

from spanner_data_validator_spark.streaming.jdbc_sink import JdbcExactlyOnceSink


@pytest.fixture()
def derby_sink(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("CREATE TABLE conflicts "
               "(k BIGINT, status VARCHAR(16), batch_id BIGINT)")
    st.close()
    conn.close()
    return JdbcExactlyOnceSink(url, "conflicts")


def test_jdbc_sink_exactly_once_on_replay(spark, derby_sink):
    b0 = spark.createDataFrame([(1, "MISMATCH"), (2, "SOURCE_ONLY")],
                               "k long, status string")
    b1 = spark.createDataFrame([(3, "TARGET_ONLY")], "k long, status string")
    derby_sink(b0, 0)
    derby_sink(b0, 0)        # full replay of a committed batch: no-op
    derby_sink(b1, 1)
    rows = derby_sink.read_committed(spark).collect()
    assert sorted((r.k, r.status, r.batch_id) for r in rows) == [
        (1, "MISMATCH", 0), (2, "SOURCE_ONLY", 0), (3, "TARGET_ONLY", 1)]


def test_jdbc_sink_crash_between_append_and_fence(spark, derby_sink):
    """Simulate the torn write: rows appended but the fence never landed.
    read_committed must hide them; the replay must not double them."""
    b0 = spark.createDataFrame([(10, "MISMATCH")], "k long, status string")
    from pyspark.sql import functions as F
    # crashed attempt: data appended WITHOUT the fence insert
    (b0.withColumn("batch_id", F.lit(7).cast("long"))
       .write.mode("append").format("jdbc")
       .option("url", derby_sink.url).option("dbtable", "conflicts").save())
    assert derby_sink.read_committed(spark).where("batch_id = 7").count() == 0
    derby_sink(b0, 7)        # replay: delete orphans, re-append, fence
    got = derby_sink.read_committed(spark).where("batch_id = 7").collect()
    assert [(r.k, r.status) for r in got] == [(10, "MISMATCH")]


def test_jdbc_sink_streaming_end_to_end(spark, derby_sink, tmp_path):
    """A real availableNow stream lands its batches through the sink."""
    src = spark.range(0, 40).selectExpr("id AS k",
                                        "CASE WHEN id % 2 = 0 THEN 'MATCH' "
                                        "ELSE 'MISMATCH' END AS status")
    src.repartition(2).write.parquet(f"{tmp_path}/in")
    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{tmp_path}/in"))
    q = (stream.writeStream.foreachBatch(derby_sink)
         .option("checkpointLocation", f"{tmp_path}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    out = derby_sink.read_committed(spark)
    assert out.count() == 40
    assert out.select("batch_id").distinct().count() >= 2


def test_jdbc_sink_task_retry_duplicates_collapsed(spark, derby_sink):
    """Simulate a task retry: staging holds duplicated rows before promote.
    The atomic DISTINCT promote must land each row once."""
    from pyspark.sql import functions as F
    b = spark.createDataFrame([(20, "MISMATCH"), (21, "SOURCE_ONLY")],
                              "k long, status string")
    # pre-create the staging table with a duplicated partition, as a
    # committed-then-retried task would leave it
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_sink.url)
    st = conn.createStatement()
    st.execute("CREATE TABLE conflicts_stage_5 AS SELECT * FROM conflicts "
               "WITH NO DATA")
    st.close()
    conn.close()
    dup = b.withColumn("batch_id", F.lit(5).cast("long"))
    dup.unionAll(dup).write.mode("append").format("jdbc") \
        .option("url", derby_sink.url) \
        .option("dbtable", "conflicts_stage_5").save()
    # the sink drops the dirty staging and redoes the batch cleanly
    derby_sink(b, 5)
    got = derby_sink.read_committed(spark).where("batch_id = 5").collect()
    assert sorted((r.k, r.status) for r in got) == [
        (20, "MISMATCH"), (21, "SOURCE_ONLY")]
