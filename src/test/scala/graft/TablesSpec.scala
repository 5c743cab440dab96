package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver has re-provisioned `/root/testdata` with `events.ts` in
  * different parquet physical types across rounds (TIMESTAMP(NANOS) read
  * as long under `nanosAsLong`, then TIMESTAMP(MICROS) read as
  * TIMESTAMP_NTZ). `Tables.events` must normalize every flavor to the
  * same UTC microsecond timestamp so downstream queries and the DuckDB
  * oracle agree regardless of which generator wrote the data.
  */
class TablesSpec extends SparkSpec {

  private val micros = Seq(
    1704067200000000L, // 2024-01-01 00:00:00 UTC
    1704067200123456L,
    1735689599999999L)

  private def writeFixture(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    micros.zipWithIndex
      .toDF("us", "event_id")
      .withColumn("ts", tsCol)
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("click"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("events.ts normalizes long-nanos and timestamp[us] fixtures identically") {
    val base = tempDir("graft-events-dtype").toString
    val nanosDir = s"$base/nanos"
    val microsDir = s"$base/micros"
    // long column stands in for TIMESTAMP(NANOS): under nanosAsLong the
    // physical int64 reaches Spark as LongType either way
    writeFixture(nanosDir, col("us") * 1000L)
    // timestamp[us] without timezone = what pyarrow writes; TIMESTAMP_NTZ on read
    writeFixture(microsDir, timestamp_micros(col("us")).cast(TimestampNTZType))

    assert(Tables.events(spark, nanosDir).schema("ts").dataType == TimestampType)
    assert(Tables.events(spark, microsDir).schema("ts").dataType == TimestampType)

    def tsValues(dir: String): Seq[Timestamp] =
      Tables.events(spark, dir).orderBy("event_id")
        .select("ts").collect().map(_.getTimestamp(0)).toSeq
    val fromNanos = tsValues(nanosDir)
    val fromMicros = tsValues(microsDir)
    assert(fromNanos == fromMicros, s"dtype branches disagree: $fromNanos vs $fromMicros")
    assert(fromNanos.head == Timestamp.from(java.time.Instant.ofEpochSecond(1704067200L)))
  }

  test("events loader handles the live testdata flavor") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() > 0)
  }
}
