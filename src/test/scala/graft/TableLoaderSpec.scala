package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableLoader

/** Schema-drift shim coverage (VERDICT r7 item 3): the same logical `ts`
  * column must land as TimestampType(µs) no matter which of the three
  * physical shapes the environment's parquet writer produced. Round 7
  * broke because only one shape was handled.
  */
class TableLoaderSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  // one fixed instant: 2024-01-01T00:00:01.234567Z
  private val micros = 1704067201234567L

  private def roundtrip(writeDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = TestDirs.create("graft_tl").toString
    writeDf.write.mode("overwrite").parquet(s"$dir/events.parquet")
    TableLoader.loadEvents(spark, dir)
  }

  private def assertCanonical(df: org.apache.spark.sql.DataFrame): Unit = {
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(unix_micros(col("ts"))).as[Long].head()
    assert(got == micros)
  }

  test("ts as plain TIMESTAMP passes through unchanged") {
    assertCanonical(roundtrip(
      Seq(1L).toDF("event_id").select(col("event_id"),
        timestamp_micros(lit(micros)).as("ts"))))
  }

  test("ts as TIMESTAMP_NTZ is relabeled to TIMESTAMP (exact under UTC)") {
    val df = Seq(1L).toDF("event_id").select(col("event_id"),
      timestamp_micros(lit(micros)).cast(TimestampNTZType).as("ts"))
    assert(df.schema("ts").dataType == TimestampNTZType) // precondition
    assertCanonical(roundtrip(df))
  }

  test("ts as int64 nanos (legacy nanosAsLong) converts by integer div") {
    assertCanonical(roundtrip(
      Seq((1L, micros * 1000L)).toDF("event_id", "ts")))
  }

  test("normalize relabels every NTZ column, not just ts") {
    val df = Seq(1L).toDF("k").select(col("k"),
      timestamp_micros(lit(micros)).cast(TimestampNTZType).as("a"),
      timestamp_micros(lit(micros + 1)).cast(TimestampNTZType).as("b"),
      lit("s").as("c"))
    val out = TableLoader.normalize(df)
    assert(out.schema("a").dataType == TimestampType)
    assert(out.schema("b").dataType == TimestampType)
    assert(out.schema("c").dataType == StringType)
    assert(out.schema.fieldNames.toSeq == Seq("k", "a", "b", "c")) // order kept
    val (ga, gb) = out.select(unix_micros(col("a")), unix_micros(col("b")))
      .as[(Long, Long)].head()
    assert(ga == micros && gb == micros + 1)
  }

  test("real testdata events load is canonical and query-able") {
    val ev = TableLoader.loadEvents(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == TimestampType)
    // the exact call that failed analysis in round 7:
    assert(ev.select(unix_micros(col("ts"))).limit(1).count() == 1)
  }
}
