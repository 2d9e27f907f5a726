package graft

import org.apache.spark.sql.functions._

/** Dev probe: justify SkewJoin.saltedJoin against AQE's adaptive skew
  * split on a PLANTED hot key (one key owns half a 5M-row fact side;
  * 1000-key dim side). Four plans over identical data:
  *
  *  1. sort-merge join, AQE skew split OFF  — the straggler baseline;
  *  2. sort-merge join, AQE skew split ON   — Spark's adaptive answer
  *     (thresholds lowered to probe scale: the defaults only split
  *     256MB+ partitions);
  *  3. broadcast join                        — the first-line answer
  *     whenever the dim side fits;
  *  4. SkewJoin.saltedJoin                   — the explicit form for
  *     known, extreme skew where the engine must not rely on runtime
  *     stats (e.g. inside a checkpointed streaming stage where AQE
  *     re-planning is unavailable, or a skewed HASH-AGG feed where no
  *     join exists for AQE to split).
  *
  * Prints one timing line each; read with the SCALE.md paragraph this
  * probe backs. Deterministic data, no RNG.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)

    // hot key 0 owns 90% of the fact side; the rest spreads over 999 keys
    val big = spark.range(10000000L).select(
      when(col("id") % 10 < 9, 0L).otherwise(col("id") % 1000).as("key"),
      col("id").as("payload")).persist()
    val small = spark.range(1000L).select(col("id").as("key"),
      concat(lit("dim_"), col("id")).as("name")).persist()
    big.count(); small.count() // materialize outside the timers

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }
    def set(k: String, v: String): Unit = spark.conf.set(k, v)

    // force the shuffle-join path so skew is actually exercised
    set("spark.sql.autoBroadcastJoinThreshold", "-1")
    set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // probe-scale AQE skew thresholds (defaults target 256MB partitions)
    set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB")
    set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")
    set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

    set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("SMJ, AQE skew split OFF")(big.join(small, "key").count())
    set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("SMJ, AQE skew split ON")(big.join(small, "key").count())

    // restore the defaults and measure the two explicit strategies
    set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
    time("broadcast join (default plan)")(big.join(broadcast(small), "key").count())
    time("saltedJoin (32 buckets)")(
      operators.SkewJoin.saltedJoin(big, small, "key", "payload", 32).count())

    big.unpersist(); small.unpersist()
    spark.stop()
  }
}
