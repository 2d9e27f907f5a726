package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tooling: derive an sf1-scale (default 10×) dataset from the
  * driver's read-only sf0.1 testdata, for scale-rehearsal runs beyond
  * the largest provided SF. Deterministic (no RNG): each table is
  * `factor` key-shifted copies of the source, constructed so that the
  * SEMANTIC densities the queries measure scale the way a real 10×
  * corpus would:
  *
  *  - `documents`: copy k tags every word with a copy-suffix, so no
  *    cross-copy exact/near duplicates exist — the pair-family queries
  *    (MinHash/Jaccard/SimHash) keep their organic within-copy dup
  *    structure ×10 instead of a copy-artifact quadratic blowup;
  *  - `embeddings`: copy k circular-shifts each vector (norm-preserving,
  *    near-orthogonal to the original for these synthetic vectors) —
  *    semantic-dedup pair density scales linearly, not ×copies²;
  *  - `events`: ids/users shift, timestamps stay — windowed aggs see
  *    10× rows over the same time range (denser streams, the realistic
  *    scale-up direction);
  *  - relational tables: all join keys shift consistently across
  *    tables (l_orderkey with o_orderkey, o_custkey with c_custkey, …)
  *    so join selectivities are preserved exactly;
  *  - `region`/`nation` stay as-is (dimension tables don't grow).
  *
  * Copy 0 is byte-identical to the source, so id-anchored query slices
  * (bench docs `doc_id < 10`, centroid seeds `vec_id < 8`) keep their
  * size while the corpus around them grows — e.g. decontamination
  * scales the corpus side only, like a real eval set would.
  *
  * Usage: `runMain graft.ScaleUpData [srcDir] [outDir] [factor]`
  * (defaults: /root/testdata/sf0.1 → /tmp/graft_sf1 ×10). Writes
  * NOTHING under /root/testdata.
  */
object ScaleUpData {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(32)

    def load(name: String): DataFrame = sources.TableLoader.load(spark, src, name)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"wrote $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    def copies(f: Int => DataFrame): DataFrame =
      (0 until factor).map(f).reduce(_ unionByName _)

    // documents: shifted ids + per-copy word tag (copy 0 untouched)
    val docs = load("documents")
    val nDoc = span(docs, "doc_id")
    write(copies { k =>
      val tagged = if (k == 0) docs
        else docs.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1c$k"))
      tagged.withColumn("doc_id", col("doc_id") + lit(k * nDoc))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    // embeddings: shifted ids + norm-preserving circular vector shift
    val emb = load("embeddings")
    val nVec = span(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write(copies { k =>
      val s = (k * 7) % dim
      val shifted = if (s == 0) emb
        else emb.withColumn("embedding",
          concat(slice(col("embedding"), s + 1, dim - s), slice(col("embedding"), 1, s)))
      shifted.withColumn("vec_id", col("vec_id") + lit(k * nVec))
    }, "embeddings")

    // events: denser stream over the same time range. Loaded through
    // loadEvents so ts is folded to TimestampType regardless of the
    // source's physical shape; written back as plain µs TIMESTAMP,
    // which the loader also handles.
    val ev = sources.TableLoader.loadEvents(spark, src)
    val nEvt = span(ev, "event_id")
    val nUsr = span(ev, "user_id")
    write(copies { k =>
      ev.withColumn("event_id", col("event_id") + lit(k * nEvt))
        .withColumn("user_id", col("user_id") + lit(k * nUsr))
    }, "events")

    // relational star: consistent key shifts across tables
    val li = load("lineitem"); val ord = load("orders")
    val cust = load("customer"); val prt = load("part"); val sup = load("supplier")
    val nOrd = span(ord, "o_orderkey"); val nCust = span(cust, "c_custkey")
    val nPart = span(prt, "p_partkey"); val nSup = span(sup, "s_suppkey")
    write(copies { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * nPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * nSup))
    }, "lineitem")
    write(copies { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * nCust))
    }, "orders")
    write(copies { k =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(k * nCust))
    }, "customer")
    write(copies { k =>
      prt.withColumn("p_partkey", col("p_partkey") + lit(k * nPart))
    }, "part")
    write(copies { k =>
      sup.withColumn("s_suppkey", col("s_suppkey") + lit(k * nSup))
    }, "supplier")

    // dimension tables don't grow
    write(load("region"), "region")
    write(load("nation"), "nation")
    spark.stop()
  }
}
