package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS: " + df.count())
    df.select("prompt").collect().foreach(r => println(r.getString(0).take(600)))
    // Same flagship ask routed through a pre-built graph-ANN store (the
    // reference's serving split); at the demo settings the walk's top-k
    // equals exact top-k, so the prompts should agree (GraphIndexSpec
    // pins this — here it's smoke-visible).
    val docs = graft.sources.TableLoader.load(spark, "/root/testdata/sf0.001", "documents")
    val chunks = operators.Ingest.chunk(
        docs.filter(operators.Ingest.nonBlank(org.apache.spark.sql.functions.col("text"))),
        "text", 64)
      .select("doc_id", "chunk_idx", "chunk_text")
    val embedded = operators.Embed.withEmbedding(chunks, "chunk_text", "embedding")
    val gdir = java.nio.file.Files.createTempDirectory("smoke_graph").toString
    val h = operators.GraphIndex.build(spark, embedded, Seq("doc_id", "chunk_idx"),
      "embedding", gdir, nCentroids = 16, m = 16, nBuckets = 16, beamWidth = 32, hops = 3)
    val gp = operators.Retrieval.askGraph(spark, h, "fast table scan merge join", topK = 3)
      .select("prompt").head().getString(0)
    val ep = df.select("prompt").head().getString(0)
    println("GRAPH ASK promptMatchesExact=" + (gp == ep))
    spark.stop()
  }
}
