package graft.kg

/** Extra benchmark harness (NOT the driver's frozen graft.Bench): times
  * individual SparkEntry queries with the noop sink (guide §1.4 — every
  * column of every row computed, no output cost, no count-only pruning)
  * and labels each job for the UI. Used for the per-operator isolation
  * numbers cited in OPTIMIZATION_r*.md.
  *
  *   runMain graft.kg.BenchExtra <name,name,...> [sfDir] [reps]
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cores = LocalSpark.defaultCores
    val spark = LocalSpark.session(cores, "bench-extra")
    import org.apache.spark.sql.functions.col
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    for (n <- names) {
      val secs = Vector.newBuilder[Double]
      for (r <- 1 to reps) {
        spark.sparkContext.setJobDescription(s"$n rep$r")
        val t0 = System.nanoTime()
        n match {
          case "tfidf_index_build" =>
            val docs = spark.read.parquet(s"$dir/documents.parquet")
              .select(col("doc_id").as("conv_id"), col("text").as("doc_text"))
            graft.kg.query.Retrieval.buildTfidfIndex(spark, docs)
          case _ =>
            graft.SparkEntry.queries(n)(spark, dir)
              .write.format("noop").mode("overwrite").save()
        }
        secs += (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
      }
      val v = secs.result()
      out(n) = v
      println(f"[benchextra] $n%-28s min=${v.min}%8.3f reps=${v.map(x => f"$x%.3f").mkString(",")}")
    }
    val json = out.map { case (k, v) =>
      "\"" + k + "\":{\"min\":" + f"${v.min}%.4f" +
        ",\"reps\":[" + v.map(x => f"$x%.4f").mkString(",") + "]}"
    }.mkString("{", ",", "}")
    println(s"""{"benchextra":$json,"sf":"$dir","cores":$cores}""")
    spark.stop()
  }
}
