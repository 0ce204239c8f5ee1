package graft.kg

import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.functions.col

/** Ad-hoc diagnosis for the round-7 cycle design: how much of a kg chain
  * rep is per-SESSION initialization? Runs N consecutive chain reps inside
  * ONE local[cores] session over the bench transcripts layout — rep 1 pays
  * session init, reps 2..N are steady-state. If rep1 ≈ rep2..N the cycle
  * design's fresh-session-per-rep costs nothing; a persistent gap is the
  * per-visit overhead the cycle headline conservatively includes. */
object SessionInitProbe {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(LocalSpark.defaultCores)
    val path = args.lift(1).getOrElse("/tmp/graft_bench_transcripts40p_320000")
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = LocalSpark.session(cores, "graft-session-init")
    import spark.implicits._
    // warm the FULL chain shape (canonicalize incl. broadcast/AQE/codegen
    // init), not just extraction — rep 1 should then match steady state
    locally {
      val w = KgPipeline.canonicalInputsDirect(spark,
        graft.kg.gen.TranscriptGen.turns(120, 40).toDF(), prePartitioned = false)
        .toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.kg.canonical.Canonicalizer.canonicalTriples(spark,
        w.filter(col("m").isNotNull).select("m.*"),
        w.filter(col("e").isNotNull).select("e.*")).count()
      w.unpersist()
    }
    val tr = KgPipeline.readConversationPartitioned(spark, path)
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      val combined = KgPipeline.canonicalInputsDirect(spark, tr, prePartitioned = true)
        .toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = combined.filter(col("m").isNotNull).select("m.*")
      val edges = combined.filter(col("e").isNotNull).select("e.*")
      val n = graft.kg.canonical.Canonicalizer.canonicalTriples(spark, nodes, edges).count()
      combined.unpersist()
      println(f"rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n triples)")
    }
    spark.stop()
  }
}
