package graft.kg

import graft.kg.canonical.ConnectedComponents
import graft.kg.gen.TranscriptGen
import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** 10× scale point (round-7 VERDICT "Next round" #2): runs the kg chain
  * (extract → link → canonicalize) and MATERIALIZE at ~400k conversations —
  * 10× the sf0.1 bench workload, same 40-turn conversations, same
  * conversation-contiguous layout — at local[8] and local[32], and at the
  * 1× workload in the same JVM for a like-for-like per-row-cost and
  * peak-memory comparison. Reports per (cores, scale): min/all chain secs,
  * triples/s, peak JVM heap during the measured region, and the
  * canonicalization CC strategy (local union-find vs distributed
  * min-label) + distinct candidate-edge count + iteration count; plus
  * materialize time, lineage row count and snapshot/manifest sizes at the
  * big scale. Turns the "survives 100×" argument from plan-reading into a
  * measurement: per-row cost should hold within ~15% of the 1× run and
  * memory must grow sublinearly in rows.
  *
  * Run: `sbt -batch 'runMain graft.kg.ScaleBench 400000'` (~20 min).
  */
object ScaleBench {

  /** Samples used JVM heap every 100 ms; peak read at finish(). */
  private final class HeapPeak extends Thread {
    @volatile private var peakB = 0L
    @volatile private var stopped = false
    setDaemon(true)
    override def run(): Unit = {
      val rt = Runtime.getRuntime
      while (!stopped) {
        val used = rt.totalMemory() - rt.freeMemory()
        if (used > peakB) peakB = used
        Thread.sleep(100)
      }
    }
    def finish(): Long = { stopped = true; join(500); peakB }
  }

  /** One end-to-end extract → link → canonicalize run on the pinned
    * conversation-contiguous read (Bench.kgOnce's pre path). */
  private def chainOnce(spark: SparkSession, path: String): (Double, Long) = {
    val tr = KgPipeline.readConversationPartitioned(spark, path)
    val t0 = System.nanoTime()
    val combined = KgPipeline
      .canonicalInputsDirect(spark, tr, prePartitioned = true)
      .toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = combined.filter(col("m").isNotNull).select("m.*")
    val edges = combined.filter(col("e").isNotNull).select("e.*")
    val triples = graft.kg.canonical.Canonicalizer
      .canonicalTriples(spark, nodes, edges).count()
    combined.unpersist()
    ((System.nanoTime() - t0) / 1e9, triples)
  }

  private def gen(spark: SparkSession, nConvs: Int, turnsPer: Int, nFiles: Int): String = {
    import spark.implicits._
    val path = s"/tmp/graft_scalebench_${nConvs}x$turnsPer"
    if (!new java.io.File(path + "/_SUCCESS").exists()) {
      // generate ON EXECUTORS (driver-side gen of 16M turns is slow), then
      // the conversation-contiguous production layout
      KgPipeline.writeConversationPartitioned(
        spark.range(nConvs.toLong).repartition(nFiles)
          .flatMap(i => TranscriptGen.conversation(f"conv_$i%06d", turnsPer))
          .toDF(), path, nFiles = nFiles)
    }
    path
  }

  private def f(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)

  def main(args: Array[String]): Unit = {
    val big = args.headOption.map(_.toInt).getOrElse(400000)
    val small = big / 10
    val turnsPer = 40
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt

    val prep = LocalSpark.session(32, "graft-scalebench-32")
    val smallPath = gen(prep, small, turnsPer, nFiles = 128)
    val bigPath = gen(prep, big, turnsPer, nFiles = 256)
    // warm-up once: JIT + codegen are JVM-global
    locally {
      import prep.implicits._
      KgPipeline.triplesDirect(prep, TranscriptGen.turns(1000, turnsPer).toDF()).count()
    }
    prep.stop()

    val results = for {
      cores <- List(8, 32)
      (label, path, n) <- List(("1x", smallPath, small), ("10x", bigPath, big))
    } yield {
      val spark = LocalSpark.session(cores, s"graft-scalebench-$cores")
      try {
        System.gc()
        val peak = new HeapPeak; peak.start()
        val runs = Vector.fill(reps)(chainOnce(spark, path))
        val peakB = peak.finish()
        val cc = ConnectedComponents.lastStats
        val sec = runs.map(_._1).min
        val triples = runs.head._2
        require(runs.map(_._2).distinct.size == 1, s"reps disagree: $runs")
        val line =
          s"""{"cores":$cores,"scale":"$label","n_convs":$n,"sec":${f(sec)},""" +
            s""""reps":[${runs.map(r => f(r._1)).mkString(",")}],""" +
            s""""triples":$triples,"triples_per_sec":${f(triples / sec)},""" +
            s""""peak_heap_gb":${f(peakB / 1e9)},""" +
            s""""cc":{"strategy":"${cc.strategy}","edges":${cc.edges},"iterations":${cc.iterations}}}"""
        println(s"""{"phase":"scale_chain","r":$line}""")
        line
      } finally spark.stop()
    }

    // materialize the 10× workload at local[32]: all 8 bucket-partitioned
    // tables + snapshot/lineage commit (nBuckets scaled with the input)
    val spark = LocalSpark.session(32, "graft-scalebench-32")
    val mat = try {
      val tr = KgPipeline.readConversationPartitioned(spark, bigPath)
      val out = java.nio.file.Files.createTempDirectory("graft_scalebench_mat").toString
      System.gc()
      val peak = new HeapPeak; peak.start()
      val t0 = System.nanoTime()
      val report = graft.kg.table.Materializer.run(spark, tr, out,
        nBuckets = 128, prePartitioned = true)
      val sec = (System.nanoTime() - t0) / 1e9
      val peakB = peak.finish()
      val triples = report.rows.getOrElse("triples", 0L)
      val snap = new graft.kg.table.SnapshotStore(out).snapshots.head
      def du(dir: java.io.File): Long =
        if (dir.isFile) dir.length()
        else Option(dir.listFiles()).map(_.map(du).sum).getOrElse(0L)
      val snapBytes = du(new java.io.File(out, "_graft_log"))
      val totalBytes = du(new java.io.File(out))
      s"""{"cores":32,"n_convs":$big,"sec":${f(sec)},"triples":$triples,""" +
        s""""triples_per_sec":${f(triples / sec)},"peak_heap_gb":${f(peakB / 1e9)},""" +
        s""""lineage_rows":${snap.lineage.size},"snapshot_bytes":$snapBytes,""" +
        s""""output_bytes":$totalBytes}"""
    } finally spark.stop()

    val line = s"""{"metric":"scale10x","unit":"sec","turns_per_conv":$turnsPer,""" +
      s""""chain":[${results.mkString(",")}],"materialize":$mat}"""
    try {
      val w = new java.io.PrintWriter("/root/repo/bench_runs/scale10x_last.json")
      try w.println(line) finally w.close()
    } catch { case _: Throwable => }
    println(line)
  }
}
