package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark client: one JVM, one Spark session, one client thread issuing
  * operations in a closed loop.
  *
  * {{{
  * graftbench.Main --workload build|operators --seed N --seconds S
  *                 --trace 0|1 --work DIR --out FILE [--sf DIR] [--master local[K]]
  * }}}
  *
  * Set-up runs `SetupRounds` times into fresh directories (median reported
  * as `setup_s`); then ops run until `--seconds` have passed, each checked
  * against pure-JVM expected output. Untraced runs report the end-to-end
  * metrics. Traced runs alternate untraced and traced ops (their throughput
  * ratio is `trace_overhead`), record spans around each layer call plus
  * Spark-listener counters per op, then run a layer sweep for the per-layer
  * metrics the ops did not cover. Human-readable lines go to stdout; the
  * result record is written to `--out` as JSON.
  */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val master = a.getOrElse("master", s"local[$nproc]")
    val cores = master match {
      case "local" => 1
      case "local[*]" => nproc
      case m if m.matches("""local\[\d+\]""") => m.drop(6).dropRight(1).toInt
      case m => sys.error(s"unsupported master $m")
    }
    if (cores > nproc) {
      System.err.println(s"refusing master $master: $cores threads > nproc $nproc")
      sys.exit(2)
    }
    val spark = session(master, cores, work)
    try {
      val out = new Run(spark, workload, seed, seconds, trace, work, cores,
        a.get("sf").map(Paths.get(_).toAbsolutePath)).apply()
      val record = Map(
        "seed" -> seed, "nproc" -> nproc, "master" -> master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString)
      Files.writeString(Paths.get(a("out")), Json.obj(out :+ ("record" -> record)))
    } finally spark.stop()
  }

  def session(master: String, cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                trace: Boolean, work: Path, cores: Int, sf: Option[Path]) {
  private val tracer = new Tracer
  private val ctx = Ctx(spark, work, tracer, cores, seed)
  private val origin = System.nanoTime()
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private def say(s: String): Unit = { println(s); System.out.flush() }

  private val wl: Workload = workload match {
    case "build" => new BuildWorkload(ctx,
      Workload.transcriptConvs(s"t$seed", Sizes.BuildConvs, 40) ++ SkewGen(seed, Sizes.SkewConvs).convs)
    case "operators" => new OperatorsWorkload(ctx, sf.getOrElse(sys.error("operators needs --sf")))
    case w => sys.error(s"unknown workload $w")
  }

  final case class OpRecord(i: Int, seconds: Double, rows: Long, traced: Boolean)

  def apply(): Seq[(String, Any)] = {
    val setupTimes = (0 until Main.SetupRounds).map(r => secs(wl.setup(r)))
    val warmUp = secs(wl.warmUp())
    val checkSetup = secs(wl.prepareCheck())
    say(f"setup rounds ${setupTimes.map(t => f"$t%.3f").mkString(" ")} s; warmup_s $warmUp%.3f s; " +
      f"expected outputs in $checkSetup%.3f s")

    val counters = new SparkCounters
    if (trace) spark.sparkContext.addSparkListener(counters)
    val heap = new HeapSampler
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var attempted = 0L
    var failed = 0L
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // at least one op, and in traced runs at least one untraced and one traced op
    while (i < (if (trace) 2 else 1) || System.nanoTime() < end) {
      val traced = trace && i % 2 == 1
      tracer.enabled = traced
      tracer.opId = i
      spark.sparkContext.setLocalProperty(SparkCounters.OpKey, i.toString)
      attempted += 1
      heap.on()
      val t0 = System.nanoTime()
      val result = scala.util.Try(tracer.span("op")(wl.op(i)))
      val dt = (System.nanoTime() - t0) / 1e9
      heap.off()
      tracer.enabled = false
      spark.sparkContext.setLocalProperty(SparkCounters.OpKey, null)
      val ok = result.isSuccess && scala.util.Try(wl.checkLast()).getOrElse(false)
      if (!ok) {
        failed += 1
        result.failed.foreach(e => System.err.println(s"op $i failed: $e"))
      }
      ops += OpRecord(i, dt, result.getOrElse(0L), traced)
      i += 1
    }

    val plain = ops.filterNot(_.traced).toSeq
    val lat = plain.map(_.seconds)
    if (!trace) {
      metrics("setup_s") = Stats.median(setupTimes)
      metrics("op_p50_ms") = Stats.median(lat) * 1000
      metrics("op_p95_ms") = Stats.percentile(lat, 95) * 1000
      metrics("ops_per_s") = lat.size / lat.sum
      metrics("rows_per_s") = rowsPerS(plain)
    } else {
      metrics("peak_heap_mb") = heap.peakBytes / 1048576.0
      layerMetrics(ops.toSeq, counters)
    }
    val sweepOk = !trace || {
      tracer.enabled = true
      tracer.opId = -1
      try sweep() finally tracer.enabled = false
    }
    if (trace) tracer.write(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl"), origin)

    report(plain, attempted, failed)
    Seq("attempted" -> attempted, "failed" -> failed, "check_ok" -> sweepOk,
      "metrics" -> metrics.toMap)
  }

  private def rowsPerS(ops: Seq[OpRecord]): Double = ops.map(_.rows).sum / ops.map(_.seconds).sum

  /** Per-layer metrics from the ops' own spans and listener counters. */
  private def layerMetrics(ops: Seq[OpRecord], counters: SparkCounters): Unit = {
    val spans = tracer.spans
    val tracedOps = ops.filter(_.traced)
    // per-layer spans that the ops themselves contain
    for ((span, metric) <- Seq(
        ("table.materialize", "table.materialize_s"),
        ("canonical.canonical_triples", "canonical.canonical_triples_s")) ++
        OperatorsWorkload.Queries.map(q => (s"operators.$q", s"operators.${q}_s"));
        v <- tracer.medianSeconds(span))
      metrics(metric) = v
    wl match {
      case b: BuildWorkload =>
        metrics("table.files_written") = b.lastFiles._1.toDouble
        metrics("table.bytes_written") = b.lastFiles._2.toDouble
      case _ =>
    }
    // op wall time minus its direct child spans, so the parts add back up
    val opSpans = spans.filter(_.name == "op")
    metrics("unattributed_s") = Stats.median(opSpans.map { op =>
      op.seconds - spans.filter(_.parent == op.id).map(_.seconds).sum
    })
    metrics("trace_overhead") = rowsPerS(ops.filterNot(_.traced)) / rowsPerS(tracedOps) - 1

    counters.drain()
    val acc = counters.forOps(ops.map(_.i))
    val n = ops.size.toDouble
    val wall = ops.map(_.seconds).sum
    metrics("spark.task_s") = acc.map(_.taskMs).sum / 1000.0 / n
    metrics("spark.gc_s") = acc.map(_.gcMs).sum / 1000.0 / n
    metrics("spark.shuffle_bytes") = acc.map(_.shuffleBytes).sum / n
    metrics("spark.spill_bytes") = acc.map(_.spillBytes).sum / n
    metrics("spark.stages") = acc.map(_.stages).sum / n
    metrics("spark.busy_ratio") = acc.map(_.taskMs).sum / 1000.0 / (wall * cores)
  }

  /** Per-layer metrics the ops' own spans did not cover. */
  private def sweep(): Boolean = {
    val s = new LayerSweep(ctx, metrics)
    val in = wl.sweepInputs
    val sweepRoot = ctx.dir("sweep-root")
    if (!metrics.contains("table.materialize_s") || !metrics.contains("canonical.canonical_triples_s"))
      s.table(in.layout, sweepRoot)
    val root = Option(in.root).getOrElse(sweepRoot)
    s.text(in.convs)
    s.pipeline(in.layout, in.convs.size)
    val ccOk = s.canonical(root, Expected.canonical(in.graphs))
    val readsOk = s.reads(root, in.convs, in.graphs.map(g => g.summary.convId -> g).toMap)
    // the operators workload's own op spans already cover the queries
    if (!wl.isInstanceOf[OperatorsWorkload]) sf.foreach(s.operators)
    ccOk && readsOk
  }

  /** Human-readable summary, including the issue-level names of the
    * end-to-end metrics for the workloads they apply to. */
  private def report(plain: Seq[OpRecord], attempted: Long, failed: Long): Unit = {
    val lat = plain.map(_.seconds)
    say(f"workload $workload seed $seed: $attempted ops attempted, $failed failed, error_rate ${failed.toDouble / attempted}%.4f")
    if (lat.nonEmpty) {
      val p50 = Stats.median(lat)
      workload match {
        case "build" =>
          say(f"build_p50_s ${p50}%.4f s over ${lat.size} builds; triples_per_s ${plain.head.rows / p50}%.1f triples/s (${plain.head.rows} canonical triples per build)")
        case "operators" =>
          say(f"pass_p50_s ${p50}%.4f s over ${lat.size} passes of ${OperatorsWorkload.Queries.size} queries")
      }
    }
  }
}

/** Input sizes, chosen so one run of every workload fits the benchmark's
  * time budget on a 4-core host. */
object Sizes {
  val BuildConvs = 300
  val SkewConvs = 3000
}
