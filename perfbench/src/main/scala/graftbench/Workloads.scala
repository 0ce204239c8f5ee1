package graftbench

import graft.kg.canonical.Canonicalizer
import graft.kg.model.ConvGraph
import graft.kg.pipeline.KgPipeline
import graft.kg.table.Materializer
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** What every workload shares: the session, its work directory, the tracer
  * and the core count. */
final case class Ctx(spark: SparkSession, work: Path, tracer: Tracer, cores: Int, seed: Long) {
  def dir(name: String): Path = work.resolve(name)
}

/** A workload: repeatable set-up rounds, a one-time warm-up, then a closed
  * loop of checked ops. */
trait Workload {
  /** One set-up round into fresh directories (timed; `setup_s` is the median). */
  def setup(round: Int): Unit
  /** One-time JIT warm-up after the rounds (timed separately, not in `setup_s`). */
  def warmUp(): Unit
  /** Compute the expected outputs once (untimed). */
  def prepareCheck(): Unit
  /** One timed operation; returns the rows it produced. */
  def op(i: Int): Long
  /** Check the last operation's output (untimed). */
  def checkLast(): Boolean
  /** Inputs for the traced layer sweep. */
  def sweepInputs: SweepInputs
}

/** The inputs a traced run's layer sweep measures against; `root` may be
  * null when the workload never materializes one. */
final case class SweepInputs(
    convs: IndexedSeq[Conv], graphs: IndexedSeq[ConvGraph], layout: Path, root: Path)

object Workload {

  def frame(spark: SparkSession, convs: Seq[Conv]): DataFrame = {
    import spark.implicits._
    convs.flatMap(c => c.turns.map { case (k, t) => (c.id, k, t) })
      .toDF("conv_id", "turn_idx", "text")
  }

  /** Write `convs` in the conversation-contiguous layout. */
  def writeLayout(ctx: Ctx, convs: Seq[Conv], path: Path): Unit =
    KgPipeline.writeConversationPartitioned(frame(ctx.spark, convs), path.toString, ctx.cores * 4)

  def materialize(ctx: Ctx, layout: Path, root: Path): Materializer.Report =
    ctx.tracer.span("table.materialize") {
      Materializer.run(ctx.spark,
        KgPipeline.readConversationPartitioned(ctx.spark, layout.toString),
        root.toString, prePartitioned = true)
    }

  /** Canonical triples over a root's written nodes/edges, written as parquet. */
  def canonicalize(ctx: Ctx, root: Path): Unit =
    ctx.tracer.span("canonical.canonical_triples") {
      val s = ctx.spark
      Canonicalizer.canonicalTriples(s,
        s.read.parquet(root.resolve("nodes").toString),
        s.read.parquet(root.resolve("edges").toString))
        .write.parquet(root.resolve("canonical_triples").toString)
    }

  def transcriptConvs(prefix: String, n: Int, turns: Int): IndexedSeq[Conv] =
    (0 until n).map { i =>
      val id = f"$prefix-$i%06d"
      Conv(id, graft.kg.gen.TranscriptGen.conversation(id, turns).map(t => (t.turn_idx, t.text)))
    }
}

/** `build`: one op is a full build — `Materializer.run` into a fresh root,
  * then canonical triples over the written nodes/edges tables, written as
  * parquet — over a corpus of TranscriptGen 40-turn conversations plus
  * citation-dense skewed conversations ([[SkewGen]]). */
final class BuildWorkload(ctx: Ctx, convs: IndexedSeq[Conv]) extends Workload {
  import Workload._
  private var layout: Path = _
  private var expected: Future[(IndexedSeq[ConvGraph], Map[String, Long], Expected.Canonical)] = _
  private var expectedRows: Map[String, Long] = _
  private var expectedCanon: Expected.Canonical = _
  private var graphs: IndexedSeq[ConvGraph] = _
  private var lastRoot: Path = _
  private var lastReport: Materializer.Report = _
  private var keptRoot: Path = _
  var lastFiles: (Long, Long) = (0L, 0L)

  def setup(round: Int): Unit = {
    layout = ctx.dir(s"layout-$round")
    writeLayout(ctx, convs, layout)
  }

  /** A build of a sample of the corpus, so the first timed op is warm. The
    * expected outputs are computed meanwhile on the client's own threads. */
  def warmUp(): Unit = {
    expected = Future {
      val gs = Expected.extractAll(convs, ctx.cores)
      (gs, Expected.tableRows(gs), Expected.canonical(gs))
    }(ExecutionContext.global)
    val sample = ctx.dir("layout-warm")
    writeLayout(ctx, convs.grouped(32).map(_.head).toSeq, sample)
    val root = ctx.dir("warm")
    materialize(ctx, sample, root)
    canonicalize(ctx, root)
    FileTree.deleteTree(root)
  }

  def prepareCheck(): Unit = {
    val (gs, rows, canon) = Await.result(expected, Duration.Inf)
    graphs = gs; expectedRows = rows; expectedCanon = canon
  }

  def op(i: Int): Long = {
    lastRoot = ctx.dir(s"build-$i")
    lastReport = materialize(ctx, layout, lastRoot)
    canonicalize(ctx, lastRoot)
    lastReport.rows("triples")
  }

  def checkLast(): Boolean = {
    val r = ctx.spark.read.parquet(lastRoot.resolve("canonical_triples").toString)
      .agg(count(lit(1)), sum(hash(concat_ws("|", col("conv_id"), col("subj"), col("pred"), col("obj"))).cast("long")))
      .head()
    val ok = lastReport.rows == expectedRows &&
      r.getLong(0) == expectedCanon.triples && r.getLong(1) == expectedCanon.hash
    lastFiles = FileTree.fileStats(lastRoot)
    // keep one written root for the layer sweep, delete the rest
    if (keptRoot == null) keptRoot = lastRoot else FileTree.deleteTree(lastRoot)
    ok
  }

  def sweepInputs: SweepInputs = SweepInputs(convs, graphs, layout, keptRoot)
}

/** `operators`: closed-loop passes over a fixed list of operator queries on
  * a generated sf directory. The warm-up pass is checked once (DuckDB oracle
  * by the caller on the dumped results; a pure-JVM recomputation for the
  * kg_* query); every later pass must reproduce its hashes. */
final class OperatorsWorkload(ctx: Ctx, sf: Path) extends Workload {
  import OperatorsWorkload._
  private var dir: Path = _
  private var warmRows: Map[String, Array[Row]] = _
  private var warmHashes: Map[String, Long] = _
  private var lastHashes: Map[String, Long] = _
  private var dualEngineOk = false

  /** Load the sf directory under a fresh name (the kg_* extraction memo is
    * keyed by session and directory) and touch the memo. */
  def setup(round: Int): Unit = {
    dir = ctx.dir(s"sf-$round")
    Files.createDirectories(dir)
    for (t <- Tables) Files.copy(sf.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"))
    graft.SparkEntry.queries(MemoQuery)(ctx.spark, dir.toString).collect()
  }

  def warmUp(): Unit = {
    warmRows = pass()
    warmHashes = warmRows.map { case (q, rows) => q -> rowsHash(rows) }
  }

  private def pass(): Map[String, Array[Row]] =
    Queries.map { q =>
      q -> ctx.tracer.span(s"operators.$q")(graft.SparkEntry.queries(q)(ctx.spark, dir.toString).collect())
    }.toMap

  /** Dump each oracle-backed query's warm-up result and its oracle SQL for
    * the DuckDB check; recompute the kg_* query with the pure-JVM extractor. */
  def prepareCheck(): Unit = {
    val oracleDir = ctx.dir("oracle")
    val sql = Queries.filter(graft.SparkEntry.oracleSql.contains)
    for (q <- sql; rows = warmRows(q) if rows.nonEmpty)
      ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
        .coalesce(1).write.parquet(oracleDir.resolve(q).toString)
    Files.writeString(oracleDir.resolve("oracle_sql.json"),
      Json.obj(sql.map(q => q -> graft.SparkEntry.oracleSql(q))))
    val pure = graft.kg.eval.DualEngineCheck.pure2(memoConvs(ctx, dir), 14)
    val got = warmRows(MemoQuery).map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toVector.sorted
    dualEngineOk = got.size == pure.conceptScores.size &&
      got.zip(pure.conceptScores.sorted).forall { case (a, b) =>
        a._1 == b._1 && a._2 == b._2 && math.abs(a._3 - b._3) < 1e-9 }
  }

  def op(i: Int): Long = {
    val out = pass()
    lastHashes = out.map { case (q, rows) => q -> rowsHash(rows) }
    out.values.map(_.length.toLong).sum
  }

  def checkLast(): Boolean = dualEngineOk && lastHashes == warmHashes

  /** The conversations behind the kg_* memo, laid out for the sweep (the
    * operators' own op never materializes a root). */
  def sweepInputs: SweepInputs = {
    val convs = (0 until memoConvs(ctx, dir)).map { i =>
      val id = f"conv_$i%06d"
      Conv(id, graft.kg.gen.TranscriptGen.conversation(id, 14).map(t => (t.turn_idx, t.text)))
    }
    val layout = ctx.dir("sweep-layout")
    Workload.writeLayout(ctx, convs, layout)
    SweepInputs(convs, Expected.extractAll(convs, ctx.cores), layout, null)
  }
}

object OperatorsWorkload {
  val MemoQuery = "kg_conceptset_retrieval"
  val Queries: Seq[String] = Seq("q17_minhash_dedup", "q18_simhash_pairs", "q37_reachability",
    "q49_graph_quality", "q93_stream_dedup", MemoQuery)
  val Tables: Seq[String] = Seq("documents", "orders")

  /** The kg_* memo's conversation count for an sf directory (SparkEntry's rule). */
  def memoConvs(ctx: Ctx, dir: Path): Int =
    math.max(20, (ctx.spark.read.parquet(dir.resolve("documents.parquet").toString).count() / 5).toInt)

  /** Order-independent hash of a result. */
  def rowsHash(rows: Array[Row]): Long = rows.map(_.hashCode.toLong).sum
}
