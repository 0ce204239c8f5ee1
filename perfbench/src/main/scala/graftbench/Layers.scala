package graftbench

import graft.kg.canonical.{Canonicalizer, ConnectedComponents}
import graft.kg.extract.DocExtractor
import graft.kg.pipeline.KgPipeline
import graft.kg.rules.Citations
import graft.kg.table.{GraphStore, Materializer}
import graft.kg.text.{PhraseAutomaton, Segmenter}
import graft.kg.model.ConvGraph
import java.nio.file.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The traced run's layer sweep: times each layer's public entry point from
  * outside (each call recorded as a span with op id -1), for every per-layer
  * metric the workload's own op spans did not already cover. Results land in
  * `m`; the checking methods return false if a cross-check failed. */
final class LayerSweep(ctx: Ctx, m: mutable.LinkedHashMap[String, Double]) {
  private val spark = ctx.spark
  /** Time `body`, recording it as a span named after the metric it feeds. */
  private def secs[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = ctx.tracer.span(name)(body); (a, (System.nanoTime() - t0) / 1e9)
  }
  private def missing(k: String): Boolean = !m.contains(k)

  /** Pure-JVM probes on up to `maxConvs` conversations, each timed on a
    * second pass so the first one warms the JIT. */
  def text(convs: IndexedSeq[Conv], maxConvs: Int = 400): Unit = {
    val sample = convs.take(maxConvs)
    val n = sample.size.toDouble
    val texts = sample.map(c => DocExtractor.assemble(c.turns))
    def perConvUs(name: String)(f: String => Any): Double = {
      texts.foreach(f)
      secs(name)(texts.foreach(f))._2 / n * 1e6
    }
    val scan = Expected.ontology.compiledScan
    var hits = 0L
    val sink = new PhraseAutomaton.Sink { def hit(p: Int, s: Int): Unit = hits += 1 }
    m("text.segment_us_per_conv") = perConvUs("text.segment")(t => Segmenter.segment(t, "d"))
    m("text.scan_us_per_conv") = perConvUs("text.scan")(t => scan.automaton.scan(t.toLowerCase(java.util.Locale.ROOT), sink))
    m("rules.citations_us_per_conv") = perConvUs("rules.citations")(t => Citations.extract(t, "in"))

    val bean = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    sample.foreach(c => Expected.extract(c))
    val a0 = bean.getThreadAllocatedBytes(tid)
    val (triples, tFull) = secs("extract.extract_1t")(sample.map(c => Expected.extract(c).edges.size.toLong).sum)
    val alloc = bean.getThreadAllocatedBytes(tid) - a0
    val (_, tNoRepair) = secs("extract.extract_1t_no_repair")(sample.foreach(c => Expected.extract(c, repairOrphans = false)))
    m("extract.convs_per_s_1t") = n / tFull
    m("extract.alloc_bytes_per_triple") = alloc.toDouble / math.max(1L, triples)
    m("extract.orphan_repair_share") = (tFull - tNoRepair) / tFull
  }

  /** The Spark extraction stage alone, over the conversation-contiguous layout. */
  def pipeline(layout: Path, nConvs: Int): Unit = {
    val (_, t) = secs("pipeline.extract_stage")(KgPipeline.allTablesDirect(spark,
      KgPipeline.readConversationPartitioned(spark, layout.toString), prePartitioned = true).count())
    m("pipeline.extract_stage_s") = t
    m("pipeline.parallel_eff") = nConvs / t / (ctx.cores * m("extract.convs_per_s_1t"))
  }

  /** Connected components on the root's candidate edges, local and
    * distributed; both labelings must agree with each other and with the
    * pure-JVM union-find counts. */
  def canonical(root: Path, expected: Expected.Canonical): Boolean = {
    val keys = Canonicalizer.precedentKeys(spark.read.parquet(root.resolve("nodes").toString))
    val edges = keys.filter(col("name_key").isNotNull)
      .select(col("name_key").as("src"), col("cit_key").as("dst"))
      .union(keys.select(col("cit_key").as("src"), col("cit_key").as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().persist()
    val nEdges = edges.count()
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val (local, tLocal) = secs("canonical.cc_local")(labels(ConnectedComponents.runAuto(spark, edges)))
    val (dist, tDist) = secs("canonical.cc_distributed")(labels(ConnectedComponents.run(spark, edges)))
    edges.unpersist()
    val sizes = local.groupBy(_._2).values.map(_.size.toLong)
    m("canonical.cc_local_s") = tLocal
    m("canonical.cc_distributed_s") = tDist
    m("canonical.candidate_edges") = nEdges.toDouble
    m("canonical.components") = sizes.size.toDouble
    m("canonical.largest_component") = sizes.max.toDouble
    local == dist && nEdges == expected.candidateEdges && sizes.size == expected.components &&
      sizes.max == expected.largestComponent
  }

  /** Build a root for workloads whose op does not write one. */
  def table(layout: Path, root: Path): Unit = {
    val (_, t) = secs("table.materialize")(Materializer.run(spark,
      KgPipeline.readConversationPartitioned(spark, layout.toString), root.toString, prePartitioned = true))
    if (missing("table.materialize_s")) m("table.materialize_s") = t
    val (_, tc) = secs("canonical.canonical_triples")(Canonicalizer.canonicalTriples(spark,
      spark.read.parquet(root.resolve("nodes").toString),
      spark.read.parquet(root.resolve("edges").toString))
      .write.parquet(root.resolve("canonical_triples").toString))
    if (missing("canonical.canonical_triples_s")) m("canonical.canonical_triples_s") = tc
    if (missing("table.files_written")) {
      val (files, bytes) = FileTree.fileStats(root)
      m("table.files_written") = files.toDouble
      m("table.bytes_written") = bytes.toDouble
    }
  }

  /** Point reads on a few conversations, median latency per kind; every
    * read is checked against the pure-JVM graph of its conversation. */
  def reads(root: Path, convs: IndexedSeq[Conv], graphs: Map[String, ConvGraph]): Boolean = {
    val store = new GraphStore(spark, root.toString)
    val ids = convs.take(5).map(_.id)
    var ok = true
    def med(name: String, read: String => Seq[Row], check: (ConvGraph, Seq[Row]) => Boolean): Double = {
      read(ids.head)
      Stats.median(ids.map { c =>
        val (rows, t) = secs(name)(read(c))
        ok &&= check(graphs(c), rows)
        t * 1000
      })
    }
    def removed(c: String) = Expected.removalCandidate(graphs(c), 0)
    val reads = Seq[(String, String => Seq[Row], (ConvGraph, Seq[Row]) => Boolean)](
      ("table.read_triples_ms", c => store.triples(c).collect().toSeq,
        (g, rows) => Expected.readTriples(rows) == Expected.triples(g)),
      ("table.read_summary_ms", c => store.summary(c).collect().toSeq, Expected.summaryMatches),
      ("query.holding_support_ms", c => store.holdingSupport(c).collect().toSeq,
        (g, rows) => Expected.readSupport(rows) == Expected.holdingSupport(g)),
      ("query.counterfactual_ms", c => store.counterfactual(c, removed(c)).collect().toSeq,
        (g, rows) => rows.map(_.getAs[String]("holding_id")).sorted ==
          Expected.counterfactual(g, removed(g.summary.convId))))
    for ((k, read, check) <- reads) m(k) = med(k.stripSuffix("_ms"), read, check)
    ok
  }

  /** One pass over the operator queries (its first, so JIT-cold). */
  def operators(sf: Path): Unit =
    for (q <- OperatorsWorkload.Queries)
      m(s"operators.${q}_s") = secs(s"operators.$q")(graft.SparkEntry.queries(q)(spark, sf.toString).collect())._2
}
