package graftbench

import graft.kg.extract.DocExtractor
import graft.kg.model.{ConvGraph, Node}
import graft.kg.ontology.{Ontology, OntologyData}
import org.apache.spark.sql.Row
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

/** A conversation as the benchmark generates it: (turn_idx, text) pairs. */
final case class Conv(id: String, turns: Seq[(Int, String)])

/** Expected outputs computed without Spark: the pure-JVM extractor, a plain
  * union-find for canonicalization, and collection-level mirrors of the
  * point reads. Every benchmark operation is checked against these. */
object Expected {

  val ontology: OntologyData = Ontology.forJurisdiction("in")

  def extract(c: Conv, repairOrphans: Boolean = true): ConvGraph =
    DocExtractor.extract(c.id, c.turns, ontology, "in", repairOrphans)

  def extractAll(convs: IndexedSeq[Conv], threads: Int): IndexedSeq[ConvGraph] = {
    val par = convs.par
    par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(threads))
    par.map(c => extract(c)).seq.toIndexedSeq
  }

  /** Row count of each of Materializer's 8 tables. */
  def tableRows(gs: Seq[ConvGraph]): Map[String, Long] = {
    val edges = gs.map(_.edges.size.toLong).sum
    Map(
      "nodes" -> gs.map(_.nodes.size.toLong).sum,
      "edges" -> edges,
      "triples" -> edges,
      "justification_sets" -> gs.map(_.justificationSets.size.toLong).sum,
      "chains" -> gs.map(_.chains.size.toLong).sum,
      "cluster_members" -> gs.map(_.clusterMembers.size.toLong).sum,
      "requirements" -> gs.map(_.requirements.size.toLong).sum,
      "summaries" -> gs.size.toLong)
  }

  /** Spark's `hash(s)` (Murmur3 x86_32, seed 42, UTF-8 bytes). */
  def sparkHash(s: String): Int = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET.toLong, b.length, 42)
  }

  /** Order-independent content hash of a triple set: the sum of
    * `hash(concat_ws("|", conv_id, subj, pred, obj))` over all rows. */
  def tripleHash(conv: String, subj: String, pred: String, obj: String): Long =
    sparkHash(s"$conv|$subj|$pred|$obj").toLong

  /** Spark `trim` (spaces only), `regexp_replace(\s+, " ")`, `lower`. */
  private def normName(s: String): String =
    s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT)

  final case class MentionKey(convId: String, id: String, nameKey: String, citKey: String)

  def precedentKeys(gs: Seq[ConvGraph]): Seq[MentionKey] =
    for (g <- gs; n <- g.nodes if n.nodeType == "precedent") yield {
      val name = if (n.caseName != null) "case:" + normName(n.caseName) else null
      val cit = if (n.citation != null && n.citationType != null)
        "cit:" + n.citationType + ":" + normName(n.citation) else null
      MentionKey(n.convId, n.id, name, cit)
    }

  /** The distinct edges `Canonicalizer` hands to connected components:
    * name↔citation pairs plus citation self-edges. */
  def candidateEdges(keys: Seq[MentionKey]): Set[(String, String)] =
    (keys.filter(k => k.nameKey != null && k.citKey != null).map(k => (k.nameKey, k.citKey)) ++
      keys.filter(_.citKey != null).map(k => (k.citKey, k.citKey))).toSet

  /** Min-label union-find: each key → the smallest key reachable from it. */
  def components(edges: Iterable[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  final case class Canonical(
      triples: Long, hash: Long, candidateEdges: Long, components: Long, largestComponent: Long)

  /** Canonical triples of a corpus, as `Canonicalizer.canonicalTriples`
    * defines them, reduced to a count and an order-independent hash. */
  def canonical(gs: Seq[ConvGraph]): Canonical = {
    val keys = precedentKeys(gs)
    val edges = candidateEdges(keys)
    val comps = components(edges)
    val mapping = mutable.HashMap.empty[(String, String), String]
    for (k <- keys if k.citKey != null) mapping((k.convId, k.id)) = comps.getOrElse(k.citKey, k.citKey)
    for (g <- gs; n <- g.nodes if n.nodeType == "concept")
      mapping((n.convId, n.id)) = "concept:" + n.conceptId
    var count = 0L; var hash = 0L
    for (g <- gs; e <- g.edges) {
      val s = mapping.getOrElse((e.convId, e.source), e.convId + "/" + e.source)
      val o = mapping.getOrElse((e.convId, e.target), e.convId + "/" + e.target)
      count += 1; hash += tripleHash(e.convId, s, e.relation, o)
    }
    val sizes = comps.values.groupBy(identity).values.map(_.size.toLong)
    Canonical(count, hash, edges.size.toLong, sizes.size.toLong,
      if (sizes.isEmpty) 0L else sizes.max)
  }

  // ---- point reads --------------------------------------------------------

  def triples(g: ConvGraph): Seq[(String, String, String)] =
    g.edges.map(e => (e.source, e.relation, e.target)).sorted

  def readTriples(rows: Seq[Row]): Seq[(String, String, String)] =
    rows.map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"), r.getAs[String]("obj"))).sorted

  /** True when the read returned exactly this conversation's summary row. */
  def summaryMatches(g: ConvGraph, rows: Seq[Row]): Boolean = {
    val s = g.summary
    rows.size == 1 && s.productElementNames.zip(s.productIterator)
      .forall { case (k, v) => rows.head.getAs[Any](k) == v }
  }

  type Support = (String, Seq[String], Seq[String], Seq[String])

  /** Mirror of `GraphOps.holdingSupport` for one conversation. */
  def holdingSupport(g: ConvGraph): Seq[Support] = {
    val byId: Map[String, Seq[Node]] = g.nodes.groupBy(_.id)
    val holdings = g.nodes.filter(_.nodeType == "holding").map(_.id)
    holdings.flatMap { h =>
      val in = for {
        e <- g.edges if e.target == h
        s <- byId.getOrElse(e.source, Nil)
      } yield (e.source, s.nodeType, e.relation)
      if (in.isEmpty) None
      else {
        val js = g.justificationSets.filter(_.targetId == h).map(_.id).sorted
        Some((h,
          in.filter(_._3 == "grounds").map(_._1).sorted,
          in.filter(x => x._2 == "fact" && x._3 == "supports").map(_._1).sorted,
          if (js.isEmpty) null else js))
      }
    }.sortBy(_._1)
  }

  def readSupport(rows: Seq[Row]): Seq[Support] =
    rows.map { r =>
      def arr(c: String): Seq[String] = Option(r.getAs[scala.collection.Seq[String]](c)).map(_.toSeq).orNull
      (r.getAs[String]("holding_id"), arr("grounding_concepts"), arr("supporting_facts"),
        arr("justification_sets"))
    }.sortBy(_._1)

  /** Mirror of `GraphOps.counterfactual`: holdings left without any intact
    * primary justification set once `removed` is gone. */
  def counterfactual(g: ConvGraph, removed: String): Seq[String] = {
    val members = for (e <- g.edges; js <- Option(e.supportGroupIds).getOrElse(Nil)) yield (e.source, js)
    val primary = g.justificationSets.filter(_.isPrimary)
    val groups = for {
      (src, jsId) <- members
      j <- primary if j.id == jsId
    } yield ((j.targetId, j.id, j.logic), src)
    groups.groupBy(_._1).toSeq.map { case ((h, _, logic), xs) =>
      val nRemoved = xs.count(_._2 == removed)
      h -> (if (logic == "and") nRemoved > 0 else nRemoved == xs.size)
    }.groupBy(_._1).collect { case (h, bs) if bs.forall(_._2) => h }.toSeq.sorted
  }

  /** A node whose removal the counterfactual read asks about: a member of a
    * primary justification set when there is one. */
  def removalCandidate(g: ConvGraph, pick: Int): String = {
    val primary = g.justificationSets.filter(_.isPrimary).map(_.id).toSet
    val members = g.edges.filter(e => Option(e.supportGroupIds).exists(_.exists(primary))).map(_.source).distinct.sorted
    if (members.nonEmpty) members(Math.floorMod(pick, members.size))
    else g.nodes.headOption.map(_.id).getOrElse("none")
  }
}
