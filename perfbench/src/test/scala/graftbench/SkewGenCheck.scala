package graftbench

import scala.collection.mutable

/** Property checks for the `skew` workload's generator, run through the real
  * extractor (`python3 perfbench/run.py --selftest`). For several seeds at
  * the workload's own size it asserts that
  *  - the hottest cases each appear in 10-50% of conversations;
  *  - every extracted precedent node carries the planted case name, so the
  *    name↔citation pairs are exactly the planted ones;
  *  - the candidate-edge count equals the planted distinct pairs plus the
  *    citation self-edges, over tens of thousands of distinct keys;
  *  - the hottest family's alias chain has diameter > 10.
  * Exits non-zero on the first violated property.
  */
object SkewGenCheck {

  private def check(cond: Boolean, what: String): Unit = {
    println((if (cond) "ok   " else "FAIL ") + what)
    if (!cond) sys.exit(1)
  }

  /** Exact diameter of a tree-shaped component, by a double BFS sweep. */
  def pathDiameter(adj: Map[String, Seq[String]], start: String): Int = {
    def farthest(from: String): (String, Int) = {
      val dist = mutable.HashMap(from -> 0)
      val queue = mutable.Queue(from)
      var best = (from, 0)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        for (v <- adj.getOrElse(u, Nil) if !dist.contains(v)) {
          dist(v) = dist(u) + 1
          if (dist(v) > best._2) best = (v, dist(v))
          queue.enqueue(v)
        }
      }
      best
    }
    farthest(farthest(start)._1)._2
  }

  def main(args: Array[String]): Unit = {
    for (seed <- Seq(1L, 2L, 3L)) {
      val gen = SkewGen(seed, Sizes.SkewConvs)
      println(s"seed $seed: ${gen.nConvs} conversations")
      val planned = (0 until gen.nConvs).map(gen.mentions)

      val share = planned.map(_.map(_.family).toSet)
      for (rank <- 0 until 3) {
        val s = share.count(_.contains(rank)).toDouble / gen.nConvs
        check(s >= 0.10 && s <= 0.50, f"family $rank appears in $s%.3f of conversations (10-50%%)")
      }

      val graphs = Expected.extractAll(gen.convs, 4)
      val precedents = graphs.flatMap(_.nodes.filter(_.nodeType == "precedent"))
      check(precedents.forall(_.caseName != null), s"all ${precedents.size} precedent nodes carry caseName")
      val extractedPairs = precedents.map(n => (n.caseName, n.citation)).toSet
      val plannedPairs = planned.flatten.map(m => (m.caseName, m.citation)).toSet
      check(extractedPairs == plannedPairs, s"extracted name/citation pairs equal the ${plannedPairs.size} planted")

      val keys = Expected.precedentKeys(graphs)
      val edges = Expected.candidateEdges(keys)
      val plannedCits = plannedPairs.map(p => "cit:air:" + p._2.toLowerCase)
      val expectedEdges = plannedPairs.size + plannedCits.size
      check(edges.size == expectedEdges, s"candidate edges ${edges.size} == planted pairs + citation self-edges $expectedEdges")
      val distinctKeys = edges.flatMap(e => Seq(e._1, e._2)).size
      check(distinctKeys >= 20000, s"$distinctKeys distinct name/citation keys (>= 20000)")

      val links = edges.toSeq.filter(e => e._1 != e._2)
      val adj = (links ++ links.map(_.swap)).groupMap(_._1)(_._2)
      val hot = "case:" + SkewGen.caseName(0, 0).toLowerCase
      val d = pathDiameter(adj, hot)
      check(d > 10, s"hottest alias chain diameter $d > 10")
    }
  }
}
