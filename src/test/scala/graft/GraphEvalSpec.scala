package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.kg.query.GraphEval
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** GraphEval vs the PUBLISHED evaluate_graphs.py, fixture-exact: the
  * fixture (src/test/resources/graft/grapheval_fixture.json) is generated
  * by running the published script's metric functions over 73 current
  * published graphs (scripts/gen_grapheval_fixture.py — the committed
  * evaluation_outputs/ predate the current corpus, so parity targets the
  * published CODE, as with the orphan-repair fixtures). */
class GraphEvalSpec extends AnyFunSuite with LocalSparkSuite {

  private val mapper = new ObjectMapper()
  private def fixture = mapper.readTree(
    getClass.getResourceAsStream("/graft/grapheval_fixture.json"))

  private def ontologyIds: Set[String] = GraphEval.ontologyConceptIds(
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/ontology_compiled.json")), "UTF-8"))

  test("node type from id matches the script's prefix rule") {
    assert(GraphEval.nodeTypeFromId("f12") == "fact")
    assert(GraphEval.nodeTypeFromId("js3") == "justification_set")
    assert(GraphEval.nodeTypeFromId("outcome") == "outcome")
    assert(GraphEval.nodeTypeFromId("fx") == "fact")     // len == prefix+1 clause
    assert(GraphEval.nodeTypeFromId("f") == "unknown")   // bare prefix: no match
    assert(GraphEval.nodeTypeFromId("foo12") == "unknown")
    assert(GraphEval.nodeTypeFromId("h1a") == "unknown")
  }

  test("replays the published script fixture-exactly on 73 published graphs") {
    assume(new java.io.File("/root/reference/iltur_graphs").isDirectory)
    val valid = ontologyIds
    assert(valid.nonEmpty)
    var checked = 0
    for (c <- fixture.path("cases").elements().asScala) {
      val caseId = c.path("case_id").asText()
      val gj = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/root/reference/iltur_graphs/$caseId.json")), "UTF-8")
      val r = GraphEval.evaluateJson(gj, valid, caseId).get
      def d(f: String) = c.path(f).asDouble()
      def i(f: String) = c.path(f).asInt()
      def ss(f: String) = c.path(f).elements().asScala.map(_.asText()).toSeq
      assert(r.caseId == caseId)
      assert(r.edgeValidityRate == d("edge_validity_rate"), s"$caseId validity")
      assert(r.invalidEdgeCount == i("invalid_edge_count"), s"$caseId invalid count")
      assert(r.invalidEdgePatterns == ss("invalid_edge_patterns"), s"$caseId patterns")
      assert(r.connectivityRate == d("connectivity_rate"), s"$caseId connectivity")
      assert(r.orphanCount == i("orphan_count"), s"$caseId orphans")
      assert(r.orphanNodes == ss("orphan_nodes"), s"$caseId orphan ids")
      assert(r.issuesResolvedRate == d("issues_resolved_rate"), s"$caseId issues")
      assert(r.holdingsConnectedRate == d("holdings_connected_rate"), s"$caseId holdings")
      assert(r.unresolvedIssues == ss("unresolved_issues"), s"$caseId unresolved")
      assert(r.missingAnchorCount == i("missing_anchor_count"), s"$caseId anchors")
      assert(r.missingAnchorNodes == ss("missing_anchor_nodes"), s"$caseId anchor ids")
      assert(r.warningsCount == i("warnings_count"), s"$caseId warnings count")
      assert(r.warningsFirst10 == ss("warnings_first10"), s"$caseId warnings")
      assert(r.duplicateCount == i("duplicate_count"), s"$caseId duplicates")
      assert(r.invalidConceptCount == i("invalid_concept_count"), s"$caseId concepts")
      assert(r.qualityScore == d("quality_score"), s"$caseId score")
      val expActors = c.path("actor_distribution").fields().asScala
        .map(e => e.getKey -> e.getValue.asInt()).toMap
      assert(r.actorDistribution == expActors, s"$caseId actors")
      val expCounts = c.path("node_counts").fields().asScala
        .map(e => e.getKey -> e.getValue.asInt()).toMap
      assert(r.nodeCounts == expCounts, s"$caseId counts")
      checked += 1
    }
    assert(checked >= 70)
  }

  test("distributed corpus evaluation covers every published graph") {
    assume(new java.io.File("/root/reference/iltur_graphs").isDirectory)
    val results = GraphEval.evalCorpus(spark, "/root/reference/iltur_graphs", ontologyIds)
      .cache()
    val n = results.count()
    assert(n == fixture.path("n_total_graphs").asLong())
    val s = GraphEval.summary(results).head()
    assert(s.getLong(0) == n)
    assert(s.getDouble(1) > 0.9 && s.getDouble(1) <= 1.0)     // edge validity
    assert(s.getDouble(5) >= 1.0 && s.getDouble(5) <= 10.0)   // avg quality
    val pats = GraphEval.commonInvalidPatterns(results).collect()
    assert(pats.nonEmpty && pats.forall(_.getLong(1) > 0))
    results.unpersist()
  }
}
