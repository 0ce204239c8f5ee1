package graft

import graft.kg.eval.DualEngineCheck
import org.scalatest.funsuite.AnyFunSuite

/** sbt-gated version of Verify's dual-engine self-check: the Spark pipeline
  * (conv_id exchange + sort + consecutive-run grouping + encoders) and the
  * pure-JVM single-thread extractor loop must agree exactly — triples as a
  * multiset plus all four histogram projections the kg_* queries publish. */
class DualEngineSpec extends AnyFunSuite with LocalSparkSuite {

  test("Spark pipeline output == pure-JVM extractor on 300 conversations") {
    val n = 300
    val result = DualEngineCheck.compare(n,
      DualEngineCheck.spark(spark, n, 14), DualEngineCheck.pure(n, 14))
    assert(result.triples > 0)
    assert(result.allEqual, result.json)
  }

  test("all 12 kg_* query outputs == pure-JVM recomputation (memo input, sf0.001)") {
    // drives the ACTUAL SparkEntry kg_* queries (extract-once memo, 100
    // convs at sf0.001) against the plain-collections recomputation —
    // distributed CC / salted agg / support joins vs min-label union-find
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val memoN = 100
    val base = DualEngineCheck.compare(memoN,
      DualEngineCheck.fromSpark(
        SparkEntry.queries("kg_triples")(spark, dir),
        SparkEntry.queries("kg_node_histogram")(spark, dir),
        SparkEntry.queries("kg_relation_histogram")(spark, dir),
        SparkEntry.queries("kg_tier_histogram")(spark, dir),
        SparkEntry.queries("kg_orphans")(spark, dir)),
      DualEngineCheck.pure(memoN, 14))
    assert(base.allEqual, base.json)
    val ext = DualEngineCheck.compare2(memoN,
      DualEngineCheck.fromSpark2(
        SparkEntry.queries("kg_canonical_triples")(spark, dir),
        SparkEntry.queries("kg_entity_stats")(spark, dir),
        SparkEntry.queries("kg_quality_scores")(spark, dir),
        SparkEntry.queries("kg_holding_support")(spark, dir),
        SparkEntry.queries("kg_conceptset_retrieval")(spark, dir),
        SparkEntry.queries("kg_linearize")(spark, dir),
        SparkEntry.queries("kg_json_export")(spark, dir)),
      DualEngineCheck.pure2(memoN, 14))
    assert(ext.allEqual, ext.json)
  }

  test("SparkEntry.entry == kg_triples rows (sf0.001 memo)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, String)] =
      df.select("conv_id", "subj", "pred", "obj").collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted
    val entry = rows(SparkEntry.entry(spark))
    assert(entry.nonEmpty)
    assert(entry == rows(SparkEntry.queries("kg_triples")(spark, dir)))
  }
}
