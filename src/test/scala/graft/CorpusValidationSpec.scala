package graft

import graft.kg.eval.CorpusValidation
import graft.kg.extract.GraphAssembly
import graft.kg.query.GraphQuality
import graft.kg.table.Materializer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the round-7 oracle-backed operators: warning
  * classification, the tier gate, the bucket-granular resume filter, and
  * the corpus aggregate validation roll-up. */
class CorpusValidationSpec extends AnyFunSuite with LocalSparkSuite {

  test("classifyWarning: error patterns win over cosmetic; else substantive") {
    assert(GraphAssembly.classifyWarning("Edge e1: target 'x' not found") == "error")
    assert(GraphAssembly.classifyWarning("edge e2 repaired: direction flipped") == "cosmetic")
    assert(GraphAssembly.classifyWarning("unusual actor surface form") == "substantive")
    // a warning matching BOTH classes counts as error (the tier gate's rule)
    assert(GraphAssembly.classifyWarning("repaired edge is invalid") == "error")
  }

  test("tierFilter: case-insensitive membership; null tier always skipped") {
    import spark.implicits._
    val df = Seq(("a", "gold"), ("b", "Silver"), ("c", "bronze"),
      ("d", null.asInstanceOf[String])).toDF("id", "tier")
    val kept = df.filter(GraphQuality.tierFilter(col("tier"), Set("GOLD", "silver")))
      .select("id").as[String].collect().sorted
    assert(kept.toSeq == Seq("a", "b"))
    // empty filter set keeps nothing (the reference only calls it when set)
    assert(df.filter(GraphQuality.tierFilter(col("tier"), Set.empty)).count() == 0)
  }

  test("resumeFilter: empty commit log is identity; committed buckets drop") {
    import spark.implicits._
    val df = Seq.tabulate(40)(i => (s"conv_$i", i % 8)).toDF("conv_id", "bucket")
    assert(Materializer.resumeFilter(df, Set.empty).count() == 40)
    val pending = Materializer.resumeFilter(df, Set(0, 3))
    assert(pending.count() == 30)
    assert(pending.filter(col("bucket").isin(0, 3)).count() == 0)
  }

  test("corpus aggregate validation: hand-computed roll-up on a tiny corpus") {
    import spark.implicits._
    // 12 graphs: two share a case_id; one has error warnings; one is empty;
    // one 0-fact with nodes; one 0-edge with >2 nodes; one n_facts outlier
    val rows = Seq(
      ("c1", Seq("edge e1: target 'x' not found"), "bronze", 3L, 4L, 5L),
      ("c1", Seq.empty[String], "gold", 2L, 3L, 4L),
      ("c2", Seq("anchor normalized"), "gold", 1L, 2L, 3L),
      ("c3", Seq("unusual actor surface"), "silver", 2L, 2L, 4L),
      ("c4", Seq.empty[String], "gold", 0L, 1L, 6L),
      ("c5", Seq.empty[String], "gold", 2L, 0L, 5L),
      ("c6", Seq.empty[String], "gold", 1L, 2L, 0L),
      ("c7", Seq.empty[String], "gold", 3L, 3L, 3L),
      ("c8", Seq.empty[String], "gold", 2L, 2L, 2L),
      ("c9", Seq.empty[String], "gold", 1L, 1L, 4L),
      ("c10", Seq.empty[String], "reject", 2L, 3L, 5L),
      ("c11", Seq.empty[String], "gold", 500L, 2L, 3L))
      .toDF("case_id", "warnings", "tier", "n_facts", "n_edges", "n_nodes_total")
    val s = CorpusValidation.summary(rows).collect()(0)
    def g(n: String): Long = s.getAs[Long](n)
    assert(g("total_graphs") == 12)
    assert(g("n_passed") == 11 && g("n_failed") == 1)
    assert(g("total_errors") == 1 && g("total_cosmetic") == 1 &&
      g("total_substantive") == 1)
    assert(g("n_gold") == 9 && g("n_silver") == 1 && g("n_bronze") == 1 &&
      g("n_reject") == 1)
    assert(g("dup_case_ids") == 1 && g("dup_files") == 2)
    assert(g("degen_no_facts") == 1 && g("degen_no_edges") == 1 &&
      g("degen_empty") == 1)
    // n_facts: eleven values 0-3 plus one 500 → only the 500 has |z| > 3
    assert(g("anom_n_facts") == 1)
    // n_edges/n_nodes: tight ranges, sample σ small but spread < 3σ
    assert(g("anom_n_edges") == 0 && g("anom_n_nodes") == 0)
  }

  test("corpus aggregate validation: z-pass guards (n < 10 disables)") {
    import spark.implicits._
    val rows = Seq(
      ("a", Seq.empty[String], "gold", 1L, 1L, 1L),
      ("b", Seq.empty[String], "gold", 1L, 1L, 1L),
      ("c", Seq.empty[String], "gold", 900L, 1L, 1L))
      .toDF("case_id", "warnings", "tier", "n_facts", "n_edges", "n_nodes_total")
    val s = CorpusValidation.summary(rows).collect()(0)
    // 3 graphs < 10 → anomaly detection disabled despite the huge outlier
    assert(s.getAs[Long]("anom_n_facts") == 0)
    // σ = 0 for n_edges → guarded even if n were ≥ 10
    assert(s.getAs[Long]("anom_n_edges") == 0)
  }
}
