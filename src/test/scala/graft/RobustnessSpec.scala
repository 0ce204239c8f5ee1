package graft

import graft.kg.extract.DocExtractor
import graft.kg.pipeline.KgPipeline
import org.scalatest.funsuite.AnyFunSuite

/** Real-corpus robustness: malformed, empty, and degenerate inputs must not
  * crash the pipeline and must stay deterministic. */
class RobustnessSpec extends AnyFunSuite with LocalSparkSuite {

  test("empty conversation") {
    val g = DocExtractor.extract("c_empty", Seq.empty)
    assert(g.nodes.isEmpty && g.edges.isEmpty)
    assert(g.summary.qualityTier == "bronze") // no holdings/outcome, no errors
  }

  test("null and empty turn texts") {
    val g = DocExtractor.extract("c_null", Seq(0 -> null, 1 -> "", 2 -> "   "))
    assert(g.edges.isEmpty)
    assert(g.summary.docChars >= 2) // newline joins survive
  }

  test("duplicate and gapped turn indexes keep a stable order") {
    val turns = Seq(5 -> "We hold that the order fails.",
      0 -> "The petitioner filed a writ.",
      5 -> "The appeal is allowed.",
      99 -> "Trailing remark.")
    val g1 = DocExtractor.extract("c_dup", turns)
    val g2 = DocExtractor.extract("c_dup", turns.reverse)
    assert(g1.nodes == g2.nodes)
    assert(g1.edges == g2.edges)
  }

  test("single-turn giant text (10k sentences) stays linear-ish and bounded") {
    val big = (1 to 10000).map(i => s"The tribunal passed an order number $i.").mkString(" ")
    val t0 = System.nanoTime()
    val g = DocExtractor.extract("c_big", Seq(0 -> big))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(g.summary.nSentences == 10000)
    assert(sec < 30, s"took $sec s")
  }

  test("pathological regex inputs don't blow up") {
    val nasty = Seq(
      0 -> ("A.A.A.A." * 500),                     // abbreviation storm
      1 -> ("((((" + ")" * 2000),                 // unbalanced brackets
      2 -> ("no. " * 1000),                        // bare-appno bait
      3 -> ("E. 2018/1, K. 2019/2, " * 300),      // TR citation repeats
      4 -> "The appeal is allowed.")
    for (j <- Seq("in", "echr", "tr")) {
      val g = DocExtractor.extract(s"c_nasty_$j", nasty,
        graft.kg.ontology.Ontology.forJurisdiction(j), j)
      assert(g.summary.nSentences > 0)
    }
  }

  test("unicode content (Turkish, CJK, emoji) round-trips through anchors") {
    val turns = Seq(
      0 -> "Başvurucu İstanbul'da 5237 sayılı Kanun uyarınca başvurdu. 这是中文。 🙂",
      1 -> "We hold that the appeal must fail. The appeal is dismissed.")
    val g = DocExtractor.extract("c_uni", turns)
    val full = DocExtractor.assemble(turns)
    for (n <- g.nodes if n.anchor != null) {
      val span = full.substring(n.anchor.startChar, n.anchor.endChar)
      assert(n.anchor.textHash == graft.kg.text.Normalize.textHash16(span))
    }
  }

  test("pipeline handles a conversation with null text rows in Spark") {
    import spark.implicits._
    val df = Seq(
      ("c1", 0, "u", "The petitioner filed a writ.", null.asInstanceOf[String], null.asInstanceOf[java.sql.Timestamp]),
      ("c1", 1, "a", null.asInstanceOf[String], null.asInstanceOf[String], null.asInstanceOf[java.sql.Timestamp]),
      ("c1", 2, "u", "We hold that it fails. The appeal is dismissed.", null.asInstanceOf[String], null.asInstanceOf[java.sql.Timestamp]))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val t = KgPipeline.triplesDirect(spark, df).collect()
    assert(t.nonEmpty)
  }
}
