package graft

import graft.kg.io.CaseAdapter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-adaptive case loading (_adapt_case / _sanitize_case_id,
  * run_iltur.py:431-577): heterogeneous corpus schemas coalesce to
  * (case_id, text, label) and feed the pipeline as single-document
  * transcripts. */
class CaseAdapterSpec extends AnyFunSuite with LocalSparkSuite {

  test("sanitize: path separators, weird chars, collapse, empty fallback") {
    import spark.implicits._
    val out = Seq("2018/123 (A.B.)", "  ", "a//b\\c", "___x___")
      .toDF("raw")
      .select(CaseAdapter.sanitizeCaseId(col("raw")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("2018_123_A.B._", "case", "a_b_c", "x")
      || out == Seq("2018_123_A.B.", "case", "a_b_c", "x"), out.toString)
  }

  test("English HF-style schema: text/id/label columns") {
    import spark.implicits._
    val df = Seq(("c-1", "The appeal is allowed.", 1),
      ("c-2", "The appeal is dismissed.", 0)).toDF("case_id", "text", "label")
    val a = CaseAdapter.adaptCases(df).orderBy("case_id").collect()
    assert(a.map(_.getString(0)).toSeq == Seq("c-1", "c-2"))
    assert(a.map(_.getInt(2)).toSeq == Seq(1, 0))
  }

  test("Turkish AYM schema: Metin text, URL-derived id, labels vector") {
    import spark.implicits._
    val df = Seq(
      ("Karar metni burada.", "https://kararlarbilgibankasi.anayasa.gov.tr/BB/2018/123", Seq(0, 1)),
      ("Başka bir karar.", "https://kararlarbilgibankasi.anayasa.gov.tr/BB/2019/7", Seq(0, 0)))
      .toDF("Metin", "url", "labels")
    val a = CaseAdapter.adaptCases(df, "tr").orderBy("case_id").collect()
    assert(a.map(_.getString(0)).toSeq == Seq("123", "7"))
    assert(a.map(_.getString(1)).toSeq == Seq("Karar metni burada.", "Başka bir karar."))
    assert(a.map(_.getInt(2)).toSeq == Seq(1, 0))
  }

  test("ECHR-style schema: facts list joined, string outcome label") {
    import spark.implicits._
    val df = Seq((Seq("Fact one.", "Fact two."), "violation", "app-9"))
      .toDF("facts", "outcome", "id")
    val a = CaseAdapter.adaptCases(df, "echr").collect().head
    assert(a.getString(0) == "app-9")
    assert(a.getString(1) == "Fact one.\nFact two.")
    assert(a.getInt(2) == 1)
  }

  test("no known columns: JSON last resort + content-hash id, no crash") {
    import spark.implicits._
    val df = Seq(("x", 42)).toDF("mystery", "number")
    val a = CaseAdapter.adaptCases(df).collect().head
    assert(a.getString(0).startsWith("in_"))
    assert(a.getString(1).contains("mystery"))
    assert(a.isNullAt(2))
  }

  test("adapted cases run through the extraction pipeline") {
    import spark.implicits._
    val df = Seq(("k1",
      "The petitioner contends the order violates natural justice. " +
        "We hold that the order cannot be sustained. The appeal is allowed."))
      .toDF("case_id", "text")
    val transcripts = CaseAdapter.asTranscripts(CaseAdapter.adaptCases(df))
    val triples = graft.kg.pipeline.KgPipeline.triplesDirect(spark, transcripts).collect()
    assert(triples.nonEmpty)
    assert(triples.forall(_.convId == "k1"))
  }
}
