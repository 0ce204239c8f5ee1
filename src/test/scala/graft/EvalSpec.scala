package graft

import graft.kg.eval.{Qrels, RankMetrics, Significance}
import graft.kg.gen.TranscriptGen
import graft.kg.pipeline.KgPipeline
import graft.kg.query.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Qrels construction + significance layer (eval_retrieval_v2.py:345-643,
  * :982-1056; eval_ablation.py:382-393) — pattern generation is asserted
  * string-for-string against outputs of the reference's own
  * _concept_id_to_patterns, and the full retrieval-eval flow (build qrels →
  * score → RankMetrics → paired t-test + bootstrap CI) runs end-to-end. */
class EvalSpec extends AnyFunSuite with LocalSparkSuite {

  test("concept-id patterns match the reference generator string-for-string") {
    assert(Qrels.conceptIdToPatterns("CONST_ART14") == List(
      "(?:Article|Art\\.?)\\s*14\\b",
      "(?:Article|Art\\.?)\\s*14\\b.{0,30}Constitution",
      "\\b14\\s+Constitution",
      "(?:Article|Art\\.?)\\s*14\\b.{0,30}Constitution\\s+of\\s+India",
      "\\b14\\s+Constitution\\s+of\\s+India"))
    assert(Qrels.conceptIdToPatterns("UNLISTED_IPC_S302") == List(
      "(?:Section|Sec\\.?|S\\.?)\\s*302\\b",
      "(?:Section|Sec\\.?|S\\.?)\\s*302\\b.{0,30}I\\.?P\\.?C\\.?",
      "\\b302\\s+I\\.?P\\.?C\\.?",
      "(?:Section|Sec\\.?|S\\.?)\\s*302\\b.{0,30}Indian\\s+Penal\\s+Code",
      "\\b302\\s+Indian\\s+Penal\\s+Code"))
    assert(Qrels.conceptIdToPatterns("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM")
      == List("natural justice"))
    assert(Qrels.conceptIdToPatterns("DOCTRINE_BASIC_STRUCTURE") == List("basic structure"))
    assert(Qrels.conceptIdToPatterns("UNLISTED_CRPC_S482") == List(
      "(?:Section|Sec\\.?|S\\.?)\\s*482\\b",
      "(?:Section|Sec\\.?|S\\.?)\\s*482\\b.{0,30}Cr\\.?P\\.?C\\.?",
      "\\b482\\s+Cr\\.?P\\.?C\\.?",
      "(?:Section|Sec\\.?|S\\.?)\\s*482\\b.{0,30}Code\\s+of\\s+Criminal\\s+Procedure",
      "\\b482\\s+Code\\s+of\\s+Criminal\\s+Procedure"))
    assert(Qrels.conceptIdToPatterns("TEST_WEDNESBURY_UNREASONABLENESS") == List("Wednesbury"))
    assert(Qrels.conceptIdToPatterns("CONCEPT_RES_JUDICATA") == List("res judicata"))
    assert(Qrels.conceptIdToPatterns("UNLISTED_FOO_BAR", "Some Unusual Doctrine Name")
      == List("Some\\s+Unusual\\s+Doctrine"))
  }

  test("statute-equivalent expansion: IPC 302 query also matches BNS 103") {
    val mappings = graft.kg.ontology.Ontology.default.statuteMappings
    assert(mappings.nonEmpty, "statute_mappings rows should parse")
    val ps = Qrels.patternsWithStatuteEquivalents("UNLISTED_IPC_S302", null, mappings)
    assert(ps.exists(_.contains("302")))
    assert(ps.exists(p => p.contains("103") && p.contains("B\\.?N\\.?S")),
      ps.mkString(" | "))
    // and the reverse direction: BNS 103 expands back to IPC 302
    val rev = Qrels.patternsWithStatuteEquivalents("UNLISTED_BNS_S103", null, mappings)
    assert(rev.exists(p => p.contains("302") && p.contains("I\\.?P\\.?C")),
      rev.mkString(" | "))
  }

  test("paired t-test: identical vectors are n.s., shifted vectors significant") {
    val a = Seq(0.5, 0.6, 0.7, 0.4, 0.55, 0.62, 0.48, 0.71)
    val same = Significance.pairedTTest(a, a)
    assert(same.t == 0.0 && same.p == 1.0)
    assert(Significance.significanceLabel(same.p) == "n.s.")
    val b = a.zipWithIndex.map { case (x, i) => x - 0.1 - 0.01 * (i % 3) }
    val tt = Significance.pairedTTest(a, b)
    assert(tt.p < 0.01, s"p=${tt.p}")
    assert(Significance.significanceLabel(tt.p) == "**")
    // symmetric: swapping flips t's sign, keeps p
    val rev = Significance.pairedTTest(b, a)
    assert(math.abs(rev.t + tt.t) < 1e-9 && math.abs(rev.p - tt.p) < 1e-12)
  }

  test("Brier score: perfect confident predictions score 0, confident misses 1") {
    val truth = Seq(1, 0, 1, 0)
    assert(Significance.brierScore(truth, Seq(1.0, 1.0, 1.0, 1.0), truth) == 0.0)
    val wrong = truth.map(1 - _)
    assert(Significance.brierScore(wrong, Seq(1.0, 1.0, 1.0, 1.0), truth) == 1.0)
    // half-confidence is 0.25 regardless of correctness
    assert(Significance.brierScore(truth, Seq(0.5, 0.5, 0.5, 0.5), truth) == 0.25)
  }

  test("McNemar: discordant-pair chi2 with continuity correction") {
    val truth = Seq(1, 1, 1, 1, 0, 0, 0, 0, 1, 0)
    // identical predictions → no discordant pairs
    assert(Significance.mcnemarTest(truth, truth, truth) == (0.0, "n/a"))
    // A right where B wrong on 8 of 10, B never right where A wrong
    val a = truth
    val b = truth.zipWithIndex.map { case (t, i) => if (i < 8) 1 - t else t }
    val (chi2, sig) = Significance.mcnemarTest(a, b, truth)
    assert(math.abs(chi2 - 49.0 / 8.0) < 0.001, chi2.toString)
    assert(sig == "p<0.05")
    // balanced disagreement → not significant
    val c = truth.zipWithIndex.map { case (t, i) => if (i % 2 == 0) 1 - t else t }
    val d = truth.zipWithIndex.map { case (t, i) => if (i % 2 == 1) 1 - t else t }
    assert(Significance.mcnemarTest(c, d, truth)._2.contains("n.s."))
  }

  test("bootstrap CI is deterministic, brackets the true difference") {
    val a = Seq.tabulate(40)(i => 0.6 + 0.01 * (i % 5))
    val b = Seq.tabulate(40)(i => 0.5 + 0.01 * ((i + 2) % 5))
    val (lo, hi) = Significance.bootstrapCiDiff(a, b, nBoot = 2000)
    val (lo2, hi2) = Significance.bootstrapCiDiff(a, b, nBoot = 2000)
    assert(lo == lo2 && hi == hi2) // seeded determinism
    val trueDiff = a.sum / a.length - b.sum / b.length
    assert(lo <= trueDiff && trueDiff <= hi, s"[$lo,$hi] vs $trueDiff")
    assert(hi - lo < 0.05) // tight for near-constant diffs
  }

  test("ablation bootstrap CI replicates numpy bit-exactly (MT19937 fixture)") {
    // expected values computed with numpy RandomState(42) on this exact
    // input (10,000 resamples): (0.0, 0.2333)
    val n = 120
    val predsA = (0 until n).map(i => (i * i * 7 + 3) % 5 % 2)
    val predsB = (0 until n).map(i => (i * i * 11 + 1) % 7 % 2)
    val trues = (0 until n).map(i => (i * i * 13 + 2) % 3 % 2)
    val (lo, hi) = Significance.ablationBootstrapCi(predsA, predsB, trues)
    assert(lo == 0.0 && hi == 0.2333, s"($lo, $hi)")
  }

  test("annotation-mode qrels: df band, graded relevance, deterministic queries") {
    import spark.implicits._
    // controlled fixture: 20 convs; IN_BAND in 5 (mixed grades), RARE in 2
    // (below min df 3), BROAD in 10 (above the 25% cap of 5), EDGE in 3
    def concept(conv: Int, cid: String, relevance: String) =
      (f"conv_$conv%03d", s"c_$cid$conv", "concept", cid, relevance)
    val rows =
      (0 until 5).map(i => concept(i, "IN_BAND", if (i == 0) "central" else "mentioned")) ++
        (0 until 2).map(i => concept(i, "RARE", "supporting")) ++
        (0 until 10).map(i => concept(i, "UNLISTED_BROAD_ONE", "mentioned")) ++
        (0 until 3).map(i => concept(i + 10, "UNLISTED_EDGE_CASE", "supporting")) ++
        (10 until 30).map(i => (f"conv_$i%03d", s"f$i", "fact", null: String, null: String))
    val nodes = rows.toDF("convId", "id", "nodeType", "conceptId", "relevance")
    val (queries, qrels) = Qrels.annotationQrels(nodes, nQueries = 10)
    val qs = queries.collect().map(r => (r.getString(0), r.getString(1))).toList
    // corpus = 30 distinct convs → max df 7; BROAD (10) and RARE (2) excluded
    assert(qs.map(_._1).toSet == Set("IN_BAND", "UNLISTED_EDGE_CASE"), qs.toString)
    // query text: UNLISTED_ prefix stripped, underscores to spaces
    assert(qs.toMap.apply("UNLISTED_EDGE_CASE") == "EDGE CASE")
    assert(qs.toMap.apply("IN_BAND") == "IN BAND")
    // graded relevance from the relevance map
    val grades = qrels.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(grades.filter(_._1 == "IN_BAND").map(_._3).toSet == Set(4, 1))
    assert(grades.filter(_._1 == "UNLISTED_EDGE_CASE").forall(_._3 == 3))
    // deterministic across recomputation
    val (queries2, _) = Qrels.annotationQrels(nodes, nQueries = 10)
    assert(queries2.collect().map(_.toString).sorted.toSeq ==
      queries.collect().map(_.toString).sorted.toSeq)
  }

  test("TF-IDF index reuse: two query batches, identical to one-shot scoring") {
    import spark.implicits._
    val docs = Seq(
      ("d1", "the spark join merge shuffle"), ("d2", "window filter scan spark"),
      ("d3", "customer order line total"), ("d4", "join merge spark spark join"))
      .toDF("conv_id", "doc_text")
    val idx = Retrieval.buildTfidfIndex(spark, docs)
    val qa = Seq((0, "spark join")).toDF("query_id", "query_text")
    val qb = Seq((1, "customer order")).toDF("query_id", "query_text")
    val a = Retrieval.queryTfidfIndex(idx, qa).collect().map(_.toString).sorted
    val b = Retrieval.queryTfidfIndex(idx, qb).collect().map(_.toString).sorted
    assert(a.nonEmpty && b.nonEmpty)
    val oneShotA = Retrieval.tfidfScores(spark, docs, qa).collect().map(_.toString).sorted
    assert(a.toSeq == oneShotA.toSeq)
  }

  test("tfidf doc vectors match an explode+groupBy reference recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pins the in-row run-length term counting + window-based L2 norm
    // against a structurally different plan computing the sklearn formula
    // (sublinear tf, smooth idf, l2 norm) from first principles, including
    // the 1-2-gram construction over a doc with repeated terms
    val docs = Seq(
      ("d1", "spark join spark join merge"), ("d2", "window filter scan"),
      ("d3", "spark"), ("d4", "")).toDF("conv_id", "doc_text")
    val idx = Retrieval.buildTfidfIndex(spark, docs)
    val got = idx.docVectors.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // reference: explode raw 1-2 grams, count, then the same weighting
    def grams(text: String): Seq[String] = {
      val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val rows = Seq("d1", "d2", "d3", "d4").flatMap { id =>
      val text = docs.filter(col("conv_id") === id).head().getString(1)
      grams(text).groupBy(identity).map { case (t, xs) => (id, t, xs.size.toLong) }
    }
    val n = 4.0
    val dfs = rows.groupBy(_._2).map { case (t, xs) => t -> xs.size }
    val w = rows.map { case (id, t, tf) =>
      (id, t) -> (1.0 + math.log(tf)) * (math.log((1 + n) / (1.0 + dfs(t))) + 1.0)
    }.toMap
    val norms = w.groupBy(_._1._1).map { case (id, m) =>
      id -> math.sqrt(m.values.map(x => x * x).sum)
    }
    val expected = w.map { case ((id, t), x) => (id, t) -> x / norms(id) }
    assert(got.keySet == expected.keySet)
    for ((k, v) <- got)
      assert(math.abs(v - expected(k)) < 1e-12, s"$k: $v vs ${expected(k)}")
  }

  test("end-to-end: regex qrels -> TF-IDF vs BM25 -> metrics -> significance") {
    import spark.implicits._
    val transcripts = (0 until 40)
      .flatMap(i => TranscriptGen.conversation(f"conv_$i%06d", 14)).toDF()
    val docs = Retrieval.linearizeStable(
      KgPipeline.nodesDirect(spark, transcripts).toDF())
    // concept queries judged by regex over the linearized corpus text
    val concepts = Seq(
      ("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM", null: String),
      ("DOCTRINE_BASIC_STRUCTURE", null: String),
      ("CONCEPT_RES_JUDICATA", null: String))
    val qrels = Qrels.buildRegexQrels(docs, "conv_id", "doc_text", concepts)
      .withColumnRenamed("doc_id", "doc_id").cache()
    assert(qrels.count() > 0, "qrels empty — synthetic corpus should mention doctrines")
    assert(qrels.select("query_id").distinct().count() >= 2)

    // query text = the concept tokens (the reference queries by concept)
    val queryTexts = concepts.map { case (cid, _) =>
      (cid, cid.toLowerCase.replace("_", " ")) }.toDF("query_id", "query_text")
    val tfidf = Retrieval.tfidfScores(spark, docs, queryTexts)
      .withColumnRenamed("conv_id", "doc_id")
    val bm25 = Retrieval.bm25Scores(spark, docs, queryTexts)
      .withColumnRenamed("conv_id", "doc_id")

    val mA = RankMetrics.perQuery(tfidf, qrels, k = 10)
      .orderBy("query_id").collect()
    val mB = RankMetrics.perQuery(bm25, qrels, k = 10)
      .orderBy("query_id").collect()
    assert(mA.nonEmpty && mA.length == mB.length)
    val apA = mA.map(_.getAs[Double]("ap")).toSeq
    val apB = mB.map(_.getAs[Double]("ap")).toSeq
    // both methods retrieve the doctrine-bearing conversations: decent MAP
    assert(apA.sum / apA.length > 0.3, s"tfidf MAP ${apA.sum / apA.length}")
    assert(apB.sum / apB.length > 0.3, s"bm25 MAP ${apB.sum / apB.length}")

    if (apA.length >= 2) {
      val tt = Significance.pairedTTest(apA, apB)
      assert(tt.p >= 0.0 && tt.p <= 1.0)
      val (lo, hi) = Significance.bootstrapCiDiff(apA, apB, nBoot = 1000)
      assert(lo <= hi)
    }
  }
}
