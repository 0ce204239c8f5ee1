package graft
package queries

import org.apache.spark.sql.functions._
import Query.pq

/** Evaluation and pipeline-support operators: qrels, citation manifest,
  * density statistics, kNN prediction, blinding, confidence sweep, ranking
  * metrics, significance, bootstrap CI, tier and violation filters,
  * completed-case skip, corpus validation, the transcript generator, the
  * ontology loader and graph JSON serialization. */
private[graft] object EvalQueries {
  val all: Seq[Query] = Seq(
    // --- C15 kNN outcome prediction core (eval_retrieval_v2.py:533-583,
    //     410-427): the REAL CaseRetrieval.predict for ALL FOUR vote
    //     methods over planted neighbor lists — similarities/labels by
    //     doc_id arithmetic, a label-less neighbor that majority/weighted
    //     votes must skip WITHOUT shifting distance-decay ranks, the
    //     weighted/decay zero-total fallback (0, 0.5) where gate-pred is 0
    //     even at prob 0.5, and IDF-weighted family aggregation — plus
    //     weightedJaccard (idf-weighted min/max form, defaulting missing
    //     idf to 1.0) and counterCosine (zero-magnitude-reads-as-1) as
    //     scalar columns. All mirrored closed-form. ---
    Query("q78_knn_predict", (s, dir) => {
      val predU = udf((docId: Long) => {
        import graft.kg.query.CaseRetrieval._
        val s1 = (docId % 5) / 4.0
        val l1 = (docId % 2).toInt
        val s2 = ((docId / 5) % 4) / 4.0
        val l2 = ((docId / 2) % 2).toInt
        val no3 = ((docId / 7) % 2).toInt == 1
        val fam2a = ((docId / 3) % 2).toInt == 0
        def nb(id: String, sim: Double, label: Option[Int],
            fams: Seq[String]): Neighbor =
          Neighbor(id, sim, label, None, Nil, fams, Nil)
        val neighbors = Seq(
          nb("n1", s1, Some(l1), Seq("FAMILY_A")),
          nb("n2", s2, Some(l2),
            if (fam2a) Seq("FAMILY_A", "FAMILY_B") else Seq("FAMILY_B")),
          nb("n3", 0.6, if (no3) None else Some(1), Nil))
        val idf = Map("FAMILY_A" -> 2.0, "FAMILY_B" -> 0.5)
        val out = Seq("majority_vote", "weighted_vote",
          "distance_decay_vote", "family_cluster_aggregate")
          .flatMap { m =>
            val (p, pr) = predict(neighbors, m, idf)
            Seq(p.toDouble, pr)
          }
        val zv = (docId % 3).toDouble
        val wj = weightedJaccard(Map("x" -> 1.0, "y" -> 0.5),
          Map("y" -> 0.3, "z" -> zv), Map("x" -> 2.0, "y" -> 1.5))
        val p1 = (docId % 3).toInt
        val q2 = ((docId / 3) % 3).toInt
        val cc = counterCosine(Map("p" -> p1, "q" -> p1),
          Map("q" -> q2, "r" -> 1))
        out ++ Seq(wj, cc)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), predU(col("doc_id")).as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).cast("int").as("pred_mv"),
          col("r").getItem(1).as("prob_mv"),
          col("r").getItem(2).cast("int").as("pred_wv"),
          col("r").getItem(3).as("prob_wv"),
          col("r").getItem(4).cast("int").as("pred_dd"),
          col("r").getItem(5).as("prob_dd"),
          col("r").getItem(6).cast("int").as("pred_fc"),
          col("r").getItem(7).as("prob_fc"),
          col("r").getItem(8).as("wjac"),
          col("r").getItem(9).as("ccos"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // vote-method mirror: majority = labeled mean (the label-less third
      // neighbor shrinks the denominator); weighted/decay = label-weighted
      // similarity ratios with the decay ranks fixed by neighbor POSITION
      // (the label-less neighbor still occupies rank 2); both fall back to
      // (pred 0, prob 0.5) at zero total weight; family aggregation sums
      // planted per-family IDF weights by label. wjac/ccos reduce to
      // closed-form: 0.45/(2.75+zv) and p1*q2 over the planted norms with
      // the zero-magnitude-as-1 rule.
      """WITH t AS (SELECT doc_id,
             (CAST(doc_id % 5 AS INT)) / 4.0 AS s1,
             CAST(doc_id % 2 AS INT) AS l1,
             (CAST((doc_id // 5) % 4 AS INT)) / 4.0 AS s2,
             CAST((doc_id // 2) % 2 AS INT) AS l2,
             CAST((doc_id // 7) % 2 AS INT) AS no3,
             CAST((doc_id // 3) % 2 AS INT) AS a2,
             CAST(doc_id % 3 AS INT) AS zv,
             CAST(doc_id % 3 AS INT) AS p1,
             CAST((doc_id // 3) % 3 AS INT) AS q2
           FROM documents),
         m AS (SELECT *,
             CAST(l1 + l2 + (1 - no3) AS DOUBLE) / (2 + (1 - no3)) AS prob_mv,
             l1*s1 + l2*s2 + (1 - no3)*0.6 AS wa_wv,
             (1-l1)*s1 + (1-l2)*s2 AS wr_wv,
             l1*s1 + l2*s2*exp(-0.3) + (1 - no3)*0.6*exp(-0.6) AS wa_dd,
             (1-l1)*s1 + (1-l2)*s2*exp(-0.3) AS wr_dd,
             l1*2.0 + l2*(CASE WHEN a2 = 0 THEN 2.5 ELSE 0.5 END) AS ta_fc,
             (1-l1)*2.0 + (1-l2)*(CASE WHEN a2 = 0 THEN 2.5 ELSE 0.5 END) AS tr_fc
           FROM t)
         SELECT doc_id,
           CASE WHEN prob_mv >= 0.5 THEN 1 ELSE 0 END AS pred_mv, prob_mv,
           CASE WHEN wa_wv + wr_wv = 0 THEN 0
                WHEN wa_wv / (wa_wv + wr_wv) >= 0.5 THEN 1 ELSE 0
             END AS pred_wv,
           CASE WHEN wa_wv + wr_wv = 0 THEN 0.5
                ELSE wa_wv / (wa_wv + wr_wv) END AS prob_wv,
           CASE WHEN wa_dd + wr_dd = 0 THEN 0
                WHEN wa_dd / (wa_dd + wr_dd) >= 0.5 THEN 1 ELSE 0
             END AS pred_dd,
           CASE WHEN wa_dd + wr_dd = 0 THEN 0.5
                ELSE wa_dd / (wa_dd + wr_dd) END AS prob_dd,
           CASE WHEN ta_fc / (ta_fc + tr_fc) >= 0.5 THEN 1 ELSE 0
             END AS pred_fc,
           ta_fc / (ta_fc + tr_fc) AS prob_fc,
           0.45 / (2.75 + zv) AS wjac,
           CASE WHEN p1 = 0 THEN 0.0
                ELSE (p1 * q2) / (p1 * sqrt(2.0) * sqrt(q2*q2 + 1.0))
             END AS ccos
         FROM m ORDER BY doc_id""")),

    // --- C16 blinding + leak scrubbing (eval_graph_vs_raw.py:132-276,
    //     299-310, 421-435): the REAL PromptBuilders.blindRawText /
    //     scrubFactText / blindingSanityCheck over four planted documents:
    //     clean baseline, an outcome sentence the blinder AND the fact
    //     scrubber must drop (and the sanity check must flag), a
    //     court-reasoning sentence only the reasoning/leak regexes catch,
    //     and a HEADNOTE prefix strip. Expected strings derived offline by
    //     an independent Python replica of the published blinding logic
    //     (regexes + the 0.50/0.85 truncation cascade + last-period trim)
    //     and pinned as constants in the mirror. ---
    Query("q79_blinding", (s, dir) => {
      val blindU = udf((docId: Long) => {
        import graft.kg.query.PromptBuilders._
        val v = (docId % 4).toInt
        val k1 = "The parties entered into a lease agreement in the year of grace."
        val tail = Seq(
          "The property is situated in the northern district of the town.",
          "A notice was served on the tenant in the month of March.",
          "The rent was paid by cheque on the first day of every month.",
          "The landlord issued several receipts for the amounts received there.",
          "The premises were used for a retail shop during the whole period.",
          "Repairs to the roof were carried out at the cost of the tenant.",
          "The electricity meter was installed in the name of the original owner.")
        val d1 = "The appeal is dismissed."
        val d2 = "The court held that the lease was invalid from inception there."
        val text = v match {
          case 0 => (k1 +: tail).mkString(" ")
          case 1 => (Seq(k1, d1) ++ tail).mkString(" ")
          case 2 => (Seq(k1, d2) ++ tail).mkString(" ")
          case _ => "HEADNOTE: short summary here\n" + (k1 +: tail).mkString(" ")
        }
        val warns = blindingSanityCheck(text, "raw", "k" + v)
        Seq(blindRawText(text), scrubFactText(text), warns.size.toString,
          warns.headOption.getOrElse("<null>")).mkString("|")
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("v"),
          blindU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("v"),
          split(col("r"), "\\|").getItem(0).as("blind"),
          split(col("r"), "\\|").getItem(1).as("scrub"),
          split(col("r"), "\\|").getItem(2).cast("int").as("sanity_n"),
          when(split(col("r"), "\\|").getItem(3) === "<null>", lit(null))
            .otherwise(split(col("r"), "\\|").getItem(3)).as("sanity_first"))
        .orderBy(col("doc_id"))
    }, replayPin = true, oracle = Some(
      // expected strings pinned from an INDEPENDENT Python replica of the
      // published blinding logic (scripts pattern; /tmp/derive_q79.py run
      // offline): variant 0 = clean 42.5%-prefix truncation + last-period
      // trim keeps 3 sentences; variant 1 = outcome sentence dropped by the
      // blinder AND flagged once by the sanity check (ctx window pinned);
      // variant 2 = court-reasoning sentence dropped by blinder and fact
      // scrubber; variant 3 = HEADNOTE prefix stripped only in the blind.
      """WITH k AS (SELECT
             'The parties entered into a lease agreement in the year of ' ||
             'grace. The property is situated in the northern district ' ||
             'of the town.' AS b2,
             'The parties entered into a lease agreement in the year of ' ||
             'grace. The property is situated in the northern district ' ||
             'of the town. A notice was served on the tenant in the ' ||
             'month of March.' AS b3,
             ' The rent was paid by cheque on the first day of every ' ||
             'month. The landlord issued several receipts for the ' ||
             'amounts received there. The premises were used for a ' ||
             'retail shop during the whole period. Repairs to the roof ' ||
             'were carried out at the cost of the tenant. The ' ||
             'electricity meter was installed in the name of the ' ||
             'original owner.' AS rest)
         SELECT d.doc_id, CAST(d.doc_id % 4 AS INT) AS v,
           CASE CAST(d.doc_id % 4 AS INT)
             WHEN 2 THEN k.b2
             WHEN 3 THEN 'short summary here' || chr(10) || k.b3
             ELSE k.b3 END AS blind,
           CASE CAST(d.doc_id % 4 AS INT)
             WHEN 3 THEN 'HEADNOTE: short summary here' || chr(10) ||
                         k.b3 || k.rest
             ELSE k.b3 || k.rest END AS scrub,
           CASE WHEN d.doc_id % 4 = 1 THEN 1 ELSE 0 END AS sanity_n,
           CASE WHEN d.doc_id % 4 = 1
             THEN '  [k1] raw: ... year of grace. The appeal is ' ||
                  'dismissed. The property is situated in ...'
             ELSE NULL END AS sanity_first
         FROM documents d, k ORDER BY d.doc_id""")),

    // --- C17 confidence-gated selective prediction (eval_confidence_sweep
    //     .py:60-104, 110-267, 270-309, 316-332, 417-434, 505-519): the
    //     REAL ConfidenceSweep sweep/auacc/calibration/strategies over
    //     planted 6-case prediction sets (one per v = doc_id % 8).
    //     Expected values pinned from the PUBLISHED script's own functions
    //     run over the same planted sets offline
    //     (scripts/gen_confidence_oracle.py) — sweep row at t=0.70,
    //     AUACC, ECE/Brier both channels, and one cell from each of the
    //     four strategy families incl. contra_hybrid's routing counts. ---
    Query("q80_confidence_sweep", (s, dir) => {
      val sweepU = udf((docId: Long) => {
        import graft.kg.eval.ConfidenceSweep._
        val v = (docId % 8).toInt
        val cases = (0 until 6).map { i =>
          CasePred("c" + i, (i + v) % 2,
            (i + v + (if (i % 3 == 0) 1 else 0)) % 2,
            0.515 + 0.07 * ((i * 3 + v) % 7),
            (i * (i + 1) / 2 + v) % 2,
            0.515 + 0.08 * ((i * 5 + v * 3) % 6))
        }
        val sw = sweep(cases, graph = true)
        val s70 = sw.find(r => math.abs(r.threshold - 0.70) < 1e-9).get
        val cal = calibration(cases)
        val strats = strategies(cases)
        def cell(kind: String, ps: (String, Double)*) =
          strats.find(st => st.strategy == kind && ps.forall { case (k, x) =>
            math.abs(st.params(k) - x) < 1e-9 }).get
        val hyb = cell("hybrid", "t_graph" -> 0.75, "t_raw" -> 0.60)
        val ens = cell("ensemble", "t_min" -> 0.70)
        val cg = cell("contra_graph", "t_flip" -> 0.80)
        val ch = cell("contra_hybrid", "t_high" -> 0.80, "t_low" -> 0.65)
        Seq(s70.coverage, s70.nAccepted.toDouble, s70.accuracy,
          s70.accOnAccepted, s70.accOnRejected, auacc(sw),
          cal.graphEce, cal.rawEce, cal.graphBrier, cal.rawBrier,
          hyb.coverage, hyb.accuracy, hyb.score,
          ens.coverage, ens.accuracy, ens.score,
          cg.accuracy, ch.accuracy,
          ch.details("graph_trusted").toDouble,
          ch.details("graph_flipped").toDouble,
          ch.details("raw_fallback").toDouble)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"),
          sweepU(col("doc_id")).as("r"))
        .select(Seq(col("doc_id"), col("v")) ++ Seq(
          "cov70" -> 0, "nacc70" -> 1, "acc70" -> 2, "acca70" -> 3,
          "accr70" -> 4, "auacc_g" -> 5, "g_ece" -> 6, "r_ece" -> 7,
          "g_brier" -> 8, "r_brier" -> 9, "hyb_cov" -> 10, "hyb_acc" -> 11,
          "hyb_score" -> 12, "ens_cov" -> 13, "ens_acc" -> 14,
          "ens_score" -> 15, "cg_acc" -> 16, "ch_acc" -> 17,
          "ch_trusted" -> 18, "ch_flipped" -> 19, "ch_fallback" -> 20)
          .map { case (n, idx) =>
            val c = col("r").getItem(idx)
            (if (n == "nacc70" || n.startsWith("ch_t") || n.startsWith("ch_fl")
              || n.startsWith("ch_fa")) c.cast("int") else c).as(n)
          }: _*)
        .orderBy(col("doc_id"))
    }, replayPin = true, oracle = Some(
      // expected values pinned from the PUBLISHED eval_confidence_sweep.py
      // functions run over the same planted case sets offline
      // (scripts/gen_confidence_oracle.py regenerates this block)
      """SELECT doc_id, CAST(doc_id % 8 AS INT) AS v,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.5
             WHEN 1 THEN 0.5
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.6667
             WHEN 4 THEN 0.6667
             WHEN 5 THEN 0.6667
             WHEN 6 THEN 0.5
             WHEN 7 THEN 0.5
             END AS cov70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 3
             WHEN 1 THEN 3
             WHEN 2 THEN 3
             WHEN 3 THEN 4
             WHEN 4 THEN 4
             WHEN 5 THEN 4
             WHEN 6 THEN 3
             WHEN 7 THEN 3
             END AS nacc70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 1.0
             WHEN 1 THEN 0.6667
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.5
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.75
             WHEN 6 THEN 0.6667
             WHEN 7 THEN 1.0
             END AS acc70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 1.0
             WHEN 1 THEN 1.0
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.0
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.6667
             WHEN 6 THEN 0.0
             WHEN 7 THEN 1.0
             END AS acca70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 1.0
             WHEN 1 THEN 0.5
             WHEN 2 THEN 0.0
             WHEN 3 THEN 0.6667
             WHEN 4 THEN 0.5
             WHEN 5 THEN 1.0
             WHEN 6 THEN 0.6667
             WHEN 7 THEN 1.0
             END AS accr70,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.7305
             WHEN 1 THEN 0.6416
             WHEN 2 THEN 0.5166
             WHEN 3 THEN 0.5166
             WHEN 4 THEN 0.3778
             WHEN 5 THEN 0.5916
             WHEN 6 THEN 0.475
             WHEN 7 THEN 0.7305
             END AS auacc_g,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.205
             WHEN 1 THEN 0.1717
             WHEN 2 THEN 0.3683
             WHEN 3 THEN 0.3683
             WHEN 4 THEN 0.4033
             WHEN 5 THEN 0.2517
             WHEN 6 THEN 0.2867
             WHEN 7 THEN 0.205
             END AS g_ece,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.4817
             WHEN 1 THEN 0.3217
             WHEN 2 THEN 0.4817
             WHEN 3 THEN 0.3217
             WHEN 4 THEN 0.4817
             WHEN 5 THEN 0.3217
             WHEN 6 THEN 0.4817
             WHEN 7 THEN 0.3217
             END AS r_ece,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.1608
             WHEN 1 THEN 0.2114
             WHEN 2 THEN 0.2604
             WHEN 3 THEN 0.2686
             WHEN 4 THEN 0.3257
             WHEN 5 THEN 0.2179
             WHEN 6 THEN 0.2718
             WHEN 7 THEN 0.1608
             END AS g_brier,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.2966
             WHEN 1 THEN 0.1366
             WHEN 2 THEN 0.2966
             WHEN 3 THEN 0.1366
             WHEN 4 THEN 0.2966
             WHEN 5 THEN 0.1366
             WHEN 6 THEN 0.2966
             WHEN 7 THEN 0.1366
             END AS r_brier,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.6667
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.8333
             WHEN 4 THEN 1.0
             WHEN 5 THEN 0.8333
             WHEN 6 THEN 0.8333
             WHEN 7 THEN 0.8333
             END AS hyb_cov,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.75
             WHEN 1 THEN 1.0
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.8
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.8
             WHEN 6 THEN 0.6
             WHEN 7 THEN 1.0
             END AS hyb_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6124
             WHEN 1 THEN 0.8165
             WHEN 2 THEN 0.4083
             WHEN 3 THEN 0.7303
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.7303
             WHEN 6 THEN 0.5477
             WHEN 7 THEN 0.9129
             END AS hyb_score,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.8333
             WHEN 2 THEN 0.6667
             WHEN 3 THEN 0.8333
             WHEN 4 THEN 0.8333
             WHEN 5 THEN 0.6667
             WHEN 6 THEN 0.8333
             WHEN 7 THEN 0.8333
             END AS ens_cov,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.75
             WHEN 1 THEN 0.8
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.8
             WHEN 4 THEN 0.4
             WHEN 5 THEN 0.75
             WHEN 6 THEN 0.6
             WHEN 7 THEN 1.0
             END AS ens_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6124
             WHEN 1 THEN 0.7303
             WHEN 2 THEN 0.4083
             WHEN 3 THEN 0.7303
             WHEN 4 THEN 0.3651
             WHEN 5 THEN 0.6124
             WHEN 6 THEN 0.5477
             WHEN 7 THEN 0.9129
             END AS ens_score,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.5
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.3333
             WHEN 4 THEN 0.3333
             WHEN 5 THEN 0.3333
             WHEN 6 THEN 0.3333
             WHEN 7 THEN 0.6667
             END AS cg_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.6667
             WHEN 1 THEN 0.6667
             WHEN 2 THEN 0.5
             WHEN 3 THEN 0.5
             WHEN 4 THEN 0.5
             WHEN 5 THEN 0.5
             WHEN 6 THEN 0.6667
             WHEN 7 THEN 0.6667
             END AS ch_acc,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 2
             WHEN 1 THEN 1
             WHEN 2 THEN 1
             WHEN 3 THEN 2
             WHEN 4 THEN 2
             WHEN 5 THEN 2
             WHEN 6 THEN 2
             WHEN 7 THEN 2
             END AS ch_trusted,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 2
             WHEN 1 THEN 2
             WHEN 2 THEN 2
             WHEN 3 THEN 1
             WHEN 4 THEN 1
             WHEN 5 THEN 2
             WHEN 6 THEN 2
             WHEN 7 THEN 2
             END AS ch_flipped,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 2
             WHEN 1 THEN 3
             WHEN 2 THEN 3
             WHEN 3 THEN 3
             WHEN 4 THEN 3
             WHEN 5 THEN 2
             WHEN 6 THEN 2
             WHEN 7 THEN 2
             END AS ch_fallback
         FROM documents ORDER BY doc_id""")),

    // --- C18 retrieval-benchmark metric core (eval_retrieval_v2.py:
    //     395-413, 475-568): the REAL RetrievalBaselines rankDesc → rrf
    //     fusion → evaluateMethod (nDCG@5 / AP / P@5) over planted 8-doc
    //     score channels with deliberate ties (stable (−score, index)
    //     order) and graded qrels; doc_id % 7 == 0 plants the empty-qrels
    //     branch (AP/nDCG → 0). Mirrored RELATIONALLY in DuckDB via
    //     row_number windows — no pinned constants. ---
    Query("q81_ranking_metrics", (s, dir) => {
      val rankU = udf((docId: Long) => {
        import graft.kg.eval.RetrievalBaselines._
        val a = Array.tabulate(8)(j => ((j * 3 + docId) % 4).toDouble / 4)
        val b = Array.tabulate(8)(j => ((j * 5 + docId * 2) % 7).toDouble / 7)
        def rel(j: Int): Int =
          if (docId % 7 == 0) 0 else ((j + docId) % 3).toInt
        val graded = (0 until 8).map(j => j -> rel(j)).filter(_._2 > 0).toMap
        val binary = graded.map { case (k, _) => k -> 1 }
        val fused = rrf(Array(a), Array(b))(0)
        val ev = evaluateMethod(Array(fused), Seq(binary), Seq(graded), k = 5)
        val m = ev.perQuery.head
        Seq(m.ndcg, m.ap, m.p10, fused(0), fused(3))
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), rankU(col("doc_id")).as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).as("ndcg5"),
          col("r").getItem(1).as("ap"),
          col("r").getItem(2).as("p5"),
          col("r").getItem(3).as("fused0"),
          col("r").getItem(4).as("fused3"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // fully relational mirror: per-channel row_number ranks with the
      // stable (score DESC, index) tie order, RRF fusion 1/(60+rank),
      // fused re-rank, DCG@5 with log2 discounts, ideal DCG over graded
      // rels sorted desc, AP as hits/rank summed over relevant positions,
      // P@5; doc_id % 7 = 0 rows have empty qrels -> all three metrics 0
      """WITH g AS (
           SELECT d.doc_id, t.j,
             CAST((t.j*3 + d.doc_id) % 4 AS DOUBLE)/4 AS a,
             CAST((t.j*5 + d.doc_id*2) % 7 AS DOUBLE)/7 AS b,
             CASE WHEN d.doc_id % 7 = 0 THEN 0
                  ELSE CAST((t.j + d.doc_id) % 3 AS INT) END AS rel
           FROM documents d, range(8) t(j)),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY doc_id ORDER BY a DESC, j) AS ra,
             row_number() OVER (PARTITION BY doc_id ORDER BY b DESC, j) AS rb
           FROM g),
         f AS (SELECT *, 1.0/(60 + ra) + 1.0/(60 + rb) AS fused FROM r),
         rf AS (SELECT *,
             row_number() OVER (PARTITION BY doc_id ORDER BY fused DESC, j) AS rk
           FROM f),
         ideal AS (
           SELECT doc_id,
             sum(CASE WHEN ir <= 5 THEN rel / (ln(ir + 1)/ln(2)) END) AS idcg
           FROM (SELECT doc_id, rel,
                   row_number() OVER (PARTITION BY doc_id ORDER BY rel DESC) AS ir
                 FROM g WHERE rel > 0)
           GROUP BY doc_id),
         adcg AS (
           SELECT doc_id,
             sum(CASE WHEN rk <= 5 THEN rel / (ln(rk + 1)/ln(2)) ELSE 0 END) AS dcg,
             sum(CASE WHEN rk <= 5 AND rel > 0 THEN 1 ELSE 0 END) / 5.0 AS p5,
             max(CASE WHEN j = 0 THEN fused END) AS fused0,
             max(CASE WHEN j = 3 THEN fused END) AS fused3
           FROM rf GROUP BY doc_id),
         apv AS (
           SELECT doc_id, sum(CAST(hits AS DOUBLE)/rk) AS sump, count(*) AS nrel
           FROM (SELECT doc_id, rk,
                   row_number() OVER (PARTITION BY doc_id ORDER BY rk) AS hits
                 FROM rf WHERE rel > 0)
           GROUP BY doc_id)
         SELECT a.doc_id,
           CASE WHEN i.idcg IS NULL OR i.idcg = 0 THEN 0.0
                ELSE a.dcg / i.idcg END AS ndcg5,
           COALESCE(p.sump / p.nrel, 0.0) AS ap,
           a.p5, a.fused0, a.fused3
         FROM adcg a
         LEFT JOIN ideal i USING (doc_id)
         LEFT JOIN apv p USING (doc_id)
         ORDER BY a.doc_id""")),

    // --- significance layer (eval_retrieval_v2.py:1042-1056 paired t-test
    //     + label, eval_ablation.py:355-380 Brier + McNemar): the REAL
    //     Significance functions over planted vectors. The t-test p-values
    //     are mirrored RELATIONALLY via the Student-t CDF's closed forms at
    //     the planted dfs — df=2 (n=3): p = 1 − |t|/√(2+t²); df=1 (n=2):
    //     p = 1 − 2·atan(|t|)/π — an independent analytic check of the
    //     commons-math3 CDF. v=5 plants the allclose guard, v=6 the
    //     zero-variance shift branch (t=+∞, reported clamped to 1e6),
    //     v=4 a '*' label, v=2 a finite '**'; McNemar covers n/a,
    //     n.s., and p<0.05 including the continuity correction. ---
    Query("q82_significance", (s, dir) => {
      val sigU = udf((docId: Long) => {
        import graft.kg.eval.Significance._
        val v = (docId % 8).toInt
        val a = (0 until 3).map(i => 0.5 + 0.1 * ((i * 2 + v) % 5))
        val b = v match {
          case 5 => a
          case 6 => a.map(_ - 0.2)
          case 4 => a.zipWithIndex.map { case (x, i) => x - (0.2 + 0.1 * i) }
          case 2 => a.zipWithIndex.map { case (x, i) => x - (0.4 + 0.01 * i) }
          case _ => (0 until 3).map(i => 0.4 + 0.12 * ((i * 3 + 2 * v) % 4))
        }
        val t2 = pairedTTest(a, b)
        val c = (0 until 2).map(i => 1.0 + 0.3 * ((i + v) % 3))
        val e = (0 until 2).map(i => 0.8 + 0.25 * ((i * 2 + v) % 3))
        val t1 = pairedTTest(c, e)
        val tru = (0 until 10).map(_ % 2)
        val pa = (0 until 10).map(i =>
          tru(i) ^ (if ((i + v) % 5 == 0) 1 else 0))
        val pb = if (v == 3) pa else (0 until 10).map(i =>
          tru(i) ^ (if ((i * 3 + v) % 7 == 0) 0 else 1))
        val (chi2, mcsig) = mcnemarTest(pa, pb, tru)
        val bt = (0 until 5).map(_ % 2)
        val bp = (0 until 5).map(i => (i + v) % 2)
        val bc = (0 until 5).map(i => 0.51 + 0.03 * ((i * 2 + v) % 7))
        val brier = brierScore(bp, bc, bt)
        def clamp(t: Double) =
          if (t.isInfinite) 1e6 * math.signum(t) else t
        (clamp(t2.t), t2.p, significanceLabel(t2.p),
          clamp(t1.t), t1.p, significanceLabel(t1.p), chi2, mcsig, brier)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"),
          sigU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("v"),
          col("r._1").as("t2"), col("r._2").as("p2"), col("r._3").as("lab2"),
          col("r._4").as("t1"), col("r._5").as("p1"), col("r._6").as("lab1"),
          col("r._7").as("chi2"), col("r._8").as("mcsig"),
          col("r._9").as("brier"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // independent analytic mirror: Student-t CDF closed forms at the
      // planted dfs (df=2: p = 1-|t|/sqrt(2+t^2); df=1: p = 1-2*atan|t|/pi)
      // against commons-math3's incomplete-beta CDF; allclose guard via
      // max|d| = 0, zero-variance shift via var_samp*2 <= 1e-24 (the Scala
      // varSum guard), McNemar continuity-corrected chi2 with the label on
      // the UNROUNDED statistic. HAZARD: Brier/chi2 round half-EVEN in the
      // Scala operator (math.rint) but half-UP here (floor(x*10^k+0.5));
      // they agree only because the planted values never land on .5 ties
      // (chi2*1000 quotients with denom 1..8 cannot hit .5; brier*1e4 is an
      // integer sum / 5). Retuning the planted %-cycles or the conf grid
      // requires re-checking tie distance at both rounding scales.
      """WITH docs AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS v FROM documents),
         ab AS (
           SELECT doc_id, v, r.i,
             0.5 + 0.1*((r.i*2 + v) % 5) AS a,
             CASE WHEN v = 5 THEN 0.5 + 0.1*((r.i*2 + v) % 5)
                  WHEN v = 6 THEN 0.5 + 0.1*((r.i*2 + v) % 5) - 0.2
                  WHEN v = 4 THEN 0.5 + 0.1*((r.i*2 + v) % 5) - (0.2 + 0.1*r.i)
                  WHEN v = 2 THEN 0.5 + 0.1*((r.i*2 + v) % 5) - (0.4 + 0.01*r.i)
                  ELSE 0.4 + 0.12*((r.i*3 + 2*v) % 4) END AS b
           FROM docs, range(3) r(i)),
         tt2 AS (
           SELECT doc_id,
             CASE WHEN max(abs(a-b)) < 1e-12 THEN 0.0
                  WHEN var_samp(a-b)*2 <= 1e-24 THEN 1000000.0
                  ELSE avg(a-b) / (sqrt(var_samp(a-b)) / sqrt(3)) END AS t2
           FROM ab GROUP BY doc_id),
         cd AS (
           SELECT doc_id, v, r.i,
             1.0 + 0.3*((r.i + v) % 3) AS c,
             0.8 + 0.25*((r.i*2 + v) % 3) AS e
           FROM docs, range(2) r(i)),
         tt1 AS (
           SELECT doc_id, avg(c-e) / (sqrt(var_samp(c-e)) / sqrt(2)) AS t1
           FROM cd GROUP BY doc_id),
         mcr AS (
           SELECT doc_id, r.i % 2 AS tru,
             (r.i % 2 + CASE WHEN (r.i + v) % 5 = 0 THEN 1 ELSE 0 END) % 2 AS pa,
             CASE WHEN v = 3
                  THEN (r.i % 2 + CASE WHEN (r.i + v) % 5 = 0 THEN 1 ELSE 0 END) % 2
                  ELSE (r.i % 2 + CASE WHEN (r.i*3 + v) % 7 = 0 THEN 0 ELSE 1 END) % 2
                  END AS pb
           FROM docs, range(10) r(i)),
         mc AS (
           SELECT doc_id,
             sum(CASE WHEN pa = tru AND pb <> tru THEN 1 ELSE 0 END) AS arbw,
             sum(CASE WHEN pa <> tru AND pb = tru THEN 1 ELSE 0 END) AS awbr
           FROM mcr GROUP BY doc_id),
         br AS (
           SELECT doc_id,
             floor(avg((1 - pt)*(1 - pt)) * 10000 + 0.5)/10000 AS brier
           FROM (SELECT doc_id,
                   CASE WHEN (r.i + v) % 2 = r.i % 2
                        THEN 0.51 + 0.03*((r.i*2 + v) % 7)
                        ELSE 1 - (0.51 + 0.03*((r.i*2 + v) % 7)) END AS pt
                 FROM docs, range(5) r(i))
           GROUP BY doc_id)
         SELECT d.doc_id, d.v,
           tt2.t2,
           CASE WHEN tt2.t2 = 0.0 THEN 1.0
                WHEN tt2.t2 = 1000000.0 THEN 0.0
                ELSE 1 - abs(tt2.t2)/sqrt(2 + tt2.t2*tt2.t2) END AS p2,
           CASE WHEN (CASE WHEN tt2.t2 = 0.0 THEN 1.0
                           WHEN tt2.t2 = 1000000.0 THEN 0.0
                           ELSE 1 - abs(tt2.t2)/sqrt(2 + tt2.t2*tt2.t2) END) < 0.01
                THEN '**'
                WHEN (CASE WHEN tt2.t2 = 0.0 THEN 1.0
                           WHEN tt2.t2 = 1000000.0 THEN 0.0
                           ELSE 1 - abs(tt2.t2)/sqrt(2 + tt2.t2*tt2.t2) END) < 0.05
                THEN '*' ELSE 'n.s.' END AS lab2,
           tt1.t1,
           1 - 2*atan(abs(tt1.t1))/pi() AS p1,
           CASE WHEN 1 - 2*atan(abs(tt1.t1))/pi() < 0.01 THEN '**'
                WHEN 1 - 2*atan(abs(tt1.t1))/pi() < 0.05 THEN '*'
                ELSE 'n.s.' END AS lab1,
           CASE WHEN mc.arbw + mc.awbr = 0 THEN 0.0
                ELSE floor(CAST((abs(mc.arbw - mc.awbr) - 1)
                              * (abs(mc.arbw - mc.awbr) - 1) AS DOUBLE)
                           / (mc.arbw + mc.awbr) * 1000 + 0.5)/1000 END AS chi2,
           CASE WHEN mc.arbw + mc.awbr = 0 THEN 'n/a'
                WHEN CAST((abs(mc.arbw - mc.awbr) - 1)
                        * (abs(mc.arbw - mc.awbr) - 1) AS DOUBLE)
                     / (mc.arbw + mc.awbr) > 3.841 THEN 'p<0.05'
                ELSE 'p>=0.05 (n.s.)' END AS mcsig,
           br.brier
         FROM docs d
         JOIN tt2 USING (doc_id) JOIN tt1 USING (doc_id)
         JOIN mc USING (doc_id) JOIN br USING (doc_id)
         ORDER BY d.doc_id""")),

    // --- ablation bootstrap CI (eval_ablation.py:382-393): the REAL
    //     ablationBootstrapCi — numpy RandomState(42) replicated bit-exactly
    //     by NumpyRandom — over planted 13-case prediction sets. Expected
    //     (lo, hi) pinned by exec'ing the PUBLISHED bootstrap_ci function
    //     itself over the same sets (scripts/gen_ablation_oracle.py).
    //     Computed once per variant (8 rows) then broadcast-joined to
    //     documents — the LOO-eval fan-out shape at corpus scale. ---
    Query("q83_bootstrap_ci", (s, dir) => {
      val ciU = udf((v: Int) => {
        val tru = (0 until 13).map(_ % 2)
        val pa = (0 until 13).map(i =>
          ((i + v) % 3 % 2) ^ (if ((i + 2 * v) % 4 == 0) 1 else 0))
        val pb = (0 until 13).map(i => ((i * (i + 1) / 2 + v) % 3) % 2)
        val (lo, hi) =
          graft.kg.eval.Significance.ablationBootstrapCi(pa, pb, tru)
        Seq(lo, hi)
      })
      val variants = s.range(8).select(col("id").cast("int").as("v"))
        .withColumn("ci", ciU(col("v")))
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"))
        .join(broadcast(variants), Seq("v"))
        .select(col("doc_id"), col("v"),
          col("ci").getItem(0).as("lo"), col("ci").getItem(1).as("hi"))
        .orderBy(col("doc_id"))
    }, replayPin = true, oracle = Some(
      // expected (lo, hi) pinned by exec'ing the PUBLISHED bootstrap_ci
      // (eval_ablation.py:382-393) verbatim over the same planted sets
      // (scripts/gen_ablation_oracle.py regenerates this block)
      """SELECT doc_id, CAST(doc_id % 8 AS INT) AS v,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN -0.4615
             WHEN 1 THEN -0.3846
             WHEN 2 THEN -0.5385
             WHEN 3 THEN -0.3077
             WHEN 4 THEN -0.3846
             WHEN 5 THEN -0.3846
             WHEN 6 THEN -0.4615
             WHEN 7 THEN -0.3846
             END AS lo,
           CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 0.1538
             WHEN 1 THEN 0.2308
             WHEN 2 THEN 0.2308
             WHEN 3 THEN 0.1538
             WHEN 4 THEN 0.3846
             WHEN 5 THEN 0.2308
             WHEN 6 THEN 0.1538
             WHEN 7 THEN 0.2308
             END AS hi
         FROM documents ORDER BY doc_id""")),

    // --- C14 density statistics (cross_domain_density_validation.py:
    //     103-219): the REAL DensityValidation pointBiserial (Pearson r +
    //     t + p), correctVsIncorrect (Student t, pooled Cohen's d), and
    //     quartileAnalysis (np.percentile edges → digitize → Q1-vs-Q4
    //     two-proportion z) over planted 4-/8-element groups, one per
    //     v = doc_id % 8 — the reference's own driver-side SAMPLE_N stats
    //     design (16 tiny aggregations, bounded regardless of sf). The
    //     df=2 t-test p-values are mirrored with the closed-form Student
    //     CDF, r/means/z relationally via corr()/quantile_cont; the
    //     normal-CDF z p-value is pinned via stdlib erfc
    //     (scripts/gen_density_stats_oracle.py). v=7 plants the
    //     degenerate-pPool branch; pb_t == cv_t is the point-biserial ↔
    //     two-sample-t identity, asserted for free by the mirror. ---
    Query("q84_density_stats", (s, dir) => {
      import s.implicits._
      import graft.kg.eval.DensityValidation
      val variantRows = (0 until 8).map { v =>
        val xs = (0 until 4).map(i => 1.0 + 0.37 * ((i * 2 + v) % 5) + 0.11 * i)
        val df4 = (0 until 4).map(i => (i % 2, xs(i))).toDF("acc", "x")
        val c = DensityValidation.pointBiserial(df4, "acc", "x")
        val g = DensityValidation.correctVsIncorrect(df4, "acc", "x")
        val d8 = (0 until 8).map(i => 2.0 + 0.53 * ((i * 3 + v) % 7) + 0.07 * i).toArray
        val a8 = (if (v == 7) Seq.fill(8)(0)
                  else (0 until 8).map(i => ((i + v) % 3) % 2)).toArray
        val qr = DensityValidation.quartileAnalysis(d8, a8)
        // 6-dp floor(x*1e6+0.5) in BOTH engines: the canonical compare
        // sorts rows by the alphabetically-first double column, so raw
        // ulp-level engine differences would misalign rows across the
        // variants that share a cv_d value
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        (v, r6(c.r), r6(c.t), r6(c.p), r6(g.meanCorrect),
          r6(g.meanIncorrect), r6(g.t), r6(g.p), r6(g.d),
          r6(qr.delta), r6(qr.z), r6(qr.p))
      }
      val variants = variantRows.toDF("v", "pb_r", "pb_t", "pb_p", "cv_mc",
        "cv_mi", "cv_t", "cv_p", "cv_d", "q_delta", "q_z", "q_p")
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("v"))
        .join(broadcast(variants), Seq("v"))
        .select(col("doc_id"), col("v"), col("pb_r"), col("pb_t"),
          col("pb_p"), col("cv_mc"), col("cv_mi"), col("cv_t"), col("cv_p"),
          col("cv_d"), col("q_delta"), col("q_z"), col("q_p"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // pb/cv mirrored relationally (corr, var_samp, df=2 closed-form t
      // CDF); quartile edges via quantile_cont (np.percentile linear),
      // digitize = count of edges <= x, two-proportion z; the z p-value
      // constants come from stdlib erfc(|z|/sqrt 2) offline
      // (scripts/gen_density_stats_oracle.py regenerates them)
      """WITH docs AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS v FROM documents),
         src AS (
           SELECT doc_id, v, r.i % 2 AS acc,
             1.0 + 0.37*((r.i*2 + v) % 5) + 0.11*r.i AS x
           FROM docs, range(4) r(i)),
         pb AS (
           SELECT doc_id, corr(CAST(acc AS DOUBLE), x) AS r,
             avg(CASE WHEN acc = 1 THEN x END) AS m1,
             avg(CASE WHEN acc = 0 THEN x END) AS m0,
             var_samp(CASE WHEN acc = 1 THEN x END) AS v1,
             var_samp(CASE WHEN acc = 0 THEN x END) AS v0
           FROM src GROUP BY doc_id),
         pbt AS (
           SELECT doc_id, r, m1, m0,
             r * sqrt(2.0 / greatest(1e-300, 1.0 - r*r)) AS pt,
             (m1 - m0) / sqrt(((v1 + v0) / 2.0) * (0.5 + 0.5)) AS ct,
             CASE WHEN (v1 + v0) / 2.0 = 0 THEN 0.0
                  ELSE (m1 - m0) / sqrt((v1 + v0) / 2.0) END AS cd
           FROM pb),
         qd AS (
           SELECT doc_id, v, r.i,
             2.0 + 0.53*((r.i*3 + v) % 7) + 0.07*r.i AS d,
             CASE WHEN v = 7 THEN 0 ELSE ((r.i + v) % 3) % 2 END AS acc
           FROM docs, range(8) r(i)),
         qe AS (
           SELECT doc_id, quantile_cont(d, 0.25) AS e1,
             quantile_cont(d, 0.50) AS e2, quantile_cont(d, 0.75) AS e3
           FROM qd GROUP BY doc_id),
         qb AS (
           SELECT qd.doc_id, qd.acc,
             (CASE WHEN e1 <= d THEN 1 ELSE 0 END)
             + (CASE WHEN e2 <= d THEN 1 ELSE 0 END)
             + (CASE WHEN e3 <= d THEN 1 ELSE 0 END) AS bin
           FROM qd JOIN qe USING (doc_id)),
         qq AS (
           SELECT doc_id,
             sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS n1,
             avg(CASE WHEN bin = 0 THEN CAST(acc AS DOUBLE) END) AS p1,
             sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS n4,
             avg(CASE WHEN bin = 3 THEN CAST(acc AS DOUBLE) END) AS p4
           FROM qb GROUP BY doc_id)
         SELECT d.doc_id, d.v,
           floor(pbt.r*1000000 + 0.5)/1000000 AS pb_r,
           floor(pbt.pt*1000000 + 0.5)/1000000 AS pb_t,
           floor((1 - abs(pbt.pt)/sqrt(2 + pbt.pt*pbt.pt))*1000000 + 0.5)
             /1000000 AS pb_p,
           floor(pbt.m1*1000000 + 0.5)/1000000 AS cv_mc,
           floor(pbt.m0*1000000 + 0.5)/1000000 AS cv_mi,
           floor(pbt.ct*1000000 + 0.5)/1000000 AS cv_t,
           floor((1 - abs(pbt.ct)/sqrt(2 + pbt.ct*pbt.ct))*1000000 + 0.5)
             /1000000 AS cv_p,
           floor(pbt.cd*1000000 + 0.5)/1000000 AS cv_d,
           floor((qq.p4 - qq.p1)*1000000 + 0.5)/1000000 AS q_delta,
           floor((CASE
             WHEN (qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4) <= 0.0
               OR (qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4) >= 1.0
             THEN 0.0
             ELSE (qq.p4 - qq.p1)
               / sqrt(((qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4))
                 * (1 - (qq.p1*qq.n1 + qq.p4*qq.n4) / (qq.n1 + qq.n4))
                 * (1.0/qq.n1 + 1.0/qq.n4)) END)*1000000 + 0.5)
             /1000000 AS q_z,
           CASE d.v
             WHEN 0 THEN 1.0
             WHEN 1 THEN 1.0
             WHEN 2 THEN 0.248213
             WHEN 3 THEN 1.0
             WHEN 4 THEN 1.0
             WHEN 5 THEN 0.248213
             WHEN 6 THEN 0.248213
             WHEN 7 THEN 1.0
             END AS q_p
         FROM docs d
         JOIN pbt USING (doc_id) JOIN qq USING (doc_id)
         ORDER BY d.doc_id""")),

    // --- P3 violations-only filter through the REAL schema-adaptive label
    //     normalization (CaseAdapter.adaptCases, run_iltur.py:540-575 +
    //     the label==1 subset of run_iltur.py:818): messy string labels
    //     coalesce with an int-array fallback column ("labels"), then the
    //     violations-only filter keeps label == 1; the mirror inlines the
    //     yes/no vocabularies, the any-positive array rule and the coalesce ---
    Query("q85_violations_filter", (s, dir) => {
      val raws = Seq("1", "true", "YES", "  accepted ", "allow", "Violation",
        "0", "FALSE", "no_violation", "dismissed", "maybe", "")
      val planted = pq(s, dir, "documents")
        .select(
          concat(lit("c"), col("doc_id")).as("id"),
          lit("case body text").as("text"),
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(element_at(array(raws.map(lit): _*),
              (col("doc_id") % 12).cast("int") + 1)).as("label"),
          when(col("doc_id") % 3 === 0, array().cast("array<int>"))
            .when(col("doc_id") % 3 === 1, array(lit(0), lit(0)))
            .otherwise(array(lit(0), lit(1))).as("labels"))
      graft.kg.io.CaseAdapter.adaptCases(planted)
        .filter(col("label") === 1)
        .select(col("case_id"), col("label"))
        .orderBy(col("case_id"))
    }, oracle = Some(
      // mirrors the label normalization (run_iltur.py:540-575): yes/no
      // string vocabularies after lower(trim(..)), unmapped strings → NULL
      // → fall through the coalesce to the int-array any-positive rule,
      // then the violations-only subset keeps label == 1
      """WITH planted AS (
           SELECT doc_id, 'c' || CAST(doc_id AS VARCHAR) AS case_id,
             CASE WHEN doc_id % 13 = 0 THEN NULL
               ELSE (['1','true','YES','  accepted ','allow','Violation','0',
                      'FALSE','no_violation','dismissed','maybe',''])
                    [CAST(doc_id % 12 AS INT) + 1] END AS raw,
             CAST(doc_id % 3 AS INT) AS arr_v
           FROM documents),
         lab AS (
           SELECT case_id,
             coalesce(
               CASE WHEN lower(trim(raw)) IN
                      ('1','true','yes','accepted','allow','allowed','violation') THEN 1
                    WHEN lower(trim(raw)) IN
                      ('0','false','no','rejected','dismiss','dismissed','no_violation') THEN 0
               END,
               CASE arr_v WHEN 0 THEN 0 WHEN 1 THEN 0 ELSE 1 END) AS label
           FROM planted)
         SELECT case_id, label FROM lab WHERE label = 1 ORDER BY case_id""")),

    // --- P6 tier filter over REAL computed tiers (GraphQuality.tierFilter,
    //     eval_retrieval_v2.py:62-85): tiers come from the REAL computeTier
    //     over planted warning counts (q39's arithmetic), one variant plants
    //     a MISSING tier (reference: g.get("quality_tier","") → always
    //     skipped); the filter set arrives mixed-case like a CLI arg ---
    Query("q86_tier_filter", (s, dir) => {
      val tierU = udf((nerr: Int, nsub: Int, ncos: Int, h: Boolean, o: Boolean, c: Boolean) => {
        val ws = Seq.fill(nerr)("edge e1: target not found") ++
          Seq.fill(nsub)("unusual actor surface form") ++
          Seq.fill(ncos)("edge e2 repaired: direction flipped")
        graft.kg.extract.GraphAssembly.computeTier(ws, h, o, c)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 8).cast("int").as("n_err"),
          ((col("doc_id") * 3) % 40).cast("int").as("n_sub"),
          (col("doc_id") % 3).cast("int").as("n_cos"),
          (col("doc_id") % 5 =!= 0).as("h"),
          (col("doc_id") % 6 =!= 0).as("o"),
          (col("doc_id") % 7 =!= 0).as("c"))
        .select(col("doc_id"),
          when(col("doc_id") % 9 === 0, lit(null).cast("string"))
            .otherwise(tierU(col("n_err"), col("n_sub"), col("n_cos"),
              col("h"), col("o"), col("c"))).as("tier"))
        .filter(graft.kg.query.GraphQuality.tierFilter(col("tier"), Set("Gold", "silver")))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // q39's computeTier mirror feeding the iter_graphs tier gate:
      // lower(coalesce(tier, '')) ∈ {gold, silver} — a planted NULL tier
      // (doc_id % 9 = 0) is always skipped, like a graph missing the
      // quality_tier key in the reference
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 8 AS INT) AS n_err,
             CAST((doc_id * 3) % 40 AS INT) AS n_sub,
             doc_id % 5 <> 0 AS h, doc_id % 6 <> 0 AS o, doc_id % 7 <> 0 AS c
           FROM documents),
         tiers AS (
           SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN NULL ELSE
               CASE
                 WHEN n_err = 0 AND n_sub <= 15 AND h AND o AND c THEN 'gold'
                 WHEN n_err <= 2 AND n_sub <= 30 AND h AND o THEN 'silver'
                 WHEN n_err <= 5 THEN 'bronze'
                 ELSE 'reject' END END AS tier
           FROM t)
         SELECT doc_id, tier FROM tiers
         WHERE lower(coalesce(tier, '')) IN ('gold', 'silver')
         ORDER BY doc_id""")),

    // --- P4 completed-cases skip through the REAL bucket assignment +
    //     resume filter (Materializer.bucketOf = pmod(murmur3, n) and
    //     Materializer.resumeFilter; run_iltur.py:581-623 use site): the
    //     planted commit log holds every bucket ≡ 0 (mod 3). The DuckDB
    //     mirror recomputes Spark's Murmur3_x86_32(seed=42) hash itself —
    //     4-byte little-endian chunks + per-byte tail, mixK1/mixH1/fmix in
    //     HUGEINT arithmetic — so the bucket assignment is verified by a
    //     fully independent implementation, not replayed ---
    Query("q87_completed_skip", (s, dir) => {
      import graft.kg.table.Materializer
      val nBuckets = 32
      val done = (0 until nBuckets).filter(_ % 3 == 0).toSet
      val convs = pq(s, dir, "documents")
        .select(format_string("conv_%06d", col("doc_id")).as("conv_id"))
      val withBucket =
        convs.withColumn("bucket", Materializer.bucketOf(col("conv_id"), nBuckets))
      Materializer.resumeFilter(withBucket, done)
        .orderBy(col("conv_id"))
    }, oracle = Some(
      // independent Murmur3_x86_32(seed=42) over the conv_id UTF-8 bytes:
      // little-endian 4-byte chunks then per-byte tail, each through
      // mixK1 (k*0xcc9e2d51, rotl15, k*0x1b873593) and mixH1 (xor, rotl13,
      // h*5+0xe6546b64), then fmix(len) avalanche; 32-bit wrap via HUGEINT
      // mults mod 2^32, rotl as shift-parts addition (disjoint bits).
      // bucket = pmod(hash, 32) = unsigned(h) % 32 since 32 | 2^32; the
      // resume skip then drops buckets in the planted commit log (≡0 mod 3)
      """WITH convs AS (
           SELECT printf('conv_%06d', doc_id) AS conv_id FROM documents),
         cp AS (
           SELECT conv_id,
             list_transform(string_split(conv_id, ''), c -> unicode(c)) AS b,
             len(conv_id) AS n
           FROM convs),
         chunked AS (
           SELECT conv_id, n,
             list_transform(generate_series(1, n // 4), i ->
               b[4*i-3] + b[4*i-2]*256 + b[4*i-1]*65536 + b[4*i]*16777216)
               AS chunks,
             list_transform(generate_series(n - (n % 4) + 1, n), i -> b[i])
               AS tail
           FROM cp),
         folded AS (
           SELECT conv_id, n,
             list_reduce(list_prepend(42::BIGINT, chunks || tail), (h, k) ->
               (((
                 xor(h,
                   ((((((k::HUGEINT * 3432918353) % 4294967296) * 32768) % 4294967296
                      + (((k::HUGEINT * 3432918353) % 4294967296) // 131072))::HUGEINT
                     * 461845907) % 4294967296)::BIGINT
                 ) * 8192) % 4294967296
                + xor(h,
                   ((((((k::HUGEINT * 3432918353) % 4294967296) * 32768) % 4294967296
                      + (((k::HUGEINT * 3432918353) % 4294967296) // 131072))::HUGEINT
                     * 461845907) % 4294967296)::BIGINT
                  ) // 524288
               )::HUGEINT * 5 + 3864292196) % 4294967296
             ) AS h1
           FROM chunked),
         f0 AS (SELECT conv_id, xor(h1, n) AS a FROM folded),
         f1 AS (SELECT conv_id,
             ((xor(a, a // 65536)::HUGEINT * 2246822507) % 4294967296)::BIGINT AS a
           FROM f0),
         f2 AS (SELECT conv_id,
             ((xor(a, a // 8192)::HUGEINT * 3266489909) % 4294967296)::BIGINT AS a
           FROM f1),
         f3 AS (SELECT conv_id, xor(a, a // 65536) % 32 AS bucket FROM f2)
         SELECT conv_id, CAST(bucket AS INT) AS bucket FROM f3
         WHERE bucket NOT IN (0,3,6,9,12,15,18,21,24,27,30)
         ORDER BY conv_id""")),

    // --- C9 corpus aggregate validation (CorpusValidation.summary,
    //     test_iltur_graphs (1).py:1062-1190) over planted per-graph rows:
    //     REAL classifyWarning tallies + REAL computeTier tiers feed the
    //     one-row roll-up — pass/fail, severity sums, tier distribution,
    //     duplicate case_ids (odd multiples of 11 pair with their
    //     predecessor), z-score outliers (planted 500/300 spikes against
    //     0..10 baselines, |z| margins ≫ 3 so fp noise can't flip the
    //     comparison) and the degenerate-graph anomalies ---
    Query("q88_corpus_validation", (s, dir) => {
      val warnU = udf((v: Int) => v match {
        case 0 => Seq.empty[String]
        case 1 => Seq("edge e1: target 'x' not found")
        case 2 => Seq("unusual actor surface form", "low confidence mention")
        case 3 => Seq("edge e2 repaired: direction flipped")
        case 4 => Seq("Duplicate edge ID: 'e3'", "unusual actor surface form")
        case _ => (1 to 6).map(j => s"edge e$j: target 'q' not found") ++
          Seq("anchor normalized", "edge flipped")
      })
      val tierU = udf((ws: Seq[String], h: Boolean, o: Boolean, c: Boolean) =>
        graft.kg.extract.GraphAssembly.computeTier(ws, h, o, c))
      val planted = pq(s, dir, "documents")
        .select(
          col("doc_id"),
          concat(lit("c"),
            when(col("doc_id") % 11 === 0, col("doc_id") - (col("doc_id") % 2))
              .otherwise(col("doc_id"))).as("case_id"),
          warnU((col("doc_id") % 6).cast("int")).as("warnings"),
          (col("doc_id") % 5 =!= 0).as("h"),
          (col("doc_id") % 7 =!= 0).as("o"),
          (col("doc_id") % 4 =!= 0).as("c"),
          when(col("doc_id") % 101 === 0, lit(500L))
            .otherwise(col("doc_id") % 7).as("n_facts"),
          when(col("doc_id") % 89 === 0, lit(300L))
            .otherwise((col("doc_id") * 3) % 11).as("n_edges"),
          when(col("doc_id") % 53 === 0, lit(0L))
            .when(col("doc_id") % 97 === 0, lit(400L))
            .otherwise(col("doc_id") % 9 + 1).as("n_nodes_total"))
        .withColumn("tier", tierU(col("warnings"), col("h"), col("o"), col("c")))
      graft.kg.eval.CorpusValidation.summary(planted.select(
        "case_id", "warnings", "tier", "n_facts", "n_edges", "n_nodes_total"))
    }, oracle = Some(
      // the planted warning lists are constants per variant, so severity
      // counts reduce to the v-indexed arrays (the string classifier runs
      // on the Spark side); tier = the computeTier CASE; pass = no
      // error-class warnings; dup case_ids from the odd-multiple-of-11
      // pairing; z pass mirrors statistics.mean/stdev (sample) with the
      // n>=10 and sigma<>0 guards
      """WITH raw AS (
           SELECT doc_id,
             'c' || CAST(CASE WHEN doc_id % 11 = 0
                              THEN doc_id - (doc_id % 2)
                              ELSE doc_id END AS VARCHAR) AS case_id,
             CAST(doc_id % 6 AS INT) AS v,
             doc_id % 5 <> 0 AS h, doc_id % 7 <> 0 AS o, doc_id % 4 <> 0 AS c,
             CASE WHEN doc_id % 101 = 0 THEN 500 ELSE doc_id % 7 END AS n_facts,
             CASE WHEN doc_id % 89 = 0 THEN 300 ELSE (doc_id * 3) % 11 END AS n_edges,
             CASE WHEN doc_id % 53 = 0 THEN 0
                  WHEN doc_id % 97 = 0 THEN 400
                  ELSE doc_id % 9 + 1 END AS n_nodes_total
           FROM documents),
         cls AS (
           SELECT *,
             ([0,1,0,0,1,6])[v+1] AS n_err,
             ([0,0,2,0,1,0])[v+1] AS n_sub,
             ([0,0,0,1,0,2])[v+1] AS n_cos
           FROM raw),
         tiers AS (
           SELECT *,
             CASE WHEN n_err = 0 AND n_sub <= 15 AND h AND o AND c THEN 'gold'
                  WHEN n_err <= 2 AND n_sub <= 30 AND h AND o THEN 'silver'
                  WHEN n_err <= 5 THEN 'bronze' ELSE 'reject' END AS tier
           FROM cls),
         base AS (
           SELECT CAST(count(*) AS BIGINT) AS total_graphs,
             CAST(count(*) FILTER (WHERE n_err = 0) AS BIGINT) AS n_passed,
             CAST(count(*) FILTER (WHERE n_err > 0) AS BIGINT) AS n_failed,
             CAST(sum(n_err) AS BIGINT) AS total_errors,
             CAST(sum(n_sub) AS BIGINT) AS total_substantive,
             CAST(sum(n_cos) AS BIGINT) AS total_cosmetic,
             CAST(count(*) FILTER (WHERE tier = 'gold') AS BIGINT) AS n_gold,
             CAST(count(*) FILTER (WHERE tier = 'silver') AS BIGINT) AS n_silver,
             CAST(count(*) FILTER (WHERE tier = 'bronze') AS BIGINT) AS n_bronze,
             CAST(count(*) FILTER (WHERE tier = 'reject') AS BIGINT) AS n_reject,
             CAST(count(*) FILTER (WHERE n_facts = 0 AND n_nodes_total > 0) AS BIGINT)
               AS degen_no_facts,
             CAST(count(*) FILTER (WHERE n_edges = 0 AND n_nodes_total > 2) AS BIGINT)
               AS degen_no_edges,
             CAST(count(*) FILTER (WHERE n_nodes_total = 0) AS BIGINT) AS degen_empty
           FROM tiers),
         dupg AS (
           SELECT case_id, count(*) AS k FROM tiers
           GROUP BY case_id HAVING count(*) > 1),
         dups AS (
           SELECT CAST(count(*) AS BIGINT) AS dup_case_ids,
             CAST(coalesce(sum(k), 0) AS BIGINT) AS dup_files
           FROM dupg),
         mf AS (SELECT count(*) AS n, avg(n_facts) AS mu,
             stddev_samp(n_facts) AS s FROM tiers),
         af AS (SELECT CAST(count(*) FILTER (WHERE mf.n >= 10 AND mf.s <> 0
             AND abs((n_facts - mf.mu) / mf.s) > 3.0) AS BIGINT) AS anom_n_facts
           FROM tiers, mf),
         me AS (SELECT count(*) AS n, avg(n_edges) AS mu,
             stddev_samp(n_edges) AS s FROM tiers),
         ae AS (SELECT CAST(count(*) FILTER (WHERE me.n >= 10 AND me.s <> 0
             AND abs((n_edges - me.mu) / me.s) > 3.0) AS BIGINT) AS anom_n_edges
           FROM tiers, me),
         mn AS (SELECT count(*) AS n, avg(n_nodes_total) AS mu,
             stddev_samp(n_nodes_total) AS s FROM tiers),
         an AS (SELECT CAST(count(*) FILTER (WHERE mn.n >= 10 AND mn.s <> 0
             AND abs((n_nodes_total - mn.mu) / mn.s) > 3.0) AS BIGINT) AS anom_n_nodes
           FROM tiers, mn)
         SELECT * FROM base, dups, af, ae, an""")),

    // --- S2 deterministic corpus generator (TranscriptGen.conversation):
    //     the full generator — FNV-1a slot hashing, template pick per body
    //     slot, party/year/citation substitution, role alternation, tool
    //     sampling, timestamp arithmetic — replayed turn-for-turn by the
    //     DuckDB mirror, which reimplements FNV-1a over the (convId ++ slot)
    //     codepoints in HUGEINT arithmetic and rebuilds every turn TEXT from
    //     the same template tables. This is the north rule's per-turn text
    //     equality invariant checked cross-engine: byte-identical text,
    //     role, tool and ts for every generated turn ---
    Query("q89_transcript_gen", (s, dir) => {
      val genU = udf((docId: Long) =>
        graft.kg.gen.TranscriptGen.conversation(f"conv_$docId%06d", 14).map(t =>
          (t.turn_idx, t.role, t.text, t.tool, t.ts.getTime)))
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(genU(col("doc_id"))).as("t"))
        .select(format_string("conv_%06d", col("doc_id")).as("conv_id"),
          col("t._1").as("turn_idx"), col("t._2").as("role"),
          col("t._3").as("text"), col("t._4").as("tool"),
          col("t._5").as("ts_millis"))
        .orderBy(col("conv_id"), col("turn_idx"))
    }, oracle = Some(
      // full independent replay of the deterministic generator: FNV-1a
      // (xor-fold over (convId ++ slot) codepoints, 64-bit wrap in HUGEINT,
      // & Long.MaxValue) drives every template pick; texts rebuilt from the
      // same template tables via printf; role/tool/ts arithmetic mirrored.
      // MATERIALIZED CTEs: the hash table is referenced by 10 joins and
      // must be computed once, not inlined per reference
      """WITH convs AS (
           SELECT doc_id, printf('conv_%06d', doc_id) AS cid FROM documents),
         slotnames AS (
           SELECT unnest(
             ['parties','year','ts','issue','holding','outcome'] ||
             flatten(list_transform(generate_series(0, 8), k ->
               ['b'||k, 'b'||k||'f', 'b'||k||'n', 'b'||k||'i', 'b'||k||'a',
                'b'||k||'c', 'b'||k||'p'])) ||
             list_transform(generate_series(0, 12), i -> 'tool'||i)) AS slot),
         hashes AS MATERIALIZED (
           SELECT c.doc_id, s.slot,
             CAST(list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(string_split(c.cid || s.slot, ''),
                   ch -> unicode(ch)::HUGEINT)),
               (h, ch) -> ((h - (h % 128)
                            + xor((h % 128)::BIGINT, ch::BIGINT)::HUGEINT)
                           * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT
             ) % 9223372036854775808::HUGEINT AS BIGINT) AS h
           FROM convs c CROSS JOIN slotnames s),
         pv AS MATERIALIZED (
           SELECT c.doc_id, c.cid,
             (['Ram Kumar','Sunita Devi','Mohan Lal','Gopal Das','Radha Krishnan','Vijay Singh'])
               [CAST(hp.h % 6 AS INT) + 1] AS pet,
             (['State of Punjab','Union of India','State of Kerala',
               'Municipal Corporation of Delhi','State of Tamil Nadu','State of Rajasthan'])
               [CAST(hp.h % 6 AS INT) + 1] AS resp,
             1990 + CAST(hy.h % 30 AS INT) AS year,
             1600000000000 + CAST(ht.h % 100000000 AS BIGINT) AS base_ts
           FROM convs c
           JOIN hashes hp ON hp.doc_id = c.doc_id AND hp.slot = 'parties'
           JOIN hashes hy ON hy.doc_id = c.doc_id AND hy.slot = 'year'
           JOIN hashes ht ON ht.doc_id = c.doc_id AND ht.slot = 'ts'),
         body AS (
           SELECT p.doc_id, k.k + 1 AS idx,
             CASE CAST(hb.h % 5 AS INT)
               WHEN 0 THEN printf(
                 (['The petitioner %s was served with a show-cause notice and the disciplinary authority passed an order terminating his services on 12.03.%d.',
                   'The appellant %s filed a writ petition after the authority rejected the application for renewal of the licence in %d.',
                   'An FIR was lodged against the accused %s and he was arrested on 05.07.%d without any warrant being issued.',
                   'The respondent issued a notification acquiring the land of %s in %d, and compensation was awarded at the circle rate.',
                   'The petitioner %s was dismissed from service without being granted any opportunity of hearing in %d.',
                   'The tender submitted by %s was rejected and the contract was awarded to a rival bidder in %d.'])
                   [CAST(hf.h % 6 AS INT) + 1], p.pet, p.year)
               WHEN 1 THEN
                 (['No notice was served upon the petitioner and no enquiry was conducted before the order was passed.',
                   'The authority failed to supply the enquiry report and denied inspection of the records.',
                   'The order was passed without recording any reasons and without hearing the affected party.'])
                   [CAST(hn.h % 3 AS INT) + 1]
               WHEN 2 THEN
                 (['The question is whether the impugned order violates the principles of natural justice.',
                   'The issue that arises is whether the classification satisfies the twin test of intelligible differentia and rational nexus.',
                   'The matter falls for consideration whether the restriction pursues a legitimate aim and employs the least restrictive means.',
                   'The point for determination is whether the amendment would destroy identity of Constitution.'])
                   [CAST(hi.h % 4 AS INT) + 1]
               WHEN 3 THEN
                 (['The petitioner contends that the order was passed without affording a fair opportunity to answer the allegations.',
                   'The respondent submits that the procedure followed was just, fair and reasonable in the circumstances.',
                   'Learned counsel for the appellant argues that the action is manifestly arbitrary and without determining principle.',
                   'The State urged that the measure bears a rational nexus to the object sought to be achieved.',
                   'The prosecution asserts that the confession was recorded in accordance with law and is admissible.'])
                   [CAST(ha.h % 5 AS INT) + 1]
               ELSE printf(
                 (['As held in %s, %s, the rules of natural justice operate in areas not covered by any law validly made.',
                   'Following the ratio in %s, %s, the procedure established by law must be just, fair and reasonable.',
                   'The facts in the present case are distinguishable from %s, %s, which turned on the language of the statute.',
                   'The true ratio of that decision is explained in %s, %s, and it governs administrative action generally.'])
                   [CAST(hpp.h % 4 AS INT) + 1],
                 (['Maneka Gandhi v. Union of India','Kesavananda Bharati v. State of Kerala',
                   'A.K. Kraipak v. Union of India','E.P. Royappa v. State of Tamil Nadu',
                   'Olga Tellis v. Bombay Municipal Corporation','Shayara Bano v. Union of India',
                   'K.S. Puttaswamy v. Union of India','Modern Dental College v. State of Madhya Pradesh'])
                   [CAST(hc.h % 8 AS INT) + 1],
                 (['AIR 1978 SC 597','AIR 1973 SC 1461','AIR 1970 SC 150','AIR 1974 SC 555',
                   'AIR 1986 SC 180','(2017) 9 SCC 1','(2017) 10 SCC 1','(2016) 7 SCC 353'])
                   [CAST(hc.h % 8 AS INT) + 1])
             END AS text
           FROM pv p
           CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS k) k
           JOIN hashes hb  ON hb.doc_id  = p.doc_id AND hb.slot  = 'b' || k.k
           JOIN hashes hf  ON hf.doc_id  = p.doc_id AND hf.slot  = 'b' || k.k || 'f'
           JOIN hashes hn  ON hn.doc_id  = p.doc_id AND hn.slot  = 'b' || k.k || 'n'
           JOIN hashes hi  ON hi.doc_id  = p.doc_id AND hi.slot  = 'b' || k.k || 'i'
           JOIN hashes ha  ON ha.doc_id  = p.doc_id AND ha.slot  = 'b' || k.k || 'a'
           JOIN hashes hc  ON hc.doc_id  = p.doc_id AND hc.slot  = 'b' || k.k || 'c'
           JOIN hashes hpp ON hpp.doc_id = p.doc_id AND hpp.slot = 'b' || k.k || 'p'),
         tail AS (
           SELECT p.doc_id, t.idx,
             CASE t.idx
               WHEN 10 THEN
                 (['The question is whether the impugned order violates the principles of natural justice.',
                   'The issue that arises is whether the classification satisfies the twin test of intelligible differentia and rational nexus.',
                   'The matter falls for consideration whether the restriction pursues a legitimate aim and employs the least restrictive means.',
                   'The point for determination is whether the amendment would destroy identity of Constitution.'])
                   [CAST(hh.h % 4 AS INT) + 1]
               WHEN 11 THEN
                 (['We hold that the impugned order cannot be sustained as it was passed in violation of the principles of natural justice.',
                   'We are of the considered view that the classification fails the test of intelligible differentia and is manifestly arbitrary.',
                   'We accordingly hold that the restriction does not satisfy the requirement of proportionality and must be struck down.',
                   'It must therefore be held that the dismissal order is vitiated for denial of a fair opportunity of hearing.'])
                   [CAST(hh.h % 4 AS INT) + 1]
               ELSE
                 (['In the result, the appeal is accordingly allowed and the impugned order is set aside.',
                   'For the foregoing reasons, the writ petition is allowed.',
                   'The appeal is dismissed. The judgment of the High Court is affirmed.',
                   'The petition is partly allowed to the extent indicated above.'])
                   [CAST(hh.h % 4 AS INT) + 1]
             END AS text
           FROM pv p
           CROSS JOIN (SELECT unnest([10, 11, 12]) AS idx) t
           JOIN hashes hh ON hh.doc_id = p.doc_id AND hh.slot =
             CASE t.idx WHEN 10 THEN 'issue' WHEN 11 THEN 'holding' ELSE 'outcome' END),
         allturns AS (
           SELECT p.doc_id, 0 AS idx,
             printf('This matter concerns a dispute between %s and %s arising in %d.',
               p.pet, p.resp, p.year) AS text
           FROM pv p
           UNION ALL SELECT doc_id, idx, text FROM body
           UNION ALL SELECT doc_id, idx, text FROM tail)
         SELECT printf('conv_%06d', a.doc_id) AS conv_id,
           CAST(a.idx AS INT) AS turn_idx,
           CASE WHEN a.idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           a.text,
           CASE WHEN htl.h % 7 = 0 THEN 'search' END AS tool,
           p.base_ts + a.idx * 60000 AS ts_millis
         FROM allturns a
         JOIN pv p ON p.doc_id = a.doc_id
         JOIN hashes htl ON htl.doc_id = a.doc_id AND htl.slot = 'tool' || a.idx
         ORDER BY conv_id, turn_idx""")),

    // --- S4 ontology loader/parser (Ontology.parse, extractor.py
    //     1091-1107/1312-1406) over a planted ontology JSON exercising
    //     every parse branch: [AND]/[OR]/other-bracket list headers,
    //     string requires with numbered-list vs semicolon/newline
    //     splitting, mid-string numbers (the find is line-anchored, the
    //     split is not), quoted vs comma+quote-strip key phrases, name
    //     splitting, label-defaults-to-id, missing fields. The mirror
    //     re-parses the SAME JSON with DuckDB json functions; md5 over
    //     the |-joined lists witnesses exact contents, not just counts ---
    Query("q90_ontology_load", (s, dir) => {
      import s.implicits._
      val jsonSrc =
        """{"concepts":{"C1_ANDLIST":{"label":"And List","kind":"doctrine","requires":["[AND]"," r1 ","","r2","[note]"],"defeaters":["d1","  ","d2"],"key_phrases":"\"alpha beta\", \"gamma\", \"\"","establishing_cases":"A v. B; C v. D, E v. F"},"C2_ORLIST":{"label":"","requires":["[OR - any one suffices]","x1"," x2 "],"key_phrases":"plain one, 'quoted two', unquoted","establishing_cases":"Solo v. Case"},"C3_STRNUM":{"requires":"[AND] 1. first req 2) second req","defeaters":"1. dd 2) ee","key_phrases":""},"C4_STRSEMI":{"kind":"test","requires":"[OR] alpha; beta\ngamma","defeaters":"plain; split\nhere"},"C5_BRACKET":{"label":"Bracket","requires":["[Criminal - absolute]","q1"],"defeaters":[]},"C6_EMPTY":{},"C7_MIDNUM":{"requires":"contains 2. mid but starts plain; second part"}}}"""
      val od = graft.kg.ontology.Ontology.parse(jsonSrc)
      def md5hex(x: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val rows = od.concepts.values.toSeq.sortBy(_.id).map { c =>
        (c.id, c.label, c.kind, c.logic,
          c.requires.size, c.defeaters.size, c.keyPhrases.size,
          c.establishingCases.size,
          md5hex(c.requires.mkString("|")), md5hex(c.defeaters.mkString("|")),
          md5hex(c.keyPhrases.mkString("|")),
          md5hex(c.establishingCases.mkString("|")))
      }
      rows.toDF("concept_id", "label", "kind", "logic", "n_requires",
        "n_defeaters", "n_keyphrases", "n_establishing", "req_md5",
        "def_md5", "kp_md5", "est_md5")
        .orderBy(col("concept_id"))
    }, oracle = Some(
      // independent JSON re-parse: json_keys iteration, json_type branch
      // dispatch (list vs string vs missing), the [OR/[AND/other-bracket
      // header rules, line-anchored numbered-list detection vs unanchored
      // split, quote-extraction vs comma+strip key phrases, label/kind
      // defaults; md5 over |-joined lists witnesses exact contents
      """WITH src AS (SELECT '{"concepts":{"C1_ANDLIST":{"label":"And List","kind":"doctrine","requires":["[AND]"," r1 ","","r2","[note]"],"defeaters":["d1","  ","d2"],"key_phrases":"\"alpha beta\", \"gamma\", \"\"","establishing_cases":"A v. B; C v. D, E v. F"},"C2_ORLIST":{"label":"","requires":["[OR - any one suffices]","x1"," x2 "],"key_phrases":"plain one, ''quoted two'', unquoted","establishing_cases":"Solo v. Case"},"C3_STRNUM":{"requires":"[AND] 1. first req 2) second req","defeaters":"1. dd 2) ee","key_phrases":""},"C4_STRSEMI":{"kind":"test","requires":"[OR] alpha; beta\ngamma","defeaters":"plain; split\nhere"},"C5_BRACKET":{"label":"Bracket","requires":["[Criminal - absolute]","q1"],"defeaters":[]},"C6_EMPTY":{},"C7_MIDNUM":{"requires":"contains 2. mid but starts plain; second part"}}}' AS j),
         ids AS (SELECT unnest(json_keys(j, '$.concepts')) AS cid, j FROM src),
         c AS (SELECT cid, json_extract(j, '$.concepts.' || cid) AS cj FROM ids),
         fields AS (
           SELECT cid,
             json_extract_string(cj, '$.label') AS label_raw,
             json_extract_string(cj, '$.kind') AS kind_raw,
             CASE WHEN json_type(cj, '$.requires') = 'ARRAY'
               THEN list_transform(json_transform(json_extract(cj, '$.requires'),
                 '["VARCHAR"]'), x -> trim(x)) END AS rlist,
             CASE WHEN json_type(cj, '$.requires') = 'VARCHAR'
               THEN trim(json_extract_string(cj, '$.requires')) END AS rstr,
             CASE WHEN json_type(cj, '$.defeaters') = 'ARRAY'
               THEN list_transform(json_transform(json_extract(cj, '$.defeaters'),
                 '["VARCHAR"]'), x -> trim(x)) END AS dlist,
             CASE WHEN json_type(cj, '$.defeaters') = 'VARCHAR'
               THEN trim(json_extract_string(cj, '$.defeaters')) END AS dstr,
             json_extract_string(cj, '$.key_phrases') AS kp,
             json_extract_string(cj, '$.establishing_cases') AS es
           FROM c),
         req AS (
           SELECT cid, label_raw, kind_raw, kp, es, dlist, dstr,
             CASE
               WHEN rlist IS NOT NULL AND len(rlist) > 0 THEN
                 CASE WHEN upper(rlist[1]) LIKE '[OR%' THEN 'or' ELSE 'and' END
               WHEN rstr IS NOT NULL AND rstr <> '' THEN
                 CASE WHEN upper(rstr) LIKE '[OR%' THEN 'or' ELSE 'and' END
               ELSE 'and' END AS logic,
             CASE
               WHEN rlist IS NOT NULL AND len(rlist) > 0 THEN
                 list_filter(
                   rlist[(CASE WHEN rlist[1] LIKE '[%' THEN 2 ELSE 1 END):],
                   x -> x <> '' AND upper(x) NOT LIKE '[%')
               WHEN rstr IS NOT NULL AND rstr <> '' THEN
                 list_filter(list_transform(
                   CASE WHEN regexp_matches(
                       CASE WHEN upper(rstr) LIKE '[OR%'
                              THEN regexp_replace(rstr, '^\s*\[OR\]?\s*', '', 'i')
                            WHEN upper(rstr) LIKE '[AND%'
                              THEN regexp_replace(rstr, '^\s*\[AND\]?\s*', '', 'i')
                            ELSE rstr END, '(?m)^\s*\d+[.)]\s*')
                     THEN regexp_split_to_array(
                       CASE WHEN upper(rstr) LIKE '[OR%'
                              THEN regexp_replace(rstr, '^\s*\[OR\]?\s*', '', 'i')
                            WHEN upper(rstr) LIKE '[AND%'
                              THEN regexp_replace(rstr, '^\s*\[AND\]?\s*', '', 'i')
                            ELSE rstr END, '\d+[.)]\s*')
                     ELSE regexp_split_to_array(
                       CASE WHEN upper(rstr) LIKE '[OR%'
                              THEN regexp_replace(rstr, '^\s*\[OR\]?\s*', '', 'i')
                            WHEN upper(rstr) LIKE '[AND%'
                              THEN regexp_replace(rstr, '^\s*\[AND\]?\s*', '', 'i')
                            ELSE rstr END, '[\n;]+') END,
                   x -> trim(x)), x -> x <> '')
               ELSE CAST([] AS VARCHAR[]) END AS requires
           FROM fields),
         dfs AS (
           SELECT cid, label_raw, kind_raw, kp, es, logic, requires,
             CASE
               WHEN dlist IS NOT NULL THEN list_filter(dlist, x -> x <> '')
               WHEN dstr IS NOT NULL AND dstr <> '' THEN
                 list_filter(list_transform(
                   CASE WHEN regexp_matches(dstr, '(?m)^\s*\d+[.)]\s*')
                     THEN regexp_split_to_array(dstr, '\d+[.)]\s*')
                     ELSE regexp_split_to_array(dstr, '[\n;]+') END,
                   x -> trim(x)), x -> x <> '')
               ELSE CAST([] AS VARCHAR[]) END AS defeaters,
             CASE
               WHEN kp IS NULL OR kp = '' THEN CAST([] AS VARCHAR[])
               WHEN len(regexp_extract_all(kp, '"(.*?)"', 1)) > 0 THEN
                 list_filter(list_transform(regexp_extract_all(kp, '"(.*?)"', 1),
                   x -> trim(x)), x -> x <> '')
               ELSE list_filter(list_transform(string_split(kp, ','),
                 x -> trim(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(trim(x), '^"', ''), '"$', ''),
                   '^' || chr(39), ''), chr(39) || '$', ''))), x -> x <> '') END AS keyphrases,
             CASE WHEN es IS NULL THEN CAST([] AS VARCHAR[])
               ELSE list_filter(list_transform(
                 regexp_split_to_array(es, '[\n;]+|,'), x -> trim(x)),
                 x -> x <> '') END AS establishing
           FROM req)
         SELECT cid AS concept_id,
           CASE WHEN label_raw IS NOT NULL AND label_raw <> '' THEN label_raw
                ELSE cid END AS label,
           coalesce(kind_raw, '') AS kind, logic,
           CAST(len(requires) AS INT) AS n_requires,
           CAST(len(defeaters) AS INT) AS n_defeaters,
           CAST(len(keyphrases) AS INT) AS n_keyphrases,
           CAST(len(establishing) AS INT) AS n_establishing,
           md5(coalesce(array_to_string(requires, '|'), '')) AS req_md5,
           md5(coalesce(array_to_string(defeaters, '|'), '')) AS def_md5,
           md5(coalesce(array_to_string(keyphrases, '|'), '')) AS kp_md5,
           md5(coalesce(array_to_string(establishing, '|'), '')) AS est_md5
         FROM dfs ORDER BY concept_id""")),

    // --- T14 graph JSON serialization (GraphJsonWriter.toJson, the
    //     schema-v2.1 per-case document): planted graphs varying every
    //     nullable/branching surface — anchor present/absent, secondary
    //     spans, null case_year, missing outcome, empty vs non-empty
    //     support groups / warnings, JSON escaping (quote + backslash in a
    //     text field) — serialized by the REAL writer; the mirror rebuilds
    //     the BYTE-IDENTICAL string with DuckDB's independent JSON emitter
    //     (to_json over nested structs, same key order) ---
    Query("q91_json_serialize", (s, dir) => {
      val jsonU = udf((docId: Long) => {
        import graft.kg.model._
        val v2 = (docId % 2).toInt; val v3 = (docId % 3).toInt
        val v4 = (docId % 4).toInt; val v5 = (docId % 5).toInt
        val cid = "c" + docId
        val confs = Seq("high", "medium", "low", "inferred")
        val fAnchor =
          if (v2 == 0) Anchor("doc", v5, v5 + 7, "h" + v3, "p1", "srf text",
            if (v3 == 0) Seq(SpanRef(1, 4)) else Nil)
          else null
        def node(id: String, nt: String) = Node(cid, id, nt, null, null, null,
          null, null, null, isRatio = false, null, null, null, null, null,
          null, "high", null, "rule")
        val fact = node("f1", "fact").copy(
          text = Seq("The notice was served on time", "he said \"stop\" \\ now")(v2),
          factType = Seq("procedural", "substantive", "finding")(v3),
          anchor = fAnchor, confidence = confs(v4))
        val holding = node("h1", "holding").copy(text = "We hold so",
          isRatio = v5 != 0, resolvesIssue = if (v3 == 0) null else "i1")
        val precedent = node("p1", "precedent").copy(
          citation = "AIR 1978 SC 597", caseName = "M v. U",
          caseYear = if (v5 == 0) null
            else Integer.valueOf(1950 + (docId % 60).toInt),
          citationType = "reported", treatment = "followed", relevance = "high")
        val outcome =
          if (v4 != 0) Seq(node("o1", "outcome").copy(disposition = "allowed",
            text = "relief granted"))
          else Nil
        val edge = EdgeRow(cid, "e1", "f1", "h1", "supports", confs(v4),
          "strong", v3 == 0, if (v2 == 0) Seq("js1") else Nil,
          if (v4 == 0) null else "because", null, "rule", null)
        val js = JustificationSetRow(cid, "js1", "h1", "and", "L", v2 == 0, "high")
        val chain = ChainRow(cid, "ch1", "i1", "h1", Seq("f1"), Nil, Nil,
          Seq("e1"), if (v2 == 0) "js1" else null,
          if (v3 == 0) Seq("f1") else Nil, "narrative text")
        graft.kg.io.GraphJsonWriter.toJson(cid,
          Seq(fact, holding, precedent) ++ outcome, Seq(edge), Seq(js),
          Seq(chain), Seq("gold", "silver", "bronze", "reject")(v4),
          Seq("w one", "w two").take(v3))
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), jsonU(col("doc_id")).as("json"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // DuckDB's own JSON emitter (to_json over nested structs in the
      // writer's key order) rebuilds the document byte-for-byte: compact
      // separators, minimal escaping (the planted quote+backslash text
      // witnesses it), null struct -> null, typed empty arrays, int vs
      // null case_year, missing outcome -> null
      """WITH v AS (
           SELECT doc_id,
             CAST(doc_id % 2 AS INT) AS v2, CAST(doc_id % 3 AS INT) AS v3,
             CAST(doc_id % 4 AS INT) AS v4, CAST(doc_id % 5 AS INT) AS v5,
             'c' || CAST(doc_id AS VARCHAR) AS cid,
             (['high','medium','low','inferred'])[CAST(doc_id % 4 AS INT) + 1] AS conf
           FROM documents)
         SELECT doc_id,
           to_json(struct_pack(
             case_id := cid,
             facts := [struct_pack(
               id := 'f1', "type" := 'fact',
               text := (['The notice was served on time', 'he said "stop" \ now'])[v2 + 1],
               anchor := CASE WHEN v2 = 0 THEN struct_pack(
                   doc_id := 'doc', start_char := v5, end_char := v5 + 7,
                   text_hash := 'h' || CAST(v3 AS VARCHAR), display_location := 'p1',
                   secondary_spans := CASE WHEN v3 = 0
                     THEN [struct_pack(start_char := 1, end_char := 4)]
                     ELSE CAST([] AS STRUCT(start_char INT, end_char INT)[]) END,
                   surface_text := 'srf text') END,
               fact_type := (['procedural','substantive','finding'])[v3 + 1],
               court_finding := NULL::VARCHAR,
               confidence := conf, provenance := NULL::VARCHAR)],
             concepts := CAST([] AS VARCHAR[]),
             issues := CAST([] AS VARCHAR[]),
             arguments := CAST([] AS VARCHAR[]),
             holdings := [struct_pack(
               id := 'h1', "type" := 'holding', text := 'We hold so',
               anchor := NULL::VARCHAR, is_ratio := v5 <> 0,
               resolves_issue := CASE WHEN v3 = 0 THEN NULL ELSE 'i1' END,
               confidence := 'high', provenance := NULL::VARCHAR)],
             precedents := [struct_pack(
               id := 'p1', "type" := 'precedent', citation := 'AIR 1978 SC 597',
               anchor := NULL::VARCHAR, case_name := 'M v. U',
               case_year := CASE WHEN v5 = 0 THEN NULL
                 ELSE CAST(1950 + doc_id % 60 AS INT) END,
               citation_type := 'reported', text := NULL::VARCHAR,
               treatment := 'followed', relevance := 'high',
               confidence := 'high', provenance := NULL::VARCHAR)],
             outcome := CASE WHEN v4 <> 0 THEN struct_pack(
               id := 'o1', "type" := 'outcome', disposition := 'allowed',
               anchor := NULL::VARCHAR, relief_summary := 'relief granted',
               confidence := 'high', provenance := NULL::VARCHAR) END,
             justification_sets := [struct_pack(
               id := 'js1', "type" := 'justification_set', target_id := 'h1',
               logic := 'and', label := 'L', is_primary := v2 = 0,
               confidence := 'high', provenance := NULL::VARCHAR)],
             edges := [struct_pack(
               id := 'e1', source := 'f1', target := 'h1', relation := 'supports',
               anchor := NULL::VARCHAR,
               explanation := CASE WHEN v4 = 0 THEN NULL ELSE 'because' END,
               confidence := conf, strength := 'strong',
               support_group_ids := CASE WHEN v2 = 0 THEN ['js1']
                 ELSE CAST([] AS VARCHAR[]) END,
               is_critical := v3 = 0, provenance := NULL::VARCHAR)],
             reasoning_chains := [struct_pack(
               id := 'ch1', issue_id := 'i1', fact_ids := ['f1'],
               concept_ids := CAST([] AS VARCHAR[]),
               argument_ids := CAST([] AS VARCHAR[]),
               holding_id := 'h1', edge_ids := ['e1'],
               justification_set_id := CASE WHEN v2 = 0 THEN 'js1' ELSE NULL END,
               critical_nodes := CASE WHEN v3 = 0 THEN ['f1']
                 ELSE CAST([] AS VARCHAR[]) END,
               narrative := 'narrative text')],
             "_meta" := struct_pack(
               schema_version := '2.1.2',
               quality_tier := (['gold','silver','bronze','reject'])[v4 + 1],
               extraction_model := 'graft_rule_engine_v1',
               extraction_timestamp := NULL::VARCHAR,
               retry_attempts := 0,
               validation_warnings := CASE v3 WHEN 0 THEN CAST([] AS VARCHAR[])
                 WHEN 1 THEN ['w one'] ELSE ['w one','w two'] END)
           ))::VARCHAR AS json
         FROM v ORDER BY doc_id""")),

    // --- qrels construction: regex relevance judging over raw text ---
    Query("q29_regex_qrels", (s, dir) => {
      graft.kg.eval.Qrels.buildRegexQrels(
        pq(s, dir, "documents"), "doc_id", "text",
        Seq(("UNLISTED_SPARK_JOIN", null), ("UNLISTED_WINDOW_FILTER", null),
          ("UNLISTED_CUSTOMER_ORDER", null)))
        .orderBy(col("query_id"), col("doc_id"))
    }, oracle = Some(
      // fallback-strategy patterns for the made-up concept ids reduce to the
      // two-token phrase regexes mirrored here
      """SELECT query_id, doc_id, rel FROM (
           SELECT 'UNLISTED_SPARK_JOIN' AS query_id, doc_id, 1 AS rel
           FROM documents WHERE regexp_matches(text, '(?i)(?:spark\s+join)')
           UNION ALL
           SELECT 'UNLISTED_WINDOW_FILTER' AS query_id, doc_id, 1 AS rel
           FROM documents WHERE regexp_matches(text, '(?i)(?:window\s+filter)')
           UNION ALL
           SELECT 'UNLISTED_CUSTOMER_ORDER' AS query_id, doc_id, 1 AS rel
           FROM documents WHERE regexp_matches(text, '(?i)(?:customer\s+order)'))
         ORDER BY query_id, doc_id""")),

    // --- citation manifest: top-k regex-detected citations over the corpus
    //     (citation_preprocess.py:332-360 lifted to table scale); the salad
    //     corpus contains no citations, so deterministic AIR / SCC citations
    //     are planted per doc_id — filter-derived, reconstructable in SQL ---
    Query("q31_citation_manifest", (s, dir) => {
      val d = pq(s, dir, "documents")
      val planted = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" AIR "), lit(1950) + col("doc_id") % 60,
              lit(" SC "), lit(100) + col("doc_id") % 90)).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" ("), lit(1990) + col("doc_id") % 30, lit(") "),
              lit(1) + col("doc_id") % 9, lit(" SCC "),
              lit(1) + col("doc_id") % 500)).otherwise(lit(""))).as("text"))
      graft.kg.rules.CitationManifest.manifest(s, planted, "doc_id", "text", "in", maxItems = 50)
    }, oracle = Some(
      // same planted-citation construction + the two pattern families that
      // can fire on it (AIR, SCC-paren), RE2-mirrored case-insensitively;
      // grammar overlap-dedup is a no-op here (planted spans are disjoint)
      """WITH planted AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' AIR ' || (1950 + doc_id % 60)::VARCHAR ||
                       ' SC ' || (100 + doc_id % 90)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 4 = 0
                  THEN ' (' || (1990 + doc_id % 30)::VARCHAR || ') ' ||
                       (1 + doc_id % 9)::VARCHAR || ' SCC ' ||
                       (1 + doc_id % 500)::VARCHAR ELSE '' END AS text
           FROM documents),
         hits AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text,
               '(?i)\bAIR\s+\d{4}\s+(?:SC|Del|Bom|Mad|Cal|All|Ker|Kar|Pat|P&H|Guj|AP|HP|J&K|Ori|Raj|MP|Gau|Tri|NOC)\s+\d+')) AS citation,
             'air' AS citation_type
           FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\(\d{4}\)\s+\d{1,2}\s+SCC\s+\d+')) AS citation,
             'scc' AS citation_type
           FROM planted)
         SELECT citation, citation_type,
           count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits
         FROM hits GROUP BY 1, 2
         ORDER BY n_docs DESC, citation ASC LIMIT 50""")),

    // --- density-quartile validation table (cross_domain_density_validation
    //     .py quartile analysis) on the CORPUS-SCALE plan: percentile_approx
    //     edges + stateless digitize binning — no global window, no collect.
    //     In the exact sketch regime (accuracy >= rows) the edges are the
    //     elements at rank ceil(p*n), which the DuckDB oracle mirrors via
    //     ORDER BY + OFFSET. The reference-exact percentile/digitize variant
    //     + z/t statistics live in DensityValidation (fixture-tested). ---
    Query("q32_density_quartiles", (s, dir) => {
      graft.kg.eval.DensityValidation.quantileBinTable(
        pq(s, dir, "documents"), "doc_id", "text", "lang")
    }, oracle = Some(
      // density proxy (distinct tokens + tokens + punctuation per token),
      // accuracy = langId prediction == lang label (q21's mirror). Quartile
      // edges mirror percentile_approx's exact regime: the element at rank
      // ceil(p*n) (ORDER BY density OFFSET ceil(p*n)-1); bin = 1 + count of
      // edges <= density (np.digitize convention, stateless both engines)
      """WITH t AS (
           SELECT doc_id, lang,
             string_split_regex(lower(text), '\W+') AS ltoks,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS cjk,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
           FROM documents),
         s AS (
           SELECT doc_id, lang, toks, punct, cjk,
             len(list_intersect(ltoks, ['the','and','of','to','is','that','for','with']))*1000
               + len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','that','for','with'], x))) AS s_en,
             len(list_intersect(ltoks, ['le','la','les','et','des','une','est','que']))*1000
               + len(list_filter(ltoks, x -> list_contains(['le','la','les','et','des','une','est','que'], x))) AS s_fr,
             len(list_intersect(ltoks, ['el','la','los','las','que','por','con','una']))*1000
               + len(list_filter(ltoks, x -> list_contains(['el','la','los','las','que','por','con','una'], x))) AS s_es,
             len(list_intersect(ltoks, ['der','die','das','und','ist','nicht','mit','ein']))*1000
               + len(list_filter(ltoks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS s_de
           FROM t),
         d AS (
           SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN (len(list_distinct(toks)) + len(toks) + punct) * 1.0 / len(toks)
                  ELSE 0.0 END AS density,
             len(toks) AS tokens,
             CASE WHEN (CASE WHEN cjk THEN 'zh'
                   WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                   WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                   WHEN s_en >= s_de THEN 'en'
                   ELSE 'de' END) = lang THEN 1 ELSE 0 END AS accuracy
           FROM s),
         e AS (
           SELECT
             (SELECT density FROM d ORDER BY density
              LIMIT 1 OFFSET cast(ceil(0.25 * (SELECT count(*) FROM d)) AS int) - 1) AS e1,
             (SELECT density FROM d ORDER BY density
              LIMIT 1 OFFSET cast(ceil(0.5 * (SELECT count(*) FROM d)) AS int) - 1) AS e2,
             (SELECT density FROM d ORDER BY density
              LIMIT 1 OFFSET cast(ceil(0.75 * (SELECT count(*) FROM d)) AS int) - 1) AS e3),
         q AS (
           SELECT d.*,
             1 + (CASE WHEN density >= e1 THEN 1 ELSE 0 END)
               + (CASE WHEN density >= e2 THEN 1 ELSE 0 END)
               + (CASE WHEN density >= e3 THEN 1 ELSE 0 END) AS quartile
           FROM d, e)
         SELECT quartile, count(*) AS n,
           round(avg(accuracy), 4) AS accuracy,
           round(avg(density), 6) AS mean_density,
           round(avg(tokens), 4) AS mean_tokens
         FROM q GROUP BY quartile ORDER BY quartile"""))
  )
}
