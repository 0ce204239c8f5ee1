package graft
package queries

import org.apache.spark.sql.functions._
import Query.pq

/** Text normalization and extraction-rule operators: each runs the real
  * Scala rule (normalizers, coercers, validators, citation grammars,
  * segmenter, phrase automaton, cluster and anchor logic) at table scale. */
private[graft] object TextRuleQueries {

  /** Planted q69/q72 document: closed-form paragraphs/sentences by doc_id
    * arithmetic (word + " pad"×k + "." joined by " " inside a paragraph,
    * paragraphs joined by "\n\n"). Shared so the two queries cannot drift
    * apart — but it MUST also stay byte-identical with the q69 AND q72
    * DuckDB CTE mirrors, which each re-derive this text in SQL. */
  private def plantedSegDoc(docId: Long): String = {
    val words = Array("Alpha", "Beta", "Gamma", "Delta", "Epsilon")
    val nP = (docId % 3).toInt + 1
    val sb = new StringBuilder
    var p = 0
    while (p < nP) {
      if (p > 0) sb.append("\n\n")
      val nS = ((docId + p) % 3).toInt + 1
      var t = 0
      while (t < nS) {
        if (t > 0) sb.append(' ')
        sb.append(words(((docId + 2 * p + 3 * t) % 5).toInt))
        var k = ((docId + p + t) % 3).toInt
        while (k > 0) { sb.append(" pad"); k -= 1 }
        sb.append('.')
        t += 1
      }
      p += 1
    }
    sb.toString
  }

  val all: Seq[Query] = Seq(
    // --- T10 negation-cue heuristic over the documents table (the
    //     requirement-satisfaction gate, extractor.py:1306-1309); the salad
    //     corpus contains no negation cues, so cue suffixes are planted
    //     deterministically (filter-derived, SQL-reconstructable) ---
    Query("q33_negativity", (s, dir) => {
      val neg = udf((t: String) => graft.kg.text.Normalize.looksNegative(t))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" the application was denied")).otherwise(lit("")),
          when(col("doc_id") % 4 === 1, lit(" they failed to comply")).otherwise(lit("")),
          when(col("doc_id") % 7 === 2, lit(" without notice")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"), neg(col("text")).cast("int").as("is_negative"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // the 6 negation cues of Normalize.looksNegative, trailing spaces
      // significant, on the raw-lowered text (with the planted cue suffixes)
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 3 = 0 THEN ' the application was denied' ELSE '' END ||
             CASE WHEN doc_id % 4 = 1 THEN ' they failed to comply' ELSE '' END ||
             CASE WHEN doc_id % 7 = 2 THEN ' without notice' ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           CASE WHEN contains(lower(text), 'without ') OR contains(lower(text), 'no ')
                  OR contains(lower(text), 'not ') OR contains(lower(text), 'denied')
                  OR contains(lower(text), 'refused') OR contains(lower(text), 'failed to')
                THEN 1 ELSE 0 END AS is_negative
         FROM planted ORDER BY doc_id""")),

    // --- J2 concept-match scoring (extractor.py:1216-1303) over documents:
    //     the REAL Ontology.conceptMatchScoreFast operator applied per doc
    //     against two shipped ontology concepts; key phrases / establishing
    //     cases are planted deterministically (filter-derived, so the
    //     DuckDB oracle reconstructs the same text and mirrors the full
    //     formula: +5/phrase hit, +8 any case, capped keyword overlaps) ---
    Query("q34_concept_score", (s, dir) => {
      val audi = graft.kg.ontology.Ontology.default
        .concepts("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM")
      val prop = graft.kg.ontology.Ontology.default
        .concepts("DOCTRINE_PROPORTIONALITY_TEST")
      val scoreAudi = udf((t: String) => graft.kg.ontology.Ontology.conceptMatchScore(t, audi))
      val scoreProp = udf((t: String) => graft.kg.ontology.Ontology.conceptMatchScore(t, prop))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" fair opportunity to answer was denied before the hearing")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" the legitimate aim and rational nexus test of proportionality")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" as held in maneka gandhi v. uoi (1978) a speaking order is required")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"),
          scoreAudi(col("text")).as("score_audi"),
          scoreProp(col("text")).as("score_prop"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // full _concept_match_score mirror (extractor.py:1216-1303): phrase
      // hits +5 each and establishing-case containment +8 on the
      // ws-collapsed lowered text; keyword overlaps capped at 4 — the
      // len>=4 / stopword filters on the doc side are redundant for the
      // intersection because every concept keyword already satisfies them
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 5 = 0 THEN ' fair opportunity to answer was denied before the hearing' ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN ' the legitimate aim and rational nexus test of proportionality' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0 THEN ' as held in maneka gandhi v. uoi (1978) a speaking order is required' ELSE '' END AS text
           FROM documents),
         t AS (
           SELECT doc_id,
             lower(regexp_replace(text, '\s+', ' ', 'g')) AS lownorm,
             list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS toks
           FROM planted)
         SELECT doc_id,
           5 * (contains(lownorm, 'no one shall be condemned unheard')::INT
              + contains(lownorm, 'fair opportunity to answer')::INT
              + contains(lownorm, 'speaking order')::INT)
           + 8 * (CASE WHEN contains(lownorm, 'maneka gandhi v. uoi (1978)')
                       OR contains(lownorm, 'a.k. kraipak v. uoi (1969)') THEN 1 ELSE 0 END)
           + least(4, len(list_intersect(toks, ['action','actions','administrative','adverse','alteram','answer','audi','before','challenge','conclusion','condemned','decision','difference','emergency','exclusion','fair','heard','hearing','judicial','justice','make','natural','notice','obvious','opportunity','order','partem','post','proposed','purely','quasi','reasonable','reasoned','speaking','statutory','subject','suffice','unheard','urgency'])))
           + least(4, len(list_intersect(toks, ['action','adverse','before','decision','fair','heard','hearing','notice','opportunity','order','proposed','reasonable','reasoned','speaking']))) AS score_audi,
           5 * (contains(lownorm, 'legitimate aim')::INT
              + contains(lownorm, 'rational nexus')::INT
              + contains(lownorm, 'least restrictive means')::INT
              + contains(lownorm, 'proportionality stricto sensu')::INT)
           + 8 * (CASE WHEN contains(lownorm, 'modern dental college v. state of mp (2016)')
                       OR contains(lownorm, 'k.s. puttaswamy i (2017)')
                       OR contains(lownorm, 'k.s. puttaswamy ii/aadhaar (2018)') THEN 1 ELSE 0 END)
           + least(4, len(list_intersect(toks, ['alternatives','available','disproportionate','four','impact','least','legitimate','less','means','nexus','prongs','proportionality','rational','restrictive','rights','sensu','stricto','test'])))
           + least(4, len(list_intersect(toks, ['four','prongs']))) AS score_prop
         FROM t ORDER BY doc_id""")),

    // --- T4 normalize-with-mapping over documents: the REAL
    //     Normalize.normalizeWithMapping (whitespace-run collapse with
    //     offset map) fingerprinted per doc; DuckDB mirrors the text half
    //     with a regex collapse (the offset map is Spark-side-only and is
    //     property-tested in TextProps) ---
    Query("q35_norm_hash", (s, dir) => {
      val norm = udf((t: String) => graft.kg.text.Normalize.normalizeWithMapping(t)._1)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          md5(norm(col("text"))).as("norm_hash"),
          length(norm(col("text"))).as("norm_len"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // whitespace-run collapse (no trim) — Java isWhitespace == RE2 \s on
      // this ASCII corpus
      """SELECT doc_id,
           md5(regexp_replace(text, '\s+', ' ', 'g')) AS norm_hash,
           length(regexp_replace(text, '\s+', ' ', 'g')) AS norm_len
         FROM documents ORDER BY doc_id""")),

    // --- T5 Turkish-aware lowercase (İ→i, I→ı + standard lowering) over
    //     documents with planted Turkish-uppercase suffixes (the salad
    //     corpus is ASCII); DuckDB mirrors via translate + lower ---
    Query("q36_turkish_fold", (s, dir) => {
      val tl = udf((t: String) => graft.kg.text.Normalize.turkishLower(t))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(" İSTANBUL IŞIK ŞÇÖÜĞ DAVASI")).otherwise(lit("")),
          when(col("doc_id") % 3 === 1, lit(" ANAYASA MAHKEMESİ KARARI")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"), md5(tl(col("text"))).as("folded_hash"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // İ→i / I→ı (+ the rest of the Turkish uppercase set) then standard
      // lowering — translate() before lower() exactly like the operator
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 2 = 0 THEN ' İSTANBUL IŞIK ŞÇÖÜĞ DAVASI' ELSE '' END ||
             CASE WHEN doc_id % 3 = 1 THEN ' ANAYASA MAHKEMESİ KARARI' ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           md5(lower(translate(text, 'İIŞÇÖÜĞ', 'iışçöüğ'))) AS folded_hash
         FROM planted ORDER BY doc_id""")),

    // --- V1/V2 relation normalize + coerce over a planted messy-relation
    //     column (20 inputs cycled by doc_id covering the alias map, every
    //     coercion branch and the default); the REAL Relations.coerce runs
    //     per row, DuckDB mirrors normalize (lower/underscore/collapse) +
    //     alias CASE + valid-set check + the substring cascade ---
    Query("q38_relation_coerce", (s, dir) => {
      val messy = Seq(
        "Supports", "claim-satisfies", "SATISFY", "partial satisfies",
        "permits", "contradicts", "necessitates", "answers the question",
        "determination", "leads to", "attack-mode", "rebuttal",
        "undercutting", "total nonsense", "grounds", "Follows",
        "supports  argument", "conflict with", "established", "enables")
      val coerceU = udf((t: String) => graft.kg.rules.Relations.coerce(t))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(
            array(messy.map(lit): _*), (col("doc_id") % 20).cast("int") + 1).as("raw_relation"))
        .select(col("doc_id"), col("raw_relation"),
          coerceU(col("raw_relation")).as("relation"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // normalize (extractor.py:282-291) + alias map + 32-value enum check +
      // coercion cascade (extractor.py:294-329), all inline
      """WITH planted AS (
           SELECT doc_id,
             (['Supports','claim-satisfies','SATISFY','partial satisfies',
               'permits','contradicts','necessitates','answers the question',
               'determination','leads to','attack-mode','rebuttal',
               'undercutting','total nonsense','grounds','Follows',
               'supports  argument','conflict with','established','enables'])[CAST(doc_id % 20 AS INT) + 1] AS raw_relation
           FROM documents),
         n AS (
           SELECT doc_id, raw_relation,
             regexp_replace(replace(replace(lower(trim(raw_relation)), '-', '_'), ' ', '_'), '_+', '_', 'g') AS r0
           FROM planted),
         a AS (
           SELECT doc_id, raw_relation,
             CASE r0
               WHEN 'claim_satisfies' THEN 'claims_satisfies' WHEN 'claims_satisfy' THEN 'claims_satisfies'
               WHEN 'claims_satisfies_requirement' THEN 'claims_satisfies'
               WHEN 'satisfy' THEN 'satisfies' WHEN 'satisfies_requirement' THEN 'satisfies'
               WHEN 'satisfies_requirements' THEN 'satisfies' WHEN 'satisfies_req' THEN 'satisfies'
               WHEN 'partial_satisfies' THEN 'partially_satisfies'
               WHEN 'partially_satisfies_requirement' THEN 'partially_satisfies'
               WHEN 'establish' THEN 'establishes' WHEN 'established' THEN 'establishes'
               WHEN 'establishes_doctrine' THEN 'establishes'
               WHEN 'enable' THEN 'enables' WHEN 'enabling' THEN 'enables'
               WHEN 'permits' THEN 'enables' WHEN 'allows' THEN 'enables' WHEN 'facilitates' THEN 'enables'
               WHEN 'conflicts' THEN 'conflicts_with' WHEN 'conflict' THEN 'conflicts_with'
               WHEN 'conflict_with' THEN 'conflicts_with'
               WHEN 'respond_to' THEN 'responds_to' WHEN 'responds' THEN 'responds_to'
               WHEN 'support' THEN 'supports'
               WHEN 'supports_argument' THEN 'supports_arg' WHEN 'supportsarg' THEN 'supports_arg'
               WHEN 'attack' THEN 'attacks' WHEN 'undercut' THEN 'undercuts'
               WHEN 'rebut' THEN 'rebuts' WHEN 'ground' THEN 'grounds'
               WHEN 'address' THEN 'addresses' WHEN 'require' THEN 'requires'
               ELSE r0 END AS r
           FROM n)
         SELECT doc_id, raw_relation,
           CASE
             WHEN list_contains(['supports','grounds','rebuts','undercuts','attacks','supports_arg',
               'responds_to','concedes','addresses','resolves','partially_resolves',
               'determines','contributes_to','triggers','negates','satisfies',
               'partially_satisfies','claims_satisfies','requires','excludes',
               'specializes','conflicts_with','constrains','enables','establishes',
               'follows','applies','distinguishes','overrules','doubts','explains',
               'member_of'], r) THEN r
             WHEN contains(r, 'satisf') THEN (CASE WHEN contains(r, 'partial') THEN 'partially_satisfies' ELSE 'satisfies' END)
             WHEN contains(r, 'enable') OR contains(r, 'permit') OR contains(r, 'allow') THEN 'enables'
             WHEN contains(r, 'establish') THEN 'establishes'
             WHEN contains(r, 'conflict') OR contains(r, 'contradict') OR contains(r, 'inconsist') THEN 'conflicts_with'
             WHEN contains(r, 'require') OR contains(r, 'necess') THEN 'requires'
             WHEN contains(r, 'resolv') OR contains(r, 'answer') THEN 'resolves'
             WHEN contains(r, 'determin') THEN 'determines'
             WHEN contains(r, 'contribut') OR contains(r, 'cause') OR contains(r, 'lead') OR contains(r, 'result') THEN 'contributes_to'
             WHEN contains(r, 'attack') THEN 'attacks'
             WHEN contains(r, 'rebut') THEN 'rebuts'
             WHEN contains(r, 'undercut') THEN 'undercuts'
             ELSE 'supports' END AS relation
         FROM a ORDER BY doc_id""")),

    // --- C12 quality-tier grading: synthesized warning lists + structural
    //     flags from doc_id arithmetic feed the REAL GraphAssembly
    //     .computeTier (one template string per warning class, so the
    //     error/substantive/cosmetic classifier is exercised); the DuckDB
    //     oracle rebuilds the counts and mirrors the thresholds ---
    Query("q39_quality_tier", (s, dir) => {
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
          tierU(col("n_err"), col("n_sub"), col("n_cos"), col("h"), col("o"), col("c")).as("tier"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // the computeTier thresholds (extractor.py:4832-4862) over the same
      // synthesized warning counts: the planted template per class is
      // constant, so error/substantive/cosmetic counts reduce to the doc_id
      // arithmetic (the string classifier itself runs on the Spark side)
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 8 AS INT) AS n_err,
             CAST((doc_id * 3) % 40 AS INT) AS n_sub,
             doc_id % 5 <> 0 AS h, doc_id % 6 <> 0 AS o, doc_id % 7 <> 0 AS c
           FROM documents)
         SELECT doc_id,
           CASE
             WHEN n_err = 0 AND n_sub <= 15 AND h AND o AND c THEN 'gold'
             WHEN n_err <= 2 AND n_sub <= 30 AND h AND o THEN 'silver'
             WHEN n_err <= 5 THEN 'bronze'
             ELSE 'reject' END AS tier
         FROM t ORDER BY doc_id""")),

    // --- V3/V4 actor coercion over planted messy actor strings (alias
    //     table + substring heuristics + third_party fallback); mirror
    //     inlines normalize + aliases + the full cascade ---
    Query("q40_actor_coerce", (s, dir) => {
      val messy = Seq(
        "Union of India", "Govt", "STATE", "writ-petitioner", "Plaintiff",
        "the appellate authority", "Opposite  Party", "convict", "PP",
        "informant", "Sessions Court", "High Court", "tribunal", "amicus curiae",
        "expert witness", "random person", "Municipal Board", "claiming party",
        "appellate", "friend_of_court")
      val coerceU = udf((t: String) => graft.kg.rules.Actors.coerceActor(t))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(messy.map(lit): _*), (col("doc_id") % 20).cast("int") + 1).as("raw_actor"))
        .select(col("doc_id"), col("raw_actor"),
          coerceU(col("raw_actor")).as("actor"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // normalize_actor_type + coerce_actor_type (extractor.py:431-563):
      // canon key, alias table, 10-value enum check, substring cascade in
      // the reference's branch order (court before amicus, authority before
      // appellant), third_party fallback
      """WITH planted AS (
           SELECT doc_id,
             (['Union of India','Govt','STATE','writ-petitioner','Plaintiff',
               'the appellate authority','Opposite  Party','convict','PP',
               'informant','Sessions Court','High Court','tribunal','amicus curiae',
               'expert witness','random person','Municipal Board','claiming party',
               'appellate','friend_of_court'])[CAST(doc_id % 20 AS INT) + 1] AS raw_actor
           FROM documents),
         n AS (
           SELECT doc_id, raw_actor,
             regexp_replace(replace(replace(lower(trim(raw_actor)), '-', '_'), ' ', '_'), '_+', '_', 'g') AS k
           FROM planted),
         a AS (
           SELECT doc_id, raw_actor,
             CASE k
               WHEN 'union' THEN 'respondent' WHEN 'uoi' THEN 'respondent'
               WHEN 'union_of_india' THEN 'respondent' WHEN 'government' THEN 'respondent'
               WHEN 'govt' THEN 'respondent' WHEN 'state' THEN 'respondent' WHEN 'states' THEN 'respondent'
               WHEN 'state_government' THEN 'respondent' WHEN 'central_government' THEN 'respondent'
               WHEN 'central_govt' THEN 'respondent' WHEN 'authority' THEN 'respondent'
               WHEN 'authorities' THEN 'respondent' WHEN 'department' THEN 'respondent'
               WHEN 'ministry' THEN 'respondent' WHEN 'corporation' THEN 'respondent'
               WHEN 'public_authority' THEN 'respondent'
               WHEN 'appellant' THEN 'appellant' WHEN 'petitioner' THEN 'petitioner'
               WHEN 'applicant' THEN 'petitioner' WHEN 'plaintiff' THEN 'petitioner'
               WHEN 'claimant' THEN 'petitioner' WHEN 'writ_petitioner' THEN 'petitioner'
               WHEN 'respondent' THEN 'respondent' WHEN 'defendant' THEN 'respondent'
               WHEN 'opposite_party' THEN 'respondent' WHEN 'opp_party' THEN 'respondent'
               WHEN 'accused' THEN 'accused' WHEN 'convict' THEN 'accused' WHEN 'prisoner' THEN 'accused'
               WHEN 'prosecution' THEN 'prosecution' WHEN 'public_prosecutor' THEN 'prosecution'
               WHEN 'pp' THEN 'prosecution' WHEN 'complainant' THEN 'complainant'
               WHEN 'informant' THEN 'complainant'
               WHEN 'court' THEN 'court' WHEN 'bench' THEN 'court' WHEN 'judge' THEN 'court'
               WHEN 'tribunal' THEN 'court' WHEN 'lower_court' THEN 'lower_court'
               WHEN 'high_court' THEN 'lower_court' WHEN 'trial_court' THEN 'lower_court'
               WHEN 'sessions_court' THEN 'lower_court' WHEN 'magistrate' THEN 'lower_court'
               WHEN 'appellate_authority' THEN 'lower_court'
               WHEN 'amicus' THEN 'amicus' WHEN 'amicus_curiae' THEN 'amicus'
               WHEN 'intervenor' THEN 'third_party' WHEN 'intervener' THEN 'third_party'
               WHEN 'third_party' THEN 'third_party' WHEN 'witness' THEN 'third_party'
               WHEN 'expert' THEN 'third_party'
               ELSE k END AS v
           FROM n)
         SELECT doc_id, raw_actor,
           CASE
             WHEN list_contains(['petitioner','respondent','court','lower_court','amicus',
               'third_party','appellant','complainant','accused','prosecution'], v) THEN v
             WHEN contains(v,'gov') OR contains(v,'union') OR contains(v,'state') OR contains(v,'ministry')
               OR contains(v,'department') OR contains(v,'authority') OR contains(v,'board')
               OR contains(v,'commission') OR contains(v,'corporation') OR contains(v,'municipal')
               OR contains(v,'council') OR contains(v,'committee') THEN 'respondent'
             WHEN contains(v,'petition') OR contains(v,'applic') OR contains(v,'plaintiff')
               OR contains(v,'claim') OR contains(v,'writ') THEN 'petitioner'
             WHEN contains(v,'appell') THEN 'appellant'
             WHEN contains(v,'respond') OR contains(v,'defend') OR contains(v,'opposite') THEN 'respondent'
             WHEN contains(v,'accuse') OR contains(v,'convict') OR contains(v,'prisoner') THEN 'accused'
             WHEN contains(v,'prosecu') OR contains(v,'public_prosecutor') THEN 'prosecution'
             WHEN contains(v,'complain') OR contains(v,'inform') THEN 'complainant'
             WHEN contains(v,'court') OR contains(v,'bench') OR contains(v,'judge') OR contains(v,'tribunal') THEN
               (CASE WHEN contains(v,'lower') OR contains(v,'trial') OR contains(v,'session')
                       OR contains(v,'magistrat') OR contains(v,'high_court') THEN 'lower_court'
                     ELSE 'court' END)
             WHEN contains(v,'amicus') OR contains(v,'friend_of_court') THEN 'amicus'
             ELSE 'third_party' END AS actor
         FROM a ORDER BY doc_id""")),

    // --- V5/V6 id→type prefixes + relation validation matrix over planted
    //     (source, target, relation) triples spanning valid pairs, invalid
    //     relations, undefined type pairs and unknown/js/rc ids ---
    Query("q41_relation_validate", (s, dir) => {
      val triples = Seq(
        ("f1", "c2", "triggers"), ("f2", "a1", "supports"), ("f3", "h1", "grounds"),
        ("f4", "i1", "addresses"), ("c1", "c2", "requires"), ("c3", "h2", "enables"),
        ("a1", "i1", "concedes"), ("a2", "a3", "responds_to"), ("h1", "i1", "resolves"),
        ("h2", "outcome", "determines"), ("h3", "p1", "follows"), ("p1", "h1", "supports"),
        ("p2", "c1", "establishes"), ("i1", "c1", "requires"), ("f1", "c2", "supports"),
        ("f1", "p1", "supports"), ("c1", "i1", "grounds"), ("xy9", "h1", "supports"),
        ("js1", "rc1", "supports"), ("h1", "h2", "conflicts_with"))
      val srcA = array(triples.map(t => lit(t._1)): _*)
      val tgtA = array(triples.map(t => lit(t._2)): _*)
      val relA = array(triples.map(t => lit(t._3)): _*)
      val typeU = udf((id: String) => graft.kg.rules.Relations.nodeTypeFromId(id))
      val validU = udf((a: String, b: String, r: String) =>
        graft.kg.rules.Relations.validate(a, b, r)._1)
      val idx = (col("doc_id") % 20).cast("int") + 1
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(srcA, idx).as("src"), element_at(tgtA, idx).as("tgt"),
          element_at(relA, idx).as("relation"))
        .select(col("doc_id"), col("src"), col("tgt"), col("relation"),
          typeU(col("src")).as("src_type"), typeU(col("tgt")).as("tgt_type"),
          validU(col("src"), col("tgt"), col("relation")).cast("int").as("valid"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // nodeTypeFromId (prefix + all-digit-or-underscore suffix,
      // extractor.py:609-633) and the (type,type)→relations matrix
      // (extractor.py:568-607) inline
      """WITH planted AS (
           SELECT doc_id,
             (['f1','f2','f3','f4','c1','c3','a1','a2','h1','h2','h3','p1','p2','i1','f1','f1','c1','xy9','js1','h1'])[CAST(doc_id % 20 AS INT) + 1] AS src,
             (['c2','a1','h1','i1','c2','h2','i1','a3','i1','outcome','p1','h1','c1','c1','c2','p1','i1','h1','rc1','h2'])[CAST(doc_id % 20 AS INT) + 1] AS tgt,
             (['triggers','supports','grounds','addresses','requires','enables','concedes','responds_to','resolves','determines','follows','supports','establishes','requires','supports','supports','grounds','supports','supports','conflicts_with'])[CAST(doc_id % 20 AS INT) + 1] AS relation
           FROM documents),
         typed AS (
           SELECT doc_id, src, tgt, relation,
             CASE WHEN src = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(src, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(src, '^rc([0-9]+|_.*)$') THEN 'reasoning_chain'
                  WHEN regexp_matches(src, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(src, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(src, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(src, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(src, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(src, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS src_type,
             CASE WHEN tgt = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(tgt, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(tgt, '^rc([0-9]+|_.*)$') THEN 'reasoning_chain'
                  WHEN regexp_matches(tgt, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(tgt, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(tgt, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(tgt, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(tgt, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(tgt, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS tgt_type
           FROM planted)
         SELECT doc_id, src, tgt, relation, src_type, tgt_type,
           CASE WHEN len(list_filter(
             CASE src_type || '->' || tgt_type
               WHEN 'fact->concept' THEN ['triggers','negates','partially_satisfies','satisfies','claims_satisfies']
               WHEN 'fact->argument' THEN ['supports','grounds','rebuts','undercuts']
               WHEN 'fact->holding' THEN ['supports','grounds']
               WHEN 'fact->issue' THEN ['triggers','supports','addresses']
               WHEN 'concept->concept' THEN ['requires','excludes','specializes','conflicts_with']
               WHEN 'concept->argument' THEN ['supports','grounds','rebuts','undercuts']
               WHEN 'concept->holding' THEN ['grounds','constrains','supports','enables']
               WHEN 'concept->issue' THEN ['requires','addresses']
               WHEN 'argument->issue' THEN ['addresses','concedes']
               WHEN 'argument->argument' THEN ['attacks','supports_arg','responds_to']
               WHEN 'argument->holding' THEN ['supports','grounds','rebuts','undercuts']
               WHEN 'argument->concept' THEN ['supports','grounds','rebuts','undercuts','claims_satisfies']
               WHEN 'holding->issue' THEN ['resolves','partially_resolves','addresses']
               WHEN 'holding->outcome' THEN ['determines','contributes_to']
               WHEN 'holding->precedent' THEN ['follows','applies','distinguishes','overrules','doubts','explains']
               WHEN 'holding->concept' THEN ['supports','grounds','constrains','undercuts','negates']
               WHEN 'holding->holding' THEN ['supports','conflicts_with','specializes','constrains','undercuts']
               WHEN 'precedent->concept' THEN ['supports','grounds','establishes']
               WHEN 'precedent->holding' THEN ['supports']
               WHEN 'precedent->argument' THEN ['supports']
               WHEN 'precedent->issue' THEN ['addresses','supports']
               WHEN 'issue->concept' THEN ['requires','addresses']
               WHEN 'issue->holding' THEN ['addresses','requires']
               WHEN 'issue->argument' THEN ['addresses','requires']
               WHEN 'issue->precedent' THEN ['addresses']
               WHEN 'issue->issue' THEN ['specializes','conflicts_with','requires']
               ELSE CAST([] AS VARCHAR[]) END, x -> x = relation)) > 0 THEN 1 ELSE 0 END AS valid
         FROM typed ORDER BY doc_id""")),

    // --- J1 best-ontology-match over planted raw concept ids: exact id,
    //     longest-substring id (ties → smallest), structured-prefix guard,
    //     empty input, and a no-keyword-overlap miss — every deterministic
    //     branch of bestConceptMatch (the keyword-argmax fallback fires only
    //     on the provably-zero-overlap input, returning null both sides) ---
    Query("q42_concept_match", (s, dir) => {
      val raw = Seq(
        "DOCTRINE_PROPORTIONALITY_TEST", "PROPORTIONALITY", "CONFESSION", "BAIL",
        "CONST_FOO", "STATUTE_BAR", "RIGHT_X", "zzzzqqqq", "MURDER", "")
      val matchU = udf((cid: String) =>
        graft.kg.ontology.Ontology.bestConceptMatch(
          cid, "", graft.kg.ontology.Ontology.default.concepts).orNull)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raw.map(lit): _*), (col("doc_id") % 10).cast("int") + 1).as("raw_cid"))
        .select(col("doc_id"), col("raw_cid"), matchU(col("raw_cid")).as("matched"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // best_concept_match (extractor.py:1132-1194): exact id, else the
      // LONGEST id containing the input (ties → lexicographically smallest,
      // encoded as a (1000-len)-prefixed sort key), else null for
      // structured prefixes / empty / zero-keyword-overlap inputs
      """WITH ids AS (
           SELECT ['CONCEPT_ACCUSED_EXAMINATION','CONCEPT_ADD_ACCUSED','CONCEPT_ANTICIPATORY_BAIL','CONCEPT_APPEAL_ACQUITTAL','CONCEPT_ARREST_WITHOUT_WARRANT','CONCEPT_ATTEMPT','CONCEPT_ATTEMPT_MURDER','CONCEPT_BAIL_HC_SESSIONS','CONCEPT_BURDEN_OF_PROOF','CONCEPT_CHEATING','CONCEPT_COMMON_INTENTION','CONCEPT_CONFESSION_ADMISSIBILITY','CONCEPT_CONFESSION_POLICE','CONCEPT_CONFESSION_RECORDING','CONCEPT_COURT_PRESUMPTION','CONCEPT_CO_ACCUSED_CONFESSION','CONCEPT_CRIMINAL_BREACH_TRUST','CONCEPT_CRIMINAL_INTIMIDATION','CONCEPT_CULPABLE_HOMICIDE','CONCEPT_DEATH_BY_NEGLIGENCE','CONCEPT_DEFAMATION','CONCEPT_DEFINITIONS','CONCEPT_DISCOVERY_CONFESSION','CONCEPT_DOWRY_DEATH','CONCEPT_DYING_DECLARATION','CONCEPT_ELECTRONIC_EVIDENCE','CONCEPT_EXPERT_OPINION','CONCEPT_FIR','CONCEPT_GANG_RAPE','CONCEPT_INHERENT_POWERS_HC','CONCEPT_MAINTENANCE','CONCEPT_MURDER','CONCEPT_POLICE_EXAMINATION','CONCEPT_RAPE_DEFINITION','CONCEPT_RAPE_PUNISHMENT','CONCEPT_REGULAR_BAIL','CONCEPT_RES_GESTAE','CONCEPT_ROBBERY/DACOITY','CONCEPT_SEDITION?SOVEREIGNTY','CONCEPT_SEXUAL_INTERCOURSE_BY_DECEIT','CONCEPT_SNATCHING','CONCEPT_THEFT','CONCEPT_UNDERTRIAL_DETENTION','DOCTRINE_BASIC_STRUCTURE','DOCTRINE_HARMONIOUS_CONSTRUCTION','DOCTRINE_LEGITIMATE_EXPECTATION','DOCTRINE_MANEKA_GANDHI_FRAMEWORK_DUE_PROCESS','DOCTRINE_MANIFEST_ARBITRARINESS','DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM','DOCTRINE_PITH_AND_SUBSTANCE','DOCTRINE_PROPORTIONALITY_TEST','DOCTRINE_READING_DOWN','DOCTRINE_REASONABLE_CLASSIFICATION_ARTICLE_14_TWIN_TEST','DOCTRINE_WEDNESBURY_UNREASONABLENESS'] AS l),
         planted AS (
           SELECT doc_id,
             (['DOCTRINE_PROPORTIONALITY_TEST','PROPORTIONALITY','CONFESSION','BAIL',
               'CONST_FOO','STATUTE_BAR','RIGHT_X','zzzzqqqq','MURDER',''])[CAST(doc_id % 10 AS INT) + 1] AS raw_cid
           FROM documents),
         m AS (
           SELECT doc_id, raw_cid,
             list_sort(list_transform(
               list_filter((SELECT l FROM ids), x -> contains(x, trim(raw_cid)) AND trim(raw_cid) <> ''),
               x -> lpad(CAST(1000 - length(x) AS VARCHAR), 4, '0') || x)) AS subs
           FROM planted)
         SELECT doc_id, raw_cid,
           CASE
             WHEN trim(raw_cid) = '' THEN NULL
             WHEN list_contains((SELECT l FROM ids), trim(raw_cid)) THEN trim(raw_cid)
             WHEN len(subs) > 0 THEN subs[1][5:]
             WHEN starts_with(upper(trim(raw_cid)), 'CONST_') OR starts_with(upper(trim(raw_cid)), 'STATUTE_')
               OR starts_with(upper(trim(raw_cid)), 'PROCEDURE_') OR starts_with(upper(trim(raw_cid)), 'REMEDY_')
               OR starts_with(upper(trim(raw_cid)), 'RIGHT_') THEN NULL
             ELSE NULL END AS matched
         FROM m ORDER BY doc_id""")),

    // --- P5 operative-tail window selection (the AYM last-occurrence
    //     tiered-needle selector) over documents with planted Turkish
    //     operative sections; the plain-tail and both needle tiers are
    //     exercised (the KARAR header branch is regex-only and covered by
    //     DocWindowSpec) ---
    Query("q43_doc_window", (s, dir) => {
      val winU = udf((t: String) =>
        graft.kg.text.DocWindow.selectWindow(t, 200, "tr", "outcome"))
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\nSONUÇ VE HÜKÜM\nBaşvurunun reddine karar verildi.")).otherwise(lit("")),
          when(col("doc_id") % 4 === 1,
            lit("\nHÜKÜM: istinaf yolu açık olmak üzere.")).otherwise(lit("")),
          when(col("doc_id") % 4 === 3,
            lit("\nSONUC bölümünde açıklandığı üzere.")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"),
          md5(winU(col("text"))).as("window_hash"),
          length(winU(col("text"))).as("window_len"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // aym_operative_window (extractor.py:172-234): Turkish-lower the text
      // (translate then lower — 1:1 char mapping, so needle indices carry
      // over to the original), find the LAST occurrence of the
      // highest-priority needle present via reverse+strpos, take the tail
      // window from it (last 200 chars if longer); plain 200-char tail when
      // no needle occurs
      """WITH planted AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'SONUÇ VE HÜKÜM' || chr(10) || 'Başvurunun reddine karar verildi.' ELSE '' END ||
             CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'HÜKÜM: istinaf yolu açık olmak üzere.' ELSE '' END ||
             CASE WHEN doc_id % 4 = 3 THEN chr(10) || 'SONUC bölümünde açıklandığı üzere.' ELSE '' END AS text
           FROM documents),
         low AS (
           SELECT doc_id, text,
             lower(translate(text, 'İIŞÇÖÜĞ', 'iışçöüğ')) AS l
           FROM planted),
         pos AS (
           SELECT doc_id, text, l,
             CASE
               WHEN contains(l, 'sonuç ve hüküm') THEN length(l) - (strpos(reverse(l), reverse('sonuç ve hüküm')) - 1) - length('sonuç ve hüküm')
               WHEN contains(l, 'sonuc ve hukum') THEN length(l) - (strpos(reverse(l), reverse('sonuc ve hukum')) - 1) - length('sonuc ve hukum')
               WHEN contains(l, 'sonuç ve karar') THEN length(l) - (strpos(reverse(l), reverse('sonuç ve karar')) - 1) - length('sonuç ve karar')
               WHEN contains(l, 'hüküm') THEN length(l) - (strpos(reverse(l), reverse('hüküm')) - 1) - length('hüküm')
               WHEN contains(l, 'hukum') THEN length(l) - (strpos(reverse(l), reverse('hukum')) - 1) - length('hukum')
               WHEN contains(l, 'sonuç') THEN length(l) - (strpos(reverse(l), reverse('sonuç')) - 1) - length('sonuç')
               WHEN contains(l, 'sonuc') THEN length(l) - (strpos(reverse(l), reverse('sonuc')) - 1) - length('sonuc')
               ELSE -1 END AS idx0
           FROM low),
         win AS (
           SELECT doc_id,
             CASE WHEN idx0 >= 0 THEN
               (CASE WHEN length(text) - idx0 > 200
                     THEN right(substr(text, idx0 + 1), 200)
                     ELSE substr(text, idx0 + 1) END)
             ELSE
               (CASE WHEN length(text) > 200 THEN right(text, 200) ELSE text END)
             END AS w
           FROM pos)
         SELECT doc_id, md5(w) AS window_hash, length(w) AS window_len
         FROM win ORDER BY doc_id""")),

    // --- M7 quote→span alignment over documents: quotes cut from the doc
    //     itself (exact path), uppercased (case-insensitive fallback) or
    //     unfindable (None); the corpus is whitespace-clean, so the
    //     normalization index map is identity here and the DuckDB oracle
    //     mirrors with strpos (the ws-collapse offset mapping itself is
    //     property-tested in TextProps) ---
    Query("q44_quote_align", (s, dir) => {
      val alignU = udf((t: String, q: String) =>
        graft.kg.text.Normalize.alignQuote(t, q) match {
          case Some((a, b)) => Array(a, b)
          case None => null
        })
      val planted = pq(s, dir, "documents").select(col("doc_id"), col("text"),
        when(col("doc_id") % 3 === 0, substring(col("text"), 51, 40))
          .when(col("doc_id") % 3 === 1, upper(substring(col("text"), 21, 30)))
          .otherwise(lit("zz unfindable phrase qq")).as("quote"))
      planted
        .select(col("doc_id"),
          element_at(alignU(col("text"), col("quote")), 1).as("start"),
          element_at(alignU(col("text"), col("quote")), 2).as("end"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // align_quote_to_span (extractor.py:792-846) on ws-clean text: trim
      // the quote, exact indexOf, case-insensitive fallback, None when
      // absent/empty; offsets are 0-based [start, end)
      """WITH planted AS (
           SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0 THEN substr(text, 51, 40)
                  WHEN doc_id % 3 = 1 THEN upper(substr(text, 21, 30))
                  ELSE 'zz unfindable phrase qq' END AS quote
           FROM documents),
         t AS (SELECT doc_id, text, trim(quote) AS q FROM planted),
         p AS (
           SELECT doc_id, q,
             CASE WHEN q = '' THEN 0
                  WHEN strpos(text, q) > 0 THEN strpos(text, q)
                  WHEN strpos(lower(text), lower(q)) > 0 THEN strpos(lower(text), lower(q))
                  ELSE 0 END AS pos1
           FROM t)
         SELECT doc_id,
           CASE WHEN pos1 > 0 THEN CAST(pos1 - 1 AS INT) END AS start,
           CASE WHEN pos1 > 0 THEN CAST(pos1 - 1 + length(q) AS INT) END AS "end"
         FROM p ORDER BY doc_id""")),

    // --- T9 key-phrase parsing over planted raw strings: quoted phrases
    //     preferred, else comma split with quote stripping ---
    Query("q50_keyphrase_parse", (s, dir) => {
      val raws = Seq(
        "\"audi alteram partem\", \"natural justice\"",
        "fair hearing, notice, \"reasoned order\"",
        "alpha, beta , gamma",
        "'single-quoted', plain",
        "")
      val parseU = udf((r: String) =>
        graft.kg.ontology.Ontology.parseKeyPhrases(r).mkString("|"))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("raw"))
        .select(col("doc_id"), col("raw"), parseU(col("raw")).as("phrases"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // parse_key_phrases (extractor.py:1091-1107): prefer non-greedy
      // quoted captures; else comma split with one-layer quote stripping
      """WITH planted AS (
           SELECT doc_id,
             (['"audi alteram partem", "natural justice"',
               'fair hearing, notice, "reasoned order"',
               'alpha, beta , gamma',
               CAST(chr(39) || 'single-quoted' || chr(39) || ', plain' AS VARCHAR),
               ''])[CAST(doc_id % 5 AS INT) + 1] AS raw
           FROM documents),
         q AS (
           SELECT doc_id, raw,
             list_filter(list_transform(regexp_extract_all(raw, '"(.*?)"', 1), x -> trim(x)), x -> x <> '') AS quoted
           FROM planted)
         SELECT doc_id, raw,
           CASE
             WHEN raw = '' THEN ''
             WHEN len(quoted) > 0 THEN array_to_string(quoted, '|')
             ELSE array_to_string(
               list_filter(
                 list_transform(string_split(raw, ','),
                   x -> trim(trim(trim(trim(x), '"'), chr(39)))),
                 x -> x <> ''), '|')
           END AS phrases
         FROM q ORDER BY doc_id""")),

    // --- V11 requires-field normalization over planted raw strings:
    //     [AND]/[OR] markers, numbered lists, newline/semicolon split ---
    Query("q51_requires_parse", (s, dir) => {
      val raws = Seq(
        "[OR] notice; hearing; reasoned order",
        "[AND] fair procedure\nopportunity",
        "1. first req 2) second req 3. third",
        "plain requirement",
        "")
      val logicU = udf((r: String) => graft.kg.ontology.Ontology.normalizeRequires(r)._1)
      val itemsU = udf((r: String) => graft.kg.ontology.Ontology.normalizeRequires(r)._2.mkString("|"))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("raw"))
        .select(col("doc_id"), col("raw"),
          logicU(col("raw")).as("logic"), itemsU(col("raw")).as("items"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // normalize_requires (extractor.py:1312-1379): [AND]/[OR] marker
      // strip (first match, case-insensitive), numbered-list split when any
      // line starts with "N." / "N)", else newline/semicolon split
      """WITH planted AS (
           SELECT doc_id,
             (['[OR] notice; hearing; reasoned order',
               '[AND] fair procedure' || chr(10) || 'opportunity',
               '1. first req 2) second req 3. third',
               'plain requirement',
               ''])[CAST(doc_id % 5 AS INT) + 1] AS raw
           FROM documents),
         t AS (
           SELECT doc_id, raw,
             CASE WHEN upper(trim(raw)) LIKE '[OR%' THEN 'or' ELSE 'and' END AS logic,
             regexp_replace(regexp_replace(raw,
               '(?i)^\s*\[OR\]?\s*', ''), '(?i)^\s*\[AND\]?\s*', '') AS txt
           FROM planted)
         SELECT doc_id, raw, logic,
           CASE WHEN trim(raw) = '' THEN ''
                ELSE array_to_string(list_filter(list_transform(
                  CASE WHEN regexp_matches(txt, '(?m)^\s*[0-9]+[.)]\s*')
                       THEN string_split_regex(txt, '[0-9]+[.)]\s*')
                       ELSE string_split_regex(txt, '[\n;]+') END,
                  x -> trim(x)), x -> x <> ''), '|')
           END AS items
         FROM t ORDER BY doc_id""")),

    // --- W1 stable turn ordering: the REAL DocExtractor.assemble (sort by
    //     (turn_idx, text), "\n" join) over planted turns with DUPLICATE
    //     turn_idx values, so the tie-break is exercised; order-invariant
    //     under any shuffle by construction ---
    Query("q53_assemble_order", (s, dir) => {
      val texts = Seq(
        "the petitioner contends the order is void",
        "notice was not served before termination",
        "the appeal is allowed with costs",
        "whether natural justice applies",
        "the respondent relies on the enquiry report")
      val asmU = udf((turns: Seq[(Int, String)]) =>
        graft.kg.extract.DocExtractor.assemble(turns))
      pq(s, dir, "orders")
        .select((col("o_custkey") % 50).as("conv"),
          (col("o_orderkey") % 7).cast("int").as("idx"),
          element_at(array(texts.map(lit): _*),
            (col("o_orderkey") % 5).cast("int") + 1).as("text"))
        .groupBy(col("conv"))
        .agg(collect_list(struct(col("idx").as("_1"), col("text").as("_2"))).as("turns"),
          count(lit(1)).as("n_turns"))
        .select(col("conv").cast("long").as("conv"), col("n_turns"),
          md5(asmU(col("turns"))).as("assembled_md5"))
        .orderBy(col("conv"))
    }, oracle = Some(
      // mirrors DocExtractor.assemble: sort by (turn_idx, text) — ORDER BY
      // inside string_agg — joined with "\n"; duplicate turn_idx values in
      // the planted turns force the text tie-break both engines must agree on
      """WITH planted AS (
           SELECT o_custkey % 50 AS conv,
             CAST(o_orderkey % 7 AS INT) AS idx,
             (['the petitioner contends the order is void',
               'notice was not served before termination',
               'the appeal is allowed with costs',
               'whether natural justice applies',
               'the respondent relies on the enquiry report'])[CAST(o_orderkey % 5 AS INT) + 1] AS text
           FROM orders)
         SELECT conv, count(*) AS n_turns,
           md5(string_agg(text, chr(10) ORDER BY idx ASC, text ASC)) AS assembled_md5
         FROM planted GROUP BY conv ORDER BY conv""")),

    // --- T12 case-id sanitization over planted raw ids (slash/backslash →
    //     _, non-[0-9A-Za-z._-] runs → _, collapse + strip _, empty →
    //     "case") ---
    Query("q54_sanitize_id", (s, dir) => {
      val raws = Seq(
        "AIR 1978/SC\\597",
        " In  re: Kerala-Edu. Bill, 1957 ",
        "___",
        "W.P.(C) No. 123 of 2020",
        "##??!!")
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("raw"))
        .select(col("doc_id"), col("raw"),
          graft.kg.io.CaseAdapter.sanitizeCaseId(col("raw")).as("case_id"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors CaseAdapter.sanitizeCaseId; DuckDB regexp_replace needs the
      // 'g' flag to match Spark's replace-all default
      """WITH planted AS (
           SELECT doc_id,
             (['AIR 1978/SC\597',
               ' In  re: Kerala-Edu. Bill, 1957 ',
               '___',
               'W.P.(C) No. 123 of 2020',
               '##??!!'])[CAST(doc_id % 5 AS INT) + 1] AS raw
           FROM documents),
         clean AS (
           SELECT doc_id, raw,
             regexp_replace(
               regexp_replace(
                 regexp_replace(trim(raw), '[/\\]', '_', 'g'),
                 '[^0-9A-Za-z._-]+', '_', 'g'),
               '_+', '_', 'g') AS c
           FROM planted),
         strip AS (
           SELECT doc_id, raw,
             regexp_replace(regexp_replace(c, '^_+', '', 'g'), '_+$', '', 'g') AS s
           FROM clean)
         SELECT doc_id, raw,
           CASE WHEN len(s) > 0 THEN s ELSE 'case' END AS case_id
         FROM strip ORDER BY doc_id""")),

    // --- M4/C5 overlap dedup (keep-longest): the REAL
    //     Citations.dedupeOverlapping (stable sort by (start, -len), greedy
    //     sweep keeping start >= lastEnd) over planted interval sets with
    //     deliberate overlaps and (start, len) ties ---
    Query("q55_overlap_dedup", (s, dir) => {
      val js = sequence(lit(0), lit(5))
      val starts = transform(js, j => (col("doc_id") * 7 + j * j * 3) % 40)
      val lens = transform(js, j => lit(3) + (col("doc_id") + j) % 9)
      val types = transform(js, j => concat(lit("t"), (j % 3).cast("string")))
      val dedupU = udf((ss: Seq[Long], ls: Seq[Long], ts: Seq[String]) => {
        val hits = ss.indices.map(j => graft.kg.rules.CitationHit(
          "x", ss(j).toInt, (ss(j) + ls(j)).toInt, ts(j), None, None)).toList
        graft.kg.rules.Citations.dedupeOverlapping(hits)
          .map(h => s"${h.startChar}:${h.endChar}:${h.citationType}")
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(dedupU(starts, lens, types)).as(Seq("rk", "kept")))
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          split(col("kept"), ":").getItem(0).cast("long").as("start"),
          split(col("kept"), ":").getItem(1).cast("long").as("end"),
          split(col("kept"), ":").getItem(2).as("ctype"))
        .orderBy(col("doc_id"), col("rk"))
    }, oracle = Some(
      // mirrors Citations.dedupeOverlapping: rank by (start, -len, j) — the
      // j tie-break reproduces Scala's STABLE sort — then a recursive greedy
      // sweep carrying lastEnd (keep when start >= lastEnd, as the Python
      // longest-span dedup does, citation_preprocess.py:374-394)
      """WITH RECURSIVE hits AS (
           SELECT doc_id, j,
             (doc_id*7 + j*j*3) % 40 AS s,
             3 + (doc_id + j) % 9 AS len,
             't' || CAST(j % 3 AS VARCHAR) AS ctype
           FROM (SELECT doc_id, unnest(generate_series(0, 5)) AS j FROM documents)),
         ranked AS (
           SELECT doc_id, s, s + len AS e, ctype,
             row_number() OVER (PARTITION BY doc_id ORDER BY s, len DESC, j) AS rk
           FROM hits),
         greedy AS (
           SELECT doc_id, CAST(0 AS BIGINT) AS rk, CAST(-1 AS BIGINT) AS last_end,
             CAST(NULL AS BIGINT) AS s, CAST(NULL AS BIGINT) AS e,
             CAST(NULL AS VARCHAR) AS ctype, false AS kept
           FROM (SELECT DISTINCT doc_id FROM ranked)
           UNION ALL
           SELECT r.doc_id, r.rk,
             CASE WHEN r.s >= g.last_end THEN r.e ELSE g.last_end END,
             r.s, r.e, r.ctype, r.s >= g.last_end
           FROM greedy g JOIN ranked r ON r.doc_id = g.doc_id AND r.rk = g.rk + 1)
         SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY rk) - 1 AS rk,
           s AS start, e AS "end", ctype
         FROM greedy WHERE kept
         ORDER BY doc_id, rk""")),

    // --- P8 legitimate-orphan predicate over planted field combinations
    //     (decorrelated cycles hit every branch of every node type) ---
    Query("q56_legit_orphan", (s, dir) => {
      val nts = Seq("fact", "argument", "concept", "precedent", "issue", "outcome")
      val cfs = Seq("rejected", "accepted", "not_decided")
      val fts = Seq("background", "procedural")
      val crs = Seq("rejected", "accepted", "not_addressed")
      val rvs = Seq("mentioned", "central", "obiter")
      val trs = Seq("cited", "followed")
      // indices use floor(doc_id/p) with distinct p so every attribute
      // varies WITHIN each nodeType stratum (same-modulus cycles would pin
      // e.g. courtFinding constant across all fact rows)
      def cyc(xs: Seq[String], div: Int, m: Int) =
        element_at(array(xs.map(lit): _*),
          (floor(col("doc_id") / div) % m).cast("int") + 1)
      val legitU = udf((nt: String, cf: String, ft: String, cr: String, rv: String, tr: String) =>
        graft.kg.extract.OrphanRepair.legitimateOrphan(nt, cf, ft, cr, rv, tr))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          cyc(nts, 1, 6).as("nt"), cyc(cfs, 7, 3).as("cf"), cyc(fts, 7, 2).as("ft"),
          cyc(crs, 11, 3).as("cr"), cyc(rvs, 13, 3).as("rv"), cyc(trs, 5, 2).as("tr"))
        .withColumn("legit",
          legitU(col("nt"), col("cf"), col("ft"), col("cr"), col("rv"), col("tr")))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors OrphanRepair.legitimateOrphan branch-for-branch
      // (repair_orphans.py is_legitimate_orphan)
      """WITH planted AS (
           SELECT doc_id,
             (['fact','argument','concept','precedent','issue','outcome'])[CAST(doc_id % 6 AS INT)+1] AS nt,
             (['rejected','accepted','not_decided'])[CAST((doc_id // 7) % 3 AS INT)+1] AS cf,
             (['background','procedural'])[CAST((doc_id // 7) % 2 AS INT)+1] AS ft,
             (['rejected','accepted','not_addressed'])[CAST((doc_id // 11) % 3 AS INT)+1] AS cr,
             (['mentioned','central','obiter'])[CAST((doc_id // 13) % 3 AS INT)+1] AS rv,
             (['cited','followed'])[CAST((doc_id // 5) % 2 AS INT)+1] AS tr
           FROM documents)
         SELECT doc_id, nt, cf, ft, cr, rv, tr,
           CASE nt
             WHEN 'fact' THEN (cf = 'rejected' OR cf = 'not_decided' OR ft = 'background')
             WHEN 'argument' THEN (cr = 'rejected' OR cr = 'not_addressed')
             WHEN 'concept' THEN (rv = 'mentioned' OR rv = 'obiter')
             WHEN 'precedent' THEN (tr = 'cited')
             ELSE false END AS legit
         FROM planted ORDER BY doc_id""")),

    // --- V3 argument-scheme normalization: coerceScheme alias cascade over
    //     planted raw schemes + inferScheme cue buckets over planted
    //     sentences (priority order exercised by multi-cue sentences) ---
    Query("q58_scheme_norm", (s, dir) => {
      val raws = Seq(
        "Textual Interpretation", "precedent-distinguishing",
        "AUDI ALTERAM PARTEM", "weird scheme!!", "balancing", "jurisdiction")
      val sents = Seq(
        "the evidence is proportional to the restriction imposed",
        "counsel relied on the precedent cited at the bar",
        "the plain meaning of the provision is clear",
        "the order traverses beyond jurisdiction and is time-barred",
        "the measure serves no identifiable purpose at all")
      val coerceU = udf((r: String) => graft.kg.rules.Actors.coerceScheme(r))
      val inferU = udf((t: String) => graft.kg.rules.Actors.inferScheme(t))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(raws.map(lit): _*), (col("doc_id") % 6).cast("int") + 1).as("raw"),
          element_at(array(sents.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("sent"))
        .select(col("doc_id"), col("raw"), col("sent"),
          coerceU(col("raw")).as("scheme"), inferU(col("sent")).as("inferred"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors Actors.coerceScheme (underscore fold → alias map → enum
      // clamp to 'other') and Actors.inferScheme (cue buckets, first match
      // in fixed priority order, default rule_application)
      """WITH planted AS (
           SELECT doc_id,
             (['Textual Interpretation','precedent-distinguishing',
               'AUDI ALTERAM PARTEM','weird scheme!!','balancing',
               'jurisdiction'])[CAST(doc_id % 6 AS INT)+1] AS raw,
             (['the evidence is proportional to the restriction imposed',
               'counsel relied on the precedent cited at the bar',
               'the plain meaning of the provision is clear',
               'the order traverses beyond jurisdiction and is time-barred',
               'the measure serves no identifiable purpose at all'])[CAST(doc_id % 5 AS INT)+1] AS sent
           FROM documents),
         folded AS (
           SELECT doc_id, raw, sent,
             regexp_replace(replace(replace(lower(trim(raw)), '-', '_'), ' ', '_'),
               '_+', '_', 'g') AS fold
           FROM planted),
         aliased AS (
           SELECT doc_id, raw, sent,
             CASE fold
               WHEN 'textual_interpretation' THEN 'textual'
               WHEN 'purposive_interpretation' THEN 'purposive'
               WHEN 'harmonious_construction' THEN 'harmonious'
               WHEN 'procedural_compliance' THEN 'procedural'
               WHEN 'precedent_distinguishing' THEN 'precedent_distinction'
               WHEN 'policy_consequences' THEN 'policy_consequence'
               WHEN 'naturaljustice' THEN 'natural_justice'
               WHEN 'natural_justice_principle' THEN 'natural_justice'
               WHEN 'procedural_fairness' THEN 'natural_justice'
               WHEN 'audi_alteram_partem' THEN 'natural_justice'
               ELSE fold END AS n
           FROM folded)
         SELECT doc_id, raw, sent,
           CASE WHEN n IN ('rule_application','rule_exception','precedent_following',
             'precedent_analogy','precedent_distinction','textual','purposive',
             'harmonious','proportionality','balancing','evidence_sufficiency',
             'evidence_credibility','procedural','jurisdiction','limitation',
             'policy_consequence','public_interest','natural_justice','other')
             THEN n ELSE 'other' END AS scheme,
           CASE
             WHEN sent LIKE '%natural justice%' OR sent LIKE '%audi alteram%'
               OR sent LIKE '%procedural fairness%' THEN 'natural_justice'
             WHEN sent LIKE '%proportional%' THEN 'proportionality'
             WHEN sent LIKE '%distinguish%' THEN 'precedent_distinction'
             WHEN sent LIKE '%relied on%' OR sent LIKE '%relying on%'
               OR sent LIKE '%followed in%' OR sent LIKE '%precedent%'
               OR sent LIKE '%cited%' THEN 'precedent_following'
             WHEN sent LIKE '%harmonious%' THEN 'harmonious'
             WHEN sent LIKE '%purposive%' OR sent LIKE '%object and purpose%'
               OR sent LIKE '%intention of the legislature%' THEN 'purposive'
             WHEN sent LIKE '%plain meaning%' OR sent LIKE '%literal%'
               OR sent LIKE '%textual%' OR sent LIKE '%plain language%' THEN 'textual'
             WHEN sent LIKE '%balanc%' THEN 'balancing'
             WHEN sent LIKE '%evidence%' OR sent LIKE '%proof%'
               OR sent LIKE '%burden%' THEN 'evidence_sufficiency'
             WHEN sent LIKE '%jurisdiction%' THEN 'jurisdiction'
             WHEN sent LIKE '%limitation%' OR sent LIKE '%time-barred%'
               OR sent LIKE '%barred by time%' THEN 'limitation'
             WHEN sent LIKE '%public interest%' THEN 'public_interest'
             WHEN sent LIKE '%policy%' OR sent LIKE '%consequence%' THEN 'policy_consequence'
             WHEN sent LIKE '%procedur%' THEN 'procedural'
             WHEN sent LIKE '%exception%' OR sent LIKE '%proviso%' THEN 'rule_exception'
             ELSE 'rule_application' END AS inferred
         FROM aliased ORDER BY doc_id""")),

    // --- V7 relation repair (+ flip + drift): the REAL Relations.repair
    //     cascade — matrix direct hit, direction flip, general drift map,
    //     per-key drifts, preference list, sorted fallback, drop — over
    //     decorrelated (src, tgt, relation) cycles hitting every stage ---
    Query("q59_relation_repair", (s, dir) => {
      val srcs = Seq("f1", "c1", "a1", "h1", "p1", "i1", "f2", "h2", "js1", "xy9", "i2", "c2")
      val tgts = Seq("c2", "i1", "h1", "i2", "c1", "h2", "a1", "p1", "h1", "f1", "i1", "outcome")
      val rels = Seq("supports", "resolves", "enables", "satisfies", "establishes",
        "explains", "zzz_rel", "conflicts_with", "distinguishes", "partially_satisfies")
      val repU = udf((a: String, b: String, r: String) =>
        graft.kg.rules.Relations.repair(a, b, r)
          .map(x => Seq(x._1, x._2, x._3, x._4)).orNull)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(srcs.map(lit): _*), (col("doc_id") % 12).cast("int") + 1).as("src"),
          element_at(array(tgts.map(lit): _*),
            (floor(col("doc_id") / 3) % 12).cast("int") + 1).as("tgt"),
          element_at(array(rels.map(lit): _*),
            (floor(col("doc_id") / 7) % 10).cast("int") + 1).as("relation"))
        .withColumn("rep", repU(col("src"), col("tgt"), col("relation")))
        .select(col("doc_id"), col("src"), col("tgt"), col("relation"),
          element_at(col("rep"), 1).as("new_src"),
          element_at(col("rep"), 2).as("new_tgt"),
          element_at(col("rep"), 3).as("new_rel"),
          element_at(col("rep"), 4).as("note"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors Relations.repair (extractor.py:656-738): effective key after
      // the direction flip, then the first applicable stage — direct matrix
      // hit, general drift map, per-key drift, preference list, sorted
      // fallback — with the exact note strings; rows whose (type,type) has
      // no matrix entry in either direction repair to NULL (dropped)
      """WITH planted AS (
           SELECT doc_id,
             (['f1','c1','a1','h1','p1','i1','f2','h2','js1','xy9','i2','c2'])[CAST(doc_id % 12 AS INT) + 1] AS src,
             (['c2','i1','h1','i2','c1','h2','a1','p1','h1','f1','i1','outcome'])[CAST((doc_id // 3) % 12 AS INT) + 1] AS tgt,
             (['supports','resolves','enables','satisfies','establishes',
               'explains','zzz_rel','conflicts_with','distinguishes','partially_satisfies'])[CAST((doc_id // 7) % 10 AS INT) + 1] AS rel
           FROM documents),
         typed AS (
           SELECT doc_id, src, tgt, rel,
             CASE WHEN src = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(src, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(src, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(src, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(src, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(src, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(src, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(src, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS st,
             CASE WHEN tgt = 'outcome' THEN 'outcome'
                  WHEN regexp_matches(tgt, '^js([0-9]+|_.*)$') THEN 'justification_set'
                  WHEN regexp_matches(tgt, '^f([0-9]+|_.*)$') THEN 'fact'
                  WHEN regexp_matches(tgt, '^c([0-9]+|_.*)$') THEN 'concept'
                  WHEN regexp_matches(tgt, '^i([0-9]+|_.*)$') THEN 'issue'
                  WHEN regexp_matches(tgt, '^a([0-9]+|_.*)$') THEN 'argument'
                  WHEN regexp_matches(tgt, '^h([0-9]+|_.*)$') THEN 'holding'
                  WHEN regexp_matches(tgt, '^p([0-9]+|_.*)$') THEN 'precedent'
                  ELSE 'unknown' END AS tt
           FROM planted),
         mx(k, rels) AS (SELECT * FROM (VALUES
           ('fact->concept', ['triggers','negates','partially_satisfies','satisfies','claims_satisfies']),
           ('fact->argument', ['supports','grounds','rebuts','undercuts']),
           ('fact->holding', ['supports','grounds']),
           ('fact->issue', ['triggers','supports','addresses']),
           ('concept->concept', ['requires','excludes','specializes','conflicts_with']),
           ('concept->argument', ['supports','grounds','rebuts','undercuts']),
           ('concept->holding', ['grounds','constrains','supports','enables']),
           ('concept->issue', ['requires','addresses']),
           ('argument->issue', ['addresses','concedes']),
           ('argument->argument', ['attacks','supports_arg','responds_to']),
           ('argument->holding', ['supports','grounds','rebuts','undercuts']),
           ('argument->concept', ['supports','grounds','rebuts','undercuts','claims_satisfies']),
           ('holding->issue', ['resolves','partially_resolves','addresses']),
           ('holding->outcome', ['determines','contributes_to']),
           ('holding->precedent', ['follows','applies','distinguishes','overrules','doubts','explains']),
           ('holding->concept', ['supports','grounds','constrains','undercuts','negates']),
           ('holding->holding', ['supports','conflicts_with','specializes','constrains','undercuts']),
           ('precedent->concept', ['supports','grounds','establishes']),
           ('precedent->holding', ['supports']),
           ('precedent->argument', ['supports']),
           ('precedent->issue', ['addresses','supports']),
           ('issue->concept', ['requires','addresses']),
           ('issue->holding', ['addresses','requires']),
           ('issue->argument', ['addresses','requires']),
           ('issue->precedent', ['addresses']),
           ('issue->issue', ['specializes','conflicts_with','requires'])) m(k, rels)),
         keyed AS (
           SELECT t.doc_id, t.src, t.tgt, t.rel, t.st, t.tt,
             f.rels AS af, r.rels AS ar,
             (f.k IS NULL AND r.k IS NOT NULL) AS flipped,
             (f.k IS NULL AND r.k IS NULL) AS dropped,
             coalesce(f.rels, r.rels) AS allowed,
             CASE WHEN f.k IS NOT NULL THEN t.st || '->' || t.tt
                  WHEN r.k IS NOT NULL THEN t.tt || '->' || t.st END AS key
           FROM typed t
           LEFT JOIN mx f ON f.k = t.st || '->' || t.tt
           LEFT JOIN mx r ON r.k = t.tt || '->' || t.st),
         staged AS (
           SELECT *,
             CASE rel
               WHEN 'explains' THEN 'addresses' WHEN 'supports_arg' THEN 'addresses'
               WHEN 'contributes_to' THEN 'addresses' WHEN 'partially_resolves' THEN 'addresses'
               WHEN 'resolves' THEN 'addresses' WHEN 'enables' THEN 'requires'
               WHEN 'distinguishes' THEN 'specializes' WHEN 'partially_satisfies' THEN 'grounds'
               WHEN 'satisfies' THEN 'supports' WHEN 'establishes' THEN 'supports' END AS dg,
             CASE key
               WHEN 'fact->concept' THEN
                 CASE WHEN list_contains(allowed, 'triggers') THEN 'triggers'
                      WHEN list_contains(allowed, 'satisfies') THEN 'satisfies' END
               WHEN 'holding->issue' THEN
                 CASE WHEN list_contains(allowed, 'addresses') THEN 'addresses' END
               WHEN 'concept->issue' THEN
                 CASE WHEN list_contains(allowed, 'addresses') THEN 'addresses' END
               WHEN 'issue->issue' THEN
                 CASE WHEN list_contains(allowed, 'specializes') THEN 'specializes' END
               WHEN 'precedent->concept' THEN
                 CASE WHEN list_contains(allowed, 'grounds') THEN 'grounds' END
               END AS kcand,
             list_filter(['grounds','supports','addresses','requires','specializes','triggers'],
               x -> list_contains(allowed, x))[1] AS pref,
             list_sort(allowed)[1] AS fb
           FROM keyed),
         resolved AS (
           SELECT doc_id, src, tgt, rel, flipped, dropped,
             CASE WHEN dropped THEN NULL
               WHEN list_contains(allowed, rel) THEN rel
               WHEN dg IS NOT NULL AND list_contains(allowed, dg) THEN dg
               WHEN kcand IS NOT NULL THEN kcand
               WHEN pref IS NOT NULL THEN pref
               ELSE fb END AS chosen,
             CASE WHEN dropped THEN NULL
               WHEN list_contains(allowed, rel) THEN
                 CASE WHEN flipped THEN 'flipped direction' ELSE 'ok' END
               ELSE (CASE WHEN flipped THEN 'flipped; ' ELSE '' END) || rel || '->' ||
                 (CASE WHEN dg IS NOT NULL AND list_contains(allowed, dg) THEN dg
                       WHEN kcand IS NOT NULL THEN kcand
                       WHEN pref IS NOT NULL THEN pref
                       ELSE fb END) END AS note
           FROM staged)
         SELECT doc_id, src, tgt, rel AS relation,
           CASE WHEN dropped THEN NULL WHEN flipped THEN tgt ELSE src END AS new_src,
           CASE WHEN dropped THEN NULL WHEN flipped THEN src ELSE tgt END AS new_tgt,
           chosen AS new_rel, note
         FROM resolved ORDER BY doc_id""")),

    // --- T8 case-insensitive / Turkish-folded phrase containment over
    //     planted haystack×phrase combinations (İ/I fold differences are
    //     the point: plain lowering misses DİLEKÇE vs dilekçe) ---
    Query("q60_contains_phrase", (s, dir) => {
      val hays = Seq(
        "The DİLEKÇE was rejected by the authority",
        "ILGILI makam gerekçe göstermedi",
        "the principles of NATURAL justice apply",
        "Basvuru SÜRESİ içinde yapılmıştır",
        "no matching content here at all")
      val phrases = Seq("dilekçe", "natural justice", "süresi", "ılgılı", "absent phrase")
      val cU = udf((h: String, p: String) => graft.kg.text.Normalize.containsPhrase(h, p))
      val tU = udf((h: String, p: String) =>
        graft.kg.text.Normalize.containsPhrase(h, p, turkish = true))
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(hays.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("hay"),
          element_at(array(phrases.map(lit): _*),
            (floor(col("doc_id") / 3) % 5).cast("int") + 1).as("phrase"))
        .select(col("doc_id"), col("hay"), col("phrase"),
          cU(col("hay"), col("phrase")).as("contains_plain"),
          tU(col("hay"), col("phrase")).as("contains_turkish"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors Normalize.containsPhrase: the plain path lowers with Java
      // semantics (İ → i + combining dot U+0307, so 'DİLEKÇE' does NOT
      // contain 'dilekçe'), the Turkish path folds İIŞÇÖÜĞ → iışçöüğ first
      """WITH planted AS (
           SELECT doc_id,
             (['The DİLEKÇE was rejected by the authority',
               'ILGILI makam gerekçe göstermedi',
               'the principles of NATURAL justice apply',
               'Basvuru SÜRESİ içinde yapılmıştır',
               'no matching content here at all'])[CAST(doc_id % 5 AS INT) + 1] AS hay,
             (['dilekçe','natural justice','süresi','ılgılı','absent phrase'])[CAST((doc_id // 3) % 5 AS INT) + 1] AS phrase
           FROM documents),
         folded AS (
           SELECT doc_id, hay, phrase,
             lower(replace(hay, 'İ', 'i' || chr(775))) AS hp,
             lower(replace(phrase, 'İ', 'i' || chr(775))) AS pp,
             lower(replace(replace(replace(replace(replace(replace(replace(
               hay, 'İ','i'),'I','ı'),'Ş','ş'),'Ç','ç'),'Ö','ö'),'Ü','ü'),'Ğ','ğ')) AS ht,
             lower(replace(replace(replace(replace(replace(replace(replace(
               phrase, 'İ','i'),'I','ı'),'Ş','ş'),'Ç','ç'),'Ö','ö'),'Ü','ü'),'Ğ','ğ')) AS pt
           FROM planted)
         SELECT doc_id, hay, phrase,
           contains(hp, pp) AS contains_plain,
           contains(ht, pt) AS contains_turkish
         FROM folded ORDER BY doc_id""")),

    // --- J5 resolves_issue autofill argmax: REAL tokenSet +
    //     DocExtractor.resolveIssueArgmax over planted holding/issue texts
    //     (empty-set None, all-zero ties, first-max tie-break) ---
    Query("q61_resolve_issue", (s, dir) => {
      val hs = Seq(
        "natural justice requires fair hearing notice",
        "the tender rejection violated equality doctrine",
        "compensation award circle rate acquisition",
        "a an of to in",
        "hearing notice doctrine equality")
      val issueTexts = Seq(
        "whether natural justice fair hearing applies",
        "whether tender equality doctrine violated",
        "whether acquisition compensation adequate circle rate",
        "whether notice hearing doctrine equality sufficient")
      val rU = udf((ht: String) => {
        val hw = graft.kg.text.Normalize.tokenSet(ht, 4)
        val ik = issueTexts.map(t => graft.kg.text.Normalize.tokenSet(t, 4)).toIndexedSeq
        graft.kg.extract.DocExtractor.resolveIssueArgmax(hw, ik)
          .map(_.toLong).getOrElse(-1L)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(hs.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("htext"))
        .select(col("doc_id"), col("htext"), rU(col("htext")).as("best_idx"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors stage-4 autofill: \w{4,} token sets (no stopword filter),
      // per-issue overlap, first-max argmax (strict '>'), -1 when the
      // holding keyword set is empty
      """WITH planted AS (
           SELECT doc_id,
             (['natural justice requires fair hearing notice',
               'the tender rejection violated equality doctrine',
               'compensation award circle rate acquisition',
               'a an of to in',
               'hearing notice doctrine equality'])[CAST(doc_id % 5 AS INT) + 1] AS htext
           FROM documents),
         tok AS (
           SELECT doc_id, htext,
             list_distinct(list_filter(string_split_regex(lower(htext), '\W+'),
               x -> len(x) >= 4)) AS hset
           FROM planted),
         iss AS (
           SELECT [
             list_distinct(list_filter(string_split_regex('whether natural justice fair hearing applies', '\W+'), x -> len(x) >= 4)),
             list_distinct(list_filter(string_split_regex('whether tender equality doctrine violated', '\W+'), x -> len(x) >= 4)),
             list_distinct(list_filter(string_split_regex('whether acquisition compensation adequate circle rate', '\W+'), x -> len(x) >= 4)),
             list_distinct(list_filter(string_split_regex('whether notice hearing doctrine equality sufficient', '\W+'), x -> len(x) >= 4))] AS isets),
         ov AS (
           SELECT doc_id, htext, hset,
             [len(list_intersect(hset, i)) for i in isets] AS ovs
           FROM tok, iss)
         SELECT doc_id, htext,
           CASE WHEN len(hset) = 0 THEN -1
                ELSE list_position(ovs, list_max(ovs)) - 1 END AS best_idx
         FROM ov ORDER BY doc_id""")),

    // --- J6/W5 holding→outcome linkage plan: REAL outcomeLinkPlan over
    //     planted (overlap, anchorStart, id) triples, incl. the all-zero
    //     latest-by-anchor fallback with (start, id) tie-breaks ---
    Query("q62_outcome_link", (s, dir) => {
      val planU = udf((ovs: Seq[Long], sts: Seq[Long]) =>
        graft.kg.extract.DocExtractor.outcomeLinkPlan(
          ovs.indices.map(j => (ovs(j).toInt, sts(j).toInt, "h" + (j + 1)))))
      val js = sequence(lit(0), lit(2))
      val ovs = transform(js, j =>
        when(col("doc_id") % 4 === 0, lit(0L)).otherwise((col("doc_id") * (j + 1)) % 3))
      val sts = transform(js, j => ((col("doc_id") + j) % 3) * 10)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(planU(ovs, sts)).as(Seq("j", "rel")))
        .select(col("doc_id"), col("j").cast("long").as("j"), col("rel"))
        .orderBy(col("doc_id"), col("j"))
    }, oracle = Some(
      // mirrors outcomeLinkPlan: overlap >= 1 → determines (else
      // contributes_to), unless ALL overlaps are zero — then only the
      // latest-by-(anchorStart, id) holding determines
      """WITH js AS (
           SELECT doc_id, unnest(generate_series(0, 2)) AS j FROM documents),
         rows_ AS (
           SELECT doc_id, j,
             CASE WHEN doc_id % 4 = 0 THEN 0 ELSE (doc_id * (j + 1)) % 3 END AS ov,
             ((doc_id + j) % 3) * 10 AS st,
             'h' || CAST(j + 1 AS VARCHAR) AS id
           FROM js),
         flagged AS (
           SELECT doc_id, j, ov, st, id,
             max(ov) OVER (PARTITION BY doc_id) = 0 AS allzero,
             row_number() OVER (PARTITION BY doc_id ORDER BY st DESC, id DESC) AS rk
           FROM rows_)
         SELECT doc_id, j,
           CASE WHEN allzero THEN (CASE WHEN rk = 1 THEN 'determines' ELSE 'contributes_to' END)
                WHEN ov >= 1 THEN 'determines'
                ELSE 'contributes_to' END AS rel
         FROM flagged ORDER BY doc_id, j""")),

    // --- J4 requirement satisfaction: REAL keywordSet + looksNegative +
    //     DocExtractor.satisfyRequirement over planted requirement/fact
    //     texts (negation penalty, threshold, first-strict-max tie-break) ---
    Query("q65_requirement_sat", (s, dir) => {
      val reqs = Seq(
        "notice order termination",
        "enquiry notice",
        "compensation acquisition award",
        "reasons recorded tender")
      val ftexts = Seq(
        "notice served upon petitioner before termination order",
        "no enquiry conducted and notice denied before order",
        "compensation deposited after acquisition award",
        "tender rejected without reasons being recorded")
      val satU = udf((req: String, fts: Seq[String]) => {
        val reqKw = graft.kg.text.Normalize.keywordSet(req)
        val cands = fts.zipWithIndex.map { case (t, i) =>
          ("f" + (i + 1), graft.kg.text.Normalize.keywordSet(t),
            graft.kg.text.Normalize.looksNegative(t))
        }
        graft.kg.extract.DocExtractor.satisfyRequirement(reqKw, cands).getOrElse("")
      })
      val fApick = element_at(array(ftexts.map(lit): _*), (col("doc_id") % 4).cast("int") + 1)
      val fBpick = element_at(array(ftexts.map(lit): _*),
        (floor(col("doc_id") / 5) % 4).cast("int") + 1)
      val fCpick = element_at(array(ftexts.map(lit): _*),
        (floor(col("doc_id") / 11) % 4).cast("int") + 1)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(reqs.map(lit): _*),
            (floor(col("doc_id") / 3) % 4).cast("int") + 1).as("req"),
          array(fApick, fBpick, fCpick).as("fts"))
        .select(col("doc_id"), col("req"), satU(col("req"), col("fts")).as("best_fact"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // mirrors satisfyRequirement: \w{4,} token sets (stopword removal is
      // a no-op here — the planted requirement terms contain none, and fact
      // stopwords can't intersect them), the 6 negation cues, -2 penalty
      // floored at 0, first-strict-max argmax, '' below score 1
      """WITH planted AS (
           SELECT doc_id,
             (['notice order termination','enquiry notice',
               'compensation acquisition award','reasons recorded tender'])[CAST((doc_id // 3) % 4 AS INT) + 1] AS req,
             (['notice served upon petitioner before termination order',
               'no enquiry conducted and notice denied before order',
               'compensation deposited after acquisition award',
               'tender rejected without reasons being recorded'])[CAST(doc_id % 4 AS INT) + 1] AS t1,
             (['notice served upon petitioner before termination order',
               'no enquiry conducted and notice denied before order',
               'compensation deposited after acquisition award',
               'tender rejected without reasons being recorded'])[CAST((doc_id // 5) % 4 AS INT) + 1] AS t2,
             (['notice served upon petitioner before termination order',
               'no enquiry conducted and notice denied before order',
               'compensation deposited after acquisition award',
               'tender rejected without reasons being recorded'])[CAST((doc_id // 11) % 4 AS INT) + 1] AS t3
           FROM documents),
         tok AS (
           SELECT doc_id, req,
             list_distinct(list_filter(string_split_regex(lower(req), '\W+'), x -> len(x) >= 4)) AS rset,
             [list_distinct(list_filter(string_split_regex(lower(t1), '\W+'), x -> len(x) >= 4)),
              list_distinct(list_filter(string_split_regex(lower(t2), '\W+'), x -> len(x) >= 4)),
              list_distinct(list_filter(string_split_regex(lower(t3), '\W+'), x -> len(x) >= 4))] AS fsets,
             [lower(t1) LIKE '%without %' OR lower(t1) LIKE '%no %' OR lower(t1) LIKE '%not %'
                OR lower(t1) LIKE '%denied%' OR lower(t1) LIKE '%refused%' OR lower(t1) LIKE '%failed to%',
              lower(t2) LIKE '%without %' OR lower(t2) LIKE '%no %' OR lower(t2) LIKE '%not %'
                OR lower(t2) LIKE '%denied%' OR lower(t2) LIKE '%refused%' OR lower(t2) LIKE '%failed to%',
              lower(t3) LIKE '%without %' OR lower(t3) LIKE '%no %' OR lower(t3) LIKE '%not %'
                OR lower(t3) LIKE '%denied%' OR lower(t3) LIKE '%refused%' OR lower(t3) LIKE '%failed to%'] AS negs
           FROM planted),
         scored AS (
           SELECT doc_id, req,
             [CASE WHEN negs[i] THEN greatest(len(list_intersect(rset, fsets[i])) - 2, 0)
                   ELSE len(list_intersect(rset, fsets[i])) END
              for i in generate_series(1, 3)] AS ovs
           FROM tok)
         SELECT doc_id, req,
           CASE WHEN list_max(ovs) < 1 THEN ''
                ELSE 'f' || CAST(list_position(ovs, list_max(ovs)) AS VARCHAR) END AS best_fact
         FROM scored ORDER BY doc_id""")),

    // --- M5/M6 mention scan: the REAL PhraseAutomaton (Aho-Corasick → DFA)
    //     over planted texts with overlapping/suffix-sharing phrases (the
    //     fail-chain output merges are the point: "justice" and "ice" must
    //     fire inside "natural justice"), mirrored by brute-force
    //     every-offset substring comparison ---
    Query("q66_automaton_scan", (s, dir) => {
      val phrases = Seq("natural justice", "justice", "audi alteram partem",
        "due process", "process", "ice")
      val texts = Seq(
        "natural justice and due process demand audi alteram partem",
        "process of justice is natural",
        "the thin ice near due process",
        "audi alteram partem audi alteram partem",
        "nothing matches in this sentence")
      val scanU = udf((t: String) => {
        val pa = graft.kg.text.PhraseAutomaton.build(phrases.toIndexedSeq)
        val hits = scala.collection.mutable.ArrayBuffer.empty[String]
        pa.scan(t, new graft.kg.text.PhraseAutomaton.Sink {
          def hit(pid: Int, start: Int): Unit = hits += s"$pid:$start"
        })
        hits.toSeq
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(texts.map(lit): _*), (col("doc_id") % 5).cast("int") + 1).as("t"))
        .select(col("doc_id"), explode(scanU(col("t"))).as("hit"))
        .select(col("doc_id"),
          split(col("hit"), ":").getItem(0).cast("long").as("pid"),
          split(col("hit"), ":").getItem(1).cast("long").as("start"))
        .orderBy(col("doc_id"), col("pid"), col("start"))
    }, oracle = Some(
      // mirrors the automaton scan by brute force: every offset of every
      // phrase via substring comparison — one pass of the DFA must find
      // exactly the same (phrase, start) multiset, incl. suffix-shared
      // hits at the same end position
      """WITH planted AS (
           SELECT doc_id,
             (['natural justice and due process demand audi alteram partem',
               'process of justice is natural',
               'the thin ice near due process',
               'audi alteram partem audi alteram partem',
               'nothing matches in this sentence'])[CAST(doc_id % 5 AS INT) + 1] AS t
           FROM documents),
         ph AS (
           SELECT * FROM (VALUES
             (0, 'natural justice'), (1, 'justice'), (2, 'audi alteram partem'),
             (3, 'due process'), (4, 'process'), (5, 'ice')) v(pid, p)),
         occ AS (
           SELECT doc_id, pid,
             [i - 1 for i in generate_series(1, len(t) - len(p) + 1)
              if substr(t, CAST(i AS INT), len(p)) = p] AS starts
           FROM planted, ph)
         SELECT doc_id, CAST(pid AS BIGINT) AS pid,
           CAST(unnest(starts) AS BIGINT) AS start
         FROM occ ORDER BY doc_id, pid, start""")),

    // --- M2 ECHR citation grammar (citation_preprocess.py:122-183): the
    //     REAL Citations scan (full-text path incl. keep-longest overlap
    //     dedup) over deterministically planted ECHR citations — application
    //     numbers, bare "nos. N/YY", Series A, ECHR reports, "Name v. Name".
    //     The salad base text is lowercase and digit-free, so no ECHR
    //     pattern can fire on it (Name-v-Name requires real uppercase: the
    //     case-v pattern is compiled WITHOUT CASE_INSENSITIVE); the DuckDB
    //     mirror replays each planted family with the same regex. The bare
    //     "nos." sub-hit inside every application-number span is dropped by
    //     the keep-longest dedup, so the mirror emits bare hits only from
    //     the "see nos." plants (disjoint by construction). ---
    Query("q67_echr_citations", (s, dir) => {
      val n1 = Seq("Kudla", "Osman", "Airey", "Soering", "Tyrer")
      val n2 = Seq("Poland", "Turkey", "Ireland", "Germany", "France")
      val idx = (col("doc_id") % 5).cast("int") + 1
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" Application no. "), lit(10000) + col("doc_id") % 50000,
              lit("/"), lit(90) + col("doc_id") % 10)).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see nos. "), lit(1000) + col("doc_id") % 9000,
              lit("/"), lit(10) + col("doc_id") % 90)).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" Series A no. "), lit(1) + col("doc_id") % 400)).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" ECHR "), lit(1999) + col("doc_id") % 20)).otherwise(lit("")),
          when(col("doc_id") % 6 === 1,
            concat(lit(" "), element_at(array(n1.map(lit): _*), idx),
              lit(" v. "), element_at(array(n2.map(lit): _*), idx))).otherwise(lit(""))).as("text"))
      graft.kg.rules.CitationManifest.scan(s, planted, "doc_id", "text", "echr")
        .orderBy(col("doc_id"), col("citation_type"), col("citation"))
    }, oracle = Some(
      // ECHR grammar mirror: same planted construction, each fired pattern
      // family replayed with its regex (RE2 \b + (?i) match the Java
      // semantics on this ASCII+digit text). Keep-longest overlap dedup
      // drops the bare-appno sub-hit inside every application-number span,
      // so bare hits are emitted only from the disjoint 'see nos.' plants.
      // Name-v-Name is CASE-SENSITIVE in the grammar (compiled without
      // flags) — the lowercase salad base can never fire it. case_year =
      // first \b(19|20)\d\d\b in the citation (extractYear).
      """WITH planted AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0 THEN ' Application no. ' || (10000 + doc_id % 50000)::VARCHAR || '/' || (90 + doc_id % 10)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 5 = 0 THEN ' see nos. ' || (1000 + doc_id % 9000)::VARCHAR || '/' || (10 + doc_id % 90)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 4 = 0 THEN ' Series A no. ' || (1 + doc_id % 400)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN ' ECHR ' || (1999 + doc_id % 20)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 6 = 1 THEN ' ' || ['Kudla','Osman','Airey','Soering','Tyrer'][CAST(doc_id % 5 AS INT) + 1] || ' v. ' || ['Poland','Turkey','Ireland','Germany','France'][CAST(doc_id % 5 AS INT) + 1] ELSE '' END AS text
           FROM documents),
         hits AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\bapplication\s+nos?\.?\s+\d{1,6}/\d{2,4}(?:\s+and\s+\d{1,6}/\d{2,4})*')) AS citation,
             'echr_appno' AS citation_type FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)see\s+(nos?\.?\s+\d{1,6}/\d{2,4})', 1)),
             'echr_bare_appno' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:series\s+a\s+no\.?\s*\d+|reports?\s+(?:of\s+judgments\s+and\s+decisions\s+)?\d{4}(?:-[IVXLCDM]+)?)')),
             'echr_series' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\bECHR\s+\d{4}(?:\s*-\s*[IVXLCDM]+)?(?:\s*\(extracts?\))?')),
             'echr_report' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '[A-Z][A-Za-z\-]+\s+v\.?\s+(?:the\s+)?[A-Z][A-Za-z\-]+(?:\s+[A-Z][A-Za-z\-]+)*')),
             'echr_case_v' FROM planted)
         SELECT doc_id, trim(citation) AS citation, citation_type,
           CAST(NULLIF(regexp_extract(citation, '\b((?:19|20)\d{2})\b', 1), '') AS INT) AS case_year
         FROM hits
         ORDER BY doc_id, citation_type, citation""")),

    // --- M3 Turkish citation grammar (citation_preprocess.py:186-261): the
    //     REAL Citations scan (digit-window path + overlap dedup) over
    //     planted AYM E./K. pairs, "NNNN sayılı" statutes, başvuru numbers,
    //     Yargıtay chamber citations and Resmî Gazete dates. Every TR
    //     pattern needs a digit or a Turkish literal — the salad base text
    //     has neither. tr_esas / tr_karar sub-hits inside the AYM and
    //     Yargıtay spans are dropped by keep-longest dedup (mirrored by
    //     construction: the mirror emits only the enclosing spans). ---
    Query("q68_turkish_citations", (s, dir) => {
      val planted = pq(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" AYM, E. "), lit(2010) + col("doc_id") % 10,
              lit("/"), lit(1) + col("doc_id") % 200,
              lit(", K. "), lit(2011) + col("doc_id") % 10,
              lit("/"), lit(1) + col("doc_id") % 300)).otherwise(lit("")),
          when(col("doc_id") % 4 === 1,
            concat(lit(" "), lit(1000) + col("doc_id") % 9000,
              lit(" sayılı Kanun"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 2,
            concat(lit(" Başvuru no. "), lit(2014) + col("doc_id") % 6,
              lit("/"), lit(1) + col("doc_id") % 999)).otherwise(lit("")),
          when(col("doc_id") % 7 === 3,
            concat(lit(" Yargıtay "), lit(1) + col("doc_id") % 23,
              lit(". Ceza Dairesi, E. "), lit(2005) + col("doc_id") % 15,
              lit("/"), lit(1) + col("doc_id") % 500)).otherwise(lit("")),
          when(col("doc_id") % 6 === 4,
            concat(lit(" R.G. "), lit(1) + col("doc_id") % 28,
              lit("."), lit(1) + col("doc_id") % 12,
              lit("."), lit(1995) + col("doc_id") % 20)).otherwise(lit(""))).as("text"))
      graft.kg.rules.CitationManifest.scan(s, planted, "doc_id", "text", "tr")
        .orderBy(col("doc_id"), col("citation_type"), col("citation"))
    }, oracle = Some(
      // Turkish grammar mirror: same planted construction; the enclosing
      // AYM / Yargıtay spans are emitted and their contained tr_esas /
      // tr_karar sub-hits dropped (keep-longest dedup). Every TR pattern
      // needs a digit or a Turkish literal — the salad base has neither, so
      // only planted spans fire, and they are pairwise disjoint.
      """WITH planted AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0 THEN ' AYM, E. ' || (2010 + doc_id % 10)::VARCHAR || '/' || (1 + doc_id % 200)::VARCHAR || ', K. ' || (2011 + doc_id % 10)::VARCHAR || '/' || (1 + doc_id % 300)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 4 = 1 THEN ' ' || (1000 + doc_id % 9000)::VARCHAR || ' sayılı Kanun' ELSE '' END ||
             CASE WHEN doc_id % 5 = 2 THEN ' Başvuru no. ' || (2014 + doc_id % 6)::VARCHAR || '/' || (1 + doc_id % 999)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 7 = 3 THEN ' Yargıtay ' || (1 + doc_id % 23)::VARCHAR || '. Ceza Dairesi, E. ' || (2005 + doc_id % 15)::VARCHAR || '/' || (1 + doc_id % 500)::VARCHAR ELSE '' END ||
             CASE WHEN doc_id % 6 = 4 THEN ' R.G. ' || (1 + doc_id % 28)::VARCHAR || '.' || (1 + doc_id % 12)::VARCHAR || '.' || (1995 + doc_id % 20)::VARCHAR ELSE '' END AS text
           FROM documents),
         hits AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:AYM|Anayasa\s+Mahkemesi)\s*[,;]?\s*E\.?\s*\d{4}/\d+\s*[,;]\s*K\.?\s*\d{4}/\d+')) AS citation,
             'tr_aym' AS citation_type FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b\d{3,5}\s+say[ıi]l[ıi]\s+(?:Kanun|(?:T\.?)?(?:C\.?)?K\.?|HMK|CMK|TMK|TTK|[A-ZÇĞİÖŞÜ]{2,5})')),
             'tr_kanun' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:[Bb]a[şs]vuru\s+(?:numaras[ıi]|[Nn]o\.?))\s*[,:;]?\s*\d{4}/\d+')),
             'tr_basvuru' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\bYarg[ıi]tay\s+(?:\d+\.\s*)?(?:Ceza|Hukuk|Daire)\s*(?:si|Dairesi)?\s*[,;]?\s*(?:E\.?\s*\d{4}/\d+)?')),
             'tr_yargitay' FROM planted
           UNION ALL
           SELECT doc_id,
             unnest(regexp_extract_all(text, '(?i)\b(?:Resm[iî]\s+Gazete|R\.?\s*G\.?)\s*[,:;]?\s*(?:tarih|say[ıi])?\s*[,:;]?\s*\d+[./]\d+[./]?\d*')),
             'tr_resmi_gazete' FROM planted)
         SELECT doc_id, trim(citation) AS citation, citation_type,
           CAST(NULLIF(regexp_extract(citation, '\b((?:19|20)\d{2})\b', 1), '') AS INT) AS case_year
         FROM hits
         ORDER BY doc_id, citation_type, citation""")),

    // --- T2/T3 segmentation offsets: the REAL Segmenter over documents
    //     assembled from closed-form sentence blocks (word + " pad"×k + "."
    //     joined by " " inside a paragraph, paragraphs joined by "\n\n"), so
    //     every (start_char, end_char, para_idx, sent_idx, text) is pure
    //     doc_id arithmetic the DuckDB mirror re-derives with window sums.
    //     Sentence end_char includes the inter-sentence separator space
    //     (split point = end of the whitespace run) except for the last
    //     sentence of a paragraph — the mirror reproduces that contract. ---
    Query("q69_segment_offsets", (s, dir) => {
      val segU = udf((docId: Long) => {
        val doc = graft.kg.text.Segmenter.segment(plantedSegDoc(docId), "d" + docId)
        (doc.paragraphs ++ doc.sentences).map(seg =>
          Seq(seg.paraIndex, seg.sentIndex, seg.startChar, seg.endChar)
            .mkString(",") + "|" + seg.text)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(segU(col("doc_id"))).as("seg"))
        .select(col("doc_id"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(0).cast("int").as("para_idx"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(1).cast("int").as("sent_idx"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(2).cast("int").as("start_char"),
          split(split(col("seg"), "\\|").getItem(0), ",").getItem(3).cast("int").as("end_char"),
          split(col("seg"), "\\|").getItem(1).as("seg_text"))
        .orderBy(col("doc_id"), col("para_idx"), col("sent_idx"))
    }, oracle = Some(
      // closed-form segmentation replay: the same doc construction (word +
      // ' pad'×k + '.' sentences, ' ' joins, '\n\n' paragraph separators)
      // re-derived with window sums. Sentence end_char includes the
      // inter-sentence space except for the paragraph's last sentence
      // (Segmenter reports the raw split span, trimmed text).
      """WITH ps AS (
           SELECT d.doc_id, pp.p, ss.s
           FROM documents d,
                (SELECT unnest([0,1,2]) AS p) pp,
                (SELECT unnest([0,1,2]) AS s) ss
           WHERE pp.p <= d.doc_id % 3 AND ss.s <= (d.doc_id + pp.p) % 3),
         sen AS (
           SELECT doc_id, p, s,
             ['Alpha','Beta','Gamma','Delta','Epsilon'][CAST((doc_id + 2*p + 3*s) % 5 AS INT) + 1]
               || repeat(' pad', CAST((doc_id + p + s) % 3 AS INT)) || '.' AS stext
           FROM ps),
         sl AS (
           SELECT doc_id, p, s, stext, length(stext) AS slen,
             COALESCE(sum(length(stext) + 1) OVER (PARTITION BY doc_id, p ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
             count(*) OVER (PARTITION BY doc_id, p) AS n_s
           FROM sen),
         pl AS (
           SELECT doc_id, p, sum(slen) + count(*) - 1 AS plen,
             string_agg(stext, ' ' ORDER BY s) AS ptext
           FROM sl GROUP BY doc_id, p),
         po AS (
           SELECT doc_id, p, plen, ptext,
             COALESCE(sum(plen + 2) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pstart
           FROM pl),
         segs AS (
           SELECT doc_id, p AS para_idx, -1 AS sent_idx, pstart AS start_char,
             pstart + plen AS end_char, ptext AS seg_text
           FROM po
           UNION ALL
           SELECT sl.doc_id, sl.p, sl.s,
             po.pstart + sl.cum,
             po.pstart + CASE WHEN sl.s < sl.n_s - 1 THEN sl.cum + sl.slen + 1 ELSE po.plen END,
             sl.stext
           FROM sl JOIN po ON sl.doc_id = po.doc_id AND sl.p = po.p)
         SELECT doc_id, CAST(para_idx AS INT) AS para_idx,
           CAST(sent_idx AS INT) AS sent_idx, CAST(start_char AS INT) AS start_char,
           CAST(end_char AS INT) AS end_char, seg_text
         FROM segs ORDER BY doc_id, para_idx, sent_idx""")),

    // --- J3 cluster assignment (extractor.py:1409-1637 _assign_by_score +
    //     the issue/holding score fallbacks): planted node texts through the
    //     REAL DocExtractor.argmaxCluster (the function extract() itself
    //     calls) against two shipped ontology concepts + two pseudo
    //     clusters, at both reference thresholds (min 2 = facts/args, min 3
    //     = issues/holdings, cycled by doc_id). The mirror replays the full
    //     conceptMatchScoreFast formula (q34's mirror) per ontology
    //     candidate, the keyword-overlap formula per pseudo candidate, and
    //     the FIRST strict-'>' argmax in candidate order. ---
    Query("q70_cluster_argmax", (s, dir) => {
      val texts = Seq(
        "fair opportunity to answer was denied before the hearing",
        "the proportionality test requires a rational nexus to a legitimate aim",
        "speedy trial guarantee was invoked by the accused person",
        "land acquisition compensation award challenged in appeal",
        "completely unrelated filler words about nothing relevant here",
        "speaking order with reasons after fair hearing notice",
        "land acquisition compensation award with speedy trial guarantee")
      val cands = List(
        "DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM",
        "DOCTRINE_PROPORTIONALITY_TEST",
        "PSEUDO_SPEEDY_TRIAL", "PSEUDO_LAND_ACQUISITION")
      val labels = Map(
        "PSEUDO_SPEEDY_TRIAL" -> "speedy trial guarantee",
        "PSEUDO_LAND_ACQUISITION" -> "land acquisition compensation award")
      val pickU = udf((t: String, minScore: Int) =>
        graft.kg.extract.DocExtractor.argmaxCluster(
          graft.kg.ontology.MatchText.of(t, turkish = false),
          cands, minScore, graft.kg.ontology.Ontology.default,
          labels, turkish = false).orNull)
      pq(s, dir, "documents")
        .select(col("doc_id"),
          element_at(array(texts.map(lit): _*), (col("doc_id") % 7).cast("int") + 1).as("t"),
          (lit(2) + col("doc_id") % 2).cast("int").as("min_score"))
        .select(col("doc_id"), col("min_score"),
          pickU(col("t"), col("min_score")).as("best_cluster"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // full _assign_by_score mirror: conceptMatchScoreFast per ontology
      // candidate (q34's formula: +5 per contained key phrase, +8 any
      // establishing case, keyword overlaps capped at 4), plain keyword
      // overlap vs keywordSet(cid + ' ' + label) per pseudo candidate, then
      // the FIRST strict-'>' argmax in candidate order, NULL below
      // min_score. Short/stopword tokens can't appear in any candidate
      // keyword list, so the unfiltered token intersection is exact.
      """WITH t AS (
           SELECT doc_id, CAST(2 + doc_id % 2 AS INT) AS min_score,
             ['fair opportunity to answer was denied before the hearing',
              'the proportionality test requires a rational nexus to a legitimate aim',
              'speedy trial guarantee was invoked by the accused person',
              'land acquisition compensation award challenged in appeal',
              'completely unrelated filler words about nothing relevant here',
              'speaking order with reasons after fair hearing notice',
              'land acquisition compensation award with speedy trial guarantee'
             ][CAST(doc_id % 7 AS INT) + 1] AS text
           FROM documents),
         n AS (
           SELECT doc_id, min_score,
             lower(regexp_replace(text, '\s+', ' ', 'g')) AS lownorm,
             list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS toks
           FROM t),
         sc AS (
           SELECT doc_id, min_score,
             5 * (contains(lownorm, 'no one shall be condemned unheard')::INT
                + contains(lownorm, 'fair opportunity to answer')::INT
                + contains(lownorm, 'speaking order')::INT)
             + 8 * (CASE WHEN contains(lownorm, 'maneka gandhi v. uoi (1978)')
                         OR contains(lownorm, 'a.k. kraipak v. uoi (1969)') THEN 1 ELSE 0 END)
             + least(4, len(list_intersect(toks, ['action','actions','administrative','adverse','alteram','answer','audi','before','challenge','conclusion','condemned','decision','difference','emergency','exclusion','fair','heard','hearing','judicial','justice','make','natural','notice','obvious','opportunity','order','partem','post','proposed','purely','quasi','reasonable','reasoned','speaking','statutory','subject','suffice','unheard','urgency'])))
             + least(4, len(list_intersect(toks, ['action','adverse','before','decision','fair','heard','hearing','notice','opportunity','order','proposed','reasonable','reasoned','speaking']))) AS s_audi,
             5 * (contains(lownorm, 'legitimate aim')::INT
                + contains(lownorm, 'rational nexus')::INT
                + contains(lownorm, 'least restrictive means')::INT
                + contains(lownorm, 'proportionality stricto sensu')::INT)
             + 8 * (CASE WHEN contains(lownorm, 'modern dental college v. state of mp (2016)')
                         OR contains(lownorm, 'k.s. puttaswamy i (2017)')
                         OR contains(lownorm, 'k.s. puttaswamy ii/aadhaar (2018)') THEN 1 ELSE 0 END)
             + least(4, len(list_intersect(toks, ['alternatives','available','disproportionate','four','impact','least','legitimate','less','means','nexus','prongs','proportionality','rational','restrictive','rights','sensu','stricto','test'])))
             + least(4, len(list_intersect(toks, ['four','prongs']))) AS s_prop,
             len(list_intersect(toks, ['speedy','trial','guarantee'])) AS s_p1,
             len(list_intersect(toks, ['land','acquisition','compensation','award'])) AS s_p2
           FROM n)
         SELECT doc_id, min_score,
           CASE WHEN greatest(s_audi, s_prop, s_p1, s_p2) >= min_score THEN
             CASE WHEN s_audi = greatest(s_audi, s_prop, s_p1, s_p2) THEN 'DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM'
                  WHEN s_prop = greatest(s_audi, s_prop, s_p1, s_p2) THEN 'DOCTRINE_PROPORTIONALITY_TEST'
                  WHEN s_p1 = greatest(s_audi, s_prop, s_p1, s_p2) THEN 'PSEUDO_SPEEDY_TRIAL'
                  ELSE 'PSEUDO_LAND_ACQUISITION' END
           END AS best_cluster
         FROM sc ORDER BY doc_id""")),

    // --- M8 anchor construction + validate/repair (extractor.py:2619-2700
    //     make_anchor): planted (doc, claimed-span, quote) triples through
    //     the REAL DocExtractor.makeAnchor over the q69 closed-form document,
    //     cycling 5 variants: valid passthrough, invalid offsets repaired
    //     via quote alignment, invalid offsets + unfindable quote → null,
    //     whitespace-only span (the "\n\n" separator) repaired via quote,
    //     and null offsets with no quote → null. The mirror re-derives
    //     offsets/hash/display from the same arithmetic (quote = first
    //     sentence → repair lands at [0, len(s00)); display from the
    //     segment table; hash = sha256 prefix). ---
    Query("q72_anchor_repair", (s, dir) => {
      val mkU = udf((docId: Long) => {
        val doc = graft.kg.text.Segmenter.segment(plantedSegDoc(docId), "d" + docId)
        val s00 = doc.sentences.head.text // sentence (0,0) == doc prefix
        val lastSent = doc.sentences.last
        val D = graft.kg.extract.DocExtractor
        val res = (docId % 5) match {
          case 0 => // valid passthrough: the last sentence's trimmed span
            D.makeAnchor(doc, Some(lastSent.startChar),
              Some(lastSent.startChar + lastSent.text.length))
          case 1 => // invalid offsets, findable quote → align-repair
            D.makeAnchor(doc, Some(0), Some(doc.fullText.length + 5),
              quoteForAlignment = Some(s00))
          case 2 => // invalid offsets, unfindable quote → None
            D.makeAnchor(doc, Some(-3), Some(-1),
              quoteForAlignment = Some("zz unfindable qq"))
          case 3 => // whitespace-only span (the \n\n separator when P >= 2;
            // degenerates to invalid offsets when P == 1) → quote-repair
            val p0end = doc.paragraphs.head.endChar
            D.makeAnchor(doc, Some(p0end), Some(p0end + 2),
              quoteForAlignment = Some(s00))
          case _ => // null offsets, no quote → None
            D.makeAnchor(doc, None, None)
        }
        res.map(a => Seq(a.startChar, a.endChar).mkString(",") + "|" +
          a.textHash + "|" + Option(a.displayLocation).getOrElse("?") + "|" +
          a.surfaceText).orNull
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 5).cast("int").as("variant"),
          mkU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("variant"),
          split(split(col("r"), "\\|").getItem(0), ",").getItem(0).cast("int").as("start_char"),
          split(split(col("r"), "\\|").getItem(0), ",").getItem(1).cast("int").as("end_char"),
          split(col("r"), "\\|").getItem(1).as("text_hash"),
          split(col("r"), "\\|").getItem(2).as("display_loc"),
          split(col("r"), "\\|").getItem(3).as("surface"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // make_anchor mirror over the q69 closed-form document: variant 0
      // passes the last sentence's trimmed span through; variants 1 and 3
      // repair onto the first sentence's span [0, len) via quote alignment
      // (the quote IS the document prefix, so alignment lands at 0 in both
      // the ws-collapsed and original texts); variants 2 and 4 return NULL.
      // hash = sha256(span text) first 16 hex; display = containing
      // sentence's para:sent.
      """WITH ps AS (
           SELECT d.doc_id, pp.p, ss.s
           FROM documents d,
                (SELECT unnest([0,1,2]) AS p) pp,
                (SELECT unnest([0,1,2]) AS s) ss
           WHERE pp.p <= d.doc_id % 3 AND ss.s <= (d.doc_id + pp.p) % 3),
         sen AS (
           SELECT doc_id, p, s,
             ['Alpha','Beta','Gamma','Delta','Epsilon'][CAST((doc_id + 2*p + 3*s) % 5 AS INT) + 1]
               || repeat(' pad', CAST((doc_id + p + s) % 3 AS INT)) || '.' AS stext
           FROM ps),
         sl AS (
           SELECT doc_id, p, s, stext, length(stext) AS slen,
             COALESCE(sum(length(stext) + 1) OVER (PARTITION BY doc_id, p ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
             count(*) OVER (PARTITION BY doc_id, p) AS n_s
           FROM sen),
         pl AS (
           SELECT doc_id, p, sum(slen) + count(*) - 1 AS plen
           FROM sl GROUP BY doc_id, p),
         po AS (
           SELECT doc_id, p, plen,
             COALESCE(sum(plen + 2) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pstart
           FROM pl),
         s00 AS (SELECT doc_id, stext AS q, slen AS qlen FROM sl WHERE p = 0 AND s = 0),
         lasts AS (
           SELECT sl.doc_id, po.pstart + sl.cum AS lstart, sl.slen AS llen,
             sl.stext AS ltext, sl.p AS lp, sl.s AS ls
           FROM sl JOIN po ON sl.doc_id = po.doc_id AND sl.p = po.p
           WHERE sl.s = sl.n_s - 1
             AND sl.p = (SELECT max(p2.p) FROM po p2 WHERE p2.doc_id = sl.doc_id)),
         v AS (
           SELECT d.doc_id, CAST(d.doc_id % 5 AS INT) AS variant,
             s00.q, s00.qlen, lasts.lstart, lasts.llen, lasts.ltext, lasts.lp, lasts.ls
           FROM documents d
           JOIN s00 ON d.doc_id = s00.doc_id
           JOIN lasts ON d.doc_id = lasts.doc_id)
         SELECT doc_id, variant,
           CASE WHEN variant = 0 THEN CAST(lstart AS INT)
                WHEN variant IN (1, 3) THEN 0 END AS start_char,
           CASE WHEN variant = 0 THEN CAST(lstart + llen AS INT)
                WHEN variant IN (1, 3) THEN CAST(qlen AS INT) END AS end_char,
           CASE WHEN variant = 0 THEN substr(sha256(ltext), 1, 16)
                WHEN variant IN (1, 3) THEN substr(sha256(q), 1, 16) END AS text_hash,
           CASE WHEN variant = 0 THEN lp::VARCHAR || ':' || ls::VARCHAR
                WHEN variant IN (1, 3) THEN '0:0' END AS display_loc,
           CASE WHEN variant = 0 THEN ltext
                WHEN variant IN (1, 3) THEN q END AS surface
         FROM v ORDER BY doc_id"""))
  )
}
