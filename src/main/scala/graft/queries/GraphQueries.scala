package graft
package queries

import org.apache.spark.sql.functions._
import Query.pq

/** Graph operators at table scale: reachability, Toulmin structure,
  * holding support, counterfactuals, graph quality, canonical rewrite, edge
  * dedup and validation, orphan repair, justification sets, cluster edges
  * and reasoning chains. */
private[graft] object GraphQueries {
  val all: Seq[Query] = Seq(
    // --- G4 BFS reachability at table scale: GraphOps.reachable over a
    //     deterministic per-customer edge table derived from orders (each
    //     order contributes edge n{okey%20} -> n{(okey*7+3)%20} inside its
    //     customer's graph); DuckDB mirrors with depth-capped WITH
    //     RECURSIVE — same frontier semantics (first reach <= depth 10) ---
    Query("q37_reachability", (s, dir) => {
      val edges = pq(s, dir, "orders").select(
        col("o_custkey").cast("string").as("convId"),
        concat(lit("n"), col("o_orderkey") % 20).as("source"),
        concat(lit("n"), (col("o_orderkey") * 7 + 3) % 20).as("target"))
      graft.kg.query.GraphOps.reachable(s, edges, "n0", maxDepth = 10)
        .orderBy(col("conv_id"), col("id"))
    }, oracle = Some(
      // depth-capped recursive BFS: rows are (conv, node, depth) triples —
      // a node enters the result iff first reachable within 10 hops, the
      // same layer semantics as the iterative frontier anti-join
      """WITH RECURSIVE edges AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
                  'n' || CAST(o_orderkey % 20 AS VARCHAR) AS source,
                  'n' || CAST((o_orderkey * 7 + 3) % 20 AS VARCHAR) AS target
           FROM orders),
         reach(conv_id, id, depth) AS (
           SELECT conv_id, target, 1 FROM edges WHERE source = 'n0'
           UNION
           SELECT e.conv_id, e.target, r.depth + 1
           FROM reach r JOIN edges e ON r.conv_id = e.conv_id AND r.id = e.source
           WHERE r.depth < 10)
         SELECT DISTINCT conv_id, id FROM reach ORDER BY conv_id, id""")),

    // --- G5 Toulmin structure at table scale: GraphOps.toulmin over a
    //     deterministic node/edge graph derived from orders (source type
    //     and relation cycle by o_orderkey, targets are per-customer
    //     argument nodes); arrays stringified for the comparator ---
    Query("q45_toulmin", (s, dir) => {
      val o = pq(s, dir, "orders")
      val typeIdx = (col("o_orderkey") % 3 + 1).cast("int")
      val srcId = concat(
        element_at(array(lit("f"), lit("c"), lit("p")), typeIdx),
        col("o_orderkey") % 7)
      val tgtId = concat(lit("a"), col("o_orderkey") % 3)
      val rel = element_at(
        array(lit("supports"), lit("attacks"), lit("rebuts"), lit("grounds")),
        (col("o_orderkey") % 4 + 1).cast("int"))
      val conv = col("o_custkey").cast("string").as("convId")
      val nodes = o.select(conv, srcId.as("id"),
          element_at(array(lit("fact"), lit("concept"), lit("precedent")), typeIdx).as("nodeType"))
        .union(o.select(conv, tgtId.as("id"), lit("argument").as("nodeType")))
        .distinct()
      val edges = o.select(conv, srcId.as("source"), tgtId.as("target"), rel.as("relation"))
      graft.kg.query.GraphOps.toulmin(nodes, edges)
        .select(col("conv_id"), col("argument_id"),
          concat_ws(",", col("grounds")).as("grounds"),
          concat_ws(",", col("warrants")).as("warrants"),
          concat_ws(",", col("backing")).as("backing"),
          concat_ws(",", col("rebuttals")).as("rebuttals"))
        .orderBy(col("conv_id"), col("argument_id"))
    }, oracle = Some(
      // get_toulmin_structure (schema_v2_1.py:781-806): SUPPORTS in-edges
      // bucket by source type (fact→grounds, concept→warrants,
      // precedent→backing); attacks/rebuts/undercuts → rebuttals; all other
      // relations contribute nothing
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             (['f','c','p'])[CAST(o_orderkey % 3 AS INT) + 1] || CAST(o_orderkey % 7 AS VARCHAR) AS source,
             (['fact','concept','precedent'])[CAST(o_orderkey % 3 AS INT) + 1] AS src_type,
             'a' || CAST(o_orderkey % 3 AS VARCHAR) AS target,
             (['supports','attacks','rebuts','grounds'])[CAST(o_orderkey % 4 AS INT) + 1] AS relation
           FROM orders),
         b AS (
           SELECT conv_id, target AS argument_id, source,
             CASE WHEN relation IN ('attacks','rebuts','undercuts') THEN 'rebuttals'
                  WHEN relation = 'supports' AND src_type = 'fact' THEN 'grounds'
                  WHEN relation = 'supports' AND src_type = 'concept' THEN 'warrants'
                  WHEN relation = 'supports' AND src_type = 'precedent' THEN 'backing'
                  ELSE 'other' END AS bucket
           FROM o)
         SELECT conv_id, argument_id,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'grounds')), ','), '') AS grounds,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'warrants')), ','), '') AS warrants,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'backing')), ','), '') AS backing,
           coalesce(array_to_string(list_sort(list(source) FILTER (WHERE bucket = 'rebuttals')), ','), '') AS rebuttals
         FROM b GROUP BY conv_id, argument_id
         ORDER BY conv_id, argument_id""")),

    // --- G6/G7/G8 graph operators over a deterministic planted graph
    //     derived from orders: per order an edge {f|c}(okey%5) →
    //     h(okey%3) with relation cycling (grounds/supports/addresses),
    //     one justification set per holding (logic and/or/and) ---
    Query("q46_holding_support", (s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), col("o_orderkey") % 5)
      val srcType = element_at(array(lit("fact"), lit("concept")), tIdx)
      val tgt = concat(lit("h"), col("o_orderkey") % 3)
      val rel = element_at(array(lit("grounds"), lit("supports"), lit("addresses")),
        (col("o_orderkey") % 3 + 1).cast("int"))
      val nodes = o.select(conv, srcId.as("id"), srcType.as("nodeType"))
        .union(o.select(conv, tgt.as("id"), lit("holding").as("nodeType"))).distinct()
      val edges = o.select(conv, srcId.as("source"), tgt.as("target"), rel.as("relation"))
      val js = o.select(conv, concat(lit("js"), col("o_orderkey") % 3).as("id"),
        tgt.as("targetId")).distinct()
      graft.kg.query.GraphOps.holdingSupport(nodes, edges, js)
        .select(col("conv_id"), col("holding_id"),
          concat_ws(",", col("grounding_concepts")).as("grounding_concepts"),
          concat_ws(",", col("supporting_facts")).as("supporting_facts"),
          concat_ws(",", col("justification_sets")).as("justification_sets"))
        .orderBy(col("conv_id"), col("holding_id"))
    }, oracle = Some(
      // get_holding_support (schema_v2_1.py:807-836): grounding_concepts =
      // sources of ALL grounds in-edges (no type filter), supporting_facts =
      // fact-typed supports sources, plus the js ids targeting the holding
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             (['f','c'])[CAST(o_orderkey % 2 AS INT) + 1] || CAST(o_orderkey % 5 AS VARCHAR) AS source,
             (['fact','concept'])[CAST(o_orderkey % 2 AS INT) + 1] AS src_type,
             'h' || CAST(o_orderkey % 3 AS VARCHAR) AS holding_id,
             (['grounds','supports','addresses'])[CAST(o_orderkey % 3 AS INT) + 1] AS relation
           FROM orders),
         sup AS (
           SELECT conv_id, holding_id,
             coalesce(array_to_string(list_sort(list(source) FILTER (WHERE relation = 'grounds')), ','), '') AS grounding_concepts,
             coalesce(array_to_string(list_sort(list(source) FILTER (WHERE src_type = 'fact' AND relation = 'supports')), ','), '') AS supporting_facts
           FROM o GROUP BY conv_id, holding_id),
         js AS (
           SELECT DISTINCT conv_id, holding_id, 'js' || holding_id[2:] AS js_id FROM o),
         jsa AS (
           SELECT conv_id, holding_id, array_to_string(list_sort(list(js_id)), ',') AS justification_sets
           FROM js GROUP BY conv_id, holding_id)
         SELECT s.conv_id, s.holding_id, s.grounding_concepts, s.supporting_facts,
                coalesce(j.justification_sets, '') AS justification_sets
         FROM sup s LEFT JOIN jsa j ON s.conv_id = j.conv_id AND s.holding_id = j.holding_id
         ORDER BY s.conv_id, s.holding_id""")),
    Query("q47_counterfactual", (s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), col("o_orderkey") % 5)
      val srcType = element_at(array(lit("fact"), lit("concept")), tIdx)
      val tgt = concat(lit("h"), col("o_orderkey") % 3)
      val rel = element_at(array(lit("grounds"), lit("supports"), lit("addresses")),
        (col("o_orderkey") % 3 + 1).cast("int"))
      val nodes = o.select(conv, srcId.as("id"), srcType.as("nodeType"))
        .union(o.select(conv, tgt.as("id"), lit("holding").as("nodeType"))).distinct()
      val edges = o.select(conv, concat(lit("e"), col("o_orderkey")).as("id"),
        srcId.as("source"), tgt.as("target"), rel.as("relation"),
        array(concat(lit("js"), col("o_orderkey") % 3)).as("supportGroupIds"))
      val js = o.select(conv, concat(lit("js"), col("o_orderkey") % 3).as("id"),
        tgt.as("targetId"),
        element_at(array(lit("and"), lit("or"), lit("and")),
          (col("o_orderkey") % 3 + 1).cast("int")).as("logic"),
        lit(true).as("isPrimary")).distinct()
      graft.kg.query.GraphOps.counterfactual(nodes, edges, js, "f0")
        .orderBy(col("conv_id"), col("holding_id"))
    }, oracle = Some(
      // counterfactual_remove_node_v4 (extractor.py:4372-4460): per primary
      // justification set, AND logic breaks on any removed member, OR logic
      // only when every member is removed; a holding is unsupported when all
      // its primary sets break
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             (['f','c'])[CAST(o_orderkey % 2 AS INT) + 1] || CAST(o_orderkey % 5 AS VARCHAR) AS source,
             'h' || CAST(o_orderkey % 3 AS VARCHAR) AS holding_id,
             'js' || CAST(o_orderkey % 3 AS VARCHAR) AS js_id,
             (['and','or','and'])[CAST(o_orderkey % 3 AS INT) + 1] AS logic
           FROM orders),
         perjs AS (
           SELECT conv_id, holding_id, js_id, logic,
             count(*) AS n_members,
             count(*) FILTER (WHERE source = 'f0') AS n_removed
           FROM o GROUP BY conv_id, holding_id, js_id, logic),
         broken AS (
           SELECT conv_id, holding_id,
             bool_and(CASE WHEN logic = 'and' THEN n_removed > 0
                           ELSE n_removed = n_members END) AS unsupported
           FROM perjs GROUP BY conv_id, holding_id)
         SELECT conv_id, holding_id FROM broken WHERE unsupported
         ORDER BY conv_id, holding_id""")),
    Query("q48_js_members", (s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), col("o_orderkey") % 5)
      val edges = o.select(conv, concat(lit("e"), col("o_orderkey")).as("id"),
        srcId.as("source"),
        array(concat(lit("js"), col("o_orderkey") % 3)).as("supportGroupIds"))
      graft.kg.query.GraphOps.justificationMembers(edges)
        .orderBy(col("conv_id"), col("edge_id"))
    }, oracle = Some(
      // get_justification_members (schema_v2_1.py:778-779): explode the
      // edge→support-group memberships
      """SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             'e' || CAST(o_orderkey AS VARCHAR) AS edge_id,
             (['f','c'])[CAST(o_orderkey % 2 AS INT) + 1] || CAST(o_orderkey % 5 AS VARCHAR) AS source,
             'js' || CAST(o_orderkey % 3 AS VARCHAR) AS js_id
         FROM orders ORDER BY conv_id, edge_id""")),

    // --- C13 per-graph quality scoring (evaluate_graphs.py:90-305) over a
    //     planted graph with controlled validity/connectivity/resolution/
    //     anchor mixes: invalid 'addresses' edges, never-referenced issue
    //     nodes, degenerate and null anchors ---
    Query("q49_graph_quality", (s, dir) => {
      val o = pq(s, dir, "orders")
      val conv = col("o_custkey").cast("string").as("convId")
      val tIdx = (col("o_orderkey") % 2 + 1).cast("int")
      val d = (col("o_orderkey") % 5).cast("int")
      val srcId = concat(element_at(array(lit("f"), lit("c")), tIdx), d)
      val srcType = element_at(array(lit("fact"), lit("concept")), tIdx)
      val hNum = (col("o_orderkey") % 3).cast("int")
      val tgt = concat(lit("h"), hNum)
      val rel = element_at(array(lit("grounds"), lit("supports"), lit("addresses")), hNum + 1)
      val anchorOf = (end: org.apache.spark.sql.Column) =>
        struct(lit(0).as("startChar"), end.as("endChar"))
      val srcNodes = o.select(conv, srcId.as("id"), srcType.as("nodeType"),
        lit(null).cast("string").as("resolvesIssue"),
        when(d === 4, lit(null)).otherwise(anchorOf(d % 3)).as("anchor"))
      val hNodes = o.select(conv, tgt.as("id"), lit("holding").as("nodeType"),
        when(hNum === 0, "i0").when(hNum === 1, "i1")
          .otherwise(lit(null).cast("string")).as("resolvesIssue"),
        anchorOf(lit(1)).as("anchor"))
      val iNodes = o.select(conv).distinct()
        .select(col("convId"), explode(array(lit("i0"), lit("i1"))).as("id"))
        .select(col("convId"), col("id"), lit("issue").as("nodeType"),
          lit(null).cast("string").as("resolvesIssue"), anchorOf(lit(1)).as("anchor"))
      val nodes = srcNodes.union(hNodes).distinct().union(iNodes)
      val edges = o.select(conv, srcId.as("source"), tgt.as("target"), rel.as("relation"))
      graft.kg.query.GraphQuality.score(nodes, edges).orderBy(col("conv_id"))
    }, oracle = Some(
      // the four per-conversation shares + weighted 1-10 score
      // (evaluate_graphs.py:90-305): validity = share of edges whose
      // (fact|concept)→holding relation is matrix-allowed (addresses is
      // not); connectivity = share of non-outcome nodes that are edge
      // endpoints (the 2 planted issues never are); resolution = share of
      // issues some holding resolves; anchors = share of nodes with a
      // non-null, non-degenerate anchor
      """WITH o AS (
           SELECT CAST(o_custkey AS VARCHAR) AS conv_id,
             CAST(o_orderkey % 5 AS INT) AS d,
             CAST(o_orderkey % 2 AS INT) AS t,
             CAST(o_orderkey % 3 AS INT) AS h
           FROM orders),
         validity AS (
           SELECT conv_id,
             floor(count(*) FILTER (WHERE h <> 2) * 1.0 / count(*) * 10000.0 + 0.5) / 10000.0 AS edge_validity
           FROM o GROUP BY conv_id),
         srcs AS (SELECT DISTINCT conv_id, t, d FROM o),
         holds AS (SELECT DISTINCT conv_id, h FROM o),
         counts AS (
           SELECT s.conv_id, ns, nh,
             nsrc_anchor_ok
           FROM (SELECT conv_id, count(*) AS ns,
                   count(*) FILTER (WHERE d IN (1, 2)) AS nsrc_anchor_ok
                 FROM srcs GROUP BY conv_id) s
           JOIN (SELECT conv_id, count(*) AS nh FROM holds GROUP BY conv_id) hh
             ON s.conv_id = hh.conv_id),
         conn AS (
           SELECT conv_id,
             floor((ns + nh) * 1.0 / (ns + nh + 2) * 10000.0 + 0.5) / 10000.0 AS connectivity,
             floor((nsrc_anchor_ok + nh + 2) * 1.0 / (ns + nh + 2) * 10000.0 + 0.5) / 10000.0 AS anchor_quality,
             (ns + nh) * 1.0 / (ns + nh + 2) AS connectivity_raw,
             (nsrc_anchor_ok + nh + 2) * 1.0 / (ns + nh + 2) AS anchor_raw
           FROM counts),
         res AS (
           SELECT conv_id,
             (max(CASE WHEN h = 0 THEN 1 ELSE 0 END) + max(CASE WHEN h = 1 THEN 1 ELSE 0 END)) / 2.0 AS issue_resolution_raw
           FROM o GROUP BY conv_id),
         vr AS (
           SELECT conv_id, count(*) FILTER (WHERE h <> 2) * 1.0 / count(*) AS validity_raw
           FROM o GROUP BY conv_id)
         SELECT v.conv_id,
           v.edge_validity,
           c.connectivity,
           floor(r.issue_resolution_raw * 10000.0 + 0.5) / 10000.0 AS issue_resolution,
           c.anchor_quality,
           floor((1.0 + vr.validity_raw * 3.0 + c.connectivity_raw * 3.0
                 + r.issue_resolution_raw * 2.0 + c.anchor_raw * 1.0) * 100.0 + 0.5) / 100.0 AS quality_score
         FROM validity v
         JOIN conn c ON v.conv_id = c.conv_id
         JOIN res r ON v.conv_id = r.conv_id
         JOIN vr ON v.conv_id = vr.conv_id
         ORDER BY v.conv_id""")),

    // --- C1/C2 cross-conversation canonicalization + edge rewire: the REAL
    //     Canonicalizer.canonicalTriples (precedent name↔citation keys →
    //     connected components → canonical min-key → both endpoint joins)
    //     over planted nodes/edges whose attributes are pure functions of
    //     (conv, id), so an independent SQL mirror can rebuild the mapping
    //     with recursive min-label CC and replay the rewrite ---
    Query("q57_canonical_rewrite", (s, dir) => {
      val names = Seq(
        "Maneka  Gandhi v. Union of India", "Kesavananda Bharati v. State of Kerala",
        "Olga Tellis v. Bombay Municipal Corporation", "A.K. Gopalan v. State of Madras")
      val cits = Seq(
        "AIR 1978 SC 597", "AIR 1973 SC 1461", "AIR  1986 SC 180",
        "AIR 1950 SC 27", "1973 (4) SCC 225", "1985 (3) SCC 545")
      val o = pq(s, dir, "orders")
        .select((col("o_custkey") % 20).cast("string").as("convId"),
          (col("o_orderkey") % 5).cast("int").as("pid"),
          (col("o_orderkey") % 3).cast("int").as("cid"))
      // attributes are functions of (convId, pid) alone → distinct = unique
      val nameIdx = (col("convId").cast("int") + col("pid")) % 8
      val citIdx = (col("convId").cast("int") * 2 + col("pid")) % 6
      val precNodes = o.select(col("convId"), concat(lit("p"), col("pid").cast("string")).as("id"),
          lit("precedent").as("nodeType"),
          when(nameIdx < 4, element_at(array(names.map(lit): _*), nameIdx.cast("int") + 1))
            .otherwise(lit(null).cast("string")).as("caseName"),
          element_at(array(cits.map(lit): _*), citIdx.cast("int") + 1).as("citation"),
          lit("air").as("citationType"),
          lit(null).cast("string").as("conceptId"))
        .distinct()
      val conNodes = o.select(col("convId"), concat(lit("c"), col("cid").cast("string")).as("id"),
          lit("concept").as("nodeType"),
          lit(null).cast("string").as("caseName"),
          lit(null).cast("string").as("citation"),
          lit(null).cast("string").as("citationType"),
          concat(lit("CONST_"), ((col("convId").cast("int") + col("cid")) % 4).cast("string")).as("conceptId"))
        .distinct()
      val edges = o.select(col("convId"),
        concat(lit("p"), col("pid").cast("string")).as("source"),
        concat(lit("c"), col("cid").cast("string")).as("target"),
        lit("follows").as("relation"))
      graft.kg.canonical.Canonicalizer
        .canonicalTriples(s, precNodes.union(conNodes), edges)
        .orderBy(col("conv_id"), col("subj"), col("obj"))
    }, oracle = Some(
      // independent replay of the canonicalization: rebuild the planted
      // precedent key rows, run min-label CC over the name↔citation
      // bipartite graph (plus citation self-edges) with the q17/q27 walk
      // pattern, take the lexicographic min key per component (what the
      // union-find emits), then replay BOTH endpoint joins of the edge
      // rewrite with the conv-local fallback
      """WITH RECURSIVE o AS (
           SELECT DISTINCT CAST(o_custkey % 20 AS VARCHAR) AS conv,
             CAST(o_orderkey % 5 AS INT) AS pid,
             CAST(o_orderkey % 3 AS INT) AS cid
           FROM orders),
         prec AS (
           SELECT DISTINCT conv, 'p' || CAST(pid AS VARCHAR) AS id,
             CASE WHEN (CAST(conv AS INT) + pid) % 8 < 4 THEN
               (['Maneka  Gandhi v. Union of India',
                 'Kesavananda Bharati v. State of Kerala',
                 'Olga Tellis v. Bombay Municipal Corporation',
                 'A.K. Gopalan v. State of Madras'])[CAST((CAST(conv AS INT) + pid) % 8 AS INT) + 1]
             ELSE NULL END AS case_name,
             (['AIR 1978 SC 597','AIR 1973 SC 1461','AIR  1986 SC 180',
               'AIR 1950 SC 27','1973 (4) SCC 225','1985 (3) SCC 545'])[CAST((CAST(conv AS INT)*2 + pid) % 6 AS INT) + 1] AS citation
           FROM o),
         keys AS (
           SELECT conv, id,
             CASE WHEN case_name IS NOT NULL THEN
               'case:' || lower(regexp_replace(trim(case_name), '\s+', ' ', 'g'))
             ELSE NULL END AS name_key,
             'cit:air:' || lower(regexp_replace(trim(citation), '\s+', ' ', 'g')) AS cit_key
           FROM prec),
         pairs AS (
           SELECT name_key AS src, cit_key AS dst FROM keys WHERE name_key IS NOT NULL
           UNION
           SELECT cit_key, name_key FROM keys WHERE name_key IS NOT NULL),
         allk AS (
           SELECT DISTINCT cit_key AS node FROM keys
           UNION SELECT DISTINCT name_key FROM keys WHERE name_key IS NOT NULL),
         walk(id, lbl) AS (
           SELECT node, node FROM allk
           UNION
           SELECT p.dst, w.lbl FROM walk w JOIN pairs p ON p.src = w.id),
         comp AS (SELECT id AS node, min(lbl) AS component FROM walk GROUP BY id),
         pmap AS (
           SELECT k.conv, k.id, coalesce(c.component, k.cit_key) AS canonical_id
           FROM keys k LEFT JOIN comp c ON c.node = k.cit_key),
         cmap AS (
           SELECT DISTINCT conv, 'c' || CAST(cid AS VARCHAR) AS id,
             'concept:CONST_' || CAST((CAST(conv AS INT) + cid) % 4 AS VARCHAR) AS canonical_id
           FROM o),
         mapping AS (SELECT * FROM pmap UNION ALL SELECT * FROM cmap),
         edges AS (
           SELECT CAST(o_custkey % 20 AS VARCHAR) AS conv,
             'p' || CAST(CAST(o_orderkey % 5 AS INT) AS VARCHAR) AS source,
             'c' || CAST(CAST(o_orderkey % 3 AS INT) AS VARCHAR) AS target
           FROM orders)
         SELECT e.conv AS conv_id,
           coalesce(sm.canonical_id, e.conv || '/' || e.source) AS subj,
           'follows' AS pred,
           coalesce(tm.canonical_id, e.conv || '/' || e.target) AS obj
         FROM edges e
         LEFT JOIN mapping sm ON sm.conv = e.conv AND sm.id = e.source
         LEFT JOIN mapping tm ON tm.conv = e.conv AND tm.id = e.target
         ORDER BY conv_id, subj, obj""")),

    // --- C3/W4 edge dedup winners: the REAL DocExtractor.dedupeEdges
    //     (group by (source, target, relation), keep max (confidenceRank,
    //     id), deterministic output order) over planted edge rows with
    //     colliding keys, rank ties, and an unknown confidence value ---
    Query("q63_edge_dedup", (s, dir) => {
      val confs = Seq("high", "medium", "low", "inferred", "bogus")
      val dedupU = udf((docId: Long) => {
        val rows = (0 until 6).map { j =>
          graft.kg.model.EdgeRow(
            convId = docId.toString,
            id = "e" + j,
            source = "f" + ((docId + j) % 2),
            target = "c" + (j % 2),
            relation = if ((docId + j) % 2 == 0) "supports" else "triggers",
            confidence = confs(((docId * 7 + j) % 5).toInt),
            strength = "strong", isCritical = false,
            supportGroupIds = Nil, explanation = null, anchor = null,
            method = "rule", repairNote = null)
        }
        graft.kg.extract.DocExtractor.dedupeEdges(rows)
          .map(e => s"${e.id}:${e.source}:${e.target}:${e.relation}:${e.confidence}")
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), posexplode(dedupU(col("doc_id"))).as(Seq("rk", "kept")))
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          split(col("kept"), ":").getItem(0).as("id"),
          split(col("kept"), ":").getItem(1).as("source"),
          split(col("kept"), ":").getItem(2).as("target"),
          split(col("kept"), ":").getItem(3).as("relation"),
          split(col("kept"), ":").getItem(4).as("confidence"))
        .orderBy(col("doc_id"), col("rk"))
    }, oracle = Some(
      // mirrors dedupeEdges: per (source, target, relation) keep the row
      // maximizing (confidence rank, id) — rank ties break on the LARGER
      // id, unknown confidence ranks 0 — then order by (s, t, rel, id)
      """WITH js AS (
           SELECT doc_id, unnest(generate_series(0, 5)) AS j FROM documents),
         rows_ AS (
           SELECT doc_id, j,
             'e' || CAST(j AS VARCHAR) AS id,
             'f' || CAST((doc_id + j) % 2 AS VARCHAR) AS source,
             'c' || CAST(j % 2 AS VARCHAR) AS target,
             CASE WHEN (doc_id + j) % 2 = 0 THEN 'supports' ELSE 'triggers' END AS relation,
             (['high','medium','low','inferred','bogus'])[CAST((doc_id*7 + j) % 5 AS INT) + 1] AS confidence
           FROM js),
         ranked AS (
           SELECT *,
             row_number() OVER (PARTITION BY doc_id, source, target, relation
               ORDER BY (CASE confidence WHEN 'high' THEN 4 WHEN 'medium' THEN 3
                 WHEN 'low' THEN 2 WHEN 'inferred' THEN 1 ELSE 0 END) DESC, id DESC) AS w
           FROM rows_),
         kept AS (
           SELECT doc_id, id, source, target, relation, confidence,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY source, target, relation, id) - 1 AS rk
           FROM ranked WHERE w = 1)
         SELECT doc_id, rk, id, source, target, relation, confidence
         FROM kept ORDER BY doc_id, rk""")),

    // --- V8/V9 graph validation: the REAL GraphAssembly.validateGraph over
    //     planted graphs exercising every check (endpoint existence,
    //     support-group existence/target match, confidence/anchor coherence,
    //     JS membership, duplicate ids, anchor sanity, outcome DETERMINES);
    //     warnings emitted unordered — the compare sorts rows, so only the
    //     exact strings and multiplicities must match ---
    Query("q64_graph_validate", (s, dir) => {
      val valU = udf((k: Long) => {
        import graft.kg.model._
        def node(id: String, nt: String, anchor: Anchor): Node = Node(
          convId = k.toString, id = id, nodeType = nt, text = "t",
          conceptId = null, kind = null, actor = null, factType = null,
          relevance = null, isRatio = false, resolvesIssue = null,
          disposition = null, caseName = null, citation = null,
          citationType = null, caseYear = null, confidence = "high",
          anchor = anchor, method = "rule")
        val f1Anchor =
          if (k % 2 == 0) {
            val st = (k % 3).toInt - 1
            Anchor("d", st, st + ((k / 3) % 2).toInt, "h", "0", "s")
          } else null
        val nodes = Vector(
          node("f1", "fact", f1Anchor), node("h1", "holding", null),
          node("o1", "outcome", null)) ++
          (if (k % 5 == 0) Vector(node("f1", "fact", null)) else Vector.empty)
        def edge(id: String, src: String, tgt: String, rel: String,
                 conf: String, sg: Seq[String]): EdgeRow = EdgeRow(
          convId = k.toString, id = id, source = src, target = tgt,
          relation = rel, confidence = conf, strength = "strong",
          isCritical = false, supportGroupIds = sg, explanation = null,
          anchor = null, method = "rule", repairNote = null)
        val confs = Seq("high", "medium", "low", "inferred")
        val e1 = edge("e1",
          if (k % 4 == 0) "zz" else "f1", "h1", "supports",
          confs((k % 4).toInt),
          (k % 3) match { case 0 => Seq("js1"); case 1 => Seq("jsX"); case _ => Nil })
        val e2 = edge("e2", "h1", "o1",
          if (k % 2 == 0) "determines" else "supports", "low", Nil)
        val edges = Vector(e1, e2) ++ (if (k % 7 == 0) Vector(e1) else Vector.empty)
        val js = Vector(JustificationSetRow(k.toString, "js1",
          if (k % 6 < 3) "h1" else "qq", "and", "L", isPrimary = false, "high"))
        graft.kg.extract.GraphAssembly.validateGraph(nodes, edges, js)
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(valU(col("doc_id"))).as("warning"))
        .orderBy(col("doc_id"), col("warning"))
    }, oracle = Some(
      // mirrors validateGraph check-for-check with the exact warning
      // strings; the e1 duplicate copy doubles its edge-loop warnings
      // (multiplicity expanded via generate_series), row order free (the
      // compare sorts)
      """WITH d AS (
           SELECT doc_id AS k, CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS m
           FROM documents),
         w AS (
           SELECT k, 'Edge e1: source ''zz'' not found' AS warning, m AS cnt
           FROM d WHERE k % 4 = 0
           UNION ALL
           SELECT k, 'Edge e1: target ''h1'' doesn''t match justification set ''js1'' target ''qq''', m
           FROM d WHERE k % 3 = 0 AND k % 6 >= 3
           UNION ALL
           SELECT k, 'Edge e1: support_group_id ''jsX'' not found', m
           FROM d WHERE k % 3 = 1
           UNION ALL
           SELECT k, 'Edge e1: HIGH/MEDIUM confidence requires anchor', m
           FROM d WHERE k % 4 IN (0, 1)
           UNION ALL
           SELECT k, 'Edge e1: INFERRED confidence requires explanation', m
           FROM d WHERE k % 4 = 3
           UNION ALL
           SELECT k, 'JustificationSet js1: target ''qq'' not found', 1
           FROM d WHERE k % 6 >= 3
           UNION ALL
           SELECT k, 'JustificationSet js1: no edges belong to this set', 1
           FROM d WHERE k % 3 <> 0
           UNION ALL
           SELECT k, 'Duplicate node ID: ''f1''', 1 FROM d WHERE k % 5 = 0
           UNION ALL
           SELECT k, 'Duplicate edge ID: ''e1''', 1 FROM d WHERE k % 7 = 0
           UNION ALL
           SELECT k, 'Node f1: anchor start_char < 0', 1
           FROM d WHERE k % 2 = 0 AND k % 3 = 0
           UNION ALL
           SELECT k, 'Node f1: anchor end_char <= start_char', 1
           FROM d WHERE k % 2 = 0 AND (k // 3) % 2 = 0
           UNION ALL
           SELECT k, 'Outcome exists but no DETERMINES edge points to it', 1
           FROM d WHERE k % 2 = 1),
         sel AS (
           SELECT k, warning, unnest(generate_series(1, cnt)) AS c FROM w)
         SELECT k AS doc_id, warning FROM sel ORDER BY doc_id, warning""")),

    // --- J7 orphan-repair candidate scoring (repair_orphans.py:36-91,
    //     454-543): planted (orphan, candidate) node pairs through the REAL
    //     OrphanRepair.candidateEdge — the same code path repair() runs per
    //     pair. Axes cycled by doc_id arithmetic: type-pair variant
    //     (doc_id%6) covering every type-specific bonus arm plus the
    //     reversed-matrix direction (concept←fact) and a no-matrix-entry
    //     pair (fact/precedent → None); planted keyword overlap 0..3
    //     (doc_id%4) with stopword/short/uppercase distractors the REAL
    //     tokenizer must drop; anchor proximity tier incl. null anchor
    //     ((doc_id/5)%5); bonus-field flag ((doc_id/7)%2); connected flag
    //     (doc_id%2). The mirror re-derives score = overlap + proximity +
    //     type bonus, gates at minScore=2.0 BEFORE the +0.5 connected
    //     bonus, and pins relation + direction per variant. ---
    Query("q73_repair_score", (s, dir) => {
      val scoreU = udf((docId: Long) => {
        import graft.kg.model.{Anchor, Node}
        val kbank = Array("alphaterm", "betaterm", "gammaterm", "deltaterm",
          "epsilonterm", "zetaterm", "thetaterm", "iotaterm")
        val v = (docId % 6).toInt
        val ov = (docId % 4).toInt
        val m = ((docId / 5) % 5).toInt
        val f = ((docId / 7) % 2).toInt == 1
        val connected = docId % 2 == 0
        // the uppercase-dup distractor must already be in that side's own
        // keyword set, or it would leak extra overlap: betaterm ∈ orphan
        // always, epsilonterm ∈ cand always (ov ≤ 3)
        val orphanText = kbank.take(4).mkString(" ") + " BETATERM the court act ab"
        val candWords = kbank.take(ov) ++ kbank.slice(4, 4 + (4 - ov))
        val candText = candWords.mkString(" ") + " EPSILONTERM the court act ab"
        val oAnchor = Anchor("d" + docId, 0, 200, "h", "0:0", "x")
        val cAnchor =
          if (m == 4) null
          else {
            val dist = Array(100, 500, 1500, 2500)(m)
            Anchor("d" + docId, dist, dist + 200, "h", "0:0", "x")
          }
        def mk(id: String, tpe: String, text: String, anchor: Anchor,
            courtFinding: String = null, treatment: String = null,
            resolvesIssue: String = null, claim: String = null): Node =
          Node(convId = "c" + docId, id = id, nodeType = tpe, text = text,
            conceptId = null, kind = null, actor = null, factType = null,
            relevance = null, isRatio = false, resolvesIssue = resolvesIssue,
            disposition = null, caseName = null, citation = null,
            citationType = null, caseYear = null, confidence = null,
            anchor = anchor, method = null, courtFinding = courtFinding,
            treatment = treatment, claim = claim)
        val (orphan, cand) = v match {
          case 0 =>
            val claim = (if (f) candWords.take(3) else candWords.take(1))
              .mkString(" ")
            (mk("o1", "argument", orphanText, oAnchor, claim = claim),
              mk("c1", "issue", candText, cAnchor))
          case 1 =>
            (mk("o1", "fact", orphanText, oAnchor,
              courtFinding = if (f) "accepted" else "rejected"),
              mk("c1", "holding", candText, cAnchor))
          case 2 =>
            (mk("o1", "precedent", orphanText, oAnchor,
              treatment = if (f) "followed" else "criticized"),
              mk("c1", "argument", candText, cAnchor))
          case 3 =>
            (mk("o1", "concept", orphanText, oAnchor),
              mk("c1", "holding", candText, cAnchor,
                resolvesIssue = if (f) "i1" else null))
          case 4 =>
            (mk("o1", "concept", orphanText, oAnchor),
              mk("c1", "fact", candText, cAnchor))
          case _ =>
            (mk("o1", "fact", orphanText, oAnchor),
              mk("c1", "precedent", candText, cAnchor))
        }
        graft.kg.extract.OrphanRepair.candidateEdge(orphan, cand, connected, 2.0)
          .map { case (score, rel, src, _) =>
            score.toString + "|" + rel + "|" +
              (if (src == orphan.id) "orphan" else "cand")
          }.orNull
      })
      pq(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 6).cast("int").as("variant"),
          (col("doc_id") % 4).cast("int").as("ov"),
          scoreU(col("doc_id")).as("r"))
        .select(col("doc_id"), col("variant"), col("ov"),
          split(col("r"), "\\|").getItem(0).cast("double").as("score"),
          split(col("r"), "\\|").getItem(1).as("relation"),
          split(col("r"), "\\|").getItem(2).as("src"))
        .orderBy(col("doc_id"))
    }, oracle = Some(
      // candidate-scoring mirror: planted overlap is closed-form (ov shared
      // keywords by construction; the distractor stop/short/uppercase tokens
      // must be dropped by the real tokenizer for the counts to match),
      // proximity tier from the planted anchor mids, type bonus per variant
      // gated on the (doc_id/7)%2 flag, minScore=2.0 gate applied BEFORE the
      // +0.5 connected bonus, relation + direction constants per variant
      // from the published default-relation table and matrix membership
      // (variant 4 is the reversed concept<-fact direction; variant 5 has no
      // matrix entry either way and must yield NULL).
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 6 AS INT) AS v,
             CAST(doc_id % 4 AS INT) AS ov,
             CAST((doc_id // 5) % 5 AS INT) AS m,
             CAST((doc_id // 7) % 2 AS INT) AS f,
             (doc_id % 2 = 0) AS conn
           FROM documents),
         b AS (
           SELECT doc_id, v, ov, conn,
             ov + [2.0, 1.0, 0.5, 0.0, 0.0][m + 1] +
             CASE WHEN f = 1 THEN
               CASE v WHEN 0 THEN 1.5 WHEN 1 THEN 1.0 WHEN 2 THEN 1.0
                      WHEN 3 THEN 0.5 ELSE 0.0 END
             ELSE 0.0 END AS base
           FROM t)
         SELECT doc_id, v AS variant, ov,
           CASE WHEN v <> 5 AND ov > 0 AND base >= 2.0
                THEN base + CASE WHEN conn THEN 0.5 ELSE 0.0 END
           END AS score,
           CASE WHEN v <> 5 AND ov > 0 AND base >= 2.0 THEN
             ['addresses', 'supports', 'supports', 'grounds', 'triggers'][v + 1]
           END AS relation,
           CASE WHEN v <> 5 AND ov > 0 AND base >= 2.0 THEN
             CASE WHEN v = 4 THEN 'cand' ELSE 'orphan' END
           END AS src
         FROM b ORDER BY doc_id""")),

    // --- G2 justification-set construction (extractor.py:4194-4276):
    //     planted holdings/edges/clusters through the REAL GraphAssembly
    //     .buildJustificationSets + pickCluster. Axes by doc_id arithmetic:
    //     support-edge count 0..2 (doc_id%3; the 2-edge case mixes supports
    //     + grounds), undercut present ((doc_id/3)%2 — a defeater JS must
    //     only appear when support ALSO exists), cluster-pick variant
    //     ((doc_id/6)%4: requires-wins, size-wins, tie-keeps-first,
    //     no-clusters), cluster logic and/or/unknown-coerced ((doc_id/24)%3).
    //     Distractor edges (non-support relation on h1; supports onto a
    //     non-holding target) must be excluded. h2 always carries one
    //     support edge, so the js{n} counter sequencing across holdings is
    //     pinned, as are each set's member-edge lists. ---
    Query("q74_justification_sets", (s, dir) => {
      val jsU = udf((docId: Long) => {
        import graft.kg.model.EdgeRow
        import graft.kg.extract.GraphAssembly
        val sN = (docId % 3).toInt
        val u = ((docId / 3) % 2).toInt == 1
        val cv = ((docId / 6) % 4).toInt
        val logic = Vector("and", "or", "xor")(((docId / 24) % 3).toInt)
        def edge(id: String, src: String, tgt: String, rel: String): EdgeRow =
          EdgeRow(convId = docId.toString, id = id, source = src,
            target = tgt, relation = rel, confidence = "high",
            strength = "strong", isCritical = false, supportGroupIds = Nil,
            explanation = null, anchor = null, method = "rule",
            repairNote = null)
        val edges = Vector(
          Option.when(sN >= 1)(edge("es1", "f1", "h1", "supports")),
          Option.when(sN == 2)(edge("es2", "c1", "h1", "grounds")),
          Option.when(u)(edge("eu1", "a1", "h1", "undercuts")),
          Some(edge("eh2", "f2", "h2", "supports")),
          Some(edge("ex1", "f1", "h1", "interprets")),
          Some(edge("ex2", "f1", "i1", "supports"))).flatten
        val info = Map(
          "ca" -> GraphAssembly.ClusterPick(hasRequires = cv != 0,
            sizeFcp = Vector(2, 2, 3, 0)(cv), logic = logic, label = "Alpha"),
          "cb" -> GraphAssembly.ClusterPick(hasRequires = true,
            sizeFcp = Vector(1, 5, 3, 0)(cv), logic = logic, label = "Beta"))
        val hc: Map[String, List[String]] =
          if (cv == 3) Map.empty else Map("h1" -> List("ca", "cb"))
        val (rows, byEdge) = GraphAssembly.buildJustificationSets(
          docId.toString, Seq("h1", "h2"), edges, hc, info)
        rows.map { r =>
          val members = byEdge.collect {
            case (eid, jss) if jss.contains(r.id) => eid
          }.toList.sorted.mkString(",")
          Seq(r.id, r.targetId, r.logic,
            Option(r.label).getOrElse("<null>"), r.isPrimary.toString,
            r.confidence, members).mkString("|")
        }
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(jsU(col("doc_id"))).as("r"))
        .select(col("doc_id"),
          split(col("r"), "\\|").getItem(0).as("js_id"),
          split(col("r"), "\\|").getItem(1).as("target"),
          split(col("r"), "\\|").getItem(2).as("logic"),
          when(split(col("r"), "\\|").getItem(3) === "<null>", lit(null))
            .otherwise(split(col("r"), "\\|").getItem(3)).as("label"),
          split(col("r"), "\\|").getItem(4).cast("boolean").as("is_primary"),
          split(col("r"), "\\|").getItem(5).as("confidence"),
          split(col("r"), "\\|").getItem(6).as("members"))
        .orderBy(col("doc_id"), col("js_id"))
    }, oracle = Some(
      // JS-builder mirror: per doc up to three sets. h1's primary exists
      // only with support edges; its logic/label come from the picked
      // cluster (requires-wins / size-wins / tie-keeps-first / none), with
      // unknown logic coerced to 'and'; the defeater set requires support
      // AND undercut, is always 'or'/medium/non-primary, and labels off the
      // primary's label (falling back to the holding id). h2's primary
      // takes the next js counter value, which depends on how many sets h1
      // emitted. Member lists are closed-form from the planted edge ids.
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 3 AS INT) AS s,
             CAST((doc_id // 3) % 2 AS INT) AS u,
             CAST((doc_id // 6) % 4 AS INT) AS cv,
             CAST((doc_id // 24) % 3 AS INT) AS lg
           FROM documents),
         l AS (
           SELECT *,
             CASE WHEN cv < 3 THEN
               (CASE WHEN cv = 2 THEN 'Alpha' ELSE 'Beta' END) || ' support'
             END AS plabel,
             CASE WHEN cv < 3 AND lg = 1 THEN 'or' ELSE 'and' END AS plogic
           FROM t)
         SELECT doc_id, 'js1' AS js_id, 'h1' AS target, plogic AS logic,
                plabel AS label, TRUE AS is_primary, 'high' AS confidence,
                CASE WHEN s = 2 THEN 'es1,es2' ELSE 'es1' END AS members
           FROM l WHERE s > 0
         UNION ALL
         SELECT doc_id, 'js2', 'h1', 'or',
                coalesce(plabel, 'h1') || ' defeaters', FALSE, 'medium', 'eu1'
           FROM l WHERE s > 0 AND u = 1
         UNION ALL
         SELECT doc_id,
                'js' || CAST(1 + CASE WHEN s > 0 THEN 1 ELSE 0 END
                  + CASE WHEN s > 0 AND u = 1 THEN 1 ELSE 0 END AS VARCHAR),
                'h2', 'and', NULL, TRUE, 'high', 'eh2'
           FROM l
         ORDER BY doc_id, js_id""")),

    // --- P7 cluster gate + G1 intra-cluster fan-out: the REAL DocExtractor
    //     .clusterEdgePlan (extract() calls the same function per live
    //     cluster) over planted member sets. Axes: holding/issue presence
    //     (doc_id%2, (doc_id/2)%2 — holdings shadow issues and flip every
    //     relation), fact count 0..2 ((doc_id/4)%3, planted UNSORTED),
    //     concept ((doc_id/12)%2), argument count 0..2 ((doc_id/24)%3, the
    //     >=2-arguments gate arm), precedent ((doc_id/72)%2). The >=2-total
    //     gate, the argument-only-gate-no-target case (gate passes, zero
    //     edges), and the e_<sha1(cid)[:8]>_<n> id scheme (cid cycles 4
    //     values; tags are independent hashlib constants in the mirror) are
    //     all pinned. ---
    Query("q75_cluster_edges", (s, dir) => {
      val planU = udf((docId: Long) => {
        val nh = (docId % 2).toInt
        val ni = ((docId / 2) % 2).toInt
        val nf = ((docId / 4) % 3).toInt
        val nc = ((docId / 12) % 2).toInt
        val na = ((docId / 24) % 3).toInt
        val np = ((docId / 72) % 2).toInt
        val members: Map[String, Seq[String]] = Map(
          "holding" -> (if (nh == 1) Seq("h1") else Nil),
          "issue" -> (if (ni == 1) Seq("i1") else Nil),
          "fact" -> Seq("f2", "f1").take(nf),
          "concept" -> (if (nc == 1) Seq("c1") else Nil),
          "argument" -> Seq("a2", "a1").take(na),
          "precedent" -> (if (np == 1) Seq("p1") else Nil))
        val tag = graft.kg.text.Normalize.sha1Hex8("cl" + (docId % 4))
        graft.kg.extract.DocExtractor.clusterEdgePlan(members(_))
          .zipWithIndex.map { case ((src, tgt, rel), i) =>
            s"e_${tag}_${i + 1}|$src|$tgt|$rel"
          }
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), posexplode(planU(col("doc_id"))).as(Seq("i", "r")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("seq"),
          split(col("r"), "\\|").getItem(0).as("edge_id"),
          split(col("r"), "\\|").getItem(1).as("src"),
          split(col("r"), "\\|").getItem(2).as("tgt"),
          split(col("r"), "\\|").getItem(3).as("rel"))
        .orderBy(col("doc_id"), col("seq"))
    }, oracle = Some(
      // gate + fan-out mirror: candidate member rows carry their emission
      // rank and presence threshold (f2/a2 plant before f1/a1, so singleton
      // counts keep the LATER id — the sort the operator must apply);
      // relations flip wholesale between the holding and issue branches;
      // the e_<tag>_<n> ids use independently computed hashlib sha1[:8]
      // constants for the four planted cluster ids.
      """WITH t AS (
           SELECT doc_id,
             CAST(doc_id % 2 AS INT) AS nh,
             CAST((doc_id // 2) % 2 AS INT) AS ni,
             CAST((doc_id // 4) % 3 AS INT) AS nf,
             CAST((doc_id // 12) % 2 AS INT) AS nc,
             CAST((doc_id // 24) % 3 AS INT) AS na,
             CAST((doc_id // 72) % 2 AS INT) AS np,
             ['f548dfc3', '66150d55', '24a99267', '99342126']
               [CAST(doc_id % 4 AS INT) + 1] AS tag
           FROM documents),
         g AS (
           SELECT * FROM t
           WHERE nh + ni + nf + nc + na + np >= 2
             AND (nh = 1 OR ni = 1 OR na >= 2)
             AND (nh = 1 OR ni = 1)),
         cand AS (
           SELECT * FROM (VALUES
             (1, 'f1', 'f', 2), (2, 'f2', 'f', 1), (3, 'c1', 'c', 1),
             (4, 'a1', 'a', 2), (5, 'a2', 'a', 1), (6, 'p1', 'p', 1))
             AS v(rk, src, typ, minn)),
         e AS (
           SELECT g.doc_id, g.tag, c.rk, c.src,
             CASE WHEN g.nh = 1 THEN 'h1' ELSE 'i1' END AS tgt,
             CASE WHEN g.nh = 1 THEN
               CASE WHEN c.typ = 'c' THEN 'grounds' ELSE 'supports' END
             ELSE
               CASE WHEN c.typ = 'f' THEN 'triggers' ELSE 'addresses' END
             END AS rel
           FROM g JOIN cand c ON
             (c.typ = 'f' AND g.nf >= c.minn) OR
             (c.typ = 'c' AND g.nc >= c.minn) OR
             (c.typ = 'a' AND g.na >= c.minn) OR
             (c.typ = 'p' AND g.np >= c.minn))
         SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY rk) AS seq,
           'e_' || tag || '_' || CAST(row_number() OVER
             (PARTITION BY doc_id ORDER BY rk) AS VARCHAR) AS edge_id,
           src, tgt, rel
         FROM e ORDER BY doc_id, seq""")),

    // --- G3/C4 reasoning-chain synthesis (extractor.py:4290-4369): the
    //     REAL GraphAssembly.buildChains over five planted topologies
    //     (doc_id%5): straight fan-in with a critical edge and an untracked
    //     precedent source; multi-level BFS where a node is reached twice
    //     (first-seen dedup = C4, edge-list traversal order); structural
    //     determines-edge skip + a cycle back to the visited holding (the
    //     cycle EDGE is still recorded); two issues x three holdings where
    //     the unresolved holding emits no chain and a missing primaryJsFor
    //     entry yields null; an edgeless chain. Every expected list — in
    //     BFS emission order, dedup preserving first occurrence — plus the
    //     exact narrative string is hand-derived from the reference
    //     algorithm and pinned as per-variant constants in the mirror. ---
    Query("q76_reasoning_chains", (s, dir) => {
      val chainU = udf((docId: Long) => {
        import graft.kg.model.EdgeRow
        val v = (docId % 5).toInt
        def edge(id: String, src: String, tgt: String, rel: String,
            critical: Boolean = false): EdgeRow =
          EdgeRow(convId = docId.toString, id = id, source = src,
            target = tgt, relation = rel, confidence = "high",
            strength = "strong", isCritical = critical,
            supportGroupIds = Nil, explanation = null, anchor = null,
            method = "rule", repairNote = null)
        val types = Map("f1" -> "fact", "f2" -> "fact", "c1" -> "concept",
          "a1" -> "argument", "p1" -> "precedent", "h1" -> "holding",
          "h2" -> "holding", "h3" -> "holding", "i1" -> "issue",
          "i2" -> "issue")
        val (issues, holdings, edges, pjs) = v match {
          case 0 => (Seq("i1"), Seq("h1" -> "i1"), Vector(
            edge("e1", "f1", "h1", "supports", critical = true),
            edge("e2", "c1", "h1", "grounds"),
            edge("e3", "a1", "h1", "supports"),
            edge("e4", "p1", "h1", "supports")), Map("h1" -> "jsA"))
          case 1 => (Seq("i1"), Seq("h1" -> "i1"), Vector(
            edge("e1", "a1", "h1", "supports"),
            edge("e3", "f1", "h1", "supports"),
            edge("e2", "f1", "a1", "supports")), Map("h1" -> "jsA"))
          case 2 => (Seq("i1"), Seq("h1" -> "i1"), Vector(
            edge("e1", "c1", "h1", "determines"),
            edge("e2", "f1", "h1", "triggers"),
            edge("e3", "h1", "f1", "interprets")), Map("h1" -> "jsA"))
          case 3 => (Seq("i1", "i2"),
            Seq("h1" -> "i1", "h2" -> "i2", "h3" -> "i9"), Vector(
              edge("e1", "f1", "h1", "supports"),
              edge("e2", "c1", "h2", "grounds")), Map("h1" -> "js1"))
          case _ => (Seq("i1"), Seq("h1" -> "i1"),
            Vector.empty[EdgeRow], Map.empty[String, String])
        }
        graft.kg.extract.GraphAssembly
          .buildChains(docId.toString, issues, holdings, edges, pjs, types)
          .map(c => Seq(c.id, c.issueId, c.holdingId,
            c.factIds.mkString(","), c.conceptIds.mkString(","),
            c.argumentIds.mkString(","), c.edgeIds.mkString(","),
            Option(c.justificationSetId).getOrElse("<null>"),
            c.criticalNodes.mkString(","), c.narrative).mkString("|"))
      })
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(chainU(col("doc_id"))).as("r"))
        .select(col("doc_id"),
          split(col("r"), "\\|").getItem(0).as("chain_id"),
          split(col("r"), "\\|").getItem(1).as("issue_id"),
          split(col("r"), "\\|").getItem(2).as("holding_id"),
          split(col("r"), "\\|").getItem(3).as("facts"),
          split(col("r"), "\\|").getItem(4).as("concepts"),
          split(col("r"), "\\|").getItem(5).as("arguments"),
          split(col("r"), "\\|").getItem(6).as("edge_ids"),
          when(split(col("r"), "\\|").getItem(7) === "<null>", lit(null))
            .otherwise(split(col("r"), "\\|").getItem(7)).as("primary_js"),
          split(col("r"), "\\|").getItem(8).as("critical"),
          split(col("r"), "\\|").getItem(9).as("narrative"))
        .orderBy(col("doc_id"), col("chain_id"))
    }, oracle = Some(
      // chain mirror: expected lists/narratives hand-derived from the
      // reference BFS (in-edges in edge-list order, structural relations
      // skipped but cycle edges recorded, first-seen dedup, critical =
      // sources of is_critical edges) and pinned per planted topology
      // variant. v3 emits two chains (the i9-resolving holding none);
      // a missing primaryJsFor entry is NULL, empty lists are ''.
      """WITH t AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS v FROM documents)
         SELECT doc_id, 'rc_i1_h1' AS chain_id, 'i1' AS issue_id,
                'h1' AS holding_id, 'f1' AS facts, 'c1' AS concepts,
                'a1' AS arguments, 'e1,e2,e3,e4' AS edge_ids,
                'jsA' AS primary_js, 'f1' AS critical,
                'Issue i1 resolved by holding h1. Facts: f1. Concepts: c1. Arguments: a1.' AS narrative
           FROM t WHERE v = 0
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', 'f1', '', 'a1', 'e1,e3,e2',
                'jsA', '',
                'Issue i1 resolved by holding h1. Facts: f1. Arguments: a1.'
           FROM t WHERE v = 1
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', 'f1', '', '', 'e2,e3',
                'jsA', '',
                'Issue i1 resolved by holding h1. Facts: f1.'
           FROM t WHERE v = 2
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', 'f1', '', '', 'e1',
                'js1', '',
                'Issue i1 resolved by holding h1. Facts: f1.'
           FROM t WHERE v = 3
         UNION ALL
         SELECT doc_id, 'rc_i2_h2', 'i2', 'h2', '', 'c1', '', 'e2',
                NULL, '',
                'Issue i2 resolved by holding h2. Concepts: c1.'
           FROM t WHERE v = 3
         UNION ALL
         SELECT doc_id, 'rc_i1_h1', 'i1', 'h1', '', '', '', '', NULL, '',
                'Issue i1 resolved by holding h1.'
           FROM t WHERE v = 4
         ORDER BY doc_id, chain_id""")),

    // --- G9 full repair-engine loop (repair_orphans.py:324-641): the REAL
    //     OrphanRepair.repair over a planted 3-orphan graph wired so the
    //     loop's stateful semantics are all load-bearing: a1's repair to i9
    //     GROWS the connected set (c2/i9 then earn the +0.5 bonus), a1's
    //     runner-up (3.0 < 3.5) stops at one edge, c2 hits the 2-edge cap,
    //     i9's two best candidates are SKIPPED as already-connected pairs
    //     (skip, not stop — its third candidate still lands), warnings count
    //     per orphan. Axes: a1-i9 anchor distance cycles the proximity tier
    //     (doc_id%3 — flips edge 1's strength moderate stays, score text
    //     changes), and doc_id%2 plants the existing edge under the id
    //     e_repair_1 so the counter's skip-existing-ids loop is exercised.
    //     The mirror pins every edge (id, endpoints, relation, strength,
    //     exact explanation string) and warning as hand-derived constants. ---
    Query("q77_repair_engine", (s, dir) => {
      val repU = udf((docId: Long) => {
        import graft.kg.model.{Anchor, EdgeRow, Node}
        val m = (docId % 3).toInt
        val f = (docId % 2).toInt
        def mk(id: String, tpe: String, text: String, anchor: Anchor): Node =
          Node(convId = docId.toString, id = id, nodeType = tpe, text = text,
            conceptId = null, kind = null, actor = null, factType = null,
            relevance = null, isRatio = false, resolvesIssue = null,
            disposition = null, caseName = null, citation = null,
            citationType = null, caseYear = null, confidence = null,
            anchor = anchor, method = null)
        val iStart = Vector(100, 600, 1800)(m)
        val nodes = Vector(
          mk("a1", "argument", "alphaterm betaterm gammaterm deltaterm",
            Anchor("d" + docId, 0, 200, "h", "0:0", "x")),
          mk("c2", "concept", "alphaterm betaterm gammaterm extraword", null),
          mk("h8", "holding", "alphaterm betaterm fillerword stuffword",
            Anchor("d" + docId, 9000, 9200, "h", "0:0", "x")),
          mk("i9", "issue", "alphaterm betaterm gammaterm zetaword",
            Anchor("d" + docId, iStart, iStart + 200, "h", "0:0", "x")),
          mk("o1", "outcome", "disposition text here", null))
        val e0 = EdgeRow(docId.toString,
          if (f == 1) "e_repair_1" else "e0", "h8", "o1", "determines",
          "high", "strong", isCritical = false, supportGroupIds = Nil,
          explanation = null, anchor = null, method = "rule",
          repairNote = null)
        val (all, warnings) =
          graft.kg.extract.OrphanRepair.repair(nodes, Vector(e0))
        val added = all.filter(_.id != e0.id)
          .sortBy(_.id.stripPrefix("e_repair_").toInt)
        added.zipWithIndex.map { case (e, i) =>
          Seq("edge", (i + 1).toString, e.id, e.source, e.target, e.relation,
            e.strength, e.explanation).mkString("|")
        } ++ warnings.zipWithIndex.map { case (w, i) =>
          Seq("warn", (i + 101).toString, "<null>", "<null>", "<null>",
            "<null>", "<null>", w).mkString("|")
        }
      })
      def ns(c: org.apache.spark.sql.Column) =
        when(c === "<null>", lit(null)).otherwise(c)
      pq(s, dir, "documents")
        .select(col("doc_id"), explode(repU(col("doc_id"))).as("r"))
        .select(col("doc_id"),
          split(col("r"), "\\|").getItem(0).as("kind"),
          split(col("r"), "\\|").getItem(1).cast("long").as("seq"),
          ns(split(col("r"), "\\|").getItem(2)).as("edge_id"),
          ns(split(col("r"), "\\|").getItem(3)).as("source"),
          ns(split(col("r"), "\\|").getItem(4)).as("target"),
          ns(split(col("r"), "\\|").getItem(5)).as("relation"),
          ns(split(col("r"), "\\|").getItem(6)).as("strength"),
          split(col("r"), "\\|").getItem(7).as("explanation"))
        .orderBy(col("doc_id"), col("kind"), col("seq"))
    }, oracle = Some(
      // full-loop mirror: hand-derived constants. Edge 1 = a1->i9 (overlap 3
      // + proximity tier by m + claim bonus 1.5; the 3.0-scoring runner-up
      // is cut by the 3.5 threshold); edges 2-3 = c2's two repairs, both
      // 3.5 = overlap 3 + the +0.5 bonus EARNED BY a1's repair connecting
      // a1/i9 (gate passes on 3.0 before the bonus); edge 4 = i9->h8 2.5
      // after its two better candidates are skipped as already-connected
      // pairs. Ids shift by one when the planted existing edge occupies
      // e_repair_1 (the counter's skip loop). Exact explanation strings
      // (%.1f score + id-derived type names) and per-orphan warnings pinned.
      """WITH t AS (SELECT doc_id,
             CAST(doc_id % 3 AS INT) AS m,
             CAST(doc_id % 2 AS INT) AS f
           FROM documents)
         SELECT doc_id, 'edge' AS kind, CAST(1 AS BIGINT) AS seq,
                'e_repair_' || CAST(1 + f AS VARCHAR) AS edge_id,
                'a1' AS source, 'i9' AS target, 'addresses' AS relation,
                'moderate' AS strength,
                'Orphan repair: score=' || ['6.5', '5.5', '5.0'][m + 1] ||
                  ', argument->issue' AS explanation
           FROM t
         UNION ALL
         SELECT doc_id, 'edge', 2, 'e_repair_' || CAST(2 + f AS VARCHAR),
                'c2', 'a1', 'supports', 'weak',
                'Orphan repair: score=3.5, concept->argument' FROM t
         UNION ALL
         SELECT doc_id, 'edge', 3, 'e_repair_' || CAST(3 + f AS VARCHAR),
                'c2', 'i9', 'addresses', 'weak',
                'Orphan repair: score=3.5, concept->issue' FROM t
         UNION ALL
         SELECT doc_id, 'edge', 4, 'e_repair_' || CAST(4 + f AS VARCHAR),
                'i9', 'h8', 'addresses', 'weak',
                'Orphan repair: score=2.5, issue->holding' FROM t
         UNION ALL
         SELECT doc_id, 'warn', 101, NULL, NULL, NULL, NULL, NULL,
                'orphan a1 repaired with 1 edge(s)' FROM t
         UNION ALL
         SELECT doc_id, 'warn', 102, NULL, NULL, NULL, NULL, NULL,
                'orphan c2 repaired with 2 edge(s)' FROM t
         UNION ALL
         SELECT doc_id, 'warn', 103, NULL, NULL, NULL, NULL, NULL,
                'orphan i9 repaired with 1 edge(s)' FROM t
         ORDER BY doc_id, kind, seq"""))
  )
}
