package graft
package queries

import graft.kg.gen.TranscriptGen
import graft.kg.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Query.pq

/** KG pipeline family: NO DuckDB oracle is feasible for any kg_* query, by
  * construction — the driver's oracle can only read the sf-dir parquet
  * tables, while every kg_* query consumes the DETERMINISTICALLY GENERATED
  * transcripts table (TranscriptGen, derived from the sf dir's document
  * count) and runs the rule-based extraction grammar on it. The GENERATOR
  * itself is SQL-replayable and oracled turn-for-turn (q89); the EXTRACTION
  * grammar (DFA mention scan, clustering argmaxes, repair loop) is what SQL
  * cannot replay. Compensating evidence: the dual-engine check in Verify
  * recomputes ALL 12 kg_* projections with the pure-JVM extractor
  * (DUAL_ENGINE.json); ReferenceParitySpec replays chains / justification
  * sets / support groups / tiers over ALL published reference graphs and
  * orphan repair edge-for-edge vs the published script; the full ScalaTest
  * suite covers each query's operator. */
private[graft] object KgQueries {

  /** Deterministic transcripts table derived only from the sf dir's document
    * count (scale-proportional, no external data). */
  private def transcripts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nDocs = pq(s, dir, "documents").count()
    val nConvs = math.max(20, (nDocs / 5).toInt)
    TranscriptGen.turns(nConvs, 14).toDF()
  }

  /** Extraction memo, keyed per (live session, sf dir): the 12 kg_* queries
    * all consume the same extracted corpus, and the reference's own design
    * materializes once and queries many (run_iltur.py checkpoint → eval
    * scripts read the files). Re-running the extraction per query would pay
    * ~12 redundant extraction jobs in a Verify/Bench sweep, so the ConvGraph
    * dataset is extracted ONCE per (session, dir) and persisted; every kg_*
    * query is a projection of the cached corpus. Keyed on the session OBJECT
    * (IdentityHashMap — identityHashCode alone can collide across sessions),
    * with stopped sessions evicted on every lookup so a long-lived Bench JVM
    * that cycles many sessions neither reuses stale persisted plans nor
    * accumulates dead entries. */
  private val kgMemo =
    new java.util.IdentityHashMap[SparkSession, scala.collection.mutable.Map[String, (org.apache.spark.sql.Dataset[graft.kg.model.ConvGraph], DataFrame)]]()

  private def kgMemoEntry(s: SparkSession, dir: String): (org.apache.spark.sql.Dataset[graft.kg.model.ConvGraph], DataFrame) =
    kgMemo.synchronized {
      val it = kgMemo.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      var m = kgMemo.get(s)
      if (m == null) { m = scala.collection.mutable.Map.empty; kgMemo.put(s, m) }
      m.getOrElseUpdate(dir, {
        val g = KgPipeline.graphs(s, transcripts(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // columnar tagged-union projection of the SAME cached corpus: every
        // relational kg_* query reads only its branch's struct column from
        // this cache instead of paying a full ConvGraph object decode per
        // projection per rep (kg_json_export alone still consumes the graph
        // objects). Queries remain projections of the extract-once memo.
        val u = KgPipeline.allTables(g).toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (g, u)
      })
    }

  private[graft] def kgGraphs(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.kg.model.ConvGraph] =
    kgMemoEntry(s, dir)._1

  private def kgBranch(s: SparkSession, dir: String, branch: String): DataFrame =
    KgPipeline.branch(kgMemoEntry(s, dir)._2, branch)

  private def kgNodes(s: SparkSession, dir: String): DataFrame =
    kgBranch(s, dir, "node")
  private def kgEdges(s: SparkSession, dir: String): DataFrame =
    kgBranch(s, dir, "edge")

  val all: Seq[Query] = Seq(
    Query("kg_linearize", (s, dir) => {
      graft.kg.query.Retrieval.linearizeStable(kgNodes(s, dir))
        .orderBy(col("conv_id"))
    }),
    Query("kg_conceptset_retrieval", (s, dir) => {
      graft.kg.query.Retrieval.conceptSetScores(s, kgNodes(s, dir),
        Seq("DOCTRINE_NATURAL_JUSTICE_AUDI_ALTERAM_PARTEM",
          "DOCTRINE_PROPORTIONALITY_TEST", "MANIFEST_ARBITRARINESS"))
        .orderBy(col("query_cid"), col("conv_id"))
    }),
    Query("kg_holding_support", (s, dir) => {
      // array columns stringified (sorted upstream) — the driver's pandas
      // comparator cannot sort_values on numpy arrays
      graft.kg.query.GraphOps.holdingSupport(
        kgNodes(s, dir),
        kgEdges(s, dir),
        kgBranch(s, dir, "js"))
        .select(col("conv_id"), col("holding_id"),
          concat_ws(",", col("grounding_concepts")).as("grounding_concepts"),
          concat_ws(",", col("supporting_facts")).as("supporting_facts"),
          concat_ws(",", coalesce(col("justification_sets"),
            array().cast("array<string>"))).as("justification_sets"))
        .orderBy(col("conv_id"), col("holding_id"))
    }),
    Query("kg_triples", (s, dir) => {
      // same projection as KgPipeline.triples, over the columnar edge branch
      kgEdges(s, dir).select(
        col("convId").as("conv_id"), col("source").as("subj"),
        col("relation").as("pred"), col("target").as("obj"))
        .orderBy(col("conv_id"), col("subj"), col("pred"), col("obj"))
    }),
    Query("kg_relation_histogram", (s, dir) => {
      kgEdges(s, dir)
        .groupBy(col("relation")).agg(count(lit(1)).as("n"))
        .orderBy(col("relation"))
    }),
    Query("kg_node_histogram", (s, dir) => {
      kgNodes(s, dir)
        .groupBy(col("nodeType")).agg(count(lit(1)).as("n"))
        .orderBy(col("nodeType"))
    }),
    Query("kg_tier_histogram", (s, dir) => {
      // same shape as KgPipeline.tierHistogram, over the summary branch
      kgBranch(s, dir, "summary")
        .groupBy(col("qualityTier")).count().orderBy(col("qualityTier"))
    }),
    // --- cross-conversation canonicalization (union-find over candidate
    //     name↔citation match edges; C1 lifted to corpus scale) ---
    Query("kg_canonical_triples", (s, dir) => {
      graft.kg.canonical.Canonicalizer.canonicalTriples(s, kgNodes(s, dir), kgEdges(s, dir))
        .orderBy(col("conv_id"), col("subj"), col("pred"), col("obj"))
    }),
    Query("kg_entity_stats", (s, dir) => {
      graft.kg.canonical.Canonicalizer.entityStats(s, kgNodes(s, dir))
        .orderBy(col("canonical_id"))
    }),
    Query("kg_quality_scores", (s, dir) => {
      graft.kg.query.GraphQuality.score(kgNodes(s, dir), kgEdges(s, dir))
        .orderBy(col("conv_id"))
    }),
    // --- S5 per-case artifact export in the reference's JSON format ---
    Query("kg_json_export", (s, dir) => {
      graft.kg.io.GraphJsonWriter.corpus(s, kgGraphs(s, dir))
        .orderBy(col("case_id"))
    }),
    Query("kg_orphans", (s, dir) => {
      KgPipeline.orphans(kgNodes(s, dir), kgEdges(s, dir))
        .groupBy(col("nodeType")).count().orderBy(col("nodeType"))
    })
  )
}
