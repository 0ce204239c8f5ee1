package graft

import graft.kg.pipeline.KgPipeline
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), with a DuckDB oracle for every SQL-expressible one.
  *
  * Conventions keeping the driver's sorted-column value-hash compare stable
  * across Spark and DuckDB: lowercase snake_case aliases in BOTH engines,
  * doubles rounded (4-6 dp) after aggregation, no raw timestamps in output
  * (formatted strings instead), and deterministic tie-breaks everywhere.
  *
  * Each query is registered exactly once, as a `Query` (name, Spark build,
  * oracle SQL, grade) in its family object under `graft.queries`; the three
  * maps below are views of that one registry, so their key sets agree by
  * construction.
  */
object SparkEntry {

  private val registry: Map[String, Query] = Query.index(
    RelationalQueries.all ++ DedupQueries.all ++ TextRuleQueries.all ++
      GraphQueries.all ++ EvalQueries.all ++ StreamingQueries.all ++ KgQueries.all)

  /** Flagship query on sf=0.001: full extract → triples. */
  def entry(spark: SparkSession): DataFrame = {
    val g = KgQueries.kgGraphs(spark, "/root/testdata/sf0.001")
    KgPipeline.triples(KgPipeline.edges(g))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  val oracleSql: Map[String, String] =
    registry.flatMap { case (name, q) => q.oracle.map(name -> _) }

  /** Oracle evidence grade per oracleSql entry (see [[graft.queries.Query]]). */
  val oracleGrade: Map[String, String] =
    registry.flatMap { case (name, q) => q.grade.map(name -> _) }
}
