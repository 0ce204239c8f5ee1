package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract registration: the query's name, its Spark build over
  * an sf dir, and its DuckDB oracle when one is feasible (every non-kg_*
  * query). The oracle is a raw `"""…"""` literal without `stripMargin`, so
  * the leading whitespace of each continuation line is part of the SQL —
  * re-indenting a literal changes the oracle.
  *
  * The build stays a closure: no DataFrame or udf may be created when a
  * family object initializes.
  *
  * Oracle evidence grade (round-6 VERDICT "Next round" #5), one of two:
  *  - "closed-form SQL mirror" (the default): the DuckDB SQL re-derives the
  *    expected values itself — relationally over the parquet inputs, or by
  *    replaying the planted-input formula / topology inline (literal
  *    constants, where present, are hand-derived from the planted
  *    construction, independent of both engines — e.g. q76/q77).
  *  - "published-script replay pin" (`replayPin = true`): the SQL compares
  *    against constants produced by executing the PUBLISHED reference
  *    script's own functions (or a documented independent replica, q79)
  *    offline — scripts/gen_*_oracle.py. Engine-independent by
  *    construction, but a replay pin rather than an in-SQL re-derivation.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    replayPin: Boolean = false) {

  def grade: Option[String] =
    oracle.map(_ => if (replayPin) "published-script replay pin" else "closed-form SQL mirror")
}

object Query {

  /** Index registrations by name. A duplicate name fails here instead of
    * one registration silently replacing the other. */
  def index(all: Seq[Query]): Map[String, Query] = {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query registrations: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }

  private[graft] def pq(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")
}
