package graft

import graft.queries.Query
import org.scalatest.funsuite.AnyFunSuite

/** Contract checks on the driver-facing SparkEntry surface that need no
  * SparkSession. */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracleSql entry has exactly one oracleGrade line and vice versa") {
    assert(SparkEntry.oracleGrade.keySet == SparkEntry.oracleSql.keySet,
      "grade/oracle key sets differ: " +
        ((SparkEntry.oracleGrade.keySet diff SparkEntry.oracleSql.keySet) ++
          (SparkEntry.oracleSql.keySet diff SparkEntry.oracleGrade.keySet)))
    val grades = SparkEntry.oracleGrade.values.toSet
    assert(grades == Set("closed-form SQL mirror", "published-script replay pin"))
    // the replay-pin set is exactly the three queries whose constants come
    // from offline runs of the published scripts (round-6 VERDICT)
    assert(SparkEntry.oracleGrade.collect {
      case (k, "published-script replay pin") => k
    }.toSet == Set("q79_blinding", "q80_confidence_sweep", "q83_bootstrap_ci"))
  }

  test("every oracle key is a registered query") {
    assert((SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet).isEmpty)
  }

  test("the registry rejects a duplicate name and holds 103 distinct queries") {
    val q = Query("q_dup", (s, dir) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException](Query.index(Seq(q, q.copy(oracle = Some("SELECT 1")))))
    assert(e.getMessage.contains("q_dup"))
    // SparkEntry builds its maps through Query.index, so reaching them at
    // all proves the real registrations are distinct
    assert(SparkEntry.queries.size == 103)
  }

  test("every kg_* query has no oracle and every other query has one") {
    val (kg, rest) = SparkEntry.queries.keySet.partition(_.startsWith("kg_"))
    assert(kg.size == 12 && rest.size == 91)
    assert(SparkEntry.oracleSql.keySet == rest)
  }

  test("oracle SQL is byte-identical to the pinned digest") {
    // SHA-256 over the (name, sql) pairs sorted by name, each field followed
    // by a NUL byte. The oracle literals are whitespace-sensitive (no
    // stripMargin), so re-indenting one changes this digest; update the pin
    // only for an intended oracle change, re-validated with
    // scripts/oracle_check.py
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for ((k, v) <- SparkEntry.oracleSql.toSeq.sortBy(_._1); f <- Seq(k, v)) {
      md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    assert(md.digest().map(b => f"$b%02x").mkString ==
      "6f984534ff488ab4fb61cc13ec10b8b57b2224cda96f14f9d26c296b026082b9")
  }
}
