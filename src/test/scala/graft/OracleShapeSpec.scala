package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural checks on the GENERATED oracle SQL that the DuckDB gate
  * can't cover until a query actually uses the parameter in question —
  * pins the iters=0 dangling-comma fix (a supported operator mode with
  * no oracle-checked query yet). */
class OracleShapeSpec extends AnyFunSuite {

  private def finalSelectFollowsCleanly(sql: String): Unit = {
    val at = sql.lastIndexOf("SELECT vec_id")
    assert(at > 0, "no final SELECT found")
    val before = sql.substring(0, at).trim
    assert(before.endsWith(")"),
      s"final SELECT preceded by '${before.takeRight(20)}' — dangling comma?")
  }

  test("kmeans oracle SQL is well-formed at iters = 0, 1, 2") {
    for (iters <- 0 to 2) {
      val sql = battery.EmbedQueries.kmeansOracleSql(4, iters)
      finalSelectFollowsCleanly(sql)
      assert(sql.contains(s"FROM a$iters"), s"iters=$iters reads wrong CTE")
      // round CTEs exist exactly up to iters
      assert(sql.contains(s"a$iters AS"))
      assert(!sql.contains(s"a${iters + 1} AS"))
    }
  }

  test("text perceptron oracle SQL is well-formed at epochs = 0, 1, 2") {
    for (e <- 0 to 2) {
      val sql = battery.ClassifyQueries.textPerceptronOracleSql(e)
      // the final score joins the LAST epoch's weight table (w0 = the
      // empty seed table at epochs = 0 — margins all zero, a supported
      // mode textPerceptronTrain's spec pins)
      assert(sql.contains(s"LEFT JOIN w$e w"), s"epochs=$e reads wrong CTE")
      assert(sql.contains("w0 AS"))
      assert(!sql.contains(s"w${e + 1} AS"), s"epochs=$e has extra CTEs")
      // epoch CTE chain present exactly up to e
      if (e > 0) assert(sql.contains(s"g$e AS"))
      assert(!sql.contains(s"g${e + 1} AS"))
    }
  }

  test("every query has an oracle except the approved rows-only set") {
    // the driver records a weaker rows-only check for queries absent
    // from oracleSql — that set must stay EXPLICIT so a new query
    // cannot silently ship without its DuckDB oracle
    val rowsOnly = Set("q_agg_approx_distinct") // HLL sketches are
    // engine-specific; the <=2%-error contract is spec-pinned instead
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
      === rowsOnly)
    // and no oracle may exist without its query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the registry union rejects a query name two families define") {
    val e = intercept[IllegalArgumentException](SparkEntry.union(Seq(
      Map("q_a" -> 1, "q_shared" -> 2), Map("q_b" -> 3, "q_shared" -> 4))))
    assert(e.getMessage.contains("q_shared"))
    assert(!e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }
}
