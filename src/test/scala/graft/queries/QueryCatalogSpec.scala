package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The driver-contract catalog without a SparkSession: names, oracles and
  * scale pins. The digest freezes every oracle SQL string and pin, so an
  * edit to any of them fails here, not only in the sf0.01 oracle run. */
class QueryCatalogSpec extends AnyFunSuite {

  test("97 queries, each with a non-empty oracle") {
    assert(SparkEntry.queries.size == 97)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracles: $empty")
  }

  test("a repeated query name is rejected, not silently dropped") {
    val q = Q("q0_x", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](Q.unique(Seq(q, q.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("q0_x"))
    assert(Q.unique(Seq(q)) == Seq(q))
  }

  test("every scale pin names a query and is sf0.01") {
    val pins = SparkEntry.oracleSfPins
    assert(pins.size == 10)
    assert(pins.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(pins.values.toSet == Set("sf0.01"))
  }

  test("oracle SQL and pins are frozen") {
    val pins = SparkEntry.oracleSfPins
    val text = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (n, sql) =>
      s"$n\u0000$sql\u0000${pins.getOrElse(n, "")}\u0000"
    }.mkString
    val digest = MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
    assert(digest == "86ea12895b27ad0e81b52da847666a757faf8e70a8de35f13411f2d072e07d23")
  }
}
