package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: the Spark plan, the DuckDB SQL that must
  * return the same rows, and the scale its oracle is pinned to, if any.
  *
  * Design rules for oracle parity (learned the hard way; keep following
  * them):
  *  - alias every computed column identically in Spark and SQL
  *  - money aggregates: sum over decimal(18,2) casts (exact), never
  *    float sums
  *  - EVERY query carries a total-order ORDER BY on both sides — the
  *    driver's hash gate is row-order sensitive (round-1 q8 lesson)
  *  - the driver's hash is also TYPE-representation sensitive: DuckDB
  *    sum(INT/BIGINT) returns HUGEINT (→ float64 via Arrow) and
  *    sum(DECIMAL(18,2)) returns DECIMAL(38,2), while Spark emits BIGINT /
  *    DECIMAL(28,2). Every oracle integer sum is wrapped in
  *    CAST(... AS BIGINT) and every decimal sum in CAST(... AS
  *    DECIMAL(28,2)) (round-1 q13/q14/q17/q28/q31/q35/q36/q37 lesson)
  *  - hash buckets use md5-hex (same in both engines), not xxhash64
  *
  * A query is added as one record in the domain object it belongs to.
  *
  * @param name   unique key; Verify writes the result under this name
  * @param run    the Spark query over a testdata dir (session, sf dir)
  * @param oracle DuckDB SQL over the same tables, returning the same rows
  * @param pin    the testdata dir name (e.g. "sf0.01") this oracle is valid
  *               at ONLY — a literal pin of that corpus's output, or a
  *               restatement whose equivalence depends on a property
  *               verified at that scale. Verify warns loudly (and records
  *               oracle_pins.json) when run against a different sf dir, so
  *               a spurious gate failure at another scale is diagnosable
  *               rather than mysterious.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    pin: Option[String] = None)

object Q {

  /** `qs` itself, once no name repeats: `toMap` would silently keep only
    * the last record of a repeated name. */
  def unique(qs: Seq[Q]): Seq[Q] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty, s"query names repeat: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }
}
