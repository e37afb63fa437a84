package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants over the whole query registry. */
class SparkEntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  // The only queries allowed to lack DuckDB oracle SQL, each justified
  // in COVERAGE.md/README and pinned by a ScalaTest instead. The two
  // sketch queries' estimates are engine-specific by construction.
  // mm_decode_jpeg and ta_compress_ratio both left this set in round
  // 11: their oracles compare the fresh run against a landing-time
  // sidecar pin (determinism + integrity) joined with ARITHMETIC
  // columns (dims / byte lengths / the ratio division) that are
  // genuinely cross-engine. Only the two sketch rows remain exempt —
  // their estimates are engine-specific by construction.
  val oracleExempt: Set[String] =
    Set("q_approx_distinct", "q_approx_quantile")

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("the registry helper rejects a duplicate key instead of shadowing") {
    // Map(...) and ++ both keep the last value silently; the registry
    // literals and the SparkEntry merge must fail loudly instead
    val lit = intercept[IllegalArgumentException](
      Registry.of("q_a" -> 1, "q_b" -> 2, "q_a" -> 3))
    assert(lit.getMessage.contains("q_a") && !lit.getMessage.contains("q_b"))
    val merged = intercept[IllegalArgumentException](
      Registry.merge(Map("q_a" -> 1), Map("q_b" -> 2), Map("q_a" -> 3)))
    assert(merged.getMessage.contains("q_a"))
    assert(Registry.merge(Map("q_a" -> 1), Map("q_b" -> 2)) ==
      Map("q_a" -> 1, "q_b" -> 2))
  }

  test("every query has an oracle or a documented exemption") {
    val missing = SparkEntry.queries.keySet
      .diff(SparkEntry.oracleSql.keySet).diff(oracleExempt)
    assert(missing.isEmpty, s"queries without oracle or exemption: $missing")
    val stale = oracleExempt.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty, s"exemptions for unregistered queries: $stale")
  }

  test("every query's plan analyzes against the sf0.001 schema") {
    // construction + analysis only (no collect): catches schema drift,
    // unresolved columns, and oracle/column renames early. The few
    // queries that execute jobs during construction (the CC loop) still
    // finish fast at this scale.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).schema; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
