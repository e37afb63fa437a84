package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TokenCountRewrite

/** One way to build a Spark session: [[GraftSession.build]] owns the
  * configuration every driver, test and probe shares, so a hand-rolled
  * `SparkSession.builder` anywhere under src/ (main or test) is a
  * session configured unlike the one Bench times — the drift that left
  * Explain and the Stress probes without the graft optimizer rule.
  */
class SessionLintSpec extends AnyFunSuite {

  test("GraftSession holds the only SparkSession.builder under src/") {
    // code only (LintSource): a Scaladoc example of the builder is fine
    val got = LintSource.sources("src").flatMap { case (rel, raw) =>
      val n = "SparkSession\\s*\\.\\s*builder\\b".r
        .findAllIn(LintSource.codeOnly(raw)).length
      if (n > 0) Some(rel -> n) else None
    }
    assert(got == Map("main/scala/graft/GraftSession.scala" -> 1),
      s"SparkSession.builder outside GraftSession: $got — build the " +
        "session with GraftSession.build instead")
  }

  test("a GraftSession resolves graft SQL and carries the shared config") {
    val spark = TestSpark.session // built by GraftSession.build
    assert(spark.sql("SELECT token_count('a b')").head().getInt(0) == 2)
    assert(spark.experimental.extraOptimizations.contains(TokenCountRewrite))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "10000000")
  }
}
