package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.parseConf]]: the one parse of the dev probes'
  * `SPARK_GRAFT_CONF` override string. */
class SessionsSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF parses k=v pairs; a value may contain '='") {
    assert(Sessions.parseConf(
      "spark.sql.optimizer.excludedRules=graft.plans.RewriteCohortScalar," +
        "spark.graft.x=a=b,") ==
      Seq("spark.sql.optimizer.excludedRules" -> "graft.plans.RewriteCohortScalar",
        "spark.graft.x" -> "a=b"))
  }

  test("SPARK_GRAFT_CONF token without '=' fails loudly, naming the token") {
    val e = intercept[IllegalArgumentException] {
      Sessions.parseConf("spark.sql.shuffle.partitions=8,graft.plans.RewriteCohortScalar")
    }
    assert(e.getMessage.contains("graft.plans.RewriteCohortScalar"))
  }
}
