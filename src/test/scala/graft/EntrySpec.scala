package graft

class EntrySpec extends GraftSuite {

  test("entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs on sf0.001 and returns rows") {
    // no key may change the shared session: graft's functions, rules and
    // strategy come from GraftExtensions at construction. The only
    // session functions a key adds are the ones udf_scalar and udf_sql
    // exist to demonstrate.
    val ex = spark.experimental
    def functionNames = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet
    val functionsBefore = functionNames
    val (rulesBefore, strategiesBefore) = (ex.extraOptimizations, ex.extraStrategies)
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
    val demoUdfs = Set("graft_reverse", "graft_discounted", "graft_qty_band")
    val functionsAfter = functionNames
    assert(functionsBefore -- functionsAfter == Set.empty[String])
    assert(functionsAfter -- functionsBefore -- demoUdfs == Set.empty[String],
      "a key registered a session function")
    assert(ex.extraOptimizations == rulesBefore, "a key installed an optimizer rule")
    assert(ex.extraStrategies == strategiesBefore, "a key installed a planner strategy")
  }

  test("every oracleSql key has a matching queries key") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("oracle SQL stays single-line ASCII (SURVEY §7.4 driver-JSON rule)") {
    // Verify's JSON writer escapes control chars defensively, but the
    // standing rule is that oracle SQL never NEEDS escaping: one line,
    // printable ASCII only — so the driver-side json.load can never
    // trip on an exotic statement
    val offenders = SparkEntry.oracleSql.collect {
      case (k, sql) if sql.exists(c => c < ' ' || c > '~') =>
        val bad = sql.filter(c => c < ' ' || c > '~').take(5)
          .map(c => f"\\u${c.toInt}%04x").mkString(",")
        s"$k [$bad]"
    }
    assert(offenders.isEmpty,
      s"oracle SQL with control/non-ASCII chars: ${offenders.mkString("; ")}")
  }

  test("flagship q1 has the 6 flag/status groups") {
    val rows = operators.Aggregates.pricingSummary(spark, sf0001).collect()
    assert(rows.length == 6)
    val combos = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(combos == Set(("A", "F"), ("N", "F"), ("N", "O"),
      ("R", "F"), ("A", "O"), ("R", "O")))
  }
}
