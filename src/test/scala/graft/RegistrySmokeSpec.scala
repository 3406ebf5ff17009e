package graft

import graft.tools.ClusterSmoke.mayBeEmpty

/** Smoke tier (SURVEY.md §5 tier 1): every registered query runs on
  * sf0.001 and returns rows; every oracle key has a matching query. */
class RegistrySmokeSpec extends SparkSpecBase {

  test("every oracle key has a registered query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("registry size matches SURVEY §2 — a duplicate key across the merged maps would silently drop a query") {
    // `queries` is keyed by name, so a copy-pasted name in a new
    // module would shadow an old operator (RegistryGuardSpec names
    // the duplicate). Pin the declared inventory count (update
    // alongside SURVEY §2's totals block when adding rows).
    assert(SparkEntry.queries.size == 292,
      s"expected 292 declared queries, found ${SparkEntry.queries.size} — duplicate or missing key")
    assert(SparkEntry.oracleSql.size == 275,
      s"expected 275 oracle entries, found ${SparkEntry.oracleSql.size}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs on sf0.001 and returns rows") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      if (!mayBeEmpty(name))
        assert(df.count() > 0, s"$name returned no rows")
      else df.count() // still must execute cleanly
    }
  }
}
