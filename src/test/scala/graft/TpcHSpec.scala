package graft

/** Plan-shape and determinism pins for the TPC-H pack (SURVEY §2 rows
  * 250–271). Correctness is the DuckDB oracle's job (all 22 rows
  * hash-checked); these tests pin the PHYSICAL properties the pack
  * exists to demonstrate — that Catalyst derives the right cluster
  * plan from the standard SQL text:
  *  - dimension chains broadcast (no corpus-sized shuffle for nation/
  *    region/supplier sides);
  *  - EXISTS / NOT EXISTS / IN subqueries rewrite to semi/anti hash
  *    joins, never to a cartesian + filter;
  *  - no query plans a CartesianProduct or BroadcastNestedLoopJoin
  *    except where the text genuinely has no equi-condition (none of
  *    the 22 adapted queries does);
  *  - repeated runs are deterministic row-for-row (every query
  *    carries a unique total order).
  */
class TpcHSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("dimension-chain queries broadcast their dims (Q3, Q5, Q10)") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q10")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: no broadcast join in\n$p")
    }
  }

  test("EXISTS/NOT EXISTS/IN rewrite to semi/anti joins (Q4, Q16, " +
      "Q18, Q21, Q22)") {
    val shapes = Seq(
      "q_tpch_q4" -> "LeftSemi", // EXISTS
      "q_tpch_q16" -> "LeftAnti", // NOT IN (null-free subquery side)
      "q_tpch_q18" -> "LeftSemi", // IN
      "q_tpch_q21" -> "LeftAnti", // NOT EXISTS
      "q_tpch_q22" -> "LeftAnti") // NOT EXISTS
    for ((q, shape) <- shapes) {
      val p = plan(q)
      assert(p.contains(shape), s"$q: expected a $shape join in\n$p")
    }
  }

  test("no TPC-H query plans a cartesian or nested-loop join " +
      "(except Q22's one-row scalar-totals side)") {
    for (i <- 1 to 22) {
      val p = plan(s"q_tpch_q$i")
      assert(!p.contains("CartesianProduct"),
        s"q_tpch_q$i plans a CartesianProduct")
      // Q22 joins the 1-row `pos` aggregate CTE with no equi-key —
      // a BroadcastNestedLoopJoin over a SINGLE-ROW broadcast side,
      // the engine's own scalar-totals idiom (cost: one comparison
      // per row). Everywhere else a nested-loop join would mean a
      // missed equi-condition.
      if (i != 22)
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"q_tpch_q$i plans a BroadcastNestedLoopJoin")
    }
  }

  test("every TPC-H query is deterministic row-for-row across runs " +
      "and non-empty at the smoke SF") {
    for (i <- 1 to 22) {
      val q = s"q_tpch_q$i"
      val a = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
      val b = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
      assert(a == b, s"$q not deterministic")
      assert(a.nonEmpty, s"$q empty at $sfDir")
    }
  }

  test("a TPC-H call registers exactly the tables its SQL names, " +
      "CTE bodies and subqueries included") {
    val names = (q: String) => graft.engine.Tables.namedIn(spark, graft.ops.TpcH.sql(q))
    assert(names("q_tpch_q1") == Seq("lineitem"))
    assert(names("q_tpch_q6") == Seq("lineitem"))
    // Q2's lineitem is named only inside the `ps` CTE, whose own name
    // is not a fixture table
    assert(names("q_tpch_q2") ==
      Seq("region", "nation", "supplier", "part", "lineitem"))
    // Q20's lineitem and part are named only inside IN subqueries
    assert(names("q_tpch_q20") == Seq("nation", "supplier", "part", "lineitem"))
    // Q22's orders is named only inside a NOT EXISTS subquery
    assert(names("q_tpch_q22") == Seq("customer", "orders"))
    // complete for every query: each one resolves in a session that
    // has no temp views of its own
    for (i <- 1 to 22) {
      val fresh = spark.newSession()
      SparkEntry.queries(s"q_tpch_q$i")(fresh, sfDir).queryExecution.assertAnalyzed()
    }
  }
}
