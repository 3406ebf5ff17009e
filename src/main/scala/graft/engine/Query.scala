package graft.engine

import graft.engine.Tables.Q

/** One registry row: its name, the plan graft runs, and — when the row
  * has one — the DuckDB SQL the oracle checks the plan's result
  * against. `streaming` marks a row whose first call runs a real
  * Structured Streaming query (file source → sink); repeats serve the
  * memoized result. */
final case class Query(name: String, oracle: Option[String], plan: Q,
                       streaming: Boolean = false)

object Query {
  /** A row checked by the DuckDB oracle `oracle`. */
  def apply(name: String, oracle: String)(plan: Q): Query =
    Query(name, Some(oracle), plan)

  /** A row with no SQL oracle (sketches, float-order-sensitive loops);
    * a spec checks it instead. */
  def apply(name: String)(plan: Q): Query = Query(name, None, plan)

  /** An oracle-checked row that runs a real stream on its first call. */
  def stream(name: String, oracle: String)(plan: Q): Query =
    Query(name, Some(oracle), plan, streaming = true)
}
