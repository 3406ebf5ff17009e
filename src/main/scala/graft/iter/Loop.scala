package graft.iter

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Sessions

/** The iteration core of the iterative family [P §4, §7]: loop-variant
  * state is joined to cached structure data once per step, lineage is
  * cut every [[checkpointEvery]] steps, and the run stops after a fixed
  * count ([[fixed]], [[gimv]]) or when the state stops moving
  * (`IterQueries.iterateUntil` / `minPropagateUntilStable`). Each piece
  * a row needs is written once here:
  *  - the loop conf ([[conf]]);
  *  - the fixed-count driver and its GIM-V form;
  *  - the scaled-integer PageRank format ([[Rank]]);
  *  - the min-propagation start states ([[fromSource]],
  *    [[identity]]) and the restart frontier ([[changedOf]]);
  *  - the pair-graph collapse ([[pairCollapse]]). */
object Loop {

  /** Steps between lineage cuts. With small fixed counts the
    * intermediate states stay lazy and the whole loop executes as one
    * DAG (no per-step job); the periodic checkpoint bounds plan depth
    * for larger counts. */
  val checkpointEvery = 4

  /** Min-propagation's "unreached" value (SSSP's unreachable
    * distance); the DuckDB oracles spell the same literal. */
  val INF = 999999999L

  /** Run `body` with AQE off and 8 shuffle partitions, restoring the
    * caller's settings after. A loop's join sides carry explicit
    * broadcast hints and its stage shapes are static, so AQE's
    * per-exchange re-planning is pure latency, and the loop-variant
    * frames are node-sized: 32 partitions would mean 32 near-empty
    * tasks per stage across ~15 stages. At cluster scale the in-loop
    * parallelism rises with the data; the plan shape is unchanged. */
  def conf[T](s: SparkSession)(body: => T): T =
    Sessions.withConf(s, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8")(body)

  /** `n` applications of `step` from `state0`, cutting lineage after
    * every [[checkpointEvery]]-th. The last state is returned as it
    * stands: the caller materializes it. */
  def fixed(state0: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame = {
    var state = state0
    for (i <- 1 to n) {
      state = step(state)
      if (i % checkpointEvery == 0) state = state.localCheckpoint()
    }
    state
  }

  /** `n` fixed GIM-V steps ([[Graphs.gimvStep]]) over `edges` from
    * `state0` (node, valCol). */
  def gimv(edges: DataFrame, state0: DataFrame, valCol: String, n: Int)
          (combine2: Column, combineAll: Column => Column,
           assign: (Column, Column) => Column): DataFrame =
    fixed(state0, n)(Graphs.gimvStep(edges, _, valCol)(combine2, combineAll, assign))

  /** Scaled-integer PageRank: column `rs` holds rank × 1e10 as BIGINT
    * and every step is integer arithmetic with truncating division,
    * so the loop is bit-exact, independent of shuffle order, and the
    * unrolled-CTE DuckDB oracles reproduce it verbatim:
    * rs' = 15e8 + (85 · Σ_in (rs DIV outdeg)) DIV 100. The parts are
    * SQL expression text, so a step plans exactly as the oracle reads. */
  object Rank {
    val Scale = 10000000000L
    val Teleport = 1500000000L

    /** Every node at rank 1.0. */
    val init: String = s"CAST($Scale AS BIGINT) AS rs"

    /** All the mass on `seed` (personalized PageRank). */
    def initAt(seed: Long): Column =
      when(col("node") === seed, Scale).otherwise(0L).as("rs")

    /** One edge's share of its source's scaled rank `rs`. */
    def contribution(rs: String): String = s"$rs DIV outdeg"

    /** The damped update from the summed in-contributions `sum`. */
    def assign(sum: String, teleport: String = Teleport.toString): String =
      s"CAST($teleport + (85 * $sum) DIV 100 AS BIGINT)"

    /** Teleport mass only at `seed`, for [[assign]]. */
    def teleportAt(seed: Long): String =
      s"CASE WHEN node = $seed THEN $Teleport ELSE 0 END"

    /** (node, rs, rank) with rank = rs / 1e10 as DOUBLE. */
    def withRank(state: DataFrame): DataFrame =
      state.selectExpr("node", "rs", s"CAST(rs AS DOUBLE) / $Scale AS rank")
  }

  /** The smallest node id: the source (SSSP) and seed (personalized
    * PageRank) of the declared rows. One job per call. */
  def minNode(nodes: DataFrame): Long = nodes.agg(min("node")).head().getLong(0)

  /** Frontier rows (cnode, cval) offering `state`'s (node, valCol). */
  def frontierOf(state: DataFrame, valCol: String): DataFrame =
    state.select(col("node").as("cnode"), col(valCol).as("cval"))

  /** Restart frontier of a `minPropagate` result: its rows that
    * improved in the last round. */
  def changedOf(res: DataFrame, valCol: String): DataFrame =
    frontierOf(res.filter(col("chg")), valCol)

  /** SSSP start pair: state (node, dist) with 0 at `source` and [[INF]]
    * elsewhere, frontier = the source alone. */
  def fromSource(nodes: DataFrame, source: Long): (DataFrame, DataFrame) = {
    val state = nodes.select(col("node"),
      when(col("node") === source, 0L).otherwise(INF).as("dist"))
    (state, frontierOf(state.filter(col("dist") === 0), "dist"))
  }

  /** Label-propagation start pair: state (node, label = node), every
    * node in the frontier. */
  def identity(nodes: DataFrame): (DataFrame, DataFrame) = {
    val state = nodes.select(col("node"), col("node").as("label"))
    (state, frontierOf(state, "label"))
  }

  /** Directed edges (src, dst) of the undirected pairs (`a`, `b`): both
    * orientations of every pair. */
  def symmetrize(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))

  /** Min-label collapse from the identity state of `nodes` (node), run
    * until no label moves (at most `maxIter` rounds): (node, label).
    * `edgeCount` is the number of directed `edges`, so the size gate
    * costs no job. At or below `IterQueries.LocalCollapseCap` it is
    * `minLabelCollapseLocal`, whose round loop stops when the frontier
    * empties; above it the distributed `minPropagateUntilStable`, which
    * stops at the fixpoint where the collapse's fixed-round distributed
    * arm would pay all `maxIter` rounds. */
  def collapseUntilStable(edges: DataFrame, nodes: DataFrame, maxIter: Int,
                          edgeCount: Long): DataFrame =
    if (edgeCount <= IterQueries.LocalCollapseCap)
      IterQueries.minLabelCollapseLocal(edges, nodes, maxIter,
        knownEdgeCount = Some(edgeCount))
    else {
      IterQueries.lastBranch = "distributed"
      val (state0, changed0) = identity(nodes)
      IterQueries.minPropagateUntilStable(
        edges, state0, changed0, "label", 0L, maxIter)._1
    }

  /** The dedup collapse: (idCol, keep_id), keep_id = the least id
    * reached in 5 min-label rounds over the symmetrized pair graph
    * (`IterQueries.minLabelCollapseLocal`, run under [[conf]]).
    * `pairCount` is the number of pairs, so the collapse's size gate
    * costs no job; it and `ids` are evaluated under the loop conf,
    * after the pair graph is built. A caller whose count is not a loop
    * computation evaluates it first and passes the value. No trailing
    * checkpoint: below the collapse's size cap the result is `ids` ⋈
    * broadcast(driver-computed labels), cheap to re-execute. */
  def pairCollapse(s: SparkSession, pairs: DataFrame, a: String, b: String,
                   pairCount: => Long)(ids: => DataFrame, idCol: String): DataFrame = {
    val edges = symmetrize(pairs, a, b)
    conf(s) {
      IterQueries.minLabelCollapseLocal(edges, ids.select(col(idCol).as("node")),
          5, knownEdgeCount = Some(2 * pairCount))
        .select(col("node").as(idCol), col("label").as("keep_id"))
    }
  }
}
