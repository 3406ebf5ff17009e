package graft.iter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Memos, Query}
import graft.incr.Maintain

/** MRBGraph-style incremental PageRank — the reference's PRESERVED
  * intermediate state + delta accumulation + change-threshold filter
  * ([P §3] fine-grained edge maintenance, [P §6] change propagation),
  * re-expressed over DataFrames:
  *
  *   C (src, dst, c)  — preserved per-edge contributions, the MRBG
  *                      edge state (at production scale: a stored
  *                      incremental view, maintained by MERGE)
  *   S (node, S)      — per-node contribution sums
  *   state (node, rs) — scaled-integer ranks (q41's representation)
  *
  * One incremental step recomputes contributions ONLY for frontier
  * sources, delta-adjusts S (newC minus the preserved oldC — edge
  * ADDITIONS and DELETIONS both reduce to this subtraction), rebuilds
  * ranks from S, and re-frontiers nodes whose rank moved more than
  * `threshold`. Because all arithmetic is 64-bit integer, the
  * accumulation is EXACT: with threshold = 0 the incremental run is
  * bit-equal to full re-iteration (q48's oracle checks it end-to-end);
  * threshold > 0 trades bounded rank error for a smaller frontier —
  * the paper's approximation knob. Unlike the monotone-min frontier
  * (IterQueries.iterateIncremental), deletions are fully supported:
  * the preserved C rows are what make subtraction possible.
  *
  * Scale: per-iteration work is frontier-proportional (newC builds
  * from frontier srcs only; S and C updates are delta-sized
  * anti-join/union merges of checkpointed state) — never a full
  * recompute of the graph. Frontier frames are node-bounded and
  * broadcast; C is edge-sized and only ever merged, exactly the
  * MRBG-Store's access pattern.
  *
  * Across sessions (C, S, state) persist as ONE three-part
  * [[graft.incr.StateStore]] commit, so a failure never leaves parts
  * of two versions side by side. All three are exact 64-bit integers:
  * a new session running [[incrRun]] from the stored parts is
  * bit-equal to the in-session run (`Round5Spec`). */
object MrbgPagerank {

  /** Contributions of `srcs` (single `src` column) under `state` over
    * the given structure — the preserved-edge builder (public: specs
    * and callers maintaining their own C state use it too). */
  def contribsFor(edgesDeg: DataFrame, state: DataFrame,
                  srcs: DataFrame): DataFrame =
    edgesDeg.join(broadcast(srcs), "src")
      .join(broadcast(state), state("node") === col("src"))
      .selectExpr("src", "dst", s"${Loop.Rank.contribution("rs")} AS c")

  /** `iters` incremental steps from (state0, C0, S0) over the NEW
    * structure, starting from `frontier0` (the sources whose preserved
    * rows are stale — for a structure delta: every src whose edge set
    * or outdeg changed). Returns the final state.
    *
    * Every iteration but the last checkpoints its results, since the
    * next one reads them. The last iteration's frontier and C/S updates
    * would never be read, so it skips them and returns the final state
    * as one lazy plan: building it starts no Spark job. A caller that
    * reads the returned state more than once checkpoints it itself, as
    * q_incr_mrbg does before its `Memos.frame` stores it (a memo frame
    * keeps the plan it is given; it does not materialize it). */
  def incrRun(edgesDegNew: DataFrame, state0: DataFrame, c0: DataFrame,
              s0: DataFrame, frontier0: DataFrame, threshold: Long,
              iters: Int): DataFrame = {
    var state = state0
    var c = c0
    var s = s0
    var frontier = frontier0 // single column: src
    for (i <- 1 to iters) {
      val last = i == iters
      // the last iteration's newC and s1 have one consumer each
      def kept(df: DataFrame): DataFrame =
        if (last) df else df.localCheckpoint()
      val newC = kept(contribsFor(edgesDegNew, state, frontier))
      val oldC = c.join(broadcast(frontier), "src")
      // newC − oldC per dst: additions (no old row) add c, deletions
      // (no new row) subtract, survivors adjust by the difference
      val dS = Maintain.signedMerge(Seq("dst"), Seq("c"), Seq(newC), Seq(oldC))(
          lit(true))
        .withColumnRenamed("c", "dS")
      val s1 = kept(s.join(broadcast(dS), s("node") === dS("dst"), "left")
        .select(col("node"), (col("S") + coalesce(col("dS"), lit(0L))).as("S")))
      val state1 = s1.selectExpr("node", s"${Loop.Rank.assign("coalesce(S, 0)")} AS rs")
      if (last) state = state1
      else {
        val moved = state1
          .join(state.select(col("node").as("pn"), col("rs").as("prev")),
            col("node") === col("pn"))
          .filter(abs(col("rs") - col("prev")) > threshold)
          .select(col("node").as("src"))
          .localCheckpoint()
        c = c.join(broadcast(frontier), Seq("src"), "left_anti")
          .unionByName(newC).localCheckpoint()
        s = s1
        state = state1.localCheckpoint()
        frontier = moved
      }
    }
    state
  }

  val queries: Seq[Query] = Seq(
    /** q104: q48's exact computation (PageRank restart after an edge
      * deletion, 2 refinement iterations) via the MRBG mechanism with
      * threshold = 0 — integer delta accumulation makes it bit-equal
      * to full re-iteration, so the SAME unrolled-CTE oracle gates it.
      * The deleted edges' sources seed the frontier; everything the
      * delta never reaches is read once (C0/S0 build) and never
      * recomputed. */
    // identical full re-iteration oracle as q48: the MRBG delta path
    // must be result-invisible
    Query("q_incr_mrbg", IterQueries.pagerankIncrSql(5, 2))((s0, d) => {
      val s = s0
      Memos.frame(s, d, "mrbg/result")(Loop.conf(s) {
        val nodes = Graphs.nodesCached(s, d)
        val edgesDegOld = Graphs.edgesDegCached(s, d)
        // converged base state — shared with q41/q48 (memoized)
        val base = IterQueries.converged5(s, d).select("node", "rs")
        val delta = IterQueries.edgesDeleted(Graphs.edgesCached(s, d), 17)
        val edgesNew = delta.post
        val degNew = edgesNew.groupBy("src").agg(count(lit(1)).as("outdeg"))
        val edgesDegNew = edgesNew.join(broadcast(degNew), "src")
          .select(col("src"), col("dst"), col("outdeg")).localCheckpoint()
        // preserved state under the OLD structure
        val allSrcs = nodes.select(col("node").as("src"))
        val c0 = contribsFor(edgesDegOld, base, allSrcs).localCheckpoint()
        val s0s = nodes.join(
            c0.groupBy("dst").agg(sum(col("c")).as("S")),
            nodes("node") === col("dst"), "left")
          .select(col("node"), coalesce(col("S"), lit(0L)).as("S"))
        // frontier: sources whose out-edge set / outdeg changed
        val frontier0 = delta.touchedKeys("src")
        // the memo serves this frame on every call: materialize the
        // lazy final iteration once, under the loop configuration
        Loop.Rank.withRank(incrRun(edgesDegNew, base, c0, s0s, frontier0, 0L, 2))
          .localCheckpoint()
      }).orderBy("node")
    })
  )
}
