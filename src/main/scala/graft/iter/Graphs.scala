package graft.iter

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Memos
import graft.engine.Tables._

/** Graph fixture for the iterative operators (SURVEY.md §2 rows
  * 41-43, 48): the symmetric part↔supplier graph from lineitem,
  * deduplicated. This is the paper's "structure data" [P §4] — static
  * across iterations, so it is persisted once and reused by every
  * step, exactly the loop-invariant caching i2MapReduce adds over
  * stock MapReduce.
  *
  * Scale: edges are repartitioned by `src` before caching, so the
  * per-iteration join (state ⋈ edges on src) and the subsequent
  * groupBy(dst) are the only shuffles in a step; the big static side
  * never re-shuffles — the whole point of the reference's design. */
object Graphs {

  /** Distinct symmetric edge set (src, dst). Dedup happens on the
    * CANONICAL (least, greatest) pair — half the shuffle volume of
    * distinct-ing the doubled union, and the symmetric set is then two
    * narrow projections of the deduped frame (the reverse direction
    * skips self-loops so they appear exactly once, matching the old
    * union+distinct). */
  def edges(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val canon = li.select(
      least(col("l_partkey"), col("l_suppkey")).as("u"),
      greatest(col("l_partkey"), col("l_suppkey")).as("v"))
      .distinct()
    canon.select(col("u").as("src"), col("v").as("dst"))
      .union(canon.filter(col("u") =!= col("v"))
        .select(col("v").as("src"), col("u").as("dst")))
  }

  /** All nodes (the graph is symmetric, so srcs cover everything). */
  def nodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()

  /** Node set of an ARBITRARY directed edge list (src ∪ dst) — for
    * the generic facade entry points, where symmetry isn't given. */
  def allNodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()

  /** Out-degree per node. */
  def deg(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count(lit(1)).as("outdeg"))

  /** Session-memoized structure data (`"graphs/..."` memo frames):
    * the graph queries share one cached edge table / degree join /
    * converged base state instead of rebuilding them per query.
    * Everything memoized is either persisted or localCheckpointed, so
    * reuse is a cache hit, and determinism (integer arithmetic, fixed
    * data) makes sharing semantically invisible. */
  def edgesCached(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "graphs/edges")(edges(s, d).persist())

  def nodesCached(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "graphs/nodes")(nodes(edgesCached(s, d)).persist())

  /** Edges with source outdeg — the PageRank loop invariant. */
  def edgesDegCached(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "graphs/edgesDeg") {
      val e = edgesCached(s, d)
      e.join(broadcast(deg(e)), "src")
        .select(col("src"), col("dst"), col("outdeg"))
        .persist()
    }

  /** Note on build parallelism (measured 2026-08-12): the structure
    * caches are built under the loop conf (`Loop.conf`) on purpose. An
    * experiment that force-built them first at the session's full 32
    * partitions with AQE on was consistently ~4-7 s SLOWER in the
    * benchmark — at this graph size (1.2M edges) AQE's per-stage
    * re-planning and 32-task stages cost more than they recover. At
    * cluster scale with fact-sized edge lists the balance flips:
    * there the answer is raising the in-loop partition count with
    * the data (see `Loop.conf`), not a separate build conf. */

  /** GIM-V — the reference's GENERALIZED iterative-matrix-vector
    * operator [P §7], of which PageRank, SSSP and connected
    * components are the three canonical instantiations. One step:
    *
    *   messages m = combine2 over (edge, state value) joined on src
    *   M(dst)    = combineAll(m) grouped by dst
    *   state'(n) = assign(old value, M(n))   (left join: M may be null)
    *
    * Contract: the state value is exposed to `combine2`/`assign` as
    * column `v`, the aggregated message as `M` (so instantiations may
    * use either the passed Columns or `expr` over those names); edge
    * attribute columns (e.g. `outdeg`) pass through to `combine2`.
    * The loop-variant state is broadcast both times, identical to the
    * hand-written loops — `Round4Spec` proves the PR/SSSP/CC
    * instantiations BIT-EQUAL to them. */
  def gimvStep(edges: DataFrame, state: DataFrame, valCol: String)
              (combine2: Column, combineAll: Column => Column,
               assign: (Column, Column) => Column): DataFrame = {
    val st = state.select(col("node"), col(valCol).as("v"))
    val msgs = edges.join(broadcast(st), st("node") === edges("src"))
      .select(col("dst"), combine2.as("m"))
      .groupBy("dst").agg(combineAll(col("m")).as("M"))
    st.join(broadcast(msgs), st("node") === msgs("dst"), "left")
      .select(col("node"), assign(col("v"), col("M")).as(valCol))
  }

  /** Shared CTE prefix for the unrolled-CTE oracles. UNION (not UNION
    * ALL) deduplicates across both directions, mirroring .distinct(). */
  val cteSql: String =
    """edges AS (
         SELECT l_partkey AS src, l_suppkey AS dst FROM lineitem
         UNION
         SELECT l_suppkey AS src, l_partkey AS dst FROM lineitem
       ),
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)"""
}
