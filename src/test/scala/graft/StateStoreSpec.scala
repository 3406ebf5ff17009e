package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.incr.StateStore

/** The versioned state store (`graft.incr.StateStore`) on tiny frames:
  * a failed commit never changes what a reader sees, a store can be
  * read, maintained and committed back in place, multi-part commits
  * are all-or-nothing, and old versions are collected. */
class StateStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def withRoot[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_statestore")
    try body(s"$dir/store") finally deleteRecursively(dir)
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def part(root: String, name: String): DataFrame =
    StateStore.read(spark, root).get(name)

  /** (k, v) rows whose plan raises when a task reaches k = 2 (a
    * range, not local rows, so the optimizer cannot raise it early). */
  private def raising: DataFrame =
    spark.range(1, 3).select(col("id").as("k"),
      when(col("id") === 2L, raise_error(lit("boom"))).otherwise(col("id")).as("v"))

  test("a commit whose part raises leaves the previous version readable " +
      "and unchanged") {
    withRoot { root =>
      StateStore.commit(root, Seq("t" -> Seq((1L, 10L), (3L, 30L)).toDF("k", "v")))
      intercept[Exception](StateStore.commit(root, Seq("t" -> raising)))
      assert(rows(part(root, "t")) == Seq((1L, 10L), (3L, 30L)))
    }
  }

  test("read a store, apply a delta, and commit back to the same root") {
    withRoot { root =>
      StateStore.commit(root,
        Seq("n" -> Seq((1L, 1L), (2L, 5L), (3L, 9L)).toDF("k", "v")))
      // the delta deletes key 2 and inserts key 4
      val post = part(root, "n").filter(col("k") =!= 2L)
        .unionByName(Seq((4L, 7L)).toDF("k", "v"))
      StateStore.commit(root, Seq("n" -> post))
      assert(rows(part(root, "n")) == Seq((1L, 1L), (3L, 9L), (4L, 7L)))
    }
  }

  test("a three-part MRBG commit that fails on its third part never " +
      "exposes a mix of parts") {
    withRoot { root =>
      def mrbg(c: DataFrame, s: DataFrame, state: DataFrame) =
        Seq("C" -> c, "S" -> s, "state" -> state)
      val v1 = Seq((1L, 100L), (2L, 200L)).toDF("k", "v")
      StateStore.commit(root, mrbg(v1, v1, v1))
      val v2 = Seq((1L, 101L), (2L, 201L)).toDF("k", "v")
      intercept[Exception](StateStore.commit(root, mrbg(v2, v2, raising)))
      val stored = StateStore.read(spark, root).get
      assert(stored.keySet == Set("C", "S", "state"))
      stored.values.foreach(df => assert(rows(df) == rows(v1)))
    }
  }

  test("GC keeps only versions v and v-1") {
    withRoot { root =>
      val versions = (1L to 4L).map(i =>
        StateStore.commit(root, Seq("t" -> Seq((i, i)).toDF("k", "v"))))
      assert(versions == Seq(1L, 2L, 3L, 4L))
      val snaps = new java.io.File(root).listFiles.map(_.getName)
        .filter(_.startsWith("snap-")).sorted.toSeq
      assert(snaps == Seq("snap-3", "snap-4"))
      assert(rows(part(root, "t")) == Seq((4L, 4L)))
    }
  }

  test("reading before the first commit gives None") {
    withRoot { root =>
      assert(StateStore.read(spark, root).isEmpty)
      new java.io.File(root).mkdirs()
      assert(StateStore.read(spark, root).isEmpty)
    }
  }

  test("a file:// root works") {
    withRoot { root =>
      StateStore.commit(s"file://$root", Seq("t" -> Seq((1L, 2L)).toDF("k", "v")))
      assert(rows(part(root, "t")) == Seq((1L, 2L)))
      assert(rows(StateStore.read(spark, s"file://$root").get("t")) == Seq((1L, 2L)))
    }
  }

  test("reading a two-part store, one part partitioned, starts no job " +
      "and equals the inferring read") {
    withRoot { root =>
      StateStore.commit(root, Seq(
          "flat" -> Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
          "byCluster" -> Seq((1L, 10L, 0), (2L, 20L, 1), (3L, 30L, 1))
            .toDF("k", "v", "cluster")),
        partitionBy = Map("byCluster" -> Seq("cluster")))
      val (parts, jobs) = jobsOf(StateStore.read(spark, root).get)
      assert(jobs == 0, s"reading the store started $jobs job(s)")
      assert(parts.keySet == Set("flat", "byCluster"))
      val snap = new java.io.File(root).listFiles().map(_.getName)
        .filter(_.startsWith("snap-")).head
      for ((name, df) <- parts) {
        val inferred = spark.read.parquet(s"$root/$snap/$name")
        assert(df.schema == inferred.schema, name)
        assert(df.collect().map(_.toString).sorted.toSeq ==
          inferred.collect().map(_.toString).sorted.toSeq, name)
      }
    }
  }
}
