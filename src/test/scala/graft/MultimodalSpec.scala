package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Multimodal plumbing: schema, batch decode, frame sampling. */
class MultimodalSpec extends SparkSpecBase {

  test("media table has binary content + typed metadata") {
    val m = Multimodal.mediaTable(spark, sfDir)
    val schema = m.schema.map(f => f.name -> f.dataType.simpleString).toMap
    assert(schema("content") == "binary")
    assert(schema("mime") == "string")
    val row = m.head()
    assert(row.content.length.toLong == row.n_bytes) // ASCII text
  }

  test("features are deterministic and match per-record recompute") {
    val m = Multimodal.mediaTable(spark, sfDir)
    val feats = Multimodal.features(m).collect().map(f => f.doc_id -> f).toMap
    m.collect().take(20).foreach { r =>
      val f = feats(r.doc_id)
      val (head, sum) = Multimodal.decodeStub(r.content)
      assert(f.head_byte == head && f.byte_sum == sum)
      assert(f.n_frames == (r.content.length + 255) / 256)
    }
  }

  test("frame sampling reassembles to the original bytes") {
    val m = Multimodal.mediaTable(spark, sfDir)
    val framed = Multimodal.frameSample(m).collect().map(r =>
      r.getLong(0) -> r.getSeq[Array[Byte]](1)).toMap
    m.collect().take(20).foreach { r =>
      val frames = framed(r.doc_id)
      assert(frames.forall(_.length <= 256))
      assert(frames.flatten.toSeq == r.content.toSeq)
    }
  }

  test("feature query prunes the binary column for downstream analytics") {
    val q = SparkEntry.queries("q_multimodal_features")(spark, sfDir)
    assert(!q.columns.contains("content"))
    assert(q.count() == graft.engine.Tables.documents(spark, sfDir).count())
  }
}
