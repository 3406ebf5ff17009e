package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._

/** Multimodal-column support [N]: image/audio/video handled as opaque
  * `binary` content plus a typed metadata struct, with decode /
  * feature-extract / frame-sample as BATCH-shaped partition
  * transforms.
  *
  * The container has no media codecs, so `decodeStub` is a
  * clearly-marked deterministic fake — swap its body for a real codec
  * (JavaCV/ImageIO) without touching any of the Spark plumbing, which
  * is real and tested: binary+struct schema, iterator→iterator
  * partition processing (no per-row driver calls, codec init once per
  * partition — the same batch shape as an Arrow/pandas UDF), and
  * array<binary> frame output.
  *
  * Scale: content bytes stream through mapPartitions; features are
  * narrow columns, so downstream analytics never re-read the blobs —
  * at 100 TB you partition by content locality and column-prune the
  * binary away for any query that only needs features. */
object Multimodal {

  /** One media record: opaque bytes + typed metadata. */
  case class MediaRecord(doc_id: Long, content: Array[Byte],
                         mime: String, n_bytes: Long)

  /** Fake "decoded media" — stands in for pixels/samples. */
  case class Decoded(doc_id: Long, n_bytes: Long, head_byte: Long,
                     byte_sum: Long, n_frames: Long)

  /** The media table, derived deterministically from documents.text
    * (UTF-8 bytes) so every engine can reproduce it byte-for-byte. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("content"),
        lit("text/plain").as("mime"),
        length(col("text")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  val FrameSize = 256

  /** STUB — deterministic fake decode. A real implementation would
    * hand `bytes` to a codec; everything around this call is the
    * production plumbing. */
  def decodeStub(bytes: Array[Byte]): (Long, Long) = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
    (if (bytes.isEmpty) -1L else (bytes(0) & 0xff).toLong, sum)
  }

  /** Feature extraction: one pass per partition, batch-shaped (codec
    * state would be initialized once per iterator, not per row). */
  def features(media: Dataset[MediaRecord]): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition setup (real codec handle would go here)
      it.map { m =>
        val (head, sum) = decodeStub(m.content)
        Decoded(m.doc_id, m.content.length.toLong, head, sum,
          (m.content.length + FrameSize - 1L) / FrameSize)
      }
    }
  }

  /** Frame sampling: slice content into fixed-size byte frames —
    * array<binary> per record, the shape a video pipeline feeds to a
    * per-frame model. */
  def frameSample(media: Dataset[MediaRecord],
                  frameSize: Int = FrameSize): DataFrame = {
    import media.sparkSession.implicits._
    media.map { m =>
      (m.doc_id, m.content.grouped(frameSize).toArray)
    }.toDF("doc_id", "frames")
  }

  // Oracle caveat: ascii() yields CODE POINTS, so this formulation
  // matches decodeStub's byte math only for ASCII text — which the
  // fixture corpus is (verified: every doc matches ^[ -~]*$). The
  // CASEs mirror the stub's empty-input convention (head_byte=-1,
  // byte_sum=0) where DuckDB would yield 0/NULL.

  val queries: Seq[Query] = Seq(
    /** q60: decoded-feature extraction over the binary media table —
      * the oracle recomputes the same byte math from the text. */
    Query("q_multimodal_features",
      """SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         CASE WHEN length(text) = 0 THEN CAST(-1 AS BIGINT)
              ELSE CAST(ascii(substr(text, 1, 1)) AS BIGINT) END AS head_byte,
         CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
              ELSE coalesce(CAST(list_sum(list_transform(string_split(text, ''),
                x -> ascii(x))) AS BIGINT), 0) END AS byte_sum,
         CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
         FROM documents ORDER BY doc_id""")((s, d) =>
      features(mediaTable(s, d)).toDF().orderBy("doc_id")),

    /** q129: FRAME SAMPLING as a declared query — [[frameSample]]'s
      * array<binary> output summarized per record (frame count, md5 of
      * the first frame, byte length of the last): the per-frame fan-out
      * shape a video pipeline feeds to a model, with the blob column
      * pruned away after the slice. The oracle reproduces the byte
      * math via substr on the ASCII fixture (byte == char, verified
      * in the q60 caveat note). */
    Query("q_multimodal_frames",
      """SELECT doc_id,
         CAST((length(text) + 255) // 256 AS BIGINT) AS n_frames,
         md5(substr(text, 1, 256)) AS first_frame_md5,
         CAST(length(text) - ((length(text) + 255) // 256 - 1) * 256
              AS BIGINT) AS last_frame_bytes
         FROM documents ORDER BY doc_id""")((s, d) =>
      frameSample(mediaTable(s, d))
        .select(col("doc_id"),
          size(col("frames")).cast("bigint").as("n_frames"),
          md5(element_at(col("frames"), 1)).as("first_frame_md5"),
          length(element_at(col("frames"), -1)).cast("bigint")
            .as("last_frame_bytes"))
        .orderBy("doc_id"))
  )
}
