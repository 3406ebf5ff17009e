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
        .orderBy("doc_id")),

    /** q289: MAGIC-BYTE MIME SNIFFING [N multimodal surface] — the
      * ingest-time format detector every multimodal pipeline runs
      * before routing blobs to codecs: a mixed media table (PNG /
      * JPEG / RIFF magic headers prepended to the q60 byte fixture by
      * doc_id%4; %4==3 stays bare text) is sniffed from its FIRST
      * FOUR BYTES (hex-prefix compare — the actual file(1) mechanism)
      * and summarized per detected type. The declared-vs-sniffed
      * agreement check is what catches mislabeled uploads at ingest.
      * Plan: pure map over the blobs (binary concat + substring —
      * both codegen'd) followed by one aggregate on a ≤4-key domain;
      * the blob column is pruned immediately after the 4-byte slice,
      * so at 100 TB the shuffle carries counters only. Oracle
      * reproduces the byte math on the hex plane (the q60 ASCII
      * contract: byte == char for this fixture). */
    Query("q_multimodal_mime",
      // q289: the byte math replayed on the hex plane (ASCII fixture:
      // byte == char, the q60 contract); DuckDB hex() is uppercase
      // like Spark's.
      """WITH m AS (
           SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN '89504E470D0A1A0A'
                             WHEN 1 THEN 'FFD8FFE0'
                             WHEN 2 THEN '52494646'
                             ELSE '' END AS magic_hex,
             text
           FROM documents),
         s AS (
           SELECT doc_id,
             substr(magic_hex || hex(encode(text)), 1, 8) AS px,
             CAST(length(magic_hex) // 2 + length(text) AS BIGINT)
               AS n_bytes
           FROM m)
         SELECT CASE WHEN px = '89504E47' THEN 'image/png'
                     WHEN substr(px, 1, 6) = 'FFD8FF' THEN 'image/jpeg'
                     WHEN px = '52494646' THEN 'audio/wav'
                     ELSE 'text/plain' END AS mime_sniffed,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(min(doc_id) AS BIGINT) AS min_doc
         FROM s GROUP BY 1 ORDER BY mime_sniffed""")((s, d) => {
      val m4 = pmod(col("doc_id"), lit(4))
      val magicHex = when(m4 === 0, lit("89504E470D0A1A0A"))
        .when(m4 === 1, lit("FFD8FFE0"))
        .when(m4 === 2, lit("52494646"))
        .otherwise(lit(""))
      val content = concat(unhex(magicHex), col("text").cast("binary"))
      val px = hex(substring(content, 1, 4))
      val sniffed = when(px === "89504E47", "image/png")
        .when(substring(px, 1, 6) === "FFD8FF", "image/jpeg")
        .when(px === "52494646", "audio/wav")
        .otherwise("text/plain")
      documents(s, d)
        .select(col("doc_id"), sniffed.as("mime_sniffed"),
          length(content).cast("bigint").as("n_bytes"))
        .groupBy("mime_sniffed")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_bytes").cast("bigint").as("total_bytes"),
          min("doc_id").as("min_doc"))
        .orderBy("mime_sniffed")
    })
  )
}
