package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.sources.Tables

/** Decoded-media metadata row (see Multimodal.multimodalDecode). */
case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
    header: String)

/** One sampled frame of a media blob (see Multimodal.multimodalFrames). */
case class MediaFrame(doc_id: Long, frame_no: Long, frame_len: Int,
    first_byte: Int)

/** Extracted per-blob feature vector (see multimodalFeatures). */
case class MediaFeatures(doc_id: Long, n_alpha: Long, n_digit: Long,
    n_space: Long, n_other: Long)

/** Multimodal binary-column processing: media (image/audio/video) lives
  * in DataFrames as an opaque `binary` column plus typed metadata, and
  * decode / feature-extraction runs per partition so codec state is
  * initialized once per task, not per row — the Spark-side plumbing of
  * an image pipeline (schema, partitioning, batch shape).
  *
  * The decode is REAL for the formats a pure JVM can parse with no
  * external library — binary PPM/PGM, uncompressed BMP, PCM WAV, and
  * the PNG IHDR ([[MediaCodec]]): when a blob carries a recognized
  * magic number the parsed dimensions are emitted. Blobs with no
  * recognized header (this corpus's ASCII stand-ins, or codecs like
  * JPEG that need native libs) fall back to deterministic arithmetic
  * pseudo-dimensions so the pipeline stays total — which also keeps
  * the gated queries oracle-checkable over the synthetic corpus, while
  * MediaCodecSpec drives real generated media bytes through the same
  * distributed plan and asserts the true geometry comes out.
  */
object Multimodal {

  /** `multimodal_decode` — binary ingestion + per-partition decode:
    * documents' text bytes stand in for media blobs; emit per-blob
    * metadata (byte count, width/height, 4-byte header hex). Blobs
    * with a recognized media magic number get REAL parsed geometry
    * via [[MediaCodec.decodeMeta]] (PPM/PGM/BMP/WAV/PNG); all others
    * get the deterministic arithmetic fallback. On this ASCII corpus
    * no blob matches a magic, so the fallback is SQL-expressible and
    * the plumbing IS oracle-gated; MediaCodecSpec exercises the real
    * branch with generated media bytes through this same function.
    */
  def multimodalDecode(spark: SparkSession, sfDir: String): DataFrame =
    decodeBlobs(spark, Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("blob")))

  /** The decode stage over any (doc_id, blob binary) frame — split out
    * so the spec can drive real media bytes through the identical
    * distributed plan the gated query runs.
    */
  def decodeBlobs(spark: SparkSession, blobsDf: DataFrame): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    blobsDf
      .as[(Long, Array[Byte])]
      .mapPartitions { blobs =>
        // a real pipeline initializes codec state once per task here
        blobs.map { case (id, bytes) =>
          val (width, height) = MediaCodec.decodeMeta(bytes) match {
            case Some(m) => (m.width, m.height)
            case None =>
              // deterministic fallback for unrecognized formats
              (64 + (bytes.length % 640), 64 + ((bytes.length / 7) % 480))
          }
          val header = bytes.take(4).map(b => f"$b%02x").mkString
          MediaMeta(id, bytes.length, width, height, header)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** `multimodal_frames` — fixed-stride frame sampling: each blob splits
    * into 512-byte frames (the video/audio frame-extraction shape), one
    * output row per frame via a typed `flatMap` — the custom-generator
    * (UDTF) surface over a binary column. A real pipeline would emit
    * decoded frame tensors; the stub emits per-frame length + first
    * byte, which on this ASCII corpus is SQL-expressible, so the
    * generator plumbing (row multiplication, ordering, batch shape) IS
    * oracle-gated.
    */
  def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        bytes.grouped(512).zipWithIndex.map { case (frame, i) =>
          MediaFrame(id, i.toLong, frame.length, frame(0) & 0xff)
        }
      }
      .toDF()
      .orderBy(col("doc_id"), col("frame_no"))
  }

  /** `multimodal_features` — per-partition FEATURE EXTRACTION over the
    * binary blob (completing the decode / feature-extract / resize /
    * frame-sample quartet): one pass over the raw bytes per blob
    * producing a byte-class histogram feature vector. The extractor
    * runs in the same once-per-task `mapPartitions` shape a real
    * embedding model would (model weights load where the codec would);
    * the byte-level histogram is deterministic and SQL-expressible on
    * this ASCII corpus, so the extraction plumbing IS oracle-gated.
    */
  def multimodalFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { blobs =>
        // a real extractor initializes its model ONCE here per task
        blobs.map { case (id, bytes) =>
          var alpha = 0L; var digit = 0L; var space = 0L; var other = 0L
          var i = 0
          while (i < bytes.length) {
            val b = bytes(i) & 0xff
            if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) alpha += 1
            else if (b >= '0' && b <= '9') digit += 1
            else if (b == ' ') space += 1
            else other += 1
            i += 1
          }
          MediaFeatures(id, alpha, digit, space, other)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** `multimodal_resize` — aspect-preserving resize-to-fit (224×224)
    * over the decoded dimensions: the standard preprocessing step
    * between decode and feature extraction. Pure integer arithmetic on
    * the metadata (the actual pixel resample lives behind the same stub
    * boundary as the decode), so the stage composes with the decode
    * plumbing AND stays oracle-gated.
    */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame =
    multimodalDecode(spark, sfDir)
      .select(col("doc_id"), col("width"), col("height"),
        floor(col("width") * 224.0 / greatest(col("width"), col("height")))
          .cast("int").as("rs_w"),
        floor(col("height") * 224.0 / greatest(col("width"), col("height")))
          .cast("int").as("rs_h"))
      .orderBy(col("doc_id"))

  /** `multimodal_quality` — corrupt/blank-media screening by byte
    * entropy: per blob, the Shannon entropy (bits) of its byte
    * distribution, flagging low-entropy blobs (a blank image, a
    * constant-fill corrupt file, a truncated stream all collapse to
    * few byte values — the cheapest no-decode quality signal a media
    * pipeline has). Runs in the same once-per-task `mapPartitions`
    * shape as the other extractors; the 256-bin histogram is O(1)
    * state per blob, accumulated bin-ascending so the entropy sum
    * order is deterministic. On this ASCII corpus the byte histogram
    * is SQL-expressible, so the plumbing IS oracle-gated; the 4.0-bit
    * threshold flags the corpus's bottom decile.
    */
  def multimodalQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { blobs =>
        blobs.map { case (id, bytes) =>
          val hist = new Array[Long](256)
          var i = 0
          while (i < bytes.length) { hist(bytes(i) & 0xff) += 1; i += 1 }
          val n = bytes.length.toDouble
          var ent = 0.0
          var b = 0
          while (b < 256) {
            if (hist(b) > 0) {
              val p = hist(b) / n
              ent -= p * math.log(p) / math.log(2.0)
            }
            b += 1
          }
          (id, bytes.length.toLong, ent)
        }
      }
      .toDF("doc_id", "n_bytes", "ent")
      .select(col("doc_id"), col("n_bytes"),
        round(col("ent"), 6).as("entropy_bits"))
      // flag from the ROUNDED value: boundary membership then shares the
      // round-6 contract instead of riding the last ulp of the raw sum
      .withColumn("low_quality", col("entropy_bits") < 4.0)
      .orderBy(col("doc_id"))
  }

  val registry: Seq[Query] = Seq(
    Query("multimodal_quality", multimodalQuality _, Some(
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(n) AS nb FROM cc GROUP BY 1),
        |e AS (
        |  SELECT cc.doc_id, CAST(MAX(nb) AS BIGINT) AS n_bytes,
        |    ROUND(SUM(-(n / CAST(nb AS DOUBLE)) *
        |      ln(n / CAST(nb AS DOUBLE)) / ln(2)), 6) AS entropy_bits
        |  FROM cc JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT doc_id, n_bytes, entropy_bits,
        |  entropy_bits < 4.0 AS low_quality
        |FROM e ORDER BY doc_id""".stripMargin)),
    Query("multimodal_features", multimodalFeatures _, Some(
      """SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_space,
        |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_other
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),
    Query("multimodal_resize", multimodalResize _, Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(64 + length(text) % 640 AS INTEGER) AS width,
        |    CAST(64 + (length(text) // 7) % 480 AS INTEGER) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  CAST(FLOOR(width * 224.0 / GREATEST(width, height)) AS INTEGER) AS rs_w,
        |  CAST(FLOOR(height * 224.0 / GREATEST(width, height)) AS INTEGER) AS rs_h
        |FROM m
        |ORDER BY doc_id""".stripMargin)),
    Query("multimodal_frames", multimodalFrames _, Some(
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |  CAST(least(512, length(text) - i*512) AS INTEGER) AS frame_len,
        |  ascii(substr(text, CAST(i*512 + 1 AS INTEGER), 1)) AS first_byte
        |FROM documents,
        |  unnest(range(CAST(ceil(length(text)/512.0) AS BIGINT))) AS t(i)
        |ORDER BY doc_id, frame_no""".stripMargin)),
    Query("multimodal_decode", multimodalDecode _, Some(
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_bytes,
        |  CAST(64 + length(text) % 640 AS INTEGER) AS width,
        |  CAST(64 + (length(text) // 7) % 480 AS INTEGER) AS height,
        |  lower(hex(substr(text, 1, 4))) AS header
        |FROM documents
        |ORDER BY doc_id""".stripMargin))
  )
}
