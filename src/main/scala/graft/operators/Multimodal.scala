package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Category I (multimodal half) — opaque-binary media columns with
  * typed metadata (training-data-pipeline mandate).
  *
  * Media payloads are carried as `binary` columns + a typed metadata
  * struct; decode / feature-extract / frame-sample run per-partition
  * over iterator batches (the Spark-side plumbing — schema,
  * partitioning, batch shape — is real). The codec itself is a
  * clearly-marked deterministic STUB (no image/audio libs in this
  * container): it derives features from raw bytes. Swapping in a real
  * decoder changes only `MediaCodec`, nothing in the plan.
  */
object Multimodal {

  /** STUB media codec — stands in for libjpeg/ffmpeg-style decoding.
    * Deterministic pure function of the bytes, so plans over it are
    * testable and hash-stable. */
  object MediaCodec {
    /** "Decode" a payload into fixed-size features: byte count, mean
      * byte value, max byte, distinct-byte count. A real impl would
      * decode pixels/samples here. */
    def extractFeatures(bytes: Array[Byte]): Array[Double] = {
      if (bytes.isEmpty) Array(0.0, 0.0, 0.0, 0.0)
      else {
        val u = bytes.map(b => (b & 0xFF).toDouble)
        Array(u.length.toDouble, u.sum / u.length, u.max,
          u.distinct.length.toDouble)
      }
    }

    /** "Frame-sample" every `stride`-th byte (video frame analog). */
    def sampleFrames(bytes: Array[Byte], stride: Int): Array[Byte] =
      bytes.indices.collect {
        case i if i % stride == 0 => bytes(i)
      }.toArray

    /** "Resize" to a fixed-length payload via nearest-neighbor index
      * mapping (image-resize analog over the opaque byte plane). */
    def resize(bytes: Array[Byte], outLen: Int): Array[Byte] =
      if (bytes.isEmpty) Array.fill(outLen)(0.toByte)
      else Array.tabulate(outLen)(i =>
        bytes((i.toLong * bytes.length / outLen).toInt))
  }

  private val featSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", IntegerType),
    StructField("byte_sum", LongType),
    StructField("mean_b_1e4", LongType),
    StructField("max_byte", IntegerType),
    StructField("distinct_bytes", IntegerType),
    StructField("n_frames", IntegerType)))

  /** The multimodal table: doc_id, payload binary, metadata struct —
    * here synthesized from `documents.text` (UTF-8 bytes) because the
    * fixtures carry no real media; at 100 TB this is the parquet
    * schema a media lakehouse table would have. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(lit("text/plain").as("mime"),
          col("lang").as("lang"),
          octet_length(encode(col("text"), "UTF-8")).as("n_bytes"))
          .as("meta"))

  val queries: Map[String, Q] = Map(
    // Relational x vector x text: documents x embeddings on
    // doc_id = vec_id (inner — fixture cardinalities differ), text
    // stats per label. Unrounded mean, as text_stats (round()
    // diverges from DuckDB on .xx5).
    "multimodal_join" -> ((s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d),
          col("doc_id") === col("vec_id"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          avg("n_chars").as("avg_chars"),
          countDistinct("lang").as("n_langs"))
        .orderBy("label")),

    // Binary-column scan: payload size + metadata projection — the
    // oracle-checkable half of the media path.
    "multimodal_blob" -> ((s, d) =>
      mediaTable(s, d)
        .select(col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          col("meta.mime").as("mime"),
          col("meta.lang").as("lang"),
          ascii(substring(col("payload").cast("string"), 1, 1))
            .as("first_byte"))
        .orderBy("doc_id")),

    // Resize through the same per-partition codec path — every
    // payload nearest-neighbor-resampled to a fixed 64-byte plane
    // (the thumbnail/fixed-input-tensor step of a media pipeline),
    // summarized by an unsigned byte checksum. ORACLE-CHECKED, unlike
    // the feature stub: the corpus is ASCII, so byte k of the payload
    // IS character k of the text and DuckDB can replay the
    // index-mapped resample with substring arithmetic — the one
    // multimodal op where the full codec path is value-verified
    // cross-engine.
    "multimodal_resize" -> ((s, d) => {
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_bytes_in", IntegerType),
        StructField("n_bytes_out", IntegerType),
        StructField("byte_sum", LongType)))
      val rdd = mediaTable(s, d).select("doc_id", "payload").rdd
        .mapPartitions { it =>
          it.map { r =>
            val bytes = r.getAs[Array[Byte]](1)
            val out = MediaCodec.resize(bytes, 64)
            Row(r.getLong(0), bytes.length, out.length,
              out.map(b => (b & 0xFF).toLong).sum)
          }
        }
      s.createDataFrame(rdd, schema).orderBy("doc_id")
    }),

    // Feature extraction via per-partition batch iteration — the
    // mapPartitions path a real decoder would use (one codec init per
    // partition, streamed batches, no collect). ORACLE-CHECKED since
    // r8 by the multimodal_resize ASCII byte==char replay: every
    // output is INTEGER (mean as 1e-4 fixed point via integer
    // division — the prob_ppm pattern; a rounded double mean is the
    // cross-engine HALF_UP tie hazard), so DuckDB reproduces the
    // extractor with substring arithmetic, bit for bit.
    "multimodal_features" -> ((s, d) => {
      val rdd = mediaTable(s, d)
        .select("doc_id", "payload")
        .rdd.mapPartitions { it =>
          // codec init would happen here, once per partition
          it.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val f = MediaCodec.extractFeatures(bytes)
            val frames = MediaCodec.sampleFrames(bytes, stride = 16)
            val byteSum = bytes.map(b => (b & 0xFF).toLong).sum
            val mean1e4 =
              if (bytes.isEmpty) 0L else byteSum * 10000L / bytes.length
            Row(id, f(0).toInt, byteSum, mean1e4, f(2).toInt,
              f(3).toInt, frames.length)
          }
        }
      s.createDataFrame(rdd, featSchema).orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "multimodal_join" ->
      """SELECT label, count(*) AS n, avg(n_chars) AS avg_chars,
        | count(DISTINCT lang) AS n_langs
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY label ORDER BY label""".stripMargin,

    "multimodal_blob" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        | 'text/plain' AS mime, lang,
        | CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Replays MediaCodec.resize byte-for-byte: output position i maps
    // to input index (i·len) div 64 (0-based) = substring position
    // +1 (1-based); ascii(char) == unsigned byte on this ASCII corpus.
    "multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_bytes_in,
        |  CAST(64 AS INTEGER) AS n_bytes_out,
        |  CAST(list_sum(list_transform(range(0, 64),
        |    i -> ascii(substring(text,
        |      CAST(i * length(text) // 64 AS INTEGER) + 1, 1))))
        |    AS BIGINT) AS byte_sum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Replays the feature extractor on the ASCII corpus (byte k ==
    // char k, as proven out by multimodal_resize): per-char ascii
    // values reproduce sum/max/distinct; the mean is 1e-4 fixed
    // point via integer division on both engines; frames = every
    // 16th byte = (n + 15) div 16.
    "multimodal_features" ->
      """WITH f AS (
        |  SELECT doc_id, length(text) AS n,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ascii(substring(text, CAST(i AS INTEGER), 1))) AS vals
        |  FROM documents
        |)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
        |  CAST(coalesce(list_sum(vals), 0) AS BIGINT) AS byte_sum,
        |  CAST(CASE WHEN n = 0 THEN 0
        |    ELSE coalesce(list_sum(vals), 0) * 10000 // n END
        |    AS BIGINT) AS mean_b_1e4,
        |  CAST(coalesce(list_max(vals), 0) AS INTEGER) AS max_byte,
        |  CAST(coalesce(length(list_distinct(vals)), 0) AS INTEGER)
        |    AS distinct_bytes,
        |  CAST((n + 15) // 16 AS INTEGER) AS n_frames
        |FROM f ORDER BY doc_id""".stripMargin
  )
}
