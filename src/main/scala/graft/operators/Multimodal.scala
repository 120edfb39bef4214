package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines.
  *
  * Media bytes are an opaque `BinaryType` column with a typed metadata
  * struct riding alongside — the schema a 100 TB multimodal corpus actually
  * uses (content-addressed blobs + structured metadata, never decoded
  * strings). The Spark-side plumbing — schema, partition-friendly layout,
  * per-partition batch iteration — is real and tested; the codec itself is a
  * clearly marked deterministic STUB ([[StubCodec]]), so the oracle can
  * reproduce every decoded row.
  *
  * The Scala-native analogue of a Pandas-batched UDF is `mapPartitions` over
  * a typed Dataset: one JVM object stream per partition, codec state
  * amortized across the partition (decoders are expensive to construct —
  * exactly why the batch shape matters).
  */
object Multimodal {

  final case class MediaMeta(format: String, width: Int, height: Int, n_frames: Int)
  final case class MediaRow(media_id: Long, content: Array[Byte])
  final case class DecodedRow(media_id: Long, format: String, width: Int,
                              height: Int, n_frames: Int, n_bytes: Long)

  /** STUB codec — deterministic fake in place of a real image/audio decoder.
    * Derives plausible metadata purely from the bytes so tests are stable.
    * A real deployment replaces this object with e.g. a JNI codec binding.
    *
    * The fake metadata is a pure function of md5(bytes) — 28 bits parsed from
    * the first 7 hex chars — so any engine with an md5 function can reproduce
    * it exactly (the DuckDB oracle does), which keeps the decode
    * lane engine-portable.
    */
  object StubCodec {
    val Formats = Vector("jpeg", "png", "webp", "wav")
    def decode(bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      val hex = md.take(4).map(b => f"${b & 0xff}%02x").mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 7), 16) // 28 bits, ≥ 0
      MediaMeta(
        format = Formats((h % Formats.size).toInt),
        width = 64 + (h % 1024).toInt,
        height = 64 + ((h / 1024) % 1024).toInt,
        n_frames = 1 + (n % 256))
    }
  }

  /** Synthesize a media table from any table with an id + string column —
    * the bytes are the UTF-8 encoding (real binary plumbing, fake media). */
  def syntheticMediaTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("media_id"),
                encode(col("text"), "UTF-8").as("content"))

  /** Decode pass: `mapPartitions` over the typed rows — the batched-UDF
    * shape. Partition-local codec reuse; output is columnar-friendly. */
  def decodeAll(media: DataFrame): Dataset[DecodedRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content")).as[MediaRow]
      .mapPartitions { rows =>
        // codec singleton resolved once per partition; per-row work is the
        // decode itself
        rows.map { r =>
          val m = StubCodec.decode(r.content)
          DecodedRow(r.media_id, m.format, m.width, m.height, m.n_frames,
                     r.content.length.toLong)
        }
      }
  }

  /** Pure-column metadata pass (no decode): byte length + stable content
    * digest — the cheap scan that partitions/filters a 100 TB corpus before
    * any decoder runs. */
  def byteStats(media: DataFrame): DataFrame =
    media.select(col("media_id"),
                 length(col("content")).cast("long").as("n_bytes"),
                 md5(col("content")).as("digest"))

  /** Perceptual near-duplicate pairs over a media table — the image-dedup
    * primitive of a multimodal pipeline: re-encoded/slightly-edited copies
    * share a perceptual fingerprint even when their exact digests differ.
    *
    * Fingerprint: 60-bit average-hash over the raw bytes
    * ([[graft.functions.NativeExprs.phash60]] — integer-exact, engine-
    * reproducible; a real deployment would hash DECODED pixels, which
    * changes the hashed bytes but not one line of this pipeline). Candidate generation is the SimHash pigeonhole: 4
    * chunks of 15 bits — two hashes within Hamming distance `maxHamming`
    * ≤ 3 must agree on ≥ 1 whole chunk — so candidates come from 4 hash
    * equi-joins on (chunk, value), never an all-pairs scan; survivors are
    * verified with the exact popcount of the XOR. The chunk join goes
    * through `Dedup.saltedBandJoin`, so a re-encoded-template corpus whose
    * one hot chunk value floods a reducer gets the same hot-bucket salt
    * guard as the LSH pipelines (cold corpora short-circuit to the plain
    * join). */
  def phashNearDuplicates(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x15-bit pigeonhole chunks guarantee recall only to Hamming 3")
    // NULL content hashes like empty content (0L) rather than silently
    // dropping out of the equi-join — two all-NULL rows ARE perceptual dups
    val hashed = media.select(col("media_id"),
        coalesce(graft.functions.NativeExprs.phash60(col("content")),
                 lit(0L)).as("ph"))
    val chunks = hashed.select(col("media_id"), col("ph"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"), shiftright(col("ph"), i * 15).bitwiseAND(lit(0x7fffL)).as("bucket"))): _*))
        .as("c"))
      .select(col("media_id"), col("ph"), col("c.band"), col("c.bucket"))
    val a = chunks.toDF("id_a", "ph_a", "band", "bucket")
    val b = chunks.toDF("id_b", "ph_b", "band", "bucket")
    graft.operators.Dedup.saltedBandJoin(a, b, "id_a")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ph_a"), col("ph_b")).distinct()
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Frame sampling plan for a decoded video row: every `stride`-th frame
    * index, capped at `maxFrames`. Pure column expression over metadata —
    * the decoder only ever extracts the planned frames. */
  def frameSamplePlan(decoded: DataFrame, stride: Int, maxFrames: Int): DataFrame =
    decoded.withColumn("frame_plan",
      slice(sequence(lit(0), col("n_frames") - 1, lit(stride)), 1, maxFrames))

  /** Deterministic resize plan: target box fit preserving aspect ratio
    * (integer math only). The STUB stand-in for an actual resample kernel. */
  def resizePlan(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scaleNum = lit(maxSide)
    val longSide = greatest(col("width"), col("height"))
    val needs = longSide > maxSide
    decoded
      .withColumn("out_width",
        when(needs, (col("width") * scaleNum / longSide).cast("int")).otherwise(col("width")))
      .withColumn("out_height",
        when(needs, (col("height") * scaleNum / longSide).cast("int")).otherwise(col("height")))
  }
}
