package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted in batched per-partition
  * kernels (the Scala analog of `mapInPandas`).
  *
  * The synthetic media column is a REAL (self-authored) container
  * format — a 16-byte MD5 header over the payload, followed by the
  * UTF-8 payload bytes — and [[decode]] genuinely parses it:
  * splits header/payload, recomputes the MD5 checksum, verifies it
  * against the header, and decodes the payload. Image/audio CODECS
  * are not in this container image, so JPEG/WAV-style decoding isn't
  * demonstrable, but every Spark-side stage a real codec would need
  * (binary column schema, partition-batched kernel, typed output
  * rows, checksum verification, malformed-input handling) runs for
  * real and is oracle-checked cross-engine.
  */
object Multimodal {

  /** One decoded media container (see [[decode]]). `header_ok` is an
    * Int (1/0) rather than Boolean for cross-engine hash parity with
    * the DuckDB oracle twin.
    */
  final case class DecodedMedia(
      doc_id: Long,
      media_bytes: Long,
      payload_bytes: Long,
      header_ok: Int,
      payload_md5: String,
      decoded_text: String)

  /** Attach a synthetic binary payload to each doc (content-derived, so
    * deterministic) — stands in for a real image/audio column.
    */
  def withSyntheticMedia(docs: DataFrame): DataFrame =
    docs.withColumn("media",
      concat(unhex(md5(col("text"))), encode(col("text"), "UTF-8")))

  /** Pure-column metadata extraction — never deserializes the payload
    * into the JVM heap beyond the needed bytes; stays codegen'd.
    */
  def mediaMetaColumns(withMedia: DataFrame): DataFrame =
    withMedia.select(
      col("doc_id"),
      length(col("media")).as("media_bytes"),
      hex(substring(col("media"), 1, 4)).as("header_hex"))

  /** Batched per-partition decode — the mapInPandas-shaped stage. This
    * is a REAL parser for the md5‖UTF-8 container written by
    * [[withSyntheticMedia]]: it splits the 16-byte header from the
    * payload, recomputes MD5 over the payload bytes, verifies it
    * against the header (`header_ok` = 1/0), and decodes the payload
    * as UTF-8. A truncated container (< 16 bytes) degrades to
    * `header_ok = 0` with null checksum/text instead of throwing —
    * the malformed-input contract a real codec stage needs. (A JPEG/
    * WAV codec would slot into exactly this kernel; none ships in
    * this container image.)
    */
  def decode(spark: SparkSession, withMedia: DataFrame): Dataset[DecodedMedia] = {
    import spark.implicits._
    withMedia.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // one digest instance per partition batch, reset per row —
        // the per-partition amortization real decoders rely on
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, bytes) =>
          if (bytes.length < 16)
            DecodedMedia(id, bytes.length.toLong, 0L, 0, null, null)
          else {
            val payload = java.util.Arrays.copyOfRange(bytes, 16, bytes.length)
            md.reset()
            val sum = md.digest(payload)
            val ok = java.security.MessageDigest.isEqual(
              sum, java.util.Arrays.copyOfRange(bytes, 0, 16))
            val hexStr = sum.map(b => f"${b & 0xff}%02x").mkString
            DecodedMedia(id, bytes.length.toLong, payload.length.toLong,
              if (ok) 1 else 0, hexStr,
              new String(payload, java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      }
  }
}
