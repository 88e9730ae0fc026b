package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unified decompression dispatch over the six lossless codecs —
  * the compression sibling of [[Multimodal.extractAudioMeta]]'s
  * seven-format audio dispatcher: a mixed crawl/dump corpus carries
  * `.gz`, `.bz2`, `.xz`, `.zst`, `.lz4` and `.sz` blobs side by side,
  * and ingest wants ONE call that sniffs magic bytes and routes. The
  * codec objects decode through the libraries already on the Spark
  * classpath (JDK zlib, commons-compress, xz, zstd-jni, snappy-java);
  * LZ4 frames keep the hand decoder, the only one here that reads
  * linked-block frames.
  *
  * Probes are mutually disjoint by construction (distinct magic
  * prefixes: `1f 8b`, `BZh`, `fd 37 7a 58 5a 00`, `28 b5 2f fd`); a
  * payload matching none is reported `format = "raw"` and passed
  * through UNCHANGED — uncompressed members in a mixed bucket are
  * data, not errors — while a payload that MATCHES a magic (or a
  * truncated prefix of one) but fails to decode fails loudly: a cut
  * gzip member must not silently pass through as "raw". Row-local. */
object Decompress {

  /** Run a library decode under the repo's malformed-input contract:
    * the libraries' corrupt-stream exceptions (IOExceptions such as
    * zstd-jni's `ZstdIOException` and xz's `CorruptedInputException`,
    * and unchecked ones such as lz4-java's `LZ4Exception`) surface as
    * IllegalArgumentException naming the codec. */
  private[operators] def asMalformed[T](codec: String)(f: => T): T =
    try f catch {
      case e: IllegalArgumentException => throw e
      case e @ (_: java.io.IOException | _: RuntimeException) =>
        throw new IllegalArgumentException(s"corrupt $codec stream: ${e.getMessage}", e)
    }

  private val GzipMagic = Array(0x1f, 0x8b)
  private val Bzip2Magic = Array('B'.toInt, 'Z'.toInt, 'h'.toInt)
  private val XzMagic = Array(0xfd, '7'.toInt, 'z'.toInt, 'X'.toInt, 'Z'.toInt, 0)
  private val ZstdMagic = Array(0x28, 0xb5, 0x2f, 0xfd)
  private val Lz4Magic = Array(0x04, 0x22, 0x4d, 0x18)
  private val SnappyMagic = // framed .sz stream identifier chunk
    Array(0xff, 0x06, 0x00, 0x00, 's'.toInt, 'N'.toInt, 'a'.toInt,
      'P'.toInt, 'p'.toInt, 'Y'.toInt)

  /** True when every AVAILABLE byte matches the magic's prefix (at
    * least 2 bytes present). A payload shorter than the full magic but
    * carrying its prefix still classifies, so the subsequent decode
    * fails loudly instead of the blob passing through as "raw". */
  private def magicPrefix(b: Array[Byte], magic: Array[Int]): Boolean = {
    if (b.length < 2) false
    else {
      val n = math.min(b.length, magic.length)
      var i = 0
      while (i < n) {
        if ((b(i) & 0xff) != magic(i)) return false
        i += 1
      }
      true
    }
  }

  /** Sniffed format: "gzip", "bzip2", "xz", "zstd", "lz4", "snappy"
    * (framed .sz only — the raw block format has no magic) or "raw".
    * (Brotli is NOT sniffable — the format has no magic number; its
    * recognition lives where the metadata is, [[WebArchive
    * .decodeHttpBody]]'s Content-Encoding handling.) Each magic
    * is checked against the bytes actually present, so a truncated
    * magic-prefixed payload classifies as its format (and then fails
    * loudly in decode) rather than slipping through as raw. */
  def sniff(b: Array[Byte]): String =
    if (b == null) "raw"
    else if (magicPrefix(b, GzipMagic)) "gzip"
    else if (magicPrefix(b, Bzip2Magic) &&
      (b.length < 4 || (b(3) >= '1' && b(3) <= '9'))) "bzip2"
    else if (magicPrefix(b, XzMagic)) "xz"
    else if (magicPrefix(b, ZstdMagic)) "zstd"
    else if (magicPrefix(b, Lz4Magic)) "lz4"
    else if (magicPrefix(b, SnappyMagic)) "snappy"
    else "raw"

  /** Decompress one payload by sniffed format (identity for "raw"). */
  def auto(b: Array[Byte]): (String, Array[Byte]) = sniff(b) match {
    case "gzip" => ("gzip", Gzip.gunzip(b))
    case "bzip2" => ("bzip2", Bzip2.decode(b))
    case "xz" => ("xz", Xz.decode(b))
    case "zstd" => ("zstd", Zstd.decode(b))
    case "lz4" => ("lz4", Lz4.decode(b))
    case "snappy" => ("snappy", Snappy.decodeFramed(b))
    case _ => ("raw", b)
  }

  /** media(idCol, dataCol) → (idCol, format, data): auto-decompressed
    * payloads with the detected format tag. Row-local mapPartitions;
    * payloads never shuffle. */
  def autoFrame(media: DataFrame, idCol: String, dataCol: String): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col(idCol).cast("long"), col(dataCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val (fmt, out) = auto(b)
        (id, fmt, out)
      })
      .toDF(idCol, "format", "data")
  }
}
