package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}

/** bzip2 (`.bz2`) — Wikipedia dumps, a canonical 100 TB-class text
  * source, ship as `.bz2`, so the DECODER is crawl-ingest surface the
  * way [[Gzip]] is for Common Crawl.
  *
  * Both directions go through commons-compress, on the Spark
  * classpath: multi-block and concatenated multi-STREAM payloads
  * (pbzip2 output), both CRC tiers verified, trailing garbage
  * rejected. The deprecated "randomized" block bit (dropped from the
  * format in 0.9.5) is still rejected loudly by name on the first
  * block, where its position is fixed; every other malformed input
  * raises IllegalArgumentException. The test suite cross-checks both
  * directions against the system `bzip2` binary.
  */
object Bzip2 {

  private val BlockMagic = Array(0x31, 0x41, 0x59, 0x26, 0x53, 0x59).map(_.toByte)

  /** Decompress a complete `.bz2` payload (multi-block and
    * concatenated multi-stream). */
  def decode(bytes: Array[Byte]): Array[Byte] = {
    require(bytes != null && bytes.length >= 10, "not a bzip2 payload (too short)")
    // first block: 4-byte "BZh<level>" header, 6-byte block magic,
    // 32-bit block CRC, then the randomized bit (MSB of byte 14)
    if (bytes.length > 14 && java.util.Arrays.equals(bytes, 4, 10, BlockMagic, 0, 6))
      require((bytes(14) & 0x80) == 0,
        "randomized bzip2 blocks (deprecated since 0.9.5) are not supported")
    Decompress.asMalformed("bzip2") {
      val in = new BZip2CompressorInputStream(new ByteArrayInputStream(bytes), true)
      try in.readAllBytes() finally in.close()
    }
  }

  /** Compress as one bzip2 stream at block size 9 (900 kB). */
  def encode(data: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream(data.length / 3 + 64)
    val out = new BZip2CompressorOutputStream(bo)
    try out.write(data) finally out.close()
    bo.toByteArray
  }
}
