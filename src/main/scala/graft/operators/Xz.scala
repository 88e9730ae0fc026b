package graft.operators

import java.io.ByteArrayInputStream
import java.util.zip.CRC32

import org.tukaani.xz.XZInputStream

/** XZ (`.xz` container around LZMA2) — the third big dump codec next
  * to [[Gzip]] and [[Bzip2]] (kernel sources, many dataset mirrors
  * and dump archives ship `.xz`).
  *
  * Decode goes through xz-java (XZ for Java 1.10, on the Spark
  * classpath): multi-block and multi-stream payloads with stream
  * padding, every check kind (none, CRC32, CRC64, SHA-256), every
  * preset. The decoder's memory use is capped at [[MemoryLimitKiB]],
  * enough for `xz -9e` (a 64 MiB dictionary), so a crafted header
  * declaring a huge dictionary fails typed instead of exhausting the
  * heap; corrupt, truncated and over-limit streams raise
  * IllegalArgumentException.
  *
  * Encode side is the deterministic generator: STORED LZMA2 chunks
  * (control 0x01/0x02 — valid by spec, the well-known "xz -0 without
  * compression" shape), CRC32 check, correct index + footer. Output
  * size is the closed form
  * `60 + n + 3·⌈n/65536⌉ + pad4(n + 3·⌈n/65536⌉ + 1)`-style
  * bookkeeping exposed as [[storedXzSize]] so a SQL oracle can
  * recompute it exactly. The test suite cross-checks both directions
  * against the system `xz` binary.
  */
object Xz {

  private val HeaderMagic = Array(0xfd, '7', 'z', 'X', 'Z', 0x00).map(_.toByte)

  /** Decoder memory cap in KiB: `xz -9e` needs ~65 MiB to decode. */
  private final val MemoryLimitKiB = 128 * 1024

  private def crc32of(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new CRC32()
    c.update(b, off, len)
    c.getValue
  }

  /** Decompress a complete `.xz` payload (multi-block, multi-stream,
    * every defined check kind verified). */
  def decode(bytes: Array[Byte]): Array[Byte] = {
    // the smallest stream is 32 bytes: header, empty index, footer
    require(bytes != null && bytes.length >= 32, "not an xz payload (too short)")
    Decompress.asMalformed("xz") {
      val in = new XZInputStream(new ByteArrayInputStream(bytes), MemoryLimitKiB)
      try in.readAllBytes() finally in.close()
    }
  }

  // ---- stored-mode encoder --------------------------------------------

  private def putLe32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }

  private def writeVarint(b: java.io.ByteArrayOutputStream, v0: Long): Int = {
    var v = v0
    var n = 0
    while (v >= 0x80) { b.write(((v & 0x7f) | 0x80).toInt); v >>= 7; n += 1 }
    b.write(v.toInt)
    n + 1
  }

  /** XZ with stored LZMA2 chunks and a CRC32 check — valid by spec,
    * deterministic, closed-form size ([[storedXzSize]]). */
  def encode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 128)
    // stream header: magic, flags (check = CRC32), CRC32(flags)
    out.write(HeaderMagic)
    out.write(0); out.write(1)
    putLe32(out, crc32of(Array[Byte](0, 1), 0, 2))
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0) // index indicator
    if (data.isEmpty) {
      writeVarint(idx, 0) // empty input: a zero-block stream
    } else {
      // block header: (2+1)*4 = 12 bytes incl. its CRC32
      val bh = new java.io.ByteArrayOutputStream()
      bh.write(2)
      bh.write(0) // one filter, no size fields
      bh.write(0x21) // LZMA2
      bh.write(1) // props size
      bh.write(8) // dict size byte: 2 << (8/2 + 11) = 64 KiB
      while (bh.size() < 12 - 4) bh.write(0)
      val bhBytes = bh.toByteArray
      out.write(bhBytes)
      putLe32(out, crc32of(bhBytes, 0, bhBytes.length))
      // LZMA2 stored chunks
      val dataStart = out.size()
      var off = 0
      var first = true
      while (off < data.length) {
        val len = math.min(1 << 16, data.length - off)
        out.write(if (first) 1 else 2) // dict reset only on the first
        first = false
        out.write((len - 1) >> 8); out.write((len - 1) & 0xff)
        out.write(data, off, len)
        off += len
      }
      out.write(0) // LZMA2 terminator
      val unpaddedData = out.size() - dataStart
      var pad = (4 - (unpaddedData % 4)) % 4
      while (pad > 0) { out.write(0); pad -= 1 }
      // check: CRC32 of the uncompressed data
      putLe32(out, crc32of(data, 0, data.length))
      writeVarint(idx, 1)
      // unpadded size = header (12) + compressed data + check (4)
      writeVarint(idx, 12L + unpaddedData + 4L)
      writeVarint(idx, data.length.toLong)
    }
    while (idx.size() % 4 != 0) idx.write(0)
    val idxBytes = idx.toByteArray
    out.write(idxBytes)
    putLe32(out, crc32of(idxBytes, 0, idxBytes.length))
    // footer
    val backward = (idxBytes.length + 4) / 4 - 1
    val tail = new java.io.ByteArrayOutputStream()
    putLe32(tail, backward.toLong)
    tail.write(0); tail.write(1)
    val tailBytes = tail.toByteArray
    putLe32(out, crc32of(tailBytes, 0, tailBytes.length))
    out.write(tailBytes)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }

  /** Closed-form [[encode]] output size for oracle replay. */
  def storedXzSize(n: Long): Long =
    if (n == 0) 12 + 4 + 4 + 12 // header + padded empty index + its CRC + footer
    else {
      val chunks = (n + 65535) / 65536
      val lzma2 = n + 3 * chunks + 1 // chunk headers + terminator
      val padded = (lzma2 + 3) / 4 * 4
      val unpadded = 12 + lzma2 + 4 // header + unpadded data + check
      val idxPayload = 1 + 1 + varintLen(unpadded) + varintLen(n)
      val idx = (idxPayload + 3) / 4 * 4
      12 + 12 + padded + 4 + idx + 4 + 12
    }

  private def varintLen(v: Long): Long = {
    var n = 1L
    var x = v
    while (x >= 0x80) { x >>= 7; n += 1 }
    n
  }
}
