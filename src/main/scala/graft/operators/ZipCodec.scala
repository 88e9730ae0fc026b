package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** ZIP archive codec, hand-written from the PUBLIC format spec
  * (PKWARE APPNOTE.TXT, the .ZIP File Format Specification) — no
  * archive library. Completes the archive family next to
  * [[TarCodec]]: scraped datasets and document dumps routinely arrive
  * zipped, one member per document.
  *
  * Reader walks the END OF CENTRAL DIRECTORY record (found by
  * backwards scan over the comment tail), then the central directory
  * (the authoritative member list per spec), and extracts each member
  * through its local header — STORED (method 0) copied, DEFLATED
  * (method 8) through the shared [[Gzip.inflateRaw]]; every member's
  * CRC-32 and sizes are verified against the central directory, and
  * data-descriptor members (bit 3) resolve their sizes from the
  * central directory as the spec directs. Zip64, encryption, and
  * multi-disk archives are rejected loudly by name. Writer emits
  * STORED or DEFLATED members (fixed-Huffman via [[Gzip.deflateFixed]]
  * when it shrinks) with a correct central directory.
  *
  * Cross-checked in the spec suite against the JDK's independent
  * `java.util.zip.Zip{Input,Output}Stream` in both directions (the
  * ImageIO precedent). Row-local; an archive decodes inside one task. */
object ZipCodec {

  final case class Entry(name: String, data: Array[Byte])

  private val LocalMagic = 0x04034b50
  private val CentralMagic = 0x02014b50
  private val EocdMagic = 0x06054b50

  // ---- little-endian helpers -------------------------------------------

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  private def w16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
  }
  private def w32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
    out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
  }

  // ---- writer ----------------------------------------------------------

  /** Build an archive; each entry DEFLATED when that shrinks it,
    * STORED otherwise. Deterministic: fixed DOS timestamp, entries in
    * caller order. */
  def encode(entries: Seq[Entry]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(entries.map(_.data.length).sum + 512)
    final case class Rec(name: Array[Byte], method: Int, crc: Long,
        csize: Int, usize: Int, offset: Int)
    val recs = Seq.newBuilder[Rec]
    entries.foreach { e =>
      val name = e.name.getBytes(UTF_8)
      require(name.length <= 0xffff, s"member name too long: ${e.name}")
      val c = new CRC32()
      c.update(e.data)
      val deflated = Gzip.deflateFixed(e.data)
      val (method, payload) =
        if (deflated.length < e.data.length) (8, deflated) else (0, e.data)
      val offset = out.size()
      w32(out, LocalMagic)
      w16(out, 20) // version needed
      w16(out, 0x0800) // flags: UTF-8 names
      w16(out, method)
      w16(out, 0) // mod time (fixed)
      w16(out, 0x5a21) // mod date: 2025-01-01 (fixed, deterministic)
      w32(out, c.getValue)
      w32(out, payload.length)
      w32(out, e.data.length)
      w16(out, name.length)
      w16(out, 0) // extra len
      out.write(name, 0, name.length)
      out.write(payload, 0, payload.length)
      recs += Rec(name, method, c.getValue, payload.length, e.data.length, offset)
    }
    val cdStart = out.size()
    val all = recs.result()
    all.foreach { r =>
      w32(out, CentralMagic)
      w16(out, 20) // version made by
      w16(out, 20) // version needed
      w16(out, 0x0800)
      w16(out, r.method)
      w16(out, 0)
      w16(out, 0x5a21)
      w32(out, r.crc)
      w32(out, r.csize)
      w32(out, r.usize)
      w16(out, r.name.length)
      w16(out, 0); w16(out, 0) // extra, comment
      w16(out, 0) // disk number
      w16(out, 0) // internal attrs
      w32(out, 0) // external attrs
      w32(out, r.offset)
      out.write(r.name, 0, r.name.length)
    }
    val cdSize = out.size() - cdStart
    w32(out, EocdMagic)
    w16(out, 0); w16(out, 0) // disk numbers
    w16(out, all.length); w16(out, all.length)
    w32(out, cdSize)
    w32(out, cdStart)
    w16(out, 0) // comment length
    out.toByteArray
  }

  // ---- reader ----------------------------------------------------------

  /** Decode an archive via its central directory. */
  def decode(bytes: Array[Byte]): Seq[Entry] = {
    require(bytes.length >= 22, s"archive too short: ${bytes.length} bytes")
    // EOCD: scan back over a possible comment (max 64 KiB per spec)
    var eocd = -1
    var p = bytes.length - 22
    val stop = math.max(0, bytes.length - 22 - 0xffff)
    while (eocd < 0 && p >= stop) {
      if (u32(bytes, p) == EocdMagic &&
        p + 22 + u16(bytes, p + 20) == bytes.length) eocd = p
      else p -= 1
    }
    require(eocd >= 0, "no end-of-central-directory record")
    require(u16(bytes, eocd + 4) == 0 && u16(bytes, eocd + 6) == 0,
      "multi-disk archives are not supported")
    val nEntries = u16(bytes, eocd + 10)
    require(u16(bytes, eocd + 8) == nEntries, "disk/total entry count mismatch")
    val cdSize = u32(bytes, eocd + 12)
    val cdStart = u32(bytes, eocd + 16)
    require(nEntries != 0xffff && cdStart != 0xffffffffL,
      "zip64 archives are not supported")
    require(cdStart + cdSize <= eocd,
      s"central directory [$cdStart, ${cdStart + cdSize}) overruns EOCD at $eocd")
    val out = Seq.newBuilder[Entry]
    var cp = cdStart.toInt
    var i = 0
    while (i < nEntries) {
      require(cp + 46 <= bytes.length && u32(bytes, cp) == CentralMagic,
        s"bad central directory entry at $cp")
      val flags = u16(bytes, cp + 8)
      require((flags & 0x0001) == 0, "encrypted members are not supported")
      val method = u16(bytes, cp + 10)
      val crcWant = u32(bytes, cp + 16)
      val csize = u32(bytes, cp + 20)
      val usize = u32(bytes, cp + 24)
      val nameLen = u16(bytes, cp + 28)
      val extraLen = u16(bytes, cp + 30)
      val commentLen = u16(bytes, cp + 32)
      val offset = u32(bytes, cp + 42)
      require(csize != 0xffffffffL && usize != 0xffffffffL &&
        offset != 0xffffffffL, "zip64 members are not supported")
      require(cp + 46 + nameLen <= bytes.length, "truncated central entry name")
      val name = new String(bytes, cp + 46, nameLen, UTF_8)
      // local header walk (sizes/CRC authoritative from central dir —
      // a bit-3 data-descriptor member has zeros here, per spec)
      // bound the Long offset BEFORE narrowing: a corrupt 0x80000000
      // offset must fail here, not reach the array as Int.MinValue
      require(offset + 30 <= bytes.length,
        s"local header for '$name' out of range at $offset")
      val lp = offset.toInt
      require(u32(bytes, lp) == LocalMagic,
        s"bad local header for '$name' at $lp")
      val lNameLen = u16(bytes, lp + 26)
      val lExtraLen = u16(bytes, lp + 28)
      val dataStart = lp + 30 + lNameLen + lExtraLen
      require(dataStart + csize <= bytes.length,
        s"member '$name' data overruns archive")
      val data = method match {
        case 0 =>
          require(csize == usize,
            s"stored member '$name' size mismatch: $csize != $usize")
          java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + csize.toInt)
        case 8 =>
          val (raw, end) = Gzip.inflateRaw(bytes, dataStart)
          require(end - dataStart == csize,
            s"member '$name' deflate stream spans ${end - dataStart} bytes, declared $csize")
          raw
        case m => throw new IllegalArgumentException(
          s"unsupported compression method $m for member '$name'")
      }
      require(data.length.toLong == usize,
        s"member '$name' decodes to ${data.length} bytes, declared $usize")
      val c = new CRC32()
      c.update(data)
      require(c.getValue == crcWant,
        f"member '$name' CRC-32 mismatch: got ${c.getValue}%08x, want $crcWant%08x")
      out += Entry(name, data)
      cp += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    out.result()
  }
}
