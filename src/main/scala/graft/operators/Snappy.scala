package graft.operators

/** Snappy — the columnar-world default: parquet pages, Hadoop
  * sequence files, and Kafka batches ship snappy-compressed, and the
  * framed variant (`.sz`) is the streaming interchange form.
  *
  * Block format: decoded and encoded by snappy-java, the library
  * Spark and parquet use. Ahead of the native call the varint32
  * preamble is read and its declared length bounded at 64× the input
  * (no valid element expands more than ~21×), so a crafted block
  * declaring gigabytes fails typed instead of allocating them.
  *
  * Framing format (`framing_format.txt`): a stream identifier chunk
  * (`sNaPpY`), then compressed (0x00) / uncompressed (0x01) data
  * chunks each carrying a MASKED CRC32C of the uncompressed payload
  * (mask = rotate-right-15 + 0xa282ead8, per the spec), 64 KiB max
  * payload per chunk; padding (0xfe) and other skippable chunks
  * (0x80-0xfd) skip; reserved unskippable chunks (0x02-0x7f) fail
  * loudly by code. The chunk walk stays hand-written so each framing
  * failure names its chunk; block bodies go through the library, and
  * [[encodeFramedStored]]'s all-uncompressed output keeps the closed
  * size [[framedStoredSize]]. CRC32C is the JDK's. Malformed input
  * raises IllegalArgumentException. Row-local throughout. */
object Snappy {

  // ---- block format ----------------------------------------------------

  /** The varint32 uncompressed-length preamble at `from`. */
  private def declaredLength(b: Array[Byte], from: Int, until: Int): Int = {
    var v = 0
    var shift = 0
    var p = from
    var going = true
    while (going) {
      require(p < until, "snappy preamble truncated")
      require(shift <= 28, "snappy varint longer than 32 bits")
      val x = b(p) & 0xff
      v |= (x & 0x7f) << shift
      p += 1
      shift += 7
      if ((x & 0x80) == 0) going = false
    }
    v
  }

  /** Uncompress one snappy block `b[from, until)` (varint preamble
    * included). Malformed input fails loudly. */
  def uncompressBlock(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val outLen = declaredLength(b, from, until)
    require(outLen >= 0, s"negative declared length $outLen")
    // no snappy element expands more than ~21x (3-byte copy2 -> 64
    // bytes); 64x bounds any valid stream, so an implausible declared
    // length fails here instead of allocating gigabytes on fuzzed input
    require(outLen <= (until - from).toLong * 64 + 64,
      s"declared length $outLen implausible for ${until - from} input bytes")
    val out = new Array[Byte](outLen)
    val n = Decompress.asMalformed("snappy") {
      org.xerial.snappy.Snappy.uncompress(b, from, until - from, out, 0)
    }
    require(n == outLen, s"snappy block produced $n bytes, declared $outLen")
    out
  }

  /** Compress `src[from, until)` as one block through snappy-java. */
  def compressBlock(src: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new Array[Byte](org.xerial.snappy.Snappy.maxCompressedLength(until - from))
    val n = org.xerial.snappy.Snappy.compress(src, from, until - from, out, 0)
    java.util.Arrays.copyOf(out, n)
  }

  /** One-shot block-format compress/uncompress (the parquet/Hadoop
    * page shape). */
  def compress(raw: Array[Byte]): Array[Byte] = compressBlock(raw, 0, raw.length)
  def uncompress(b: Array[Byte]): Array[Byte] = uncompressBlock(b, 0, b.length)

  // ---- framing format (.sz) --------------------------------------------

  private val StreamId = Array[Byte]('s', 'N', 'a', 'P', 'p', 'Y')
  private val ChunkMax = 65536

  /** Spec's masked CRC32C of `b[off, off+len)`. */
  def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  /** Framed encode: stream id + one chunk per 64 KiB, the snappy-java
    * block form only when it shrinks (spec recommendation), masked
    * CRC32C per chunk. */
  def encodeFramed(raw: Array[Byte]): Array[Byte] = encodeFramedWith(raw, compress = true)

  /** All-uncompressed framed stream — every chunk type 0x01, so the
    * output length is the closed form [[framedStoredSize]] (the oracle
    * hook). */
  def encodeFramedStored(raw: Array[Byte]): Array[Byte] = encodeFramedWith(raw, compress = false)

  private def encodeFramedWith(raw: Array[Byte], compress: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + 32)
    def chunk(tpe: Int, payload: Array[Byte], from: Int, len: Int, crc: Int): Unit = {
      val n = len + 4
      out.write(tpe)
      out.write(n & 0xff); out.write((n >>> 8) & 0xff); out.write((n >>> 16) & 0xff)
      out.write(crc & 0xff); out.write((crc >>> 8) & 0xff)
      out.write((crc >>> 16) & 0xff); out.write((crc >>> 24) & 0xff)
      out.write(payload, from, len)
    }
    out.write(0xff)
    out.write(6); out.write(0); out.write(0)
    out.write(StreamId, 0, 6)
    var p = 0
    while (p < raw.length) {
      val n = math.min(ChunkMax, raw.length - p)
      val crc = maskedCrc(raw, p, n)
      val comp = if (compress) compressBlock(raw, p, p + n) else null
      if (comp != null && comp.length < n) chunk(0x00, comp, 0, comp.length, crc)
      else chunk(0x01, raw, p, n, crc)
      p += n
    }
    out.toByteArray
  }

  /** 10-byte stream id + (4 header + 4 CRC) per 64 KiB chunk + n. */
  def framedStoredSize(n: Long): Long =
    10 + 8L * ((n + ChunkMax - 1) / ChunkMax) + n

  /** Framed decode: full chunk walk with CRC verification; skippable
    * chunks skip, reserved unskippable chunks fail loudly by code. */
  def decodeFramed(b: Array[Byte]): Array[Byte] = {
    require(b.length >= 10, s"framed snappy stream too short: ${b.length} bytes")
    require((b(0) & 0xff) == 0xff, "missing stream identifier chunk")
    val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 2))
    var p = 0
    var sawId = false
    while (p < b.length) {
      require(p + 4 <= b.length, s"truncated chunk header at $p")
      val tpe = b(p) & 0xff
      val n = (b(p + 1) & 0xff) | ((b(p + 2) & 0xff) << 8) | ((b(p + 3) & 0xff) << 16)
      p += 4
      require(p + n <= b.length, s"chunk of $n bytes overruns input at $p")
      tpe match {
        case 0xff =>
          require(n == 6, s"stream identifier chunk of $n bytes, want 6")
          var i = 0
          while (i < 6) {
            require(b(p + i) == StreamId(i), "bad stream identifier contents")
            i += 1
          }
          sawId = true
        case 0x00 | 0x01 =>
          require(sawId, "data chunk before stream identifier")
          require(n >= 4, s"data chunk of $n bytes lacks its CRC")
          val want = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
            ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
          val data =
            if (tpe == 0x00) uncompressBlock(b, p + 4, p + n)
            else java.util.Arrays.copyOfRange(b, p + 4, p + n)
          require(data.length <= ChunkMax,
            s"chunk decodes to ${data.length} bytes, over the 64 KiB cap")
          val got = maskedCrc(data, 0, data.length)
          require(got == want, f"chunk CRC mismatch: got $got%08x, want $want%08x")
          out.write(data, 0, data.length)
        case t if t >= 0x80 => () // skippable (incl. 0xfe padding)
        case t =>
          throw new IllegalArgumentException(
            f"reserved unskippable snappy chunk type 0x$t%02x")
      }
      p += n
    }
    require(sawId, "no stream identifier chunk")
    out.toByteArray
  }
}
