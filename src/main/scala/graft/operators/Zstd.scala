package graft.operators

import java.io.ByteArrayInputStream

import com.github.luben.zstd.{ZstdCompressCtx, ZstdDictDecompress, ZstdInputStreamNoFinalizer, Zstd => ZstdJni}
import net.jpountz.xxhash.XXHashFactory

/** Zstandard (RFC 8878) — the crawl-corpus compression format of
  * Common Crawl's `.warc.zst`/WET shards and most modern dataset
  * dumps, so at 100 TB this is the decode that runs on every input
  * split.
  *
  * Decode goes through zstd-jni, the libzstd binding already on the
  * Spark classpath: one or more frames, skippable frames passed over,
  * every block type, content checksums, and dictionary frames via
  * [[parseDictionary]] + [[decode(bytes:Array[Byte],dict:Zstd.ZstdDict)*]]
  * (structured dictionaries and raw-content dictionaries alike).
  * Ahead of the library call the first frame's dictionary id is
  * checked, so a dictionary frame decoded without its dictionary, or
  * against another one, fails loudly by name; every malformed input
  * raises IllegalArgumentException, never a silent fallback.
  *
  * [[encode]] is zstd-jni at level 3 with the content checksum on.
  * [[encodeStored]] stays
  * hand-written: raw blocks only, so its output size is the closed
  * form [[storedSize]] that a SQL oracle recomputes exactly; its XXH64
  * content checksum comes from lz4-java's `XXHashFactory`. The tests
  * cross-check both against the system `zstd` CLI.
  *
  * Reference scope: lithops-dataframe reads object-store files
  * (`io.py:13-88`) with no codec tier; this is extension surface for
  * crawl-scale ingest, routed through [[Decompress]]'s magic dispatch.
  */
object Zstd {

  private final val FrameMagic = 0xFD2FB528
  private final val BlockMax = 128 * 1024

  /** A loaded zstd dictionary: either the structured format (magic
    * 0xEC30A437 + id + entropy tables + rep codes + content) or a
    * RAW-CONTENT dictionary (any payload without the magic — id 0, the
    * whole payload is history), libzstd's documented dual behavior. */
  final class ZstdDict private[Zstd] (val dictId: Long, private[Zstd] val ddict: ZstdDictDecompress)

  /** Load a dictionary payload once (at corpus scale it is broadcast
    * state, loaded once per executor, never per row). A structured
    * dictionary whose tables libzstd cannot load fails here. */
  def parseDictionary(b: Array[Byte]): ZstdDict = {
    require(b != null && b.length > 0, "empty zstd dictionary")
    Decompress.asMalformed("zstd dictionary") {
      new ZstdDict(ZstdJni.getDictIdFromDict(b), new ZstdDictDecompress(b))
    }
  }

  /** Decompress a complete zstd payload: one or more frames, skippable
    * frames passed over, every checksum verified. */
  def decode(bytes: Array[Byte]): Array[Byte] = decodeWith(bytes, null)

  /** Decompress with a dictionary: each frame decodes against the
    * dictionary's entropy tables, rep codes, and content history.
    * Frames declaring a different dictionary id fail loudly. */
  def decode(bytes: Array[Byte], dict: ZstdDict): Array[Byte] = {
    require(dict != null, "null zstd dictionary — use decode(bytes)")
    decodeWith(bytes, dict)
  }

  private def decodeWith(bytes: Array[Byte], dict: ZstdDict): Array[Byte] = {
    // zstd-jni returns an empty result for empty input: reject it here
    require(bytes != null && bytes.length >= 4, "not a zstd payload (too short)")
    val want = ZstdJni.getDictIdFromFrame(bytes)
    if (want != 0) {
      require(dict != null,
        s"zstd frame requires dictionary id $want — decode(bytes, dict)")
      require(dict.dictId == 0 || dict.dictId == want,
        s"zstd dictionary id mismatch: frame wants $want, dictionary is ${dict.dictId}")
    }
    Decompress.asMalformed("zstd") {
      val in = new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(bytes))
      try {
        if (dict != null) in.setDict(dict.ddict)
        in.readAllBytes()
      } finally in.close()
    }
  }

  /** zstd-jni compression at level 3 (the CLI default), with the
    * XXH64 content checksum so corruption is caught on decode. */
  def encode(raw: Array[Byte]): Array[Byte] = {
    require(raw != null, "null zstd input")
    val ctx = new ZstdCompressCtx()
    try ctx.setLevel(3).setChecksum(true).compress(raw) finally ctx.close()
  }

  /** Frame-content-size field width for a known content size. */
  private def fcsBytesFor(n: Long): Int =
    if (n < 256) 1 else if (n <= 65535 + 256) 2 else 4

  /** Stored-mode frame (raw blocks only) whose size is the closed form
    * `4 + 1 + fcs_bytes + 3·blocks + n + 4`, with the XXH64 content
    * checksum. */
  def encodeStored(raw: Array[Byte]): Array[Byte] = {
    require(raw != null, "null zstd input")
    val out = new java.io.ByteArrayOutputStream(raw.length + 64)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    w32(FrameMagic)
    val n = raw.length.toLong
    val fcsB = fcsBytesFor(n)
    val fcsFlag = fcsB match { case 1 => 0; case 2 => 1; case _ => 2 }
    // single segment + content checksum
    out.write((fcsFlag << 6) | 0x20 | 0x04)
    val fcsVal = if (fcsB == 2) n - 256 else n
    var i = 0
    while (i < fcsB) { out.write(((fcsVal >>> (8 * i)) & 0xff).toInt); i += 1 }
    def blockHeader(h: Int): Unit = {
      out.write(h & 0xff); out.write((h >>> 8) & 0xff); out.write((h >>> 16) & 0xff)
    }
    if (raw.length == 0) blockHeader(1) // empty raw last block
    else {
      var p = 0
      while (p < raw.length) {
        val chunk = math.min(BlockMax, raw.length - p)
        val lastBit = if (p + chunk == raw.length) 1 else 0
        blockHeader(lastBit | (chunk << 3))
        out.write(raw, p, chunk)
        p += chunk
      }
    }
    // zstd's content checksum is the low 32 bits of XXH64, seed 0
    w32(XXHashFactory.fastestInstance().hash64().hash(raw, 0, raw.length, 0L).toInt)
    out.toByteArray
  }

  /** Closed-form size of [[encodeStored]] output for `n` input bytes. */
  def storedSize(n: Long): Long = {
    val blocks = math.max(1L, (n + BlockMax - 1) / BlockMax)
    4L + 1L + fcsBytesFor(n) + 3L * blocks + n + 4L
  }
}
