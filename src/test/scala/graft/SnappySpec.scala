package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Snappy

/** Blocks go through snappy-java (what parquet/Spark use) behind the
  * declared-length bound; the hand framed-stream walk is cross-checked
  * against snappy-java's own framed streams in both directions. */
class SnappySpec extends AnyFunSuite {

  private val samples: Seq[Array[Byte]] = Seq(
    Array.emptyByteArray,
    "x".getBytes(UTF_8),
    "hello snappy world".getBytes(UTF_8),
    ("key agg row scan slow fast table value part hash " * 50).getBytes(UTF_8),
    ("the quick brown fox jumps over the lazy dog. " * 4000).getBytes(UTF_8),
    Array.tabulate(300000)(i => ((i * 17 + (i >> 7)) % 253).toByte), // > 4 framed chunks
    Array.fill(70000)(7.toByte), // long run crossing a chunk boundary
    Array.tabulate(256)(_.toByte))

  test("block roundtrip: compress -> uncompress is identity") {
    samples.foreach { raw =>
      assert(Snappy.uncompress(Snappy.compress(raw)).sameElements(raw),
        s"block roundtrip failed at ${raw.length} bytes")
    }
  }

  test("framed roundtrip: encode -> decode is identity") {
    samples.foreach { raw =>
      assert(Snappy.decodeFramed(Snappy.encodeFramed(raw)).sameElements(raw),
        s"framed roundtrip failed at ${raw.length} bytes")
    }
  }

  test("repetitive input compresses well below raw size") {
    val raw = ("the quick brown fox jumps over the lazy dog. " * 4000).getBytes(UTF_8)
    assert(Snappy.compress(raw).length < raw.length / 10)
    assert(Snappy.encodeFramed(raw).length < raw.length / 10)
  }

  test("snappy-java uncompresses our blocks; we uncompress snappy-java's") {
    samples.foreach { raw =>
      assert(org.xerial.snappy.Snappy.uncompress(Snappy.compress(raw)).sameElements(raw),
        s"snappy-java rejected our block at ${raw.length} bytes")
      assert(Snappy.uncompress(org.xerial.snappy.Snappy.compress(raw)).sameElements(raw),
        s"we rejected snappy-java's block at ${raw.length} bytes")
    }
  }

  test("snappy-java framed streams decode; it decodes ours") {
    samples.foreach { raw =>
      val bos = new java.io.ByteArrayOutputStream()
      val f = new org.xerial.snappy.SnappyFramedOutputStream(bos)
      f.write(raw); f.close()
      assert(Snappy.decodeFramed(bos.toByteArray).sameElements(raw),
        s"we rejected snappy-java's framed stream at ${raw.length} bytes")
      val in = new org.xerial.snappy.SnappyFramedInputStream(
        new java.io.ByteArrayInputStream(Snappy.encodeFramed(raw)))
      val back = in.readAllBytes()
      assert(back.sameElements(raw),
        s"snappy-java rejected our framed stream at ${raw.length} bytes")
    }
  }

  test("framed: padding and skippable chunks skip; reserved unskippable fails by code") {
    val raw = "payload across chunks".getBytes(UTF_8)
    val enc = Snappy.encodeFramed(raw)
    // splice a padding chunk (0xfe, 3 bytes) after the stream id (10 bytes)
    val pad = Array[Byte](0xfe.toByte, 3, 0, 0, 1, 2, 3)
    val spliced = enc.take(10) ++ pad ++ enc.drop(10)
    assert(Snappy.decodeFramed(spliced).sameElements(raw))
    val reserved = enc.take(10) ++ Array[Byte](0x02, 1, 0, 0, 0) ++ enc.drop(10)
    val e = intercept[IllegalArgumentException](Snappy.decodeFramed(reserved))
    assert(e.getMessage.contains("0x02"))
  }

  test("framed: chunk CRC corruption and bad stream id fail loudly") {
    val raw = ("crc guarded content " * 40).getBytes(UTF_8)
    val enc = Snappy.encodeFramed(raw)
    val bad = enc.clone()
    bad(14) = (bad(14) ^ 0x40).toByte // inside the first data chunk's CRC
    val e1 = intercept[IllegalArgumentException](Snappy.decodeFramed(bad))
    assert(e1.getMessage.contains("CRC") || e1.getMessage.contains("chunk"))
    val badId = enc.clone()
    badId(4) = 'X'.toByte
    val e2 = intercept[IllegalArgumentException](Snappy.decodeFramed(badId))
    assert(e2.getMessage.contains("identifier"))
  }

  test("Decompress sniffs and routes framed snappy") {
    val raw = "sniff my framed stream".getBytes(UTF_8)
    val enc = Snappy.encodeFramed(raw)
    assert(graft.operators.Decompress.sniff(enc) == "snappy")
    val (fmt, out) = graft.operators.Decompress.auto(enc)
    assert(fmt == "snappy" && out.sameElements(raw))
    // the raw BLOCK format has no magic: it must sniff as raw, because
    // classifying arbitrary bytes as snappy would corrupt mixed buckets
    assert(graft.operators.Decompress.sniff(Snappy.compress(raw)) == "raw")
  }

  test("a 6-byte block declaring ~2^31 bytes fails on the 64x bound before any allocation") {
    // without the bound snappy-java would allocate the declared length
    // and throw OutOfMemoryError
    val bomb = Array(0xff, 0xff, 0xff, 0xff, 0x07, 0x00).map(_.toByte)
    val e = intercept[IllegalArgumentException](Snappy.uncompress(bomb))
    assert(e.getMessage.contains("implausible"))
    intercept[IllegalArgumentException](Snappy.uncompressBlock(bomb, 0, bomb.length))
  }

  test("block truncation sweep fails loudly, never an index error") {
    val raw = ("truncate me " * 50).getBytes(UTF_8)
    val enc = Snappy.compress(raw)
    for (cut <- 0 until enc.length) {
      try {
        val got = Snappy.uncompressBlock(java.util.Arrays.copyOf(enc, cut), 0, cut)
        assert(false, s"truncation at $cut decoded ${got.length} bytes silently")
      } catch { case _: IllegalArgumentException => () }
    }
  }
}
