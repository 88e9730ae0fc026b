package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Decompress, Zstd}

/** Cross-checked against the SYSTEM zstd binary in both directions —
  * the real tool's output (levels 1/3/19, long inputs, checksums)
  * feeds the zstd-jni decode path, and the CLI checks our frames,
  * including the hand-written stored frames whose size is the
  * closed form. */
class ZstdSpec extends AnyFunSuite {

  private def haveZstd: Boolean =
    try { new ProcessBuilder("zstd", "--version").start().waitFor(); true }
    catch { case _: java.io.IOException => false }

  private def run(cmd: Seq[String], input: Array[Byte]): Array[Byte] = {
    val p = new ProcessBuilder(cmd: _*).start()
    val out = new java.io.ByteArrayOutputStream()
    val err = new java.io.ByteArrayOutputStream()
    val feeder = new Thread(() => {
      p.getOutputStream.write(input); p.getOutputStream.close()
    })
    val drainer = new Thread(() => {
      val buf = new Array[Byte](8192)
      var n = p.getErrorStream.read(buf)
      while (n >= 0) { err.write(buf, 0, n); n = p.getErrorStream.read(buf) }
    })
    feeder.start(); drainer.start()
    val buf = new Array[Byte](8192)
    var n = p.getInputStream.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = p.getInputStream.read(buf) }
    feeder.join(); drainer.join()
    assert(p.waitFor() == 0,
      s"${cmd.mkString(" ")} failed: ${new String(err.toByteArray, UTF_8)}")
    out.toByteArray
  }

  private val samples: Seq[Array[Byte]] = Seq(
    Array.emptyByteArray,
    "x".getBytes(UTF_8),
    "hello zstd world".getBytes(UTF_8),
    ("key agg row scan slow fast table value part hash " * 50).getBytes(UTF_8),
    ("the quick brown fox jumps over the lazy dog. " * 4000).getBytes(UTF_8),
    Array.tabulate(300000)(i => ((i * 17 + (i >> 7)) % 253).toByte), // > 2 blocks
    Array.fill(70000)(7.toByte), // long single run
    Array.tabulate(256)(_.toByte))

  // --- encoder -> decoder ----------------------------------------------

  test("roundtrip: compressed encode -> decode is identity") {
    samples.foreach { raw =>
      assert(Zstd.decode(Zstd.encode(raw)).sameElements(raw),
        s"roundtrip failed at ${raw.length} bytes")
    }
  }

  test("roundtrip: stored encode -> decode is identity, size closed form") {
    samples.foreach { raw =>
      val z = Zstd.encodeStored(raw)
      assert(Zstd.decode(z).sameElements(raw))
      assert(z.length.toLong == Zstd.storedSize(raw.length.toLong),
        s"stored size form wrong at ${raw.length} bytes")
    }
  }

  test("compression is real on repetitive text") {
    val raw = ("the quick brown fox jumps over the lazy dog. " * 1000).getBytes(UTF_8)
    assert(Zstd.encode(raw).length < raw.length / 3,
      s"expected >3x on repetitive text, got ${Zstd.encode(raw).length} of ${raw.length}")
  }

  test("concatenated frames decode as one stream") {
    val a = "first frame ".getBytes(UTF_8)
    val b = "second frame".getBytes(UTF_8)
    val cat = Zstd.encode(a) ++ Zstd.encodeStored(b)
    assert(new String(Zstd.decode(cat), UTF_8) == "first frame second frame")
  }

  test("skippable frames are passed over") {
    val payload = "data".getBytes(UTF_8)
    val skip = Array[Byte](0x50, 0x2A, 0x4D.toByte, 0x18, 3, 0, 0, 0, 9, 9, 9)
    assert(Zstd.decode(skip ++ Zstd.encode(payload)).sameElements(payload))
    assert(Zstd.decode(Zstd.encode(payload) ++ skip).sameElements(payload))
  }

  // --- cross-oracle vs the system binary --------------------------------

  test("cross-oracle: the system zstd decodes our compressed frames") {
    assume(haveZstd)
    samples.foreach { raw =>
      assert(run(Seq("zstd", "-dc"), Zstd.encode(raw)).sameElements(raw),
        s"zstd -d rejected our compressed frame at ${raw.length} bytes")
    }
  }

  test("cross-oracle: the system zstd decodes our stored frames") {
    assume(haveZstd)
    samples.foreach { raw =>
      assert(run(Seq("zstd", "-dc"), Zstd.encodeStored(raw)).sameElements(raw),
        s"zstd -d rejected our stored frame at ${raw.length} bytes")
    }
  }

  test("cross-oracle: we decode the system zstd's output at several levels") {
    assume(haveZstd)
    for (level <- Seq("-1", "-3", "-19"); raw <- samples) {
      val z = run(Seq("zstd", level, "-c"), raw)
      assert(Zstd.decode(z).sameElements(raw),
        s"our decoder failed on zstd $level output at ${raw.length} bytes")
    }
  }

  test("cross-oracle: we verify the system zstd's content checksum") {
    assume(haveZstd)
    val raw = ("checksummed corpus text " * 2000).getBytes(UTF_8)
    val z = run(Seq("zstd", "-3", "--content-size", "-c"), raw)
    assert(Zstd.decode(z).sameElements(raw))
  }

  test("cross-oracle: long-mode / high-level four-stream literals decode") {
    assume(haveZstd)
    // highly compressible, large enough that zstd -19 uses four-stream
    // Huffman literals and FSE-compressed sequence tables
    val raw = Array.tabulate(500000) { i =>
      val s = "lorem ipsum dolor sit amet consectetur " + (i % 97) + " "
      s.charAt(i % 30).toByte
    }
    val z = run(Seq("zstd", "-19", "-c"), raw)
    assert(Zstd.decode(z).sameElements(raw))
  }

  // --- strictness --------------------------------------------------------

  test("malformed payloads fail loudly with IllegalArgumentException") {
    val good = Zstd.encode(("abc " * 400).getBytes(UTF_8))
    intercept[IllegalArgumentException](Zstd.decode(Array.emptyByteArray))
    intercept[IllegalArgumentException](Zstd.decode("not zstd at all".getBytes(UTF_8)))
    intercept[IllegalArgumentException](Zstd.decode(good.dropRight(1))) // checksum cut
    intercept[IllegalArgumentException](Zstd.decode(good.take(6))) // header cut
    val flipped = good.clone()
    flipped(good.length - 2) = (flipped(good.length - 2) ^ 0x40).toByte
    intercept[IllegalArgumentException](Zstd.decode(flipped)) // checksum mismatch
  }

  test("dictionary frames are rejected loudly") {
    // frame header with Dictionary_ID_flag = 1 and a nonzero 1-byte id
    val withDict = Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte,
      0x21, 0x07, 0x05, 0x01, 0, 0, 0)
    val e = intercept[IllegalArgumentException](Zstd.decode(withDict))
    assert(e.getMessage.contains("dictionary"))
  }

  // --- Decompress dispatch -------------------------------------------------

  test("Decompress sniffs and routes zstd; truncated magics fail loudly") {
    val raw = "zstd dispatch payload".getBytes(UTF_8)
    val (fmt, out) = Decompress.auto(Zstd.encode(raw))
    assert(fmt == "zstd" && out.sameElements(raw))
    // magic-prefixed but truncated: classified, then loud decode failure
    intercept[IllegalArgumentException](
      Decompress.auto(Array[Byte](0x28, 0xB5.toByte, 0x2F)))
    intercept[IllegalArgumentException](
      Decompress.auto(Array[Byte](0x1f, 0x8b.toByte))) // gzip magic only
    intercept[IllegalArgumentException](
      Decompress.auto("BZh".getBytes(UTF_8))) // bzip2 prefix, no level
    // genuinely raw short payloads still pass through
    assert(Decompress.auto(Array[Byte](1))._1 == "raw")
    assert(Decompress.auto("ab".getBytes(UTF_8))._1 == "raw")
  }
}
