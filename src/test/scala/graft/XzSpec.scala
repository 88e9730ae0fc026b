package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Decompress, Xz}

/** Cross-checked against the SYSTEM xz binary and xz-java's encoder
  * in both directions — their output exercises the full LZMA machinery
  * (matches, reps, position slots, CRC64) through the xz-java decode
  * path, ours exercises the container strictness of both. */
class XzSpec extends AnyFunSuite {

  private def haveXz: Boolean =
    try { new ProcessBuilder("xz", "--version").start().waitFor(); true }
    catch { case _: java.io.IOException => false }

  private def run(cmd: Seq[String], input: Array[Byte]): Array[Byte] = {
    val p = new ProcessBuilder(cmd: _*).start()
    val out = new java.io.ByteArrayOutputStream()
    val feeder = new Thread(() => {
      p.getOutputStream.write(input); p.getOutputStream.close()
    })
    feeder.start()
    val buf = new Array[Byte](8192)
    var n = p.getInputStream.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = p.getInputStream.read(buf) }
    feeder.join()
    assert(p.waitFor() == 0, s"${cmd.mkString(" ")} failed")
    out.toByteArray
  }

  private val samples: Seq[Array[Byte]] = Seq(
    Array.emptyByteArray,
    "x".getBytes(UTF_8),
    "hello xz world".getBytes(UTF_8),
    ("key agg row scan slow fast table value part hash " * 50).getBytes(UTF_8),
    Array.tabulate(200000)(i => ((i * 17) % 253).toByte), // > one stored chunk
    Array.fill(5000)(7.toByte))

  test("roundtrip: our stored-mode encode -> our decode is identity") {
    samples.foreach { raw =>
      assert(Xz.decode(Xz.encode(raw)).sameElements(raw),
        s"roundtrip failed at ${raw.length} bytes")
    }
  }

  test("stored-mode size is the documented closed form") {
    samples.foreach { raw =>
      assert(Xz.encode(raw).length.toLong == Xz.storedXzSize(raw.length.toLong),
        s"size form wrong at ${raw.length} bytes")
    }
  }

  test("cross-oracle: the system xz decodes our stored streams") {
    assume(haveXz)
    samples.foreach { raw =>
      assert(run(Seq("xz", "-dc"), Xz.encode(raw)).sameElements(raw),
        s"xz -d rejected our stream at ${raw.length} bytes")
    }
  }

  test("cross-oracle: we decode real xz output (full LZMA, CRC64 check)") {
    assume(haveXz)
    samples.foreach { raw =>
      assert(Xz.decode(run(Seq("xz", "-c"), raw)).sameElements(raw),
        s"our decoder failed on xz output at ${raw.length} bytes")
    }
    // higher presets change lc/lp/pb and chunking; CRC32 + SHA256 checks
    val big = ("spark row table merge filter " * 5000).getBytes(UTF_8)
    for (args <- Seq(Seq("xz", "-9", "-c"), Seq("xz", "-0", "-c"),
        Seq("xz", "-c", "--check=crc32"), Seq("xz", "-c", "--check=sha256"),
        Seq("xz", "-e", "-c"))) {
      assert(Xz.decode(run(args, big)).sameElements(big), s"failed for $args")
    }
  }

  /** `n` bytes of seeded Zipf-distributed words: non-repetitive text
    * whose LZMA2 chunks carry real matches, literals and reps. */
  private def zipfText(seed: Long, n: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.fill(2000)(Array.fill(2 + rnd.nextInt(9))(('a' + rnd.nextInt(26)).toChar).mkString)
    val cdf = vocab.indices.map(k => 1.0 / math.pow(k + 1, 1.07)).scanLeft(0.0)(_ + _).tail.toArray
    val sb = new StringBuilder
    while (sb.length < n) {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      sb.append(vocab(if (i >= 0) i else -i - 1)).append(' ')
    }
    sb.toString.take(n).getBytes(UTF_8)
  }

  test("xz-java presets 0, 1 and 6 on non-repetitive text decode (LZMA chunk-size regression)") {
    val raw = zipfText(7L, 3000)
    for (preset <- Seq(0, 1, 6)) {
      val bos = new java.io.ByteArrayOutputStream()
      val xo = new org.tukaani.xz.XZOutputStream(bos, new org.tukaani.xz.LZMA2Options(preset))
      xo.write(raw); xo.close()
      val xz = bos.toByteArray
      assert(Xz.decode(xz).sameElements(raw), s"Xz.decode failed at preset $preset")
      val (fmt, out) = Decompress.auto(xz)
      assert(fmt == "xz" && out.sameElements(raw), s"Decompress.auto failed at preset $preset")
    }
  }

  test("multi-stream concatenation decodes (xz cat layout)") {
    val a = "first ".getBytes(UTF_8)
    val b = "second".getBytes(UTF_8)
    assert(Xz.decode(Xz.encode(a) ++ Xz.encode(b)).sameElements(a ++ b))
  }

  test("corruption fails loudly: magic, header CRC, payload, check, truncation") {
    val good = Xz.encode("a payload that is long enough to matter".getBytes(UTF_8))
    val badMagic = good.clone(); badMagic(0) = 0x33
    assertThrows[IllegalArgumentException](Xz.decode(badMagic))
    val badHdrCrc = good.clone(); badHdrCrc(8) = (badHdrCrc(8) ^ 1).toByte
    assertThrows[IllegalArgumentException](Xz.decode(badHdrCrc))
    val badPayload = good.clone(); badPayload(30) = (badPayload(30) ^ 0x40).toByte
    assertThrows[IllegalArgumentException](Xz.decode(badPayload))
    assertThrows[Exception](Xz.decode(good.dropRight(8)))
    // a block header declaring a 1 GiB dictionary (byte 36), its CRC
    // fixed up: over the decoder memory cap, typed instead of a 1 GiB
    // allocation
    val hugeDict = good.clone(); hugeDict(16) = 36
    val crc = new java.util.zip.CRC32(); crc.update(hugeDict, 12, 8)
    for (i <- 0 until 4) hugeDict(20 + i) = (crc.getValue >>> (8 * i)).toByte
    val e = intercept[IllegalArgumentException](Xz.decode(hugeDict))
    assert(e.getMessage.contains("memory"))
  }
}
