package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Zstd, ZstdDictData}

/** Zstd dictionary decode (RFC 8878 §5) against REAL reference-
  * implementation fixtures: a CLI-trained structured dictionary and
  * two CLI-compressed frames must decode byte-exact; raw-content
  * dictionaries, id mismatches, missing-dict frames, and mutation
  * robustness are pinned. */
class ZstdDictSpec extends AnyFunSuite {

  private lazy val dict = Zstd.parseDictionary(ZstdDictData.dictBytes)

  test("structured dictionary loads: its id is the one the CLI frames declare") {
    assert(dict.dictId != 0L)
    assert(dict.dictId == com.github.luben.zstd.Zstd.getDictIdFromFrame(ZstdDictData.p1Bytes))
  }

  test("CLI-compressed frames decode byte-exact against the CLI's own output") {
    assert(new String(Zstd.decode(ZstdDictData.p1Bytes, dict), UTF_8) ==
      ZstdDictData.P1Text)
    assert(new String(Zstd.decode(ZstdDictData.p2Bytes, dict), UTF_8) ==
      ZstdDictData.P2Text)
  }

  test("a dictionary frame without its dictionary fails loudly") {
    val e = intercept[IllegalArgumentException](Zstd.decode(ZstdDictData.p1Bytes))
    assert(e.getMessage.contains("requires dictionary"))
  }

  test("a mismatched dictionary id fails loudly") {
    val patched = ZstdDictData.dictBytes
    patched(4) = (patched(4) ^ 1).toByte // flip a dict-id bit
    val wrong = Zstd.parseDictionary(patched)
    val e = intercept[IllegalArgumentException](
      Zstd.decode(ZstdDictData.p1Bytes, wrong))
    assert(e.getMessage.contains("mismatch"))
  }

  test("raw-content dictionaries parse as id-0 history; plain frames decode under them") {
    val raw = Zstd.parseDictionary("just some history bytes".getBytes(UTF_8))
    assert(raw.dictId == 0L)
    val payload = ("shuffle partition broadcast " * 30).getBytes(UTF_8)
    assert(java.util.Arrays.equals(Zstd.decode(Zstd.encode(payload), raw), payload))
    assert(java.util.Arrays.equals(Zstd.decode(Zstd.encodeStored(payload), raw), payload))
  }

  test("mutation soak: dict frames and the dictionary itself fail with IAE or succeed") {
    val rnd = new java.util.Random(0xD1C7)
    var i = 0
    while (i < 2000) {
      val m = ZstdDictData.p1Bytes
      var j = 0
      val flips = 1 + rnd.nextInt(3)
      while (j < flips) {
        val p = rnd.nextInt(m.length)
        m(p) = (m(p) ^ (1 << rnd.nextInt(8))).toByte
        j += 1
      }
      try { Zstd.decode(m, dict); () }
      catch { case _: IllegalArgumentException => () }
      i += 1
    }
    i = 0
    while (i < 2000) {
      val d = ZstdDictData.dictBytes
      val p = rnd.nextInt(d.length)
      d(p) = (d(p) ^ (1 << rnd.nextInt(8))).toByte
      try { Zstd.decode(ZstdDictData.p1Bytes, Zstd.parseDictionary(d)); () }
      catch { case _: IllegalArgumentException => () }
      i += 1
    }
  }
}
