package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}

import graft.operators.{Bzip2, Decompress, Gzip, Lz4, Snappy, Xz, Zstd}

/** Codec kernels timed outside Spark on a workload's text payload.
  *
  * For each format: the classpath library encodes the payload (xz-1.10
  * at its default preset, JDK gzip, zstd-jni, commons-compress bzip2,
  * lz4-java frames, snappy-java frames); graft decodes that stream
  * (timed, cross-checked against the payload and through
  * `Decompress.auto`); graft encodes the payload (timed, for MB/s and
  * ratio); and the library must decode graft's stream back to the
  * payload. Every mismatch or exception counts in `codecs.fail_count`;
  * a format that fails is reported, never skipped. */
object CodecKernels {
  val Formats: Seq[String] = Seq("gzip", "zstd", "bzip2", "xz", "lz4", "snappy")

  private def pipe(raw: Array[Byte], wrap: OutputStream => OutputStream): Array[Byte] = {
    val bo = new ByteArrayOutputStream(raw.length / 3 + 64)
    val os = wrap(bo)
    os.write(raw); os.close()
    bo.toByteArray
  }

  private def drain(in: InputStream): Array[Byte] = try in.readAllBytes() finally in.close()

  private def libEncode(fmt: String, raw: Array[Byte]): Array[Byte] = fmt match {
    case "gzip" => pipe(raw, new java.util.zip.GZIPOutputStream(_))
    case "zstd" => com.github.luben.zstd.Zstd.compress(raw)
    case "bzip2" => pipe(raw, new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(_))
    case "xz" => pipe(raw, new org.tukaani.xz.XZOutputStream(_, new org.tukaani.xz.LZMA2Options()))
    case "lz4" => pipe(raw, new net.jpountz.lz4.LZ4FrameOutputStream(_))
    case "snappy" => pipe(raw, new org.xerial.snappy.SnappyFramedOutputStream(_))
  }

  private def libDecode(fmt: String, b: Array[Byte]): Array[Byte] = {
    val in = new ByteArrayInputStream(b)
    drain(fmt match {
      case "gzip" => new java.util.zip.GZIPInputStream(in)
      case "zstd" => new com.github.luben.zstd.ZstdInputStream(in)
      case "bzip2" => new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(in, true)
      case "xz" => new org.tukaani.xz.XZInputStream(in)
      case "lz4" => new net.jpountz.lz4.LZ4FrameInputStream(in)
      case "snappy" => new org.xerial.snappy.SnappyFramedInputStream(in)
    })
  }

  private def graftEncode(fmt: String, raw: Array[Byte]): Array[Byte] = fmt match {
    case "gzip" => Gzip.gzip(raw)
    case "zstd" => Zstd.encode(raw)
    case "bzip2" => Bzip2.encode(raw)
    case "xz" => Xz.encode(raw)
    case "lz4" => Lz4.encode(raw)
    case "snappy" => Snappy.encodeFramed(raw)
  }

  private def graftDecode(fmt: String, b: Array[Byte]): Array[Byte] = fmt match {
    case "gzip" => Gzip.gunzip(b)
    case "zstd" => Zstd.decode(b)
    case "bzip2" => Bzip2.decode(b)
    case "xz" => Xz.decode(b)
    case "lz4" => Lz4.decode(b)
    case "snappy" => Snappy.decodeFramed(b)
  }

  /** Median seconds of up to `reps` calls (stopping early past ~1 s). */
  private def timed[T](reps: Int)(f: => T): (T, Double) = {
    var out: T = f // warm-up call, also the value returned
    val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stop = System.nanoTime() + 1000000000L
    while (ts.size < reps && (ts.isEmpty || System.nanoTime() < stop)) {
      val t0 = System.nanoTime()
      out = f
      ts += (System.nanoTime() - t0) / 1e9
    }
    (out, Stats.median(ts.toSeq))
  }

  final case class Report(metrics: Map[String, Double], failures: Seq[String])

  def run(payload: Array[Byte], reps: Int = 3): Report = {
    val mb = payload.length / 1e6
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    def attempt[T](what: String)(f: => T): Option[T] =
      try Some(f) catch { case e: Throwable => fails += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; None }
    Formats.foreach { fmt =>
      m(s"codecs.$fmt.decode_mb_per_s") = 0.0
      m(s"codecs.$fmt.encode_mb_per_s") = 0.0
      m(s"codecs.$fmt.ratio") = 0.0
      attempt(s"$fmt library encode")(libEncode(fmt, payload)).foreach { lib =>
        attempt(s"$fmt graft decode of library stream")(timed(reps)(graftDecode(fmt, lib))).foreach {
          case (back, s) =>
            if (java.util.Arrays.equals(back, payload)) m(s"codecs.$fmt.decode_mb_per_s") = mb / s
            else fails += s"$fmt graft decode of library stream: output differs from payload"
        }
        attempt(s"$fmt Decompress.auto of library stream")(Decompress.auto(lib)).foreach { case (f, back) =>
          if (f != fmt || !java.util.Arrays.equals(back, payload))
            fails += s"$fmt Decompress.auto: sniffed '$f', output ${if (java.util.Arrays.equals(back, payload)) "equal" else "differs"}"
        }
      }
      attempt(s"$fmt graft encode")(timed(reps)(graftEncode(fmt, payload))).foreach { case (enc, s) =>
        m(s"codecs.$fmt.encode_mb_per_s") = mb / s
        m(s"codecs.$fmt.ratio") = payload.length.toDouble / enc.length
        attempt(s"$fmt library decode of graft stream")(libDecode(fmt, enc)).foreach { back =>
          if (!java.util.Arrays.equals(back, payload))
            fails += s"$fmt library decode of graft stream: output differs from payload"
        }
      }
    }
    m("codecs.fail_count") = fails.size.toDouble
    Report(m.toMap, fails.toSeq)
  }
}
