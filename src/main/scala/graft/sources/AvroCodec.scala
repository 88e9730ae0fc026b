package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro Object Container File codec, hand-written from the PUBLIC
  * Apache Avro specification (container file layout + binary
  * encoding) — no avro library in the product path (the avro jar on
  * the Spark classpath serves only as the independent CROSS-ORACLE in
  * the spec suite, the snappy-java/JDK-zip precedent).
  *
  * Container: magic `Obj\x01`, a file-metadata map carrying
  * `avro.schema` (JSON) and `avro.codec`, a 16-byte sync marker, then
  * blocks of (record count, byte size, payload, sync). Codecs: `null`
  * and `deflate` (raw RFC 1951 through the shared inflate in
  * [[graft.operators.Gzip]]) and `snappy` (block format + 4-byte
  * big-endian CRC32 suffix, per the spec, through
  * [[graft.operators.Snappy]]).
  *
  * Binary encoding subset — the tabular core: top-level `record` of
  * null / boolean / int / long (zigzag varints) / float / double
  * (little-endian) / string / bytes (length-prefixed), plus the
  * 2-branch nullable union `["null", T]`. Anything else fails loudly
  * by name; a schema this subset cannot express deserves a loud error,
  * not a silent null column.
  *
  * The schema JSON is parsed by a small recursive-descent JSON parser
  * (driver-side, schema-sized input) — Avro schemas are JSON by spec.
  * Row-local decode; a container splits at block boundaries at scale
  * (each block is self-delimiting after the header). */
object AvroCodec {

  // ---- minimal JSON (driver-side, schema-sized) ------------------------

  private[sources] sealed trait Js
  private[sources] final case class JStr(v: String) extends Js
  private[sources] final case class JNum(v: Double) extends Js
  private[sources] final case class JBool(v: Boolean) extends Js
  private[sources] case object JNull extends Js
  private[sources] final case class JArr(v: Vector[Js]) extends Js
  private[sources] final case class JObj(v: Vector[(String, Js)]) extends Js {
    def get(k: String): Option[Js] = v.find(_._1 == k).map(_._2)
  }

  private[sources] def parseJson(s: String): Js = {
    var i = 0
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"schema JSON: $msg at offset $i")
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      if (i >= s.length || s.charAt(i) != c) err(s"expected '$c'")
      i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= s.length) err("dangling escape")
          s.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              if (i + 4 >= s.length) err("truncated \\u escape")
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case other => err(s"bad escape \\$other")
          }
        } else sb.append(c)
        i += 1
      }
      expect('"')
      sb.toString
    }
    def value(): Js = {
      ws()
      if (i >= s.length) err("unexpected end")
      s.charAt(i) match {
        case '"' => JStr(str())
        case '{' =>
          i += 1; ws()
          val fields = Vector.newBuilder[(String, Js)]
          if (i < s.length && s.charAt(i) == '}') i += 1
          else {
            var going = true
            while (going) {
              ws()
              val k = str()
              ws(); expect(':')
              fields += (k -> value())
              ws()
              if (i < s.length && s.charAt(i) == ',') i += 1
              else { expect('}'); going = false }
            }
          }
          JObj(fields.result())
        case '[' =>
          i += 1; ws()
          val items = Vector.newBuilder[Js]
          if (i < s.length && s.charAt(i) == ']') i += 1
          else {
            var going = true
            while (going) {
              items += value()
              ws()
              if (i < s.length && s.charAt(i) == ',') i += 1
              else { expect(']'); going = false }
            }
          }
          JArr(items.result())
        case 't' => i += 4; JBool(true)
        case 'f' => i += 5; JBool(false)
        case 'n' => i += 4; JNull
        case _ =>
          val start = i
          while (i < s.length && "-+.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
          if (i == start) err(s"unexpected '${s.charAt(i)}'")
          JNum(s.substring(start, i).toDouble)
      }
    }
    val v = value()
    ws()
    if (i != s.length) err("trailing content")
    v
  }

  // ---- schema subset ---------------------------------------------------

  sealed trait AvType
  case object ANull extends AvType
  case object ABool extends AvType
  case object AInt extends AvType
  case object ALong extends AvType
  case object AFloat extends AvType
  case object ADouble extends AvType
  case object AString extends AvType
  case object ABytes extends AvType
  final case class ANullable(inner: AvType) extends AvType

  final case class AvField(name: String, tpe: AvType)
  final case class AvRecord(name: String, fields: Vector[AvField])

  private def primOf(s: String): AvType = s match {
    case "null" => ANull
    case "boolean" => ABool
    case "int" => AInt
    case "long" => ALong
    case "float" => AFloat
    case "double" => ADouble
    case "string" => AString
    case "bytes" => ABytes
    case other => throw new IllegalArgumentException(
      s"unsupported avro type '$other' (subset: primitives + nullable unions)")
  }

  private def typeOf(js: Js): AvType = js match {
    case JStr(s) => primOf(s)
    case JArr(Vector(JStr("null"), t)) => ANullable(typeOf(t))
    case JArr(Vector(t, JStr("null"))) => ANullable(typeOf(t))
    case JArr(_) => throw new IllegalArgumentException(
      "unsupported avro union (subset: 2-branch [\"null\", T])")
    case JObj(fields) => throw new IllegalArgumentException(
      s"unsupported complex avro type ${fields.map(_._1).mkString("{", ",", "}")}")
    case other => throw new IllegalArgumentException(s"bad avro type node $other")
  }

  def parseSchema(json: String): AvRecord = parseJson(json) match {
    case o: JObj =>
      require(o.get("type").contains(JStr("record")),
        s"top-level schema must be a record, got ${o.get("type")}")
      val name = o.get("name") match {
        case Some(JStr(n)) => n
        case _ => throw new IllegalArgumentException("record schema lacks a name")
      }
      val fields = o.get("fields") match {
        case Some(JArr(fs)) => fs.map {
          case f: JObj =>
            val fn = f.get("name") match {
              case Some(JStr(n)) => n
              case _ => throw new IllegalArgumentException("field lacks a name")
            }
            AvField(fn, typeOf(f.get("type").getOrElse(
              throw new IllegalArgumentException(s"field $fn lacks a type"))))
          case other => throw new IllegalArgumentException(s"bad field node $other")
        }.toVector
        case _ => throw new IllegalArgumentException("record schema lacks fields")
      }
      AvRecord(name, fields)
    case other =>
      throw new IllegalArgumentException(s"top-level schema must be an object, got $other")
  }

  private[sources] def schemaJson(rec: AvRecord): String = {
    def t(tp: AvType): String = tp match {
      case ANull => "\"null\""
      case ABool => "\"boolean\""
      case AInt => "\"int\""
      case ALong => "\"long\""
      case AFloat => "\"float\""
      case ADouble => "\"double\""
      case AString => "\"string\""
      case ABytes => "\"bytes\""
      case ANullable(x) => s"""["null",${t(x)}]"""
    }
    rec.fields.map(f => s"""{"name":"${f.name}","type":${t(f.tpe)}}""")
      .mkString(s"""{"type":"record","name":"${rec.name}","fields":[""", ",", "]}")
  }

  def sparkSchema(rec: AvRecord): StructType = StructType(rec.fields.map { f =>
    def dt(tp: AvType): (DataType, Boolean) = tp match {
      case ANull => (NullType, true)
      case ABool => (BooleanType, false)
      case AInt => (IntegerType, false)
      case ALong => (LongType, false)
      case AFloat => (FloatType, false)
      case ADouble => (DoubleType, false)
      case AString => (StringType, false)
      case ABytes => (BinaryType, false)
      case ANullable(x) => (dt(x)._1, true)
    }
    val (d, nullable) = dt(f.tpe)
    StructField(f.name, d, nullable)
  })

  // ---- binary encoding -------------------------------------------------

  private final class Reader(b: Array[Byte], var p: Int, val until: Int) {
    def u8(): Int = {
      require(p < until, s"avro data truncated at $p")
      val v = b(p) & 0xff
      p += 1
      v
    }
    def vlong(): Long = {
      var shift = 0
      var acc = 0L
      var going = true
      while (going) {
        require(shift <= 63, "avro varint longer than 64 bits")
        val x = u8()
        acc |= (x & 0x7fL) << shift
        shift += 7
        if ((x & 0x80) == 0) going = false
      }
      (acc >>> 1) ^ -(acc & 1) // zigzag
    }
    def bytes(n: Int): Array[Byte] = {
      require(n >= 0 && p + n <= until, s"avro byte run of $n overruns at $p")
      val out = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      out
    }
    /** Length-prefixed byte run. The declared length is bounds-checked
      * as a Long BEFORE the Int narrowing — a declared length ≥ 2^32
      * must fail loudly here, not truncate and mis-parse. */
    def lenBytes(): Array[Byte] = {
      val len = vlong()
      require(len >= 0 && len <= (until - p).toLong,
        s"avro declared length $len exceeds remaining ${until - p} bytes at $p")
      bytes(len.toInt)
    }
  }

  private def readValue(r: Reader, tp: AvType): Any = tp match {
    case ANull => null
    case ABool => r.u8() match {
      case 0 => false
      case 1 => true
      case other => throw new IllegalArgumentException(s"bad avro boolean byte $other")
    }
    case AInt =>
      val v = r.vlong()
      require(v >= Int.MinValue && v <= Int.MaxValue, s"avro int out of range: $v")
      v.toInt
    case ALong => r.vlong()
    case AFloat =>
      val raw = r.bytes(4)
      java.lang.Float.intBitsToFloat(
        (raw(0) & 0xff) | ((raw(1) & 0xff) << 8) |
          ((raw(2) & 0xff) << 16) | ((raw(3) & 0xff) << 24))
    case ADouble =>
      val raw = r.bytes(8)
      var bits = 0L
      var i = 7
      while (i >= 0) { bits = (bits << 8) | (raw(i) & 0xffL); i -= 1 }
      java.lang.Double.longBitsToDouble(bits)
    case AString => new String(r.lenBytes(), UTF_8)
    case ABytes => r.lenBytes()
    case ANullable(inner) => r.vlong() match {
      case 0 => null
      case 1 => readValue(r, inner)
      case other => throw new IllegalArgumentException(s"bad union branch $other")
    }
  }

  private def writeVlong(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = (v0 << 1) ^ (v0 >> 63) // zigzag
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def writeValue(out: java.io.ByteArrayOutputStream, tp: AvType, v: Any): Unit =
    (tp, v) match {
      case (ANull, _) => ()
      case (ANullable(_), null) => writeVlong(out, 0)
      case (ANullable(inner), x) => writeVlong(out, 1); writeValue(out, inner, x)
      case (ABool, b: Boolean) => out.write(if (b) 1 else 0)
      case (AInt, x: Int) => writeVlong(out, x.toLong)
      case (ALong, x: Long) => writeVlong(out, x)
      case (AFloat, f: Float) =>
        val bits = java.lang.Float.floatToIntBits(f)
        out.write(bits & 0xff); out.write((bits >>> 8) & 0xff)
        out.write((bits >>> 16) & 0xff); out.write((bits >>> 24) & 0xff)
      case (ADouble, d: Double) =>
        var bits = java.lang.Double.doubleToLongBits(d)
        var i = 0
        while (i < 8) { out.write((bits & 0xff).toInt); bits >>>= 8; i += 1 }
      case (AString, s: String) =>
        val raw = s.getBytes(UTF_8)
        writeVlong(out, raw.length.toLong)
        out.write(raw, 0, raw.length)
      case (ABytes, raw: Array[Byte]) =>
        writeVlong(out, raw.length.toLong)
        out.write(raw, 0, raw.length)
      case (t, x) => throw new IllegalArgumentException(
        s"value ${Option(x).map(_.getClass.getName).getOrElse("null")} does not fit avro type $t")
    }

  // ---- container file --------------------------------------------------

  private val Magic = Array[Byte]('O', 'b', 'j', 1)

  /** Encode rows as one container file. `codec`: "null", "deflate" or
    * "snappy". Sync marker is deterministic from the schema (content-
    * derived, no RNG — reproducible bytes for identical input). */
  def encode(rec: AvRecord, rows: Seq[Seq[Any]], codec: String = "null",
      blockRecords: Int = 1000): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    out.write(Magic, 0, 4)
    val meta = Seq(
      "avro.schema" -> schemaJson(rec).getBytes(UTF_8),
      "avro.codec" -> codec.getBytes(UTF_8))
    writeVlong(out, meta.size.toLong)
    meta.foreach { case (k, v) =>
      val kb = k.getBytes(UTF_8)
      writeVlong(out, kb.length.toLong); out.write(kb, 0, kb.length)
      writeVlong(out, v.length.toLong); out.write(v, 0, v.length)
    }
    writeVlong(out, 0L) // end of metadata map
    val sync = {
      val h = graft.operators.Lz4.xxh32(schemaJson(rec).getBytes(UTF_8), 0,
        schemaJson(rec).getBytes(UTF_8).length)
      Array.tabulate[Byte](16)(i => ((h >>> ((i % 4) * 8)) + i * 37).toByte)
    }
    out.write(sync, 0, 16)
    rows.grouped(blockRecords).foreach { block =>
      val payload = new java.io.ByteArrayOutputStream(4096)
      block.foreach { row =>
        require(row.length == rec.fields.length,
          s"row arity ${row.length} != schema arity ${rec.fields.length}")
        rec.fields.zip(row).foreach { case (f, v) => writeValue(payload, f.tpe, v) }
      }
      val raw = payload.toByteArray
      val packed = codec match {
        case "null" => raw
        case "deflate" => graft.operators.Gzip.deflateFixed(raw)
        case "snappy" =>
          val c = graft.operators.Snappy.compress(raw)
          val crc = new java.util.zip.CRC32()
          crc.update(raw)
          val v = crc.getValue
          c ++ Array[Byte](((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
            ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
        case other => throw new IllegalArgumentException(s"unsupported avro codec '$other'")
      }
      writeVlong(out, block.size.toLong)
      writeVlong(out, packed.length.toLong)
      out.write(packed, 0, packed.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  /** Decode a container file: (schema, rows). Sync markers and codec
    * handled per spec; unsupported codecs fail by name. */
  def decode(bytes: Array[Byte]): (AvRecord, Seq[Seq[Any]]) = {
    require(bytes.length >= 20 && bytes(0) == 'O' && bytes(1) == 'b' &&
      bytes(2) == 'j' && bytes(3) == 1,
      "bad avro container magic (want Obj\\x01)")
    val r = new Reader(bytes, 4, bytes.length)
    val meta = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
    var n = r.vlong()
    while (n != 0) {
      require(n > 0, "negative avro metadata block count")
      var i = 0L
      while (i < n) {
        val k = new String(r.lenBytes(), UTF_8)
        meta(k) = r.lenBytes()
        i += 1
      }
      n = r.vlong()
    }
    val schema = parseSchema(new String(
      meta.getOrElse("avro.schema",
        throw new IllegalArgumentException("container lacks avro.schema")), UTF_8))
    val codec = new String(meta.getOrElse("avro.codec", "null".getBytes(UTF_8)), UTF_8)
    val sync = r.bytes(16)
    val rows = Seq.newBuilder[Seq[Any]]
    while (r.p < r.until) {
      val count = r.vlong()
      require(count >= 0, s"negative avro block record count $count")
      val packed = r.lenBytes()
      val raw = codec match {
        case "null" => packed
        case "deflate" => graft.operators.Gzip.inflateRaw(packed, 0)._1
        case "snappy" =>
          require(packed.length >= 4, "snappy avro block lacks its CRC suffix")
          val body = java.util.Arrays.copyOf(packed, packed.length - 4)
          val out = graft.operators.Snappy.uncompress(body)
          val crc = new java.util.zip.CRC32()
          crc.update(out)
          val want = ((packed(packed.length - 4) & 0xffL) << 24) |
            ((packed(packed.length - 3) & 0xffL) << 16) |
            ((packed(packed.length - 2) & 0xffL) << 8) |
            (packed(packed.length - 1) & 0xffL)
          require(crc.getValue == want,
            f"avro snappy block CRC mismatch: got ${crc.getValue}%08x, want $want%08x")
          out
        case other =>
          throw new IllegalArgumentException(s"unsupported avro codec '$other'")
      }
      val br = new Reader(raw, 0, raw.length)
      var i = 0L
      while (i < count) {
        rows += schema.fields.map(f => readValue(br, f.tpe))
        i += 1
      }
      require(br.p == br.until,
        s"avro block decoded ${br.p} of ${br.until} bytes — count/size disagree")
      require(java.util.Arrays.equals(r.bytes(16), sync),
        "avro block sync marker mismatch")
    }
    (schema, rows.result())
  }

  /** Container bytes → DataFrame (one driver-side decode — the GATE
    * path; a scale deployment maps blocks per task instead). */
  def toDataFrame(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val (schema, rows) = decode(bytes)
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.map(r => Row.fromSeq(r)).asJavaList),
      sparkSchema(schema))
  }

  private implicit final class SeqOps[A](private val s: Seq[A]) extends AnyVal {
    def asJavaList: java.util.ArrayList[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add)
      l
    }
  }
}
