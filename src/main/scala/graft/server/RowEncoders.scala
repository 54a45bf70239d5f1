package graft.server

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Streaming row encoders for the three text formats (uquery-rs
  * src/web/routers.rs:137-148 delegates these to arrow-csv/arrow-json;
  * here they are hand-rolled over Spark's internal rows, preserving the
  * bounded-memory streaming property — rows flow driver→socket as
  * `WindowedPull` hands each partition over, one budget-bounded wave
  * of partitions resident at a time, without materializing the result).
  *
  * Each format compiles once per schema into per-column writers over
  * `SpecializedGetters` that append UTF-8 bytes to one reused buffer:
  * JSON keys are escaped once, string bytes are copied as they are,
  * numbers and timestamps are written without boxing. Types without a
  * compiled writer (intervals, binary, nested values) convert per value
  * to Spark's external objects and go through the per-value renderers
  * below, which hold every rendering rule the compiled writers do not.
  * The `Iterator[Row]` entry points convert each row to an internal row
  * and share the same writers.
  *
  * JSON/CSV are lossy stringifications exactly like the reference
  * (Arrow IPC is the type-preserving path, ArrowIpcEncoder).
  */
object RowEncoders {

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd HH:mm:ss")

  /** DuckDB's naive TIMESTAMP text: always emits seconds
    * (LocalDateTime.toString drops :00), plus trimmed fractional micros
    * when present — matching arrow-json/csv. TIMESTAMP_NTZ values render
    * as they are; TIMESTAMP values as their UTC wall time.
    */
  private[server] def fmtLocalTimestamp(ldt: java.time.LocalDateTime): String = {
    val base = ldt.format(TsFmt)
    val micros = ldt.getNano / 1000
    if (micros == 0) base
    else base + "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
  }

  private[server] def fmtTimestamp(t: java.sql.Timestamp): String =
    fmtLocalTimestamp(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)

  /** DuckDB-parity floating-point rendering (probe-12 catch: Java's
    * Double.toString goes scientific at 1e7 where DuckDB prints plain
    * decimal — every HTTP-served big aggregate diverged). DuckDB's
    * rule set, pinned live: plain decimal (integral values keep one
    * ".0") for 1e-6 <= |v| < 1e21, shortest-digits scientific outside.
    * JSON spells the exponent bare ("1.5e-7", "1e21") and keeps -0.0;
    * VARCHAR/CSV pads it to two digits with a sign ("1.5e-07",
    * "1e+21") and renders -0.0 as "0.0".
    */
  private[server] def fmtFloating(digits: String, forCsv: Boolean): String = {
    val bd = new java.math.BigDecimal(digits)
    val absV = bd.abs.doubleValue
    val neg = digits.startsWith("-")
    if (bd.unscaledValue.signum == 0)
      if (neg && !forCsv) "-0.0" else "0.0"
    else if (absV >= 1e-6 && absV < 1e21) {
      val plain = bd.stripTrailingZeros.toPlainString
      val out = if (plain.contains('.')) plain else plain + ".0"
      if (forCsv && out == "-0.0") "0.0" else out
    } else {
      val stripped = bd.stripTrailingZeros
      val digs = stripped.unscaledValue.abs.toString
      val exp = digs.length - 1 - stripped.scale
      val mant = if (digs.length == 1) digs else digs.head + "." + digs.tail
      val expStr =
        if (forCsv) (if (exp < 0) "e-" else "e+") + f"${math.abs(exp)}%02d"
        else "e" + exp
      (if (neg) "-" else "") + mant + expStr
    }
  }

  /** Appends fmtFloating's text of a finite double to `sb`, without
    * BigDecimal where the result is known: Java's shortest digits
    * without an exponent (1e-3 <= |v| < 1e7) already are DuckDB's plain
    * form, since they carry no trailing zeros beyond the one ".0".
    * Scientific spellings and ±0.0 go through fmtFloating.
    */
  private[server] def appendDouble(sb: java.lang.StringBuilder, d: Double, forCsv: Boolean): Unit = {
    val start = sb.length
    sb.append(d) // Double.toString's digits, without a String
    if (d == 0 || sb.indexOf("E", start) >= 0) refloat(sb, start, forCsv)
  }

  private[server] def appendFloat(sb: java.lang.StringBuilder, f: Float, forCsv: Boolean): Unit = {
    val start = sb.length
    sb.append(f)
    if (f == 0 || sb.indexOf("E", start) >= 0) refloat(sb, start, forCsv)
  }

  private def refloat(sb: java.lang.StringBuilder, start: Int, forCsv: Boolean): Unit = {
    val digits = sb.substring(start)
    sb.setLength(start)
    sb.append(fmtFloating(digits, forCsv))
  }

  /** DuckDB interval rendering (pinned live via to_json: singular /
    * plural year-month-day parts when nonzero, then HH:MM:SS[.ffffff]
    * when the time component is nonzero — or alone when everything is
    * zero; hours unpadded past two digits, fraction trailing-zero
    * trimmed, each component carries its own sign).
    */
  private[server] def fmtInterval(months: Long, days: Long, micros: Long): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val years = months / 12
    val mon = months % 12
    def unit(n: Long, u: String): String = s"$n $u" + (if (math.abs(n) != 1) "s" else "")
    if (years != 0) parts += unit(years, "year")
    if (mon != 0) parts += unit(mon, "month")
    if (days != 0) parts += unit(days, "day")
    if (micros != 0 || parts.isEmpty) {
      val neg = micros < 0
      val am = math.abs(micros)
      val h = am / 3600000000L
      val m = am / 60000000L % 60
      val sec = am / 1000000L % 60
      val us = am % 1000000L
      val frac =
        if (us == 0) ""
        else "." + f"$us%06d".reverse.dropWhile(_ == '0').reverse
      parts += (if (neg) "-" else "") + f"$h%02d:$m%02d:$sec%02d$frac"
    }
    parts.mkString(" ")
  }

  /** Interval-typed values as DuckDB text, whatever object shape the
    * row delivers (CalendarInterval for legacy/calendar results,
    * Period/Duration for ANSI year-month / day-time intervals).
    * Spark folds `INTERVAL 5 DAY` into a pure-micros Duration, so the
    * day component only survives in the COLUMN TYPE — when the field's
    * DayTimeIntervalType starts at DAY, whole days hoist back out
    * ("5 days" like DuckDB) while HOUR-and-finer intervals keep
    * DuckDB's time spelling ("120:00:00" for INTERVAL '120' HOUR).
    */
  private[server] def intervalText(
      v: Any,
      dt: Option[org.apache.spark.sql.types.DataType] = None): Option[String] = v match {
    case ci: org.apache.spark.unsafe.types.CalendarInterval =>
      Some(fmtInterval(ci.months.toLong, ci.days.toLong, ci.microseconds))
    case p: java.time.Period =>
      Some(fmtInterval(p.toTotalMonths, p.getDays.toLong, 0L))
    case d: java.time.Duration =>
      val micros = d.getSeconds * 1000000L + d.getNano / 1000L
      val hoistDays = dt match {
        case Some(it: org.apache.spark.sql.types.DayTimeIntervalType) =>
          it.startField == org.apache.spark.sql.types.DayTimeIntervalType.DAY
        case _ => false
      }
      if (hoistDays)
        Some(fmtInterval(0L, micros / 86400000000L, micros % 86400000000L))
      else Some(fmtInterval(0L, 0L, micros))
    case _ => None
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => Protocol.jsonString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else fmtFloating(java.lang.Double.toString(d), forCsv = false)
    case f: Float =>
      if (f.isNaN || f.isInfinite) "null"
      else fmtFloating(java.lang.Float.toString(f), forCsv = false)
    case t: java.sql.Timestamp => Protocol.jsonString(fmtTimestamp(t))
    case t: java.time.LocalDateTime => Protocol.jsonString(fmtLocalTimestamp(t))
    case d: java.sql.Date => Protocol.jsonString(d.toString)
    case b: Array[Byte] => Protocol.jsonString(java.util.Base64.getEncoder.encodeToString(b))
    case seq: scala.collection.Seq[_] => seq.map(jsonValue).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${Protocol.jsonString(String.valueOf(k))}:${jsonValue(x)}" }
        .mkString("{", ",", "}")
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (n, x) => s"${Protocol.jsonString(n)}:${jsonValue(x)}" }
        .mkString("{", ",", "}")
    case n: java.math.BigDecimal => n.toPlainString
    case other => intervalText(other) match {
      case Some(ivl) => Protocol.jsonString(ivl)
      case None => other.toString
    }
  }

  /** jsonValue with the field's declared type available — only the
    * Duration day-hoisting decision consults it (see intervalText).
    */
  private def jsonValueTyped(v: Any, dt: org.apache.spark.sql.types.DataType): String =
    v match {
      case d: java.time.Duration =>
        Protocol.jsonString(intervalText(d, Option(dt)).get)
      case _ => jsonValue(v)
    }

  /** JSON stringification of a nested value (ArrowIpcEncoder's utf8
    * fallback for types without a primitive Arrow mapping).
    */
  private[server] def jsonFallback(v: Any): String = jsonValue(v)

  /** DuckDB's VARCHAR rendering of NESTED values (oracle-measured,
    * round-15 bytes fuzz): lists `[1, NULL, 3]` (", " separator,
    * NULL uppercase, strings bare), structs `{'k': v}` (keys
    * single-quoted, values bare), maps `{k=v}`. Scalars inside reuse
    * the CSV scalar conventions (timestamps, doubles with trailing
    * .0) — this is what the reference's CSV carries for nested
    * columns, since it streams DuckDB's own text conversion.
    */
  private[server] def duckTextValue(v: Any): String = v match {
    case null => "NULL"
    case seq: scala.collection.Seq[_] =>
      seq.map(duckTextValue).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${duckTextValue(k)}=${duckTextValue(x)}" }
        .mkString("{", ", ", "}")
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (n, x) => s"'$n': ${duckTextValue(x)}" }
        .mkString("{", ", ", "}")
    case t: java.sql.Timestamp => fmtTimestamp(t)
    case t: java.time.LocalDateTime => fmtLocalTimestamp(t)
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else fmtFloating(java.lang.Double.toString(d), forCsv = true)
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else fmtFloating(java.lang.Float.toString(f), forCsv = true)
    case other => intervalText(other, None).getOrElse(other.toString)
  }

  private def csvField(v: Any, dt: Option[org.apache.spark.sql.types.DataType]): String = v match {
    case null => ""
    case t: java.sql.Timestamp => fmtTimestamp(t)
    case t: java.time.LocalDateTime => fmtLocalTimestamp(t)
    case s =>
      // nested values render as DuckDB's VARCHAR conversion (round-15
      // bytes fuzz closed the old compact-JSON divergence: the oracle
      // writes `[1, NULL, 3]`, not `[1,null,3]`)
      val str = s match {
        case _: scala.collection.Seq[_] | _: scala.collection.Map[_, _] | _: Row =>
          duckTextValue(s)
        case d: java.lang.Double =>
          if (d.isNaN || d.isInfinite) d.toString
          else fmtFloating(java.lang.Double.toString(d), forCsv = true)
        case f: java.lang.Float =>
          if (f.isNaN || f.isInfinite) f.toString
          else fmtFloating(java.lang.Float.toString(f), forCsv = true)
        case other => intervalText(other, dt).getOrElse(other.toString)
      }
      if (str.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + str.replace("\"", "\"\"") + "\""
      else str
  }

  /** One reused byte buffer in front of the response stream: the
    * compiled writers append UTF-8 bytes, and a full buffer goes out in
    * one write (a 32 KiB buffer fills in well under a millisecond, so
    * the first body byte is not held back by it).
    */
  private[server] final class Sink(out: OutputStream) {
    private[this] var buf = new Array[Byte](32 * 1024)
    private[this] var n = 0
    private[this] val floating = new java.lang.StringBuilder(32)

    private def room(k: Int): Unit =
      if (n + k > buf.length) {
        flush()
        if (k > buf.length) buf = new Array[Byte](k)
      }

    def flush(): Unit = if (n > 0) { out.write(buf, 0, n); n = 0 }

    def byte(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }

    def bytes(a: Array[Byte]): Unit = {
      room(a.length); System.arraycopy(a, 0, buf, n, a.length); n += a.length
    }

    /** Text known to be ASCII (numbers, dates, keywords). */
    def ascii(s: CharSequence): Unit = {
      val k = s.length
      room(k)
      var i = 0
      while (i < k) { buf(n + i) = s.charAt(i).toByte; i += 1 }
      n += k
    }

    def text(s: String): Unit = bytes(s.getBytes(UTF_8))

    def double(d: Double, forCsv: Boolean): Unit = {
      floating.setLength(0); appendDouble(floating, d, forCsv); ascii(floating)
    }

    def float(f: Float, forCsv: Boolean): Unit = {
      floating.setLength(0); appendFloat(floating, f, forCsv); ascii(floating)
    }

    def long(v: Long): Unit =
      if (v == Long.MinValue) ascii(java.lang.Long.toString(v))
      else {
        if (v < 0) byte('-')
        val a = math.abs(v)
        var width = 1
        var p = 10L
        while (width < 19 && a >= p) { width += 1; p *= 10 }
        digits(a, width)
      }

    /** `v` as exactly `width` digits, zero-padded (v >= 0). */
    private def digits(v: Long, width: Int): Unit = {
      room(width)
      var a = v
      var i = n + width - 1
      while (i >= n) { buf(i) = ('0' + a % 10).toByte; a /= 10; i -= 1 }
      n += width
    }

    /** `yyyy-mm-dd` of a day count since 1970-01-01 (proleptic
      * Gregorian; callers keep the year within 0..9999). Days to civil
      * date after H. Hinnant's `civil_from_days`.
      */
    def date(days: Long): Unit = {
      val z = days + 719468
      val era = Math.floorDiv(z, 146097L)
      val doe = z - era * 146097
      val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
      val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
      val mp = (5 * doy + 2) / 153
      val d = doy - (153 * mp + 2) / 5 + 1
      val m = if (mp < 10) mp + 3 else mp - 9
      val y = yoe + era * 400 + (if (m <= 2) 1 else 0)
      digits(y, 4); byte('-'); digits(m, 2); byte('-'); digits(d, 2)
    }

    /** fmtLocalTimestamp's text of a micros count since the epoch. */
    def timestamp(micros: Long): Unit = {
      date(Math.floorDiv(micros, MicrosPerDay))
      val tod = Math.floorMod(micros, MicrosPerDay)
      byte(' '); digits(tod / 3600000000L, 2)
      byte(':'); digits(tod / 60000000L % 60, 2)
      byte(':'); digits(tod / 1000000L % 60, 2)
      var frac = tod % 1000000L
      if (frac != 0) {
        var width = 6
        while (frac % 10 == 0) { frac /= 10; width -= 1 }
        byte('.'); digits(frac, width)
      }
    }

    /** A JSON string of `s`'s bytes, escaped only where Protocol.jsonString would. */
    def jsonString(s: UTF8String): Unit = {
      byte('"')
      val start = utf8(s)
      var i = start
      while (i < n && !jsonEscaped(buf(i))) i += 1
      if (i < n) {
        val raw = java.util.Arrays.copyOfRange(buf, start, n)
        n = start
        raw.foreach { b =>
          if (!jsonEscaped(b)) byte(b)
          else b.toChar match {
            case '"' => ascii("\\\"")
            case '\\' => ascii("\\\\")
            case '\n' => ascii("\\n")
            case '\r' => ascii("\\r")
            case '\t' => ascii("\\t")
            case c => ascii(f"\\u${c.toInt}%04x")
          }
        }
      }
      byte('"')
    }

    /** A CSV field of `s`'s bytes, RFC-4180 quoted when it holds a
      * comma, quote or line break (as csvField). */
    def csvString(s: UTF8String): Unit = {
      val start = utf8(s)
      var i = start
      while (i < n && !csvQuoted(buf(i))) i += 1
      if (i < n) {
        val raw = java.util.Arrays.copyOfRange(buf, start, n)
        n = start
        byte('"')
        raw.foreach { b => if (b == '"') byte('"'); byte(b) }
        byte('"')
      }
    }

    /** Appends `s`'s bytes; returns where they start (after any flush). */
    private def utf8(s: UTF8String): Int = {
      val k = s.numBytes
      room(k)
      val start = n
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + start)
      n += k
      start
    }
  }

  private val MicrosPerDay = 86400000000L
  // dates and timestamps inside [1900-01-01, 10000-01-01) have a
  // compiled writer; Spark's external values for earlier ones are
  // rebased to the hybrid Julian calendar, so those (and years past
  // 9999) keep the per-value renderers
  private val MinFastDay = -25567L // 1900-01-01
  private val MaxFastDay = 2932897L // 10000-01-01
  // UTF-8 continuation and lead bytes are negative as signed bytes, so
  // an ASCII test on single bytes never splits a multi-byte character
  private def jsonEscaped(b: Byte): Boolean = b >= 0 && (b < ' ' || b == '"' || b == '\\')
  private def csvQuoted(b: Byte): Boolean = b == ',' || b == '"' || b == '\n' || b == '\r'

  /** Writes one non-null value at (row, ordinal). */
  private trait Cell { def apply(r: SpecializedGetters, o: Int, s: Sink): Unit }

  /** The compiled writer of one value of type `dt` in JSON (`json`) or
    * CSV text. */
  private def cell(dt: DataType, json: Boolean): Cell = {
    val quote: Sink => Unit = if (json) _.byte('"') else _ => ()
    dt match {
      case BooleanType => (r, o, s) => s.ascii(if (r.getBoolean(o)) "true" else "false")
      case ByteType => (r, o, s) => s.long(r.getByte(o).toLong)
      case ShortType => (r, o, s) => s.long(r.getShort(o).toLong)
      case IntegerType => (r, o, s) => s.long(r.getInt(o).toLong)
      case LongType => (r, o, s) => s.long(r.getLong(o))
      case DoubleType => (r, o, s) => {
        val d = r.getDouble(o)
        if (!d.isNaN && !d.isInfinite) s.double(d, !json)
        else s.ascii(if (json) "null" else java.lang.Double.toString(d))
      }
      case FloatType => (r, o, s) => {
        val f = r.getFloat(o)
        if (!f.isNaN && !f.isInfinite) s.float(f, !json)
        else s.ascii(if (json) "null" else java.lang.Float.toString(f))
      }
      case _: StringType =>
        if (json) (r, o, s) => s.jsonString(r.getUTF8String(o))
        else (r, o, s) => s.csvString(r.getUTF8String(o))
      case d: DecimalType =>
        if (json) (r, o, s) => s.ascii(r.getDecimal(o, d.precision, d.scale).toJavaBigDecimal.toPlainString)
        else (r, o, s) => s.ascii(r.getDecimal(o, d.precision, d.scale).toJavaBigDecimal.toString)
      case DateType =>
        val slow = perValue(dt, json)
        (r, o, s) => {
          val days = r.getInt(o).toLong
          if (days >= MinFastDay && days < MaxFastDay) { quote(s); s.date(days); quote(s) }
          else slow(r, o, s)
        }
      case TimestampType | TimestampNTZType =>
        val slow = perValue(dt, json)
        (r, o, s) => {
          val micros = r.getLong(o)
          if (micros >= MinFastDay * MicrosPerDay && micros < MaxFastDay * MicrosPerDay) {
            quote(s); s.timestamp(micros); quote(s)
          } else slow(r, o, s)
        }
      case _ => perValue(dt, json)
    }
  }

  /** Types without a compiled writer: Spark's external value, rendered
    * by jsonValueTyped / csvField. */
  private def perValue(dt: DataType, json: Boolean): Cell = {
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    if (json) (r, o, s) => s.text(jsonValueTyped(toScala(r.get(o, dt)), dt))
    else (r, o, s) => s.text(csvField(toScala(r.get(o, dt)), Some(dt)))
  }

  /** One object `{"col":v,...}` per row; keys are escaped once. */
  private final class JsonRows(schema: StructType) {
    private val keys = schema.fieldNames.zipWithIndex.map { case (name, c) =>
      ((if (c == 0) "" else ",") + Protocol.jsonString(name) + ":").getBytes(UTF_8)
    }
    private val cells = schema.fields.map(f => cell(f.dataType, json = true))

    def write(r: InternalRow, s: Sink): Unit = {
      s.byte('{')
      var c = 0
      while (c < cells.length) {
        s.bytes(keys(c))
        if (r.isNullAt(c)) s.ascii("null") else cells(c)(r, c, s)
        c += 1
      }
      s.byte('}')
    }
  }

  /** `[{"col":v,...},...]` — arrow-json ArrayWriter shape (golden:
    * uquery-rs src/main.rs:163-166).
    */
  def writeJsonArray(schema: StructType, rows: Iterator[InternalRow], out: OutputStream): Unit = {
    val enc = new JsonRows(schema)
    val s = new Sink(out)
    s.byte('[')
    var first = true
    while (rows.hasNext) {
      if (!first) s.byte(',')
      enc.write(rows.next(), s)
      first = false
    }
    s.byte(']')
    s.flush()
  }

  /** One JSON object per line (golden: src/main.rs:393-411). */
  def writeJsonLines(schema: StructType, rows: Iterator[InternalRow], out: OutputStream): Unit = {
    val enc = new JsonRows(schema)
    val s = new Sink(out)
    while (rows.hasNext) {
      enc.write(rows.next(), s)
      s.byte('\n')
    }
    s.flush()
  }

  /** Header row + RFC-4180 quoting (golden: src/main.rs:192). */
  def writeCsv(schema: StructType, rows: Iterator[InternalRow], out: OutputStream): Unit = {
    val cells = schema.fields.map(f => cell(f.dataType, json = false))
    val s = new Sink(out)
    s.text(schema.fieldNames.mkString(",") + "\n")
    while (rows.hasNext) {
      val r = rows.next()
      var c = 0
      while (c < cells.length) {
        if (c > 0) s.byte(',')
        if (!r.isNullAt(c)) cells(c)(r, c, s)
        c += 1
      }
      s.byte('\n')
    }
    s.flush()
  }

  /** The same encoders over external rows (the rows of `collect`). */
  def writeJsonArray(names: Array[String], rows: Iterator[Row], out: OutputStream): Unit = {
    val (schema, internal) = toInternal(names, rows)
    writeJsonArray(schema, internal, out)
  }

  def writeJsonLines(names: Array[String], rows: Iterator[Row], out: OutputStream): Unit = {
    val (schema, internal) = toInternal(names, rows)
    writeJsonLines(schema, internal, out)
  }

  def writeCsv(names: Array[String], rows: Iterator[Row], out: OutputStream): Unit = {
    val (schema, internal) = toInternal(names, rows)
    writeCsv(schema, internal, out)
  }

  /** External rows as internal ones, under the rows' own schema renamed
    * to `names` (a non-empty input must carry a schema, as the rows of
    * `collect` and `toLocalIterator` do).
    */
  private def toInternal(names: Array[String], rows: Iterator[Row])
      : (StructType, Iterator[InternalRow]) = {
    val it = rows.buffered
    val types =
      if (!it.hasNext) names.map(_ => NullType: DataType)
      else {
        val schema = it.head.schema
        require(schema != null, "RowEncoders needs rows that carry their schema")
        schema.fields.map(_.dataType)
      }
    val schema = StructType(names.zip(types).map { case (n, t) => StructField(n, t) })
    (schema, it.map(internalRow(schema)))
  }

  private[server] def internalRow(schema: StructType): Row => InternalRow = {
    val convert = CatalystTypeConverters.createToCatalystConverter(schema)
    r => convert(r).asInstanceOf[InternalRow]
  }
}
