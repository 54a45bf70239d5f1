package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}

/** Helpers shared by the batch and served-path harness mains. */
object Common {

  /** A local session configured like the program's own mains
    * (`graft.Bench`, `graft.server.ServerMain`), at a fixed core count.
    */
  def session(app: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    val it = lines.iterator()
    while (it.hasNext) {
      val l = it.next()
      if (l.startsWith("VmHWM:")) return l.split("\\s+")(1).toDouble / 1024.0
    }
    throw new IllegalStateException("VmHWM missing from /proc/self/status")
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def timestamp(t: java.time.LocalDateTime): String = {
    val base = t.withNano(0).toString.replace('T', ' ')
    val s = if (t.getSecond == 0 && base.length == 16) base + ":00" else base
    if (t.getNano == 0) s else s + f".${t.getNano / 1000}%06d"
  }

  /** A value as JSON in the canonical form the checker also produces from
    * DuckDB results: numbers as numbers, timestamps as
    * `yyyy-MM-dd HH:mm:ss[.ffffff]`, dates as ISO, nested values as arrays.
    */
  def json(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
    case f: Float =>
      if (f.isNaN || f.isInfinite) quote(f.toString) else f.toDouble.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => quote(s)
    case t: java.sql.Timestamp => quote(timestamp(t.toLocalDateTime))
    case t: java.time.LocalDateTime => quote(timestamp(t))
    case t: java.time.Instant =>
      quote(timestamp(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => quote(d.toString)
    case d: java.time.LocalDate => quote(d.toString)
    case a: Array[Byte] => quote(a.map(x => f"$x%02x").mkString)
    case s: scala.collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${json(k)},${json(x)}]" }.sorted.mkString("[", ",", "]")
    case r: Row => r.toSeq.map(json).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def rowJson(r: Row): String = r.toSeq.map(json).mkString("[", ",", "]")

  /** Order-independent digest of a result: the sum of its rows' hashes. */
  def digest(rows: Array[Row]): Long = {
    var h = 0L
    rows.foreach { r =>
      h += scala.util.hashing.MurmurHash3.stringHash(rowJson(r)).toLong * 0x9E3779B97F4A7C15L
    }
    h ^ rows.length.toLong
  }

  /** Columns as a JSON array on the first line, then one row per line. */
  def writeRows(path: String, columns: Seq[String], rows: Array[Row]): Unit = {
    val b = new StringBuilder(columns.map(quote).mkString("[", ",", "]")).append('\n')
    rows.foreach(r => b.append(rowJson(r)).append('\n'))
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), b.toString.getBytes(UTF_8))
  }

  def writeJson(path: String, fields: Seq[(String, String)]): Unit =
    Files.write(Paths.get(path),
      fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}\n").getBytes(UTF_8))

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
