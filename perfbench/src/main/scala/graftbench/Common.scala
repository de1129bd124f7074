package graftbench

import org.apache.spark.sql.{Row, SparkSession}

/** Minimal JSON writing (the benchmark emits flat objects only). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

object Rows {
  /** Order-insensitive hash of a result: every row rendered canonically,
    * the renderings sorted, then SHA-256 over the sorted list. Two runs
    * of one query hash equal iff they return the same multiset of rows.
    */
  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case other => other.toString
  }
}

object Session {
  /** The benchmark's fixed session: 4 local cores, 4 shuffle partitions. */
  def build(cores: Int = 4): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop caches and pinned blocks one operation may leave behind. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Bytes under `dir`, recursively. */
  def diskBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).fold(0L)(_.map { f =>
      if (f.isDirectory) diskBytes(f) else f.length()
    }.sum)

  /** JVM heap in use after a full collection, in MiB: the least of
    * three readings, each after a collection, so garbage the collector
    * has not reached yet does not count.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }
}
