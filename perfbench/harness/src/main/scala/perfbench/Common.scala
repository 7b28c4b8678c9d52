package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Session, output digest and JSON helpers shared by the harness mains. */
object Common {

  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session shape `graft.Submit` and `graft.Bench` build: local mode
    * over SPARK_GRAFT_CPUS cores, one shuffle partition per core, UTC. */
  def session(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  def now(): Double = System.currentTimeMillis() / 1e3

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-insensitive digest of a result: every row rendered canonically
    * (doubles to 7 significant digits, so the last-bit noise of a
    * reordered floating-point sum cannot flip it), the lines sorted, then
    * SHA-256. Returns (hex digest, row count). */
  def digest(df: DataFrame): (String, Long) = {
    val lines = df.collect().map(render).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (md.digest().map(b => f"${b & 0xff}%02x").mkString, lines.length.toLong)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.6e", java.lang.Double.valueOf(d))

  /** Minimal JSON rendering for the harness's one-line reports. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
