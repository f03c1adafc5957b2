package perfbench

/** Small numeric and JSON helpers shared by the workloads. */
object Stats {
  /** Linear-interpolated percentile (q in [0, 1]); 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def ms(ns: Long): Double = ns / 1e6

  private val start = System.nanoTime()
  /** Progress line on stderr, with seconds since JVM start of the run. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%7.2f] $msg")

  /** Minimal JSON rendering for the result line and the span dump. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Bytes under a directory tree (regular files only, links not followed). */
  def dirBytes(root: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }

  /** CPU steal time of the whole machine in seconds (`/proc/stat`, field
    * 8 of the `cpu` line, in USER_HZ ticks); 0 where it is not available. */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}
