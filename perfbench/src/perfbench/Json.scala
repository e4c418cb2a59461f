package perfbench

/** Minimal JSON writer for the result and span lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }
      .sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile, the `statistics.quantiles` inclusive
    * convention. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object JsonRead {
  /** Parse JSON into Scala Maps, Seqs, Strings, Longs, Doubles, Booleans. */
  def parse(s: String): Any = conv(
    new com.fasterxml.jackson.databind.ObjectMapper().readValue(s, classOf[Object]))

  private def conv(v: Any): Any = {
    import scala.jdk.CollectionConverters._
    v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => k.toString -> conv(x) }.toMap
      case l: java.util.List[_] => l.asScala.map(conv).toVector
      case i: java.lang.Integer => i.longValue
      case b: java.math.BigInteger => b.longValue
      case other => other
    }
  }
}
