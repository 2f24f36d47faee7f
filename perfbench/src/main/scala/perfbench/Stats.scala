package perfbench

/** Progress marks on stderr (the JVM log), seconds since process start. */
object Log {
  private val t0 = System.nanoTime()
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] $what ${(System.nanoTime() - t0) / 1e9}%.2f s")
}

/** Order statistics and the small JSON writer the report needs. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The 90th percentile by nearest rank, as (value, percentile, n).
    *
    * A round mixes operation types in fixed proportions, so at a few dozen
    * samples a percentile chosen from n (the highest with ten samples beyond
    * it) lands on a different operation type whenever one more round fits
    * in the run; p90 stays inside the slowest type's share of every round.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 90.0, 0)
    else (s(math.ceil(0.9 * n).toInt - 1), 90.0, n)
  }

  def json(v: Any): String = v match {
    case null                     => "null"
    case s: String                => "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      } + "\""
    case d: Double                => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                 => json(f.toDouble)
    case b: Boolean               => b.toString
    case n: Int                   => n.toString
    case n: Long                  => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]          => xs.map(json).mkString("[", ",", "]")
    case other                    => json(other.toString)
  }
}
