package graft.util

/** The one reader of graft's environment knobs (`SPARK_GRAFT_*`).
  *
  * Every knob is parsed here and fails fast: a value that does not
  * parse, or lies outside the knob's range, throws an
  * `IllegalArgumentException` naming the variable and the value,
  * before any Spark work starts — instead of a bare
  * `NumberFormatException` deep inside a read. An unset variable
  * yields the default; a set-but-empty numeric or boolean variable is
  * malformed, not unset.
  *
  * `vars` is injectable so a spec can feed it bad input; the
  * companion object reads the process environment. */
class Env(vars: String => Option[String]) {

  def opt(name: String): Option[String] = vars(name)

  def str(name: String, default: String): String =
    vars(name).getOrElse(default)

  def int(name: String, default: Int, min: Int = Int.MinValue,
          max: Int = Int.MaxValue): Int =
    parsed(name, default, min, max, "an integer")(_.toInt)

  def long(name: String, default: Long, min: Long = Long.MinValue,
           max: Long = Long.MaxValue): Long =
    parsed(name, default, min, max, "an integer")(_.toLong)

  def double(name: String, default: Double,
             min: Double = Double.NegativeInfinity,
             max: Double = Double.PositiveInfinity): Double =
    parsed(name, default, min, max, "a number") { s =>
      val d = s.toDouble
      if (d.isNaN) throw new NumberFormatException(s) else d
    }

  /** `1`/`true` or `0`/`false` (case-insensitive); nothing else. */
  def bool(name: String, default: Boolean): Boolean =
    vars(name).fold(default)(_.trim.toLowerCase match {
      case "1" | "true" => true
      case "0" | "false" => false
      case v => throw bad(name, v, "one of 1, 0, true, false")
    })

  private def parsed[T](name: String, default: T, min: T, max: T,
                        what: String)(parse: String => T)(
                        implicit ord: Ordering[T]): T =
    vars(name) match {
      case None => default
      case Some(raw) =>
        val v =
          try parse(raw.trim)
          catch { case _: NumberFormatException => throw bad(name, raw, what) }
        if (ord.lt(v, min) || ord.gt(v, max))
          throw bad(name, raw, s"in [$min, $max]")
        v
    }

  private def bad(name: String, raw: String, want: String) =
    new IllegalArgumentException(
      s"""environment variable $name="$raw" is malformed: expected $want""")
}

object Env extends Env(sys.env.get)
