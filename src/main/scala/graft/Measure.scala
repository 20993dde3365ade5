package graft

/** The timing and formatting helpers shared by Bench and the probe
  * mains in `graft.tools`.
  */
object Measure {

  /** Wall seconds of one evaluation of `f`. */
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Upper median (the middle element of an odd-sized sample). */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Fixed-point number for JSON output. Locale.ROOT: the
    * f-interpolator honors the JVM default locale, and a comma decimal
    * separator would make the JSON line unparseable.
    */
  def num(v: Double, places: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v))
}
