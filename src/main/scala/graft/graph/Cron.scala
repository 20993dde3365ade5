package graft.graph

import java.time.LocalDateTime

/** 5-field cron trigger parsing/matching (`trigger: 1 * * * *` —
  * /root/reference/tests/configuration/test_config_editor.py:103,135).
  * Fields: minute hour day-of-month month day-of-week (0 = Sunday).
  * Supports `*`, lists, ranges and steps; enough for the vocabulary the
  * reference's graph.yml uses. The expression is parsed at construction:
  * a wrong field count, a non-numeric part, an out-of-range value or a
  * zero step throws `IllegalArgumentException`, so `GraphRunner.validate`
  * reports a bad `trigger:` as a compile error. The scheduling decision
  * over these matches is [[GraphScheduler.due]].
  */
final case class Cron(expr: String) {
  private val fields: Array[Set[Int]] = {
    val parts = expr.trim.split("\\s+")
    if (parts.length != 5) throw new IllegalArgumentException(
      s"cron '$expr' must have 5 fields, got ${parts.length}")
    parts.zip(Cron.bounds).map { case (f, (min, max)) => Cron.field(expr, f, min, max) }
  }

  def matches(t: LocalDateTime): Boolean =
    Seq(t.getMinute, t.getHour, t.getDayOfMonth, t.getMonthValue,
      t.getDayOfWeek.getValue % 7).zip(fields).forall { case (v, s) => s(v) }

  /** Next firing strictly after `t` (minute resolution, bounded scan). */
  def nextAfter(t: LocalDateTime): LocalDateTime = {
    var c = t.withSecond(0).withNano(0).plusMinutes(1)
    val limit = t.plusYears(2)
    while (!matches(c)) {
      c = c.plusMinutes(1)
      if (c.isAfter(limit))
        throw new IllegalStateException(s"cron '$expr' never fires")
    }
    c
  }
}

object Cron {
  private val bounds = Array((0, 59), (0, 23), (1, 31), (1, 12), (0, 6))

  /** Values one field admits: comma-separated `*`, `v` or `a-b`, each
    * with an optional `/step` (a single value with a step is that value).
    */
  private def field(expr: String, field: String, min: Int, max: Int): Set[Int] = {
    def bad(why: String) =
      throw new IllegalArgumentException(s"cron '$expr': field '$field' $why")
    def num(s: String): Int = s.toIntOption.getOrElse(bad(s"has non-numeric part '$s'"))
    field.split(",", -1).iterator.flatMap { part =>
      val (range, step) = part.split("/", -1) match {
        case Array(r) => (r, 1)
        case Array(r, s) => (r, num(s))
        case _ => bad(s"has malformed part '$part'")
      }
      if (step == 0) bad("has step 0")
      val (lo, hi) = range.split("-", -1) match {
        case Array("*") => (min, max)
        case Array(v) => (num(v), num(v))
        case Array(a, b) => (num(a), num(b))
        case _ => bad(s"has malformed range '$range'")
      }
      if (lo < min || hi > max || lo > hi) bad(s"is out of range $min-$max")
      lo to hi by step
    }.toSet
  }
}
