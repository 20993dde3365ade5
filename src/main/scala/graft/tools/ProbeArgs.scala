package graft.tools

/** A probe's optional positional arguments, named in order by `slots`.
  * An extra argument or a bad count prints usage and exits with code 2. */
private[tools] final class ProbeArgs(args: Array[String], probe: String, slots: String*) {
  if (args.length > slots.size) usageExit(s"unexpected argument '${args(slots.size)}'")

  def apply(i: Int, default: String): String = args.lift(i).getOrElse(default)

  def count(i: Int, default: Int): Int = args.lift(i).fold(default) { a =>
    a.toIntOption.filter(_ > 0).getOrElse(
      usageExit(s"${slots(i)} must be a positive integer, not '$a'"))
  }

  def usageExit(why: String): Nothing = {
    System.err.println(s"$why\nusage: $probe ${slots.map(s => s"[$s]").mkString(" ")}")
    sys.exit(2)
  }
}
