package graft

/** Locale-stable number rendering for every JSON/metric emitter (Bench,
  * ScaleBench, StreamBench, Fuzz literals). The `f` interpolator delegates
  * to the JVM default locale, so on comma-decimal locales it prints `0,75`
  * — invalid JSON / SQL. One shared helper instead of per-file copies
  * (a copy-paste version once missed the fix). */
object Fmt {
  def num(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, "%." + decimals + "f", Double.box(v))
}
