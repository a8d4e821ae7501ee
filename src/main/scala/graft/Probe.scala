package graft

/** Helpers the probe mains (ScaleProbe, StageProbe, BatchProbe) share;
  * each runs on [[Tables.localSession]]. */
private[graft] object Probe {
  /** `f`'s wall seconds and value. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime(); val v = f; ((System.nanoTime() - t0) / 1e9, v)
  }

  /** Seconds rounded to milliseconds for a probe's JSON line. */
  def r3(d: Double): BigDecimal = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  /** Where probe fixtures land: [[Tables.scratchDir]] (tmpfs) when
    * available, else java.io.tmpdir. */
  def scratchRoot: String = Tables.scratchDir.getOrElse(System.getProperty("java.io.tmpdir"))

  /** One probe run's fixture root, `graft_<tag>_<pid>` under
    * [[scratchRoot]]; the probe deletes it on exit. */
  def outRoot(tag: String): String =
    s"$scratchRoot/graft_${tag}_${ProcessHandle.current().pid()}"
}
