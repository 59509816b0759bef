package graft.util

/** Stolen cpu time on a shared VM, for the bench harnesses.
  *
  * The bench host steals cpu and DRAM bandwidth from outside the guest on a
  * minutes timescale; wall time alone cannot tell "the engine was slow" from
  * "the hypervisor took the cpu". [[stealSec]] reads stolen time for THIS
  * process's pinned cpus (per-cpu rows of /proc/stat, column 8, USER_HZ=100)
  * and returns -1 rather than throwing wherever /proc is missing, so callers
  * never fail on exotic hosts.
  */
object HostProbe {

  /** Cpus named by KB_PIN_CPUS ("16-19" / "0,2,4"), empty = not pinned.
    * Set by the bench harness next to the taskset pin; a library user
    * running unpinned gets machine-wide steal, which is still honest, just
    * noisier (idle vcpus accrue timer-tick steal).
    */
  private lazy val pinnedCpus: Set[Int] =
    sys.env.get("KB_PIN_CPUS").map { spec =>
      try
        spec.split(',').flatMap { r =>
          r.split('-') match {
            case Array(a, b) => (a.trim.toInt to b.trim.toInt).toSeq
            case Array(a) => Seq(a.trim.toInt)
            case _ => Seq.empty[Int]
          }
        }.toSet
      catch { case _: Exception => Set.empty[Int] }
    }.getOrElse(Set.empty)

  /** Cumulative stolen cpu-seconds on this process's pinned cpus (all cpus
    * when unpinned); -1 when /proc/stat is unavailable.
    */
  def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val lines = src.getLines().toSeq
        // -1 when the steal column is absent (pre-2.6.11 kernels, some
        // container runtimes): "counter unavailable" must not read as "no
        // steal" — everywhere else in this API unavailability is -1
        // (round-5 ADVICE)
        def stealOf(cols: Array[String]): Double =
          if (cols.length > 8) cols(8).toDouble / 100.0 else -1.0
        if (pinnedCpus.nonEmpty) {
          val rows = lines.filter { l =>
            l.startsWith("cpu") && l.length > 3 && l(3).isDigit &&
            pinnedCpus.contains(l.drop(3).takeWhile(_.isDigit).toInt)
          }
          if (rows.isEmpty) -1.0
          else {
            val vals = rows.map(l => stealOf(l.trim.split("\\s+")))
            if (vals.exists(_ < 0)) -1.0 else vals.sum
          }
        } else stealOf(lines.head.trim.split("\\s+"))
      } finally src.close()
    } catch { case _: Exception => -1.0 }
}
