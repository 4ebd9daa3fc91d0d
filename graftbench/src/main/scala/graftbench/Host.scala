package graftbench

import java.nio.file.{Files, Paths}

/** Contention gauges read from /proc: they let a noisy run be spotted
  * next to its numbers. They are recorded, never gated on. */
object Host {
  private def read(p: String): Option[String] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).toOption

  def load1: Double =
    read("/proc/loadavg").flatMap(_.trim.split("\\s+").headOption)
      .flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** (busy, steal, total) ticks from the aggregate cpu line. Only
    * user..steal (the first eight fields) are summed: guest and
    * guest_nice are already counted inside user and nice. */
  def ticks: (Long, Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val c = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
      val idle = c(3) + c(4)
      (c.sum - idle - c(7), c(7), c.sum)
    }.getOrElse((0L, 0L, 0L))
}
