package graftbench

import java.nio.file.{Files, Paths}

/** The run's environment record: host steal and load, sampled at the
  * start and end of the run, and a fixed CPU calibration loop run at
  * the end (at the start it would fall inside `setup_s`). It explains
  * a contended run; no run is dropped or rescaled by it. */
final case class EnvSample(atMs: Long, stealS: Double, load1: Double)

object Env {

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Steal seconds since boot, from the `cpu` line of /proc/stat
    * (USER_HZ = 100); 0 where the file is absent. */
  def stealS(): Double =
    readFirst("/proc/stat").map(_.trim.split("\\s+")).filter(f =>
      f.headOption.contains("cpu") && f.length > 8).map(_(8).toDouble / 100.0)
      .getOrElse(0.0)

  def load1(): Double =
    readFirst("/proc/loadavg").flatMap(_.split(" ").headOption).map(_.toDouble)
      .getOrElse(0.0)

  private def readFirst(f: String): Option[String] =
    try {
      val p = Paths.get(f)
      if (Files.exists(p)) Files.readAllLines(p).stream().findFirst()
        .map[Option[String]](Some(_)).orElse(None)
      else None
    } catch { case _: java.io.IOException => None }

  /** Best of three runs of a fixed single-thread loop: MD5 over 200k
    * short strings. Its wall time moves only with effective CPU speed. */
  def calibrate(): Double = (1 to 3).map { _ =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val t0 = System.nanoTime()
    var acc = 0
    var i = 0
    while (i < 200000) {
      acc ^= md.digest(Integer.toString(i).getBytes("UTF-8"))(0)
      i += 1
    }
    if (acc == 0x7fffffff) println(acc) // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }.min

  def sample(): EnvSample = EnvSample(System.currentTimeMillis(), stealS(), load1())
}
