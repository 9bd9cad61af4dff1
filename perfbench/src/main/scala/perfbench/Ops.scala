package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Host state, so a run on a busy machine identifies itself. */
object Host {
  def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
    catch { case NonFatal(_) => "unavailable" }
  def nproc: Int = Runtime.getRuntime.availableProcessors()
  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => Double.NaN }
  /** The aggregate `cpu` line of /proc/stat: the steal column between
    * two samples shows contention from outside this machine, which
    * loadavg does not. */
  def cpuStat(): String =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
    catch { case NonFatal(_) => "unavailable" }
  def sample(): Json.Obj = Json.obj("loadavg" -> loadavg(), "nproc" -> nproc,
    "cpu_stat" -> cpuStat(), "epoch_ms" -> System.currentTimeMillis())
}

/** Failure accounting. Every operation and every output check counts as
  * attempted; an exception, an error document or a failed check counts
  * as failed, is named on stderr, and is never a timing sample.
  * `faultAt` (1-based, 0 = off) makes that operation throw: the
  * benchmark's self-test uses it to prove a failing operation fails the
  * run. */
final class Ops(faultAt: Int) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  /** Timing samples per operation class, in seconds. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  private def fail(name: String, why: String): Unit = {
    failed += 1
    val msg = s"$name: $why"
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Runs and times one operation of class `cls`; `check` inspects the
    * result after the clock stops and returns a failure reason, if any. */
  def run[T](cls: String, name: String)(body: => T)(
      check: T => Option[String] = (_: T) => None): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      if (attempted == faultAt) throw new RuntimeException("injected fault")
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      check(r) match {
        case Some(why) => fail(name, why); None
        case None =>
          samples.getOrElseUpdate(cls, mutable.ArrayBuffer()) += secs
          Some(r)
      }
    } catch { case NonFatal(e) => fail(name, e.toString.take(500)); None }
  }

  /** An untimed output check. */
  def check(name: String)(why: => Option[String]): Unit = {
    attempted += 1
    try why.foreach(fail(name, _))
    catch { case NonFatal(e) => fail(name, e.toString.take(500)) }
  }

  def all: Seq[Double] = samples.values.flatten.toSeq
  def of(cls: String): Seq[Double] = samples.get(cls).map(_.toSeq).getOrElse(Nil)
}
