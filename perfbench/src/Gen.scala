package perfbench

/** Seeded generator of Telegraf-style `cpu` points, and the answers the
  * benchmark expects, computed in plain Scala from the same closed form.
  *
  * Point (h, k) is host `h` at timestamp `t0 + k * interval`. Every field
  * value is a pure function of (seed, h, k), so any window's mean, max,
  * nearest-rank percentile, last value or raw rows can be derived without
  * asking the engine. Float fields are multiples of 1/16 below 100: every
  * partial sum of a few thousand of them is exact in a double, so means
  * compare exactly whatever order the engine sums in.
  */
final class Gen(val seed: Long, val hosts: Int) {
  import Gen._

  def host(h: Int): String = f"host$h%03d"
  def region(h: Int): String = s"region${h % Regions}"
  def hostsIn(region: Int): Seq[Int] = (0 until hosts).filter(_ % Regions == region)

  private def mix(h: Int, k: Long, f: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + h * 0xBF58476D1CE4E5B9L +
      k * 0x94D049BB133111EBL + f * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def sixteenths(h: Int, k: Long, f: Int, range: Int): Double =
    java.lang.Math.floorMod(mix(h, k, f), range.toLong) / 16.0

  def usageUser(h: Int, k: Long): Double = sixteenths(h, k, 0, 1600)
  def usageSystem(h: Int, k: Long): Double = sixteenths(h, k, 1, 800)
  def usageIdle(h: Int, k: Long): Double = sixteenths(h, k, 2, 1600)
  def procs(h: Int, k: Long): Long = 50L + java.lang.Math.floorMod(mix(h, k, 3), 400L)

  /** Epoch seconds of timestamp index k. */
  def timeS(k: Long): Long = T0S + k * IntervalS

  def line(h: Int, k: Long): String =
    s"cpu,host=${host(h)},region=${region(h)} usage_user=${usageUser(h, k)}," +
      s"usage_system=${usageSystem(h, k)},usage_idle=${usageIdle(h, k)}," +
      s"procs=${procs(h, k)}i ${timeS(k) * 1000000000L}"

  /** Line protocol for every host at timestamps [k0, k1), time-major like
    * a Telegraf flush. */
  def batch(k0: Long, k1: Long): Seq[String] =
    for (k <- k0 until k1; h <- 0 until hosts) yield line(h, k)

  /** Timestamp indices whose time falls in [loS, hiS), clipped to [0, kEnd). */
  def ks(loS: Long, hiS: Long, kEnd: Long): Seq[Long] = {
    val lo = math.max(0L, Math.floorDiv(loS - T0S + IntervalS - 1, IntervalS))
    val hi = math.min(kEnd, Math.floorDiv(hiS - T0S + IntervalS - 1, IntervalS))
    lo until hi
  }

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** InfluxQL percentile(): nearest rank, the value at ceil(p/100 * n). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p / 100.0 * sorted.size).toInt - 1))
  }
}

object Gen {
  /** 2024-01-01T00:00:00Z: fixed absolute time, never now(). */
  val T0S = 1704067200L
  val IntervalS = 10L
  val Regions = 4
}
