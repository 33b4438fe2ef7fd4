package perfbench

/** Host and process readings: CPU time, /proc/stat, on-disk sizes; and
  * the order statistics the reports use. */
object Proc {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds (all threads). */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** JIT compiler seconds so far (all compiler threads). */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** JVM garbage-collection seconds so far. */
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** The machine-wide `cpu` line of /proc/stat and the 1-minute load. */
  final case class Stat(ticks: Seq[Long], load: String) {
    private def total = ticks.sum
    private def steal = ticks.lift(7).getOrElse(0L)
    private def idle = ticks.lift(3).getOrElse(0L) + ticks.lift(4).getOrElse(0L)
    private def share(a: Long, b: Long) = if (b <= 0) 0.0 else a.toDouble / b
    def stealShare(p: Stat): Double = share(steal - p.steal, total - p.total)
    def busyShare(p: Stat): Double = 1.0 - share(idle - p.idle, total - p.total)
  }

  def stat(): Stat = {
    def read(f: String) =
      scala.util.Try(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f)))
        .toOption.map(l => scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq)
        .getOrElse(Nil)
    val cpu = read("/proc/stat").find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).toSeq.map(_.toLong)).getOrElse(Nil)
    Stat(cpu, read("/proc/loadavg").headOption.map(_.split(" ").take(3).mkString(",")).getOrElse("?"))
  }

  /** (regular files, bytes) under a directory tree. */
  def tree(dir: String): (Long, Long) = {
    var (n, b) = (0L, 0L)
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) { n += 1; b += f.length }
    walk(new java.io.File(dir))
    (n, b)
  }

  /** Parquet data files under a directory tree: path → bytes. */
  def parquet(dir: String): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) out += f.getPath -> f.length
    walk(new java.io.File(dir))
    out.result()
  }
}
