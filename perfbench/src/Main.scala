package perfbench

import graft.{Engine, HttpApi}
import Proc.{median, pct}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Serving benchmark for the InfluxDB surface: a live `graft.HttpApi` over
  * loopback HTTP in front of a durable `graft.Engine`.
  *
  *   --workload dashboard|ingest --seed N --seconds S --trace 0|1
  *   --work DIR (scratch directory, removed by the launcher)
  *
  * Prints a human report (lines starting with `#`) and, last, one JSON
  * line: {"correct", "attempted", "failed", "metrics"}. See README.md.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traces: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv.getOrElse("traces", kv("work")))
    val run = new Run(o)
    val code =
      try { run.execute(); 0 }
      catch { case e: Throwable =>
        println(s"# aborted: $e")
        e.printStackTrace()
        2
      } finally run.shutdown()
    // HttpClient selector and Spark's non-daemon pools must not keep us up
    Runtime.getRuntime.halt(code)
  }
}

/** Everything one workload run owns. */
final class Run(o: Main.Opts) {
  val cpus: Int = graft.Sessions.cpus.toInt
  val tracer = new Tracer(o.trace, s"${o.traces}/${o.workload}-seed${o.seed}.jsonl")
  def note(s: String): Unit = println("# " + s)

  // ---- op accounting -----------------------------------------------------

  private val attempted = TrieMap.empty[String, AtomicLong]
  private val failed = TrieMap.empty[String, AtomicLong]
  private val wrong = new ConcurrentLinkedQueue[String]()
  private val samples = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, new ConcurrentLinkedQueue[Double]()).add(v)
  def values(name: String): Seq[Double] =
    samples.get(name).map(_.asScala.toSeq).getOrElse(Nil)

  /** Run one client operation; an exception counts it failed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted.getOrElseUpdate(kind, new AtomicLong).incrementAndGet()
    try Some(body)
    catch { case e: Exception =>
      failed.getOrElseUpdate(kind, new AtomicLong).incrementAndGet()
      println(s"# FAILED $kind: ${e.getMessage}")
      None
    }
  }

  /** Send a panel's query; returns the HTTP latency and the check's verdict. */
  def ask(c: Client, p: Panel, kind: String): Option[(Double, Option[String])] = op(kind) {
    val t0 = System.nanoTime()
    val body =
      if (kind == "verify") c.queryRaw(p.q) // whole-store checks are not traced
      else tracer.httpQuery(p.q)(c.queryRaw(p.q))
    val lat = (System.nanoTime() - t0) / 1e9
    (lat, p.check(Client.series(body)))
  }

  /** Send a panel's query, record a wrong answer; returns the latency. */
  def query(c: Client, p: Panel, kind: String = "query"): Option[Double] =
    ask(c, p, kind).map { case (lat, err) =>
      err.foreach(e => wrong.add(s"${p.name}: $e [${p.q}]"))
      lat
    }

  /** Poll the CQ target until it answers `p` correctly (a stale bucket is
    * not wrong yet, for up to 5 s); returns seconds from `since`, or None. */
  def pollCq(c: Client, p: Panel, since: Long, record: Boolean): Option[Double] = {
    val deadline = since + 5L * 1000000000L
    var last: Option[String] = Some("not polled")
    while (last.isDefined && now() < deadline) {
      ask(c, p, "cq_poll") match {
        case Some((lat, err)) =>
          last = err
          if (err.isEmpty && record) sample("cq_poll_s", lat)
          if (err.isDefined) Thread.sleep(10)
        case None => return None // failed poll: counted
      }
    }
    last match {
      case Some(err) => wrong.add(s"CQ target never fresh: $err [${p.q}]"); None
      case None => Some(secs(since))
    }
  }

  // ---- the engine under test -------------------------------------------

  private var sessionS = 0.0
  lazy val spark: SparkSession = {
    val t0 = now()
    // Sessions.build would put the (unused) warehouse under /tmp: a session
    // made first keeps it in the work directory, and build reuses it
    SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.ui.enabled", "false").getOrCreate()
    val s = graft.Sessions.build("perfbench", s"local[$cpus]")
    sessionS = secs(t0)
    tracer.attach(s)
    s
  }

  final class Store(val dir: String) {
    val engine = new Engine(spark, s"${o.work}/no-sf", Some(dir))
    var api: HttpApi = _
    def start(): Unit = api = new HttpApi(engine).start()
    def port: Int = api.boundPort
    def stop(): Unit = {
      if (api != null) api.stop()
      engine.close()
    }
  }
  private val live = new ConcurrentLinkedQueue[Store]()
  private def newStore(i: Int): Store = {
    val s = new Store(s"${o.work}/store$i")
    tracer.bind(s.engine, s.dir)
    live.add(s)
    s
  }
  private def dispose(s: Store): Unit = {
    s.stop(); live.remove(s); deleteTree(new java.io.File(s.dir))
  }

  def shutdown(): Unit = {
    live.asScala.foreach(s => scala.util.Try(s.stop()))
    if (sessionS > 0) scala.util.Try(spark.stop())
  }

  def cq(target: String): String = s"CREATE CONTINUOUS QUERY $target ON default BEGIN " +
    s"SELECT mean(usage_user) INTO $target FROM cpu GROUP BY time(1m), host END"
  val PartitionKey = "CREATE PARTITION KEY host ON default.cpu"

  // ---- shared helpers ----------------------------------------------------

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  /** Wall seconds of each phase of the run, for the report. */
  private val phases = Seq.newBuilder[String]
  private var phaseMark = now()
  def phase(name: String): Unit = {
    val t = now()
    phases += f"$name=${secs(phaseMark, t)}%.1f"
    phaseMark = t
  }

  def maintain(s: Store, record: Boolean = true): Unit = op("maintain") {
    val t0 = now()
    tracer.maintain(s.dir)(s.engine.maintain())
    if (record) sample("maintain_s", secs(t0))
  }

  /** One /write of points [k0, k1), then poll the CQ target until it shows
    * the batch's newest bucket. Returns false if the write failed. */
  def writeAndPoll(c: Client, g: Gen, panels: Panels, k0: Long, k1: Long,
      record: Boolean): Boolean = {
    val sent = now()
    val lines = g.batch(k0, k1)
    val ok = op("write")(tracer.httpWrite(lines)(c.write(lines))).isDefined
    if (ok && record) {
      sample("write_s", secs(sent))
      sample("write_points", lines.size.toDouble)
    } else if (ok) sample("warmup_write_s", secs(sent))
    if (ok) {
      val h = java.lang.Math.floorMod(k1 * 31 + g.seed, g.hosts.toLong).toInt
      pollCq(c, panels.cqBucket(h, k1), sent, record)
        .foreach(t => if (record) sample("cq_fresh_s", t))
    }
    ok
  }

  /** Bulk-load, compact and serve the dashboard store: the `dashboard`
    * set-up. Returns the store and its set-up seconds. */
  def dashboardStore(i: Int, g: Gen, panels: Panels, input: String,
      kEnd: Long): (Store, Double) = {
    val t0 = now()
    val s = newStore(i)
    s.engine.execute(PartitionKey)
    val tl = now()
    val (ok, bad) = tracer.bulkLoad(g.batch(0, kEnd))(
      s.engine.ingestLineProtocolFiles(input, "cpu"))
    require(ok == kEnd * g.hosts && bad == 0, s"bulk load: $ok ok, $bad bad")
    sample("load_s", secs(tl))
    maintain(s)
    s.start()
    (s, secs(t0))
  }

  /** Run `mk` n times; keep the last store, record the set-up seconds. */
  def setUps(n: Int)(mk: Int => (Store, Double)): Store = {
    val made = (0 until n).map { i =>
      val (s, t) = mk(i)
      sample("setup_s", t)
      if (i < n - 1) dispose(s)
      s
    }
    made.last
  }

  /** Drive `clients` closed-loop clients over whole rounds of `mix(round)`
    * until `seconds` have passed; a round started before the deadline runs
    * to its end. Each client takes a round's panels in its own seeded
    * order: in one fixed order two clients fall into step, and whether
    * their heavy panels coincide then sets the rate for the whole run.
    * Returns the timed wall. */
  def closedLoop(clients: Int, port: Int, seconds: Double, record: Boolean)(
      mix: Long => Seq[Panel]): Double = {
    val t0 = now()
    val end = t0 + (seconds * 1e9).toLong
    val round = new AtomicLong()
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        val c = new Client(port)
        val order = new scala.util.Random(o.seed * 31 + i + (if (record) 1000 else 0))
        while (now() < end) {
          order.shuffle(mix(round.getAndIncrement())).foreach { p =>
            query(c, p).foreach { lat =>
              if (record) { sample("query_s", lat); sample("panel." + p.name, lat) }
            }
          }
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    secs(t0)
  }

  // ---- workloads ---------------------------------------------------------

  /** 64 hosts × 2 h at 10 s (46,080 points) bulk-loaded, then 2 readers.
    * The write path is idle once set up: its write figures are the warm
    * set-ups' bulk loads, its CQ figure the backfills of 4 CQs. */
  def dashboard(): Unit = {
    val g = new Gen(o.seed, DashboardHosts)
    val panels = new Panels(g)
    val kEnd = DashboardK
    val input = writeInput(g, kEnd)
    val s = setUps(DashboardSetUps)(i => dashboardStore(i, g, panels, input, kEnd))
    phase("setup")
    // the first load runs cold (JIT, class loading), about 4× slower than
    // the others: the write figures are the warm loads'
    val loads = values("load_s").drop(1)
    loads.foreach { t =>
      sample("write_s", t); sample("write_points", (kEnd * g.hosts).toDouble)
    }
    sample("write_wall_s", loads.sum)
    // CQ freshness here is backfill time: create the CQ into several
    // targets, each answered once its newest bucket is there
    val c = new Client(s.port)
    for (i <- 0 until DashboardCqs) {
      val target = if (i == 0) "cpu_1m" else s"cpu_1m_$i"
      val tc = now()
      tracer.cqCreate(target)(s.engine.execute(cq(target)))
      pollCq(c, panels.cqBucket(0, kEnd, target), tc, record = false)
        .foreach(sample("cq_fresh_s", _))
    }
    phase("cq")
    closedLoop(2, s.port, DashboardWarmupS, record = false)(i => panels.dashboardMix(i, kEnd))
    phase("warmup")
    val wall = timed(closedLoop(2, s.port, o.seconds, record = true)(i =>
      panels.dashboardMix(i, kEnd)))
    sample("query_wall_s", wall)
    sample("query_cpu_s", values("timed_cpu_s").sum / values("query_s").size)
    phase("timed")
    verify(s, new Client(s.port), panels, kEnd, g)
    phase("verify")
  }

  /** Empty store, partition key host, one CQ; 1 writer of 5,000-point
    * batches (100 hosts × 50 timestamps), each followed by a read-back of
    * the CQ target; maintenance after every MaintainEvery batches. */
  def ingest(): Unit = {
    val g = new Gen(o.seed, IngestHosts)
    val panels = new Panels(g)
    val batchK = IngestBatchK
    val s = setUps(IngestSetUps) { i =>
      val t0 = now()
      val s = newStore(i)
      s.engine.execute(PartitionKey)
      s.start()
      new Client(s.port).write(g.batch(0, batchK))
      // the CQ only after data exists: on an empty measurement
      // CREATE CONTINUOUS QUERY fails with "unknown measurement"
      tracer.cqCreate("cpu_1m")(s.engine.execute(cq("cpu_1m")))
      (s, secs(t0))
    }
    val c = new Client(s.port)
    var kEnd = batchK
    def batch(record: Boolean): Unit =
      if (writeAndPoll(c, g, panels, kEnd, kEnd + batchK, record)) kEnd += batchK
    // warm-up: write latency falls over the first batches of a JVM
    phase("setup")
    for (_ <- 0 until IngestWarmupBatches) batch(record = false)
    phase("warmup")
    val wall = timed {
      val t0 = now()
      val end = t0 + o.seconds * 1000000000L
      while (now() < end) {
        for (_ <- 0 until MaintainEvery) batch(record = true)
        maintain(s)
      }
      secs(t0)
    }
    sample("write_wall_s", wall)
    // the client's queries here are the CQ read-backs
    values("cq_poll_s").foreach(sample("query_s", _))
    sample("query_wall_s", wall)
    sample("write_cpu_s", values("timed_cpu_s").sum / (values("write_points").sum / 1000))
    phase("timed")
    verify(s, c, panels, kEnd, g)
    phase("verify")
  }

  /** The timed phase, with the process CPU, GC and JIT seconds spent in it. */
  def timed[T](body: => T): T = {
    val (cpu0, gc0, jit0) = (Proc.cpuS(), Proc.gcS(), Proc.jitS())
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val cg0 = cg.getCount
    val r = tracer.timed(body)
    sample("timed_cpu_s", Proc.cpuS() - cpu0)
    sample("timed_gc_s", Proc.gcS() - gc0)
    sample("timed_jit_s", Proc.jitS() - jit0)
    sample("timed_codegen", (cg.getCount - cg0).toDouble)
    r
  }

  // ---- verification, metrics, report ----------------------------------

  /** Whole-store checks after the timed phase (not timed). */
  def verify(s: Store, c: Client, panels: Panels, kEnd: Long, g: Gen): Unit = {
    query(c, panels.countPerHost(kEnd), "verify")
    query(c, panels.cqTarget(kEnd), "verify")
    val (files, bytes) = Proc.tree(s.dir)
    sample("store_files", files.toDouble)
    sample("store_bytes_per_point", bytes.toDouble / (kEnd * g.hosts))
  }

  val DashboardHosts = 64
  val DashboardK = 2 * 360L
  val DashboardWarmupS = 6.0
  val DashboardSetUps = 3
  val DashboardCqs = 4
  val IngestSetUps = 3
  val IngestHosts = 100
  val IngestBatchK = 50L
  val IngestWarmupBatches = 2
  val MaintainEvery = 4

  def writeInput(g: Gen, kEnd: Long): String = {
    val dir = new java.io.File(s"${o.work}/input")
    dir.mkdirs()
    // four files, host-interleaved: four read splits, each touching every host
    val outs = (0 until 4).map(i =>
      new java.io.PrintWriter(new java.io.File(dir, s"part-$i.lp"), "UTF-8"))
    for (k <- 0L until kEnd; h <- 0 until g.hosts) outs((k % 4).toInt).println(g.line(h, k))
    outs.foreach(_.close())
    dir.getPath
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def execute(): Unit = {
    val proc0 = Proc.stat()
    note(s"workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${o.trace} " +
      s"cores=${Runtime.getRuntime.availableProcessors} local[$cpus] " +
      s"jvm=${java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-X") || a.startsWith("-XX")).mkString(" ")}")
    spark
    note(f"session_s=$sessionS%.3f")
    phase("session")
    o.workload match {
      case "dashboard" => dashboard()
      case "ingest"    => ingest()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val proc1 = Proc.stat()
    emit(proc0, proc1)
  }

  def endToEnd: Seq[(String, String, Double)] = {
    val q = values("query_s")
    val w = values("write_s")
    Seq(
      ("setup_s", "s", median(values("setup_s"))),
      ("query_p50_s", "s", median(q)),
      ("query_rate", "1/s", q.size / values("query_wall_s").head),
      ("write_p50_s", "s", median(w)),
      ("write_pps", "points/s", values("write_points").sum / values("write_wall_s").head),
      ("cq_fresh_s", "s", median(values("cq_fresh_s"))),
      ("store_bytes_per_point", "B", values("store_bytes_per_point").head))
  }

  def emit(p0: Proc.Stat, p1: Proc.Stat): Unit = {
    val att = attempted.toSeq.sortBy(_._1)
    note("ops " + att.map { case (k, n) =>
      s"$k=${n.get}/${failed.get(k).map(_.get).getOrElse(0L)}" }.mkString(" ") +
      " (attempted/failed)")
    Seq("query_s", "write_s", "warmup_write_s", "cq_fresh_s", "cq_poll_s", "maintain_s", "setup_s")
      .foreach { n =>
        val xs = values(n)
        if (xs.nonEmpty) note(f"$n n=${xs.size} p50=${median(xs)}%.4f " +
          (if (xs.size >= 100) f"p90=${pct(xs, 0.9)}%.4f " else "") + f"max=${xs.max}%.4f" +
          (if (xs.size <= 40) xs.map(x => f"$x%.3f").mkString(" [", " ", "]") else ""))
      }
    samples.keys.toSeq.filter(_.startsWith("panel.")).sorted.foreach { n =>
      val xs = values(n)
      note(f"$n n=${xs.size} p50=${median(xs)}%.4f max=${xs.max}%.4f")
    }
    values("query_cpu_s").foreach(v => note(f"query_cpu_s=$v%.4f per query"))
    values("write_cpu_s").foreach(v => note(f"write_cpu_s=$v%.4f per 1000 points"))
    note((if (o.workload == "ingest") s"warmup_batches=$IngestWarmupBatches"
      else s"warmup_s=$DashboardWarmupS") +
      f" store_files=${values("store_files").headOption.getOrElse(0.0)}%.0f " +
      f"timed-phase gc_s=${values("timed_gc_s").sum}%.2f jit_s=${values("timed_jit_s").sum}%.2f " +
      f"codegen_compiles=${values("timed_codegen").sum}%.0f")
    note("phases_s " + phases.result().mkString(" "))
    note(f"host: steal=${p1.stealShare(p0) * 100}%.2f%% busy=${p1.busyShare(p0) * 100}%.1f%% " +
      s"loadavg=${p1.load}")
    val wrongs = wrong.asScala.toSeq
    wrongs.take(5).foreach(w => note("WRONG " + w))
    val metrics =
      if (!o.trace) endToEnd
      else {
        endToEnd.foreach { case (n, u, v) => note(f"traced $n=$v%.4f $u") }
        tracer.writeOverheadS.foreach(v => note(f"http.write_overhead_s=$v%.4f"))
        tracer.writeSpans()
        tracer.perLayer(values("query_s").size + values("write_s").size,
          values("timed_gc_s").sum)
      }
    val bad = metrics.filter(m => m._3.isNaN || m._3.isInfinite)
    bad.foreach(m => note(s"metric ${m._1} not measured"))
    val json = metrics.map { case (n, u, v) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString(",")
    val total = att.map(_._2.get).sum
    val nFailed = failed.values.map(_.get).sum
    println(s"""{"correct":${wrongs.isEmpty && bad.isEmpty},"attempted":$total,""" +
      s""""failed":$nFailed,"metrics":{$json}}""")
  }
}
