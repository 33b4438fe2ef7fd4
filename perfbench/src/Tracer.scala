package perfbench

import graft.{Engine, InfluxJson}
import graft.ql.{Parser, SelectStmt, Translator}
import graft.sources.{LineProtocol, MeasurementStore, SchemaInfer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The traced run's instruments. Off (`on = false`) every hook is a plain
  * call. On, the benchmark's own code times its calls into each layer and
  * keeps spans in memory — name, start, end, parent, op id — written as
  * JSON lines at exit; the per-layer metrics are derived from them.
  *
  *  - every /query is replayed in-process twice: once through
  *    `Engine.queryJsonStream` (the HTTP overhead is the difference), once
  *    step by step: `Parser.parseAll`, `Engine.execute`, Catalyst's phase
  *    tracker, `InfluxJson.serializeStreamResult`;
  *  - every second /write goes in-process through `Engine.writeLineProtocol`
  *    instead, beside `LineProtocol.parseLine` and `SchemaInfer.infer` on
  *    the same lines and a `MeasurementStore.read` after it;
  *  - Spark jobs are tied to the op whose thread submitted them (a local
  *    property) and to a layer by the call site Spark records for them.
  */
final class Tracer(val on: Boolean, out: String) {
  import Tracer._
  private val OpKey = "perfbench.op"


  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private var spark: SparkSession = _
  @volatile private var engine: Engine = _
  @volatile private var dir: String = _
  private val writes = new AtomicLong()

  /** The store under test (the last one set up wins). */
  def bind(e: Engine, storeDir: String): Unit = { engine = e; dir = storeDir }

  private def span[T](name: String, parent: Long, op: Long)(body: => T): (T, Span) = {
    val t0 = System.nanoTime()
    val r = body
    val sp = Span(ids.incrementAndGet(), parent, op, name, t0, System.nanoTime())
    spans.add(sp)
    (r, sp)
  }

  /** Run body with this thread's Spark jobs tagged as op `op`. */
  private def asOp[T](op: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, op.toString)
    try body finally sc.setLocalProperty(OpKey, null)
  }

  // ---- Spark jobs ------------------------------------------------------

  final class Job(val op: Long, val startMs: Long, val site: String, val details: String,
      val execId: Long) {
    @volatile var endMs: Long = -1
    val stages = new AtomicLong()
    val tasks = new AtomicLong()
    val taskMs = new AtomicLong()
    val bytesRead = new AtomicLong()
    val recordsRead = new AtomicLong()
    val shuffleBytes = new AtomicLong()
    def s: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
    /** The layer by the call-site stacks of the job and of its SQL
      * execution (AQE submits stages from a pool, losing the job's own):
      * CQ refresh, write-path append, the ingest count aggregation, or
      * other. */
    def kind: String = {
      val stack = details + "\n" + execDetails.getOrElse(execId, "")
      if (stack.contains("patchIntoTarget") || stack.contains("runSelect")) "cq"
      else if (stack.contains("MeasurementStore$.append")) "append"
      else if (site.startsWith("head at Engine")) "count"
      else "other"
    }
  }
  private val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Job]
  private val filesAcc = TrieMap.empty[Long, Seq[Long]] // SQL execution → files-read accumulators
  private val execDetails = TrieMap.empty[Long, String] // SQL execution → call-site stack

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val last = e.stageInfos.maxBy(_.stageId)
      val j = new Job(prop(OpKey).map(_.toLong).getOrElse(-1L), e.time, last.name,
        last.details, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks.incrementAndGet()
        j.taskMs.addAndGet(m.executorRunTime)
        j.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        j.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        def walk(i: org.apache.spark.sql.execution.SparkPlanInfo): Seq[Long] =
          i.metrics.filter(_.name == "number of files read").map(_.accumulatorId) ++
            i.children.flatMap(walk)
        filesAcc(s.executionId) = walk(s.sparkPlanInfo)
        execDetails(s.executionId) = s.details
      case _ =>
    }
  }

  // Spark stamps jobs in epoch ms; spans use the monotonic ns clock
  private val (epochMs0, nano0) = (System.currentTimeMillis(), System.nanoTime())
  private def nsOf(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  def attach(s: SparkSession): Unit = if (on) {
    spark = s
    s.sparkContext.addSparkListener(listener)
  }

  private def jobsOf(op: Long): Seq[Job] = jobs.values.filter(_.op == op).toSeq

  // ---- hooks -------------------------------------------------------------

  private val queryOps = new ConcurrentLinkedQueue[QueryOp]()

  def httpQuery(q: String)(body: => Array[Byte]): Array[Byte] =
    if (!on) body
    else {
      val op = ids.incrementAndGet()
      val (res, http) = span("http.query", 0, op)(body)
      val e = engine
      val (_, inproc) = span("engine.queryJsonStream", http.id, op) {
        asOp(op)(e.queryJsonStream(q, new java.io.StringWriter, Some("s")))
      }
      val step = ids.incrementAndGet() // the step-by-step replay's own jobs
      val (stmt, parse) = span("ql.parse", http.id, step)(Parser.parseAll(q).head)
      val (df, exec) = span("ql.execute", http.id, step)(asOp(step)(e.execute(q)))
      asOp(step)(df.queryExecution.executedPlan)
      val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
      val (name, tags) = stmt match {
        case sel: SelectStmt => (Translator.measurementName(sel.from), sel.groupByTags)
        case _               => ("results", Nil)
      }
      val sw = new java.io.StringWriter
      val (_, ser) = span("json.serialize", http.id, step) {
        asOp(step)(InfluxJson.serializeStreamResult(name, df, sw, tags, Some("s")))
      }
      val rows = Client.series(s"""{"results":[${sw.toString}]}""".getBytes("UTF-8"))
        .map(_.values.size).sum
      queryOps.add(QueryOp(step, http.s, inproc.s, res.length, parse.s, exec.s, phases, ser.s,
        rows))
      res
    }

  private val writeOps = new ConcurrentLinkedQueue[WriteOp]()
  private val httpWrites = new ConcurrentLinkedQueue[Double]()

  /** A client /write; when tracing, every second one goes in-process. */
  def httpWrite(lines: Seq[String])(body: => Unit): Unit =
    if (!on) body
    else if (writes.incrementAndGet() % 2 == 1) {
      val (_, sp) = span("http.write", 0, ids.incrementAndGet())(body)
      httpWrites.add(sp.s)
    } else inProcessWrite(lines)(asOp(_)(engine.writeLineProtocol(lines, "cpu")))

  /** The set-ups' bulk load: an in-process write of the whole input. */
  def bulkLoad[T](lines: => Seq[String])(body: => T): T =
    if (!on) body
    else {
      var r: Option[T] = None
      inProcessWrite(lines)(op => asOp(op) { r = Some(body) })
      r.get
    }

  private def inProcessWrite(lines: Seq[String])(write: Long => Unit): Unit = {
    val op = ids.incrementAndGet()
    val data = s"$dir/cpu/data"
    val before = Proc.parquet(data)
    val (_, w) = span("engine.write", 0, op)(write(op))
    val after = Proc.parquet(data)
    val fresh = after.keySet -- before.keySet
    val (pts, lp) = span("lp.parse", w.id, op)(lines.flatMap(LineProtocol.parseLine(_).toOption))
    val (_, inf) = span("schema.infer", w.id, op)(SchemaInfer.infer("cpu", pts))
    val (_, rd) = span("store.read", w.id, ids.incrementAndGet())(
      MeasurementStore.read(spark, dir, "cpu"))
    writeOps.add(WriteOp(op, w.s, lines.size, lp.s, inf.s, fresh.size,
      fresh.toSeq.map(after).sum, after.size, rd.s, Proc.tree(s"$dir/cpu_1m/data")._2))
  }

  private val cqOps = new ConcurrentLinkedQueue[(Long, Long)]() // (op, target bytes)

  /** CREATE CONTINUOUS QUERY: its backfill writes the whole target. */
  def cqCreate(target: String)(body: => Unit): Unit =
    if (!on) body
    else {
      val op = ids.incrementAndGet()
      span("engine.cq_create", 0, op)(asOp(op)(body))
      cqOps.add(op -> Proc.tree(s"$dir/$target/data")._2)
    }

  private val maintainOps = new ConcurrentLinkedQueue[MaintainOp]()

  def maintain(storeDir: String)(body: => Unit): Unit =
    if (!on) body
    else {
      val op = ids.incrementAndGet()
      val before = Proc.parquet(storeDir)
      span("engine.maintain", 0, op)(asOp(op)(body))
      val after = Proc.parquet(storeDir)
      maintainOps.add(MaintainOp(op, before.size, after.size,
        (after.keySet -- before.keySet).toSeq.map(after).sum))
    }

  /** The timed phase, as one span. */
  def timed[T](body: => T): T = if (!on) body else span("timed", 0, 0)(body)._1

  // ---- per-layer metrics ---------------------------------------------

  import Proc.median
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Per-layer metrics: (name, unit, value), given the timed phase's
    * client ops and GC seconds. */
  def perLayer(ops: Long, gcS: Double): Seq[(String, String, Double)] = {
    drain()
    val q = queryOps.asScala.toSeq
    val w = writeOps.asScala.toSeq
    val m = maintainOps.asScala.toSeq
    val qJobs = q.map(o => jobsOf(o.op))
    val wJobs = w.map(o => jobsOf(o.op))
    def perQ(f: Seq[Job] => Double) = mean(qJobs.map(f))
    def perW(f: Seq[Job] => Double) = mean(wJobs.map(f))
    val files = spark.sharedState.statusStore
    def filesRead(js: Seq[Job]): Double = js.map(_.execId).distinct.filter(_ >= 0).map { id =>
      val accs = filesAcc.getOrElse(id, Nil)
      scala.util.Try(files.executionMetrics(id)).toOption.map(mm =>
        accs.flatMap(mm.get).map(_.replaceAll("[^0-9]", "")).filter(_.nonEmpty)
          .map(_.toDouble).sum).getOrElse(0.0)
    }.sum
    // CQ refresh: the patches inside in-process writes where there are
    // any (ingest), else the set-ups' backfills (dashboard)
    val (cqJobS, cqBytes) =
      if (wJobs.exists(_.exists(_.kind == "cq"))) (wJobs.map(_.filter(_.kind == "cq").map(_.s).sum), w.map(_.targetBytes.toDouble))
      else {
        val c = cqOps.asScala.toSeq
        (c.map(o => jobsOf(o._1).map(_.s).sum), c.map(_._2.toDouble))
      }
    val serializeJobS = q.zip(qJobs).map { case (o, js) =>
      o.serializeS - js.map(_.s).sum }
    val rowsRead = qJobs.map(_.map(_.recordsRead.get.toDouble).sum).sum
    Seq(
      ("http.query_overhead_s", "s", median(q.map(o => o.httpS - o.inprocS))),
      ("http.response_bytes", "B", mean(q.map(_.bytes.toDouble))),
      ("ql.parse_s", "s", median(q.map(_.parseS))),
      ("ql.translate_s", "s", median(q.map(o => o.executeS - o.parseS))),
      ("plan.analysis_s", "s", median(q.map(_.phases.getOrElse("analysis", 0.0)))),
      ("plan.optimization_s", "s", median(q.map(_.phases.getOrElse("optimization", 0.0)))),
      ("plan.planning_s", "s", median(q.map(_.phases.getOrElse("planning", 0.0)))),
      ("exec.query_jobs", "count", perQ(_.size.toDouble)),
      ("exec.query_stages", "count", perQ(_.map(_.stages.get.toDouble).sum)),
      ("exec.query_tasks", "count", perQ(_.map(_.tasks.get.toDouble).sum)),
      ("exec.query_job_s", "s", median(qJobs.map(_.map(_.s).sum))),
      ("exec.query_task_s", "s", median(qJobs.map(_.map(_.taskMs.get / 1e3).sum))),
      ("exec.files_read", "count", mean(qJobs.map(filesRead))),
      ("exec.bytes_read", "B", perQ(_.map(_.bytesRead.get.toDouble).sum)),
      ("exec.rows_read_per_row_returned", "ratio", rowsRead / math.max(1, q.map(_.rows).sum)),
      ("exec.shuffle_bytes", "B", perQ(_.map(_.shuffleBytes.get.toDouble).sum)),
      ("json.serialize_s", "s", median(serializeJobS)),
      ("lp.parse_s_per_kpoint", "s", median(w.map(o => o.parseS / (o.points / 1000.0)))),
      ("schema.infer_s", "s", median(w.map(_.inferS))),
      ("write.engine_s", "s", median(w.map(_.engineS))),
      ("write.jobs", "count", perW(_.size.toDouble)),
      ("write.tasks", "count", perW(_.map(_.tasks.get.toDouble).sum)),
      ("write.count_job_s", "s", median(wJobs.map(_.filter(_.kind == "count").map(_.s).sum))),
      ("write.append_job_s", "s", median(wJobs.map(_.filter(_.kind == "append").map(_.s).sum))),
      ("write.driver_s", "s", median(w.zip(wJobs).map { case (o, js) =>
        o.engineS - js.map(_.s).sum })),
      ("store.files_per_batch", "count", mean(w.map(_.newFiles.toDouble))),
      ("store.bytes_per_point_written", "B", w.map(_.newBytes.toDouble).sum / w.map(_.points).sum),
      ("store.live_files", "count", w.lastOption.map(_.liveFiles.toDouble).getOrElse(Double.NaN)),
      ("store.read_s", "s", median(w.map(_.readS))),
      ("cq.job_s", "s", median(cqJobS)),
      ("cq.target_bytes_written", "B", median(cqBytes)),
      ("maintain.files_before", "count", mean(m.map(_.filesBefore.toDouble))),
      ("maintain.files_after", "count", mean(m.map(_.filesAfter.toDouble))),
      ("maintain.bytes_rewritten", "B", mean(m.map(_.bytesRewritten.toDouble))),
      ("jvm.gc_s_per_op", "s", gcS / math.max(1L, ops)))
  }

  /** The HTTP-minus-engine write gap, where both kinds of write happened. */
  def writeOverheadS: Option[Double] = {
    val (h, e) = (httpWrites.asScala.toSeq, writeOps.asScala.toSeq.map(_.engineS))
    if (h.isEmpty || e.isEmpty) None else Some(median(h) - median(e))
  }

  /** Wait (up to 5 s) for the listener bus to deliver every job's end. */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobs.values.exists(_.endMs < 0) && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Job spans join the timed-call spans; all go out as JSON lines. */
  def writeSpans(): Unit = if (on) {
    drain()
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val root = spans.asScala.filter(_.parent == 0).map(s => s.op -> s.id).toMap
    try {
      spans.asScala.foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${esc(s.name)}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
        w.println(s"""{"id":"job-$id","parent":${root.getOrElse(j.op, 0L)},"op":${j.op},"name":"job:${esc(j.site)}",""" +
          s""""kind":"${j.kind}","start_ns":${nsOf(j.startMs)},"end_ns":${nsOf(j.endMs)},""" +
          s""""stages":${j.stages.get},"tasks":${j.tasks.get},"task_ms":${j.taskMs.get},""" +
          s""""bytes_read":${j.bytesRead.get},"records_read":${j.recordsRead.get},""" +
          s""""shuffle_bytes":${j.shuffleBytes.get}}""")
      }
    } finally w.close()
  }

}

object Tracer {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long) {
    def s: Double = (endNs - startNs) / 1e9
  }
  final case class QueryOp(op: Long, httpS: Double, inprocS: Double, bytes: Int,
      parseS: Double, executeS: Double, phases: Map[String, Double],
      serializeS: Double, rows: Int)
  final case class WriteOp(op: Long, engineS: Double, points: Int, parseS: Double,
      inferS: Double, newFiles: Int, newBytes: Long, liveFiles: Int, readS: Double,
      targetBytes: Long)
  final case class MaintainOp(op: Long, filesBefore: Int, filesAfter: Int, bytesRewritten: Long)
}
