package graft

import graft.cluster._
import graft.ql._
import graft.sources.LineProtocol
import graft.streaming.ContinuousQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing engine — what replaces the reference's HTTP proxy for a
  * migrating user (`/root/reference/cmd/handle/main.go`): one object that
  * accepts InfluxQL (queries, SHOW, DDL, admin DSL), line-protocol writes,
  * and serves InfluxDB-shaped JSON. Everything routes to the same
  * components the suites exercise:
  *
  *   query text ──Parser──► SelectStmt ──Translator──► DataFrame plan
  *                          ShowStmt  ──Meta / catalogs
  *                          DdlStmt   ──DbCatalog (+ CQ backfill)
  *                          AdminStmt ──Admin / PartitionKeyStore
  *   line protocol ──LineProtocol.parse──► measurement DataFrames
  *
  * In-memory measurements registered via `registerMeasurement` take priority
  * over the parquet-backed catalog, so written points are immediately
  * queryable (the reference's read-your-writes through the proxy).
  */
final class Engine(val spark: SparkSession, sfDir: String,
    val dataDir: Option[String] = None) {

  val partitionKeys = new PartitionKeyStore
  val replication = new ReplicationSettings
  val databases = new DbCatalog
  val users = new UserStore
  private val admin = new Admin(partitionKeys, replication)
  private val tables = scala.collection.concurrent.TrieMap.empty[String, (DataFrame, TableMeta)]
  // live continuous queries: name → (source measurement, SELECT ... INTO,
  // RESAMPLE everyUs, RESAMPLE forUs — 0 = unset)
  private val cqs =
    scala.collection.concurrent.TrieMap.empty[String, (String, SelectStmt, Long, Long)]
  // RESAMPLE bookkeeping, both in EVENT time (deterministic under replay):
  // span of writes not yet recomputed, and the high-water mark of the last
  // recompute per CQ
  private val cqDirty = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  private val cqLastRun = scala.collection.concurrent.TrieMap.empty[String, Long]
  // restored CQs whose dirty-span bookkeeping died with the old process:
  // their first post-restart write takes a FULL recompute, so a span that
  // was deferred by RESAMPLE EVERY when the engine stopped can't be lost
  private val cqStaleAfterRestart = scala.collection.concurrent.TrieMap.empty[String, Unit]
  // CQ INTO targets awaiting first-query backfill after a restart (the
  // plan must be built at query time — retention cutoffs bind then)
  private val pendingCqTargets =
    scala.collection.concurrent.TrieMap.empty[String, SelectStmt]
  // subscriptions: (db, rp, name) → (ALL|ANY, destinations) — catalog
  // semantics only, like the reference's statement replication
  // (routing.go:101-126); a firing subscription is a writeStream sink
  private val subscriptions =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), (String, List[String])]
  // per-measurement ingest bookkeeping (lineage compaction, cache reaping)
  private val writeSeq = scala.collection.concurrent.TrieMap.empty[String, Int]
  private val pendingCaches = scala.collection.concurrent.TrieMap.empty[String, List[DataFrame]]
  private val CheckpointEvery = 8
  // recent-query ring for SHOW QUERIES (reference routing.go:43-58); the
  // proxy surface, not an execution tracker — plans are lazy here
  private val qid = new java.util.concurrent.atomic.AtomicLong(0)
  // job-group namespace for this engine instance: cancelJobGroupAndFutureJobs
  // permanently poisons a group name on the shared SparkContext, and qids
  // restart per engine — the nonce keeps a KILL in one engine (or test)
  // from cancelling query 1 of every later engine
  private val engineNonce = java.lang.Long.toHexString(System.nanoTime())
  // standing streaming queries this engine started (close() stops them)
  private val runningStreams =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQuery]
  private val queryLog = new java.util.concurrent.ConcurrentLinkedDeque[(Long, String, String)]

  /** Injectable clock (epoch µs) — retention enforcement and its specs
    * need deterministic "now". */
  var nowUs: () => Long = () => System.currentTimeMillis() * 1000L
  // measurement → (db, rp) it is written under; absent = default.autogen
  // (infinite retention), the InfluxDB default target for writes
  private val measurementRp = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  databases.createDatabase("default")
  // durable restart — two halves, mirroring the reference's split between
  // data nodes (points) and etcd (metadata):
  //  1. metadata catalog: DBs/RPs/CQs/users/partition keys/subscriptions/
  //     measurement→RP bindings restore from dataDir/_catalog, so retention
  //     stays enforced, auth stays closed, and CQs stay registered across a
  //     restart (VERDICT r5 item 1; reference cluster/auth.go:120-158,
  //     partition_key_storage.go, settings_storage.go:59-87)
  //  2. measurements: every parquet measurement under dataDir re-registers
  //     (VERDICT r4 item 2)
  dataDir.foreach { d =>
    sources.MetaCatalog.read(spark, d).foreach(_.foreach(restoreRecord))
    sources.MeasurementStore.list(spark, d).foreach { m =>
      // heal a rewrite that died between a bucket's two renames
      sources.MeasurementStore.heal(spark, d, m)
      sources.MeasurementStore.read(spark, d, m).foreach { case (df, meta) =>
        tables(m) = (df, meta)
      }
    }
    // restored CQs whose INTO target is not durably present become PENDING
    // backfills: the first query of the target recomputes it from the
    // (durable) source, so SELECT from the target answers after restart
    // before any new write re-triggers the CQ. Deferred — not built here —
    // because the retention cutoff is evaluated at plan-build time and
    // must reflect the clock at QUERY time, not construction time. Targets
    // that ARE durable (streaming-CQ patches) are left alone: a recompute
    // could legitimately differ once the source RP has expired rows the
    // downsampled target intentionally retains.
    cqs.values.foreach { case (_, sel, _, _) =>
      sel.into.filterNot(tables.contains).foreach(t => pendingCqTargets(t) = sel)
    }
  }

  /** One catalog record → the store it belongs to (inverse of persistMeta).
    * Unknown kinds are skipped — forward compatibility with newer files. */
  private def restoreRecord(rec: Seq[String]): Unit = {
    def opt(s: String): Option[String] = Some(s).filter(_.nonEmpty)
    def list(s: String): List[String] =
      if (s.isEmpty) Nil else s.split('\u001e').toList
    rec match {
      case Seq("db", n) => databases.restoreDb(n)
      case Seq("rp", db, n, dur, repl, dflt) =>
        databases.restoreRp(db, n, dur.toLong, repl.toInt, dflt.toBoolean)
      case Seq("cq", db, n, q, rest @ _*) if rest.length <= 2 =>
        Parser.parse(q) match {
          case sel: SelectStmt =>
            val every = rest.headOption.map(_.toLong).getOrElse(0L)
            val forW = rest.lift(1).map(_.toLong).getOrElse(0L)
            databases.restoreCq(db, n, sel, every, forW)
            cqs(n) = (Translator.measurementName(sel.from), sel, every, forW)
            if (every > 0) cqStaleAfterRestart(n) = ()
          case _ =>
        }
      case Seq("user", n, hash, admin, grants) =>
        users.restoreUser(n, hash, admin.toBoolean,
          list(grants).map { g =>
            val i = g.lastIndexOf('\u001d'); (g.substring(0, i), g.substring(i + 1))
          }.toMap)
      case Seq("pkey", db, m, tags) => partitionKeys.restore(db, opt(m), list(tags))
      case Seq("sub", db, rp, n, mode, dests) =>
        subscriptions((db, rp, n)) = (mode, list(dests))
      case Seq("mrp", m, db, rp) => measurementRp(m) = (db, rp)
      case Seq("repl", db, m, n) => replication.set(opt(db), opt(m), n.toInt)
      case _ =>
    }
  }

  /** Snapshot every metadata store to dataDir/_catalog (tmp+rename; see
    * MetaCatalog). Called after each successful mutating statement — the
    * same write-through durability etcd gives the reference. Serialized:
    * concurrent mutating statements each snapshot the full (thread-safe)
    * store state, and the lock orders the file swaps so one writer can't
    * rename the other's tmp out from under it. */
  private val metaLock = new Object
  private def persistMeta(): Unit = metaLock.synchronized {
    dataDir.foreach(d => sources.MetaCatalog.write(spark, d, metaRecords))
  }

  /** The full metadata state as catalog records (persistMeta + mirrorTo). */
  private def metaRecords: Seq[Seq[String]] = {
    val recs = Seq.newBuilder[Seq[String]]
    databases.databases.foreach(n => recs += Seq("db", n))
    databases.rpRecords.foreach { case (db, n, dur, repl, dflt) =>
      recs += Seq("rp", db, n, dur.toString, repl.toString, dflt.toString) }
    databases.listCqs().foreach(c => recs += Seq("cq", c.db, c.name,
      Render.select(c.query), c.everyUs.toString, c.forUs.toString))
    users.records.foreach { case (n, hash, admin, grants) =>
      recs += Seq("user", n, hash, admin.toString,
        grants.toSeq.sorted.map { case (db, p) => "%s\u001d%s".format(db, p) }.mkString("\u001e")) }
    partitionKeys.list(None).foreach(k =>
      recs += Seq("pkey", k.db, k.measurement.getOrElse(""), k.tags.mkString("\u001e")))
    subscriptions.toSeq.sortBy(_._1).foreach { case ((db, rp, n), (mode, dests)) =>
      recs += Seq("sub", db, rp, n, mode, dests.mkString("\u001e")) }
    measurementRp.toSeq.sortBy(_._1).foreach { case (m, (db, rp)) =>
      recs += Seq("mrp", m, db, rp) }
    replication.records.foreach { case (db, m, n) =>
      recs += Seq("repl", db.getOrElse(""), m.getOrElse(""), n.toString) }
    recs.result()
  }

  def registerMeasurement(meta: TableMeta, df: DataFrame): Unit =
    tables(meta.measurement) = (df, meta)

  /** Associate a measurement with the retention policy its data lives
    * under (the reference's db.rp write target). Durable: without it, a
    * restart would silently revert the measurement to default.autogen and
    * resurrect expired rows (VERDICT r5 "what's wrong" item 1). */
  def setRetentionPolicy(measurement: String, db: String, rp: String): Unit =
    if (!measurementRp.get(measurement).contains((db, rp))) {
      measurementRp(measurement) = (db, rp)
      persistMeta()
    }

  /** The database a measurement is bound to (None until a write or DDL
    * binds it). Measurements share one physical namespace here, so this
    * binding is what carries the reference's per-db isolation: privilege
    * checks and /write routing must go through the OWNING db, or READ on
    * any database would reach every measurement (ADVICE r6). */
  def ownerDb(measurement: String): Option[String] =
    measurementRp.get(measurement).map(_._1)

  /** Measurements a statement reaches — regex sources resolve against the
    * live registry, exactly like execution would. */
  private def statementMeasurements(stmt: Statement): Seq[String] = {
    def ofSource(src: Source): Seq[String] = src match {
      case FromMeasurement(n)       => Seq(n)
      case FromMulti(ns)            => ns
      case FromSubquery(sub)        => ofSource(sub.from)
      case FromMeasurementRegex(re) =>
        val p = java.util.regex.Pattern.compile(re)
        tables.keys.toSeq.filter(m => p.matcher(m).find())
    }
    stmt match {
      case s: SelectStmt      => ofSource(s.from)
      case DeleteSeries(f, _) => Seq(f)
      case DropMeasurement(n) => Seq(n)
      case _                  => Nil
    }
  }

  private def retentionCutoffUs(measurement: String): Option[Long] = {
    val (db, rp) = measurementRp.getOrElse(measurement, ("default", "autogen"))
    databases.retentionCutoffUs(db, rp, nowUs())
  }

  /** Shard-group-duration analog for the durable time-bucket layout
    * (reference syncing/models.go:5; InfluxDB's meta rules: RP < 2 days →
    * 1 h groups, RP ≤ 6 months → 1 day, longer/infinite → 7 days). Chosen
    * at the measurement's FIRST durable write from its RP binding at that
    * moment; the at-rest layout wins thereafter (MeasurementStore
    * storedBucketUs), so a later re-bind only coarsens how promptly whole
    * buckets expire, never correctness — reads always mask by the cutoff. */
  private def shardBucketUs(measurement: String): Long = {
    val (db, rp) = measurementRp.getOrElse(measurement, ("default", "autogen"))
    val durUs = databases.rpDurationUs(db, rp).getOrElse(0L)
    val hour = 3600L * 1000000L
    if (durUs > 0 && durUs < 48 * hour) hour
    else if (durUs > 0 && durUs <= 180L * 24 * hour) 24 * hour
    else 7L * 24 * hour
  }

  /** Meta to hand MeasurementStore on writes: carries the bucket choice for
    * a measurement's first durable landing (existing directories keep their
    * stored layout regardless). */
  private def bucketed(meta: TableMeta): TableMeta =
    if (meta.bucketUs.isDefined) meta
    else meta.copy(bucketUs = Some(shardBucketUs(meta.measurement)))

  private def load(measurement: String): (DataFrame, TableMeta) = {
    val (df, meta) = tables.get(measurement)
      .orElse(pendingCqTargets.remove(measurement).flatMap { sel =>
        runSelect(sel) // deferred restart backfill registers the target
        tables.get(measurement)
      })
      .getOrElse(Catalog.load(spark, sfDir, measurement))
    // read-time RP enforcement: expired rows are invisible even before the
    // maintenance compaction runs (SURVEY §1.3). On a bucketed durable
    // layout the cutoff ALSO binds the `_tb` partition column, so expired
    // bucket directories are pruned at the scan, not filtered row by row
    retentionCutoffUs(measurement) match {
      case Some(cut) =>
        val masked = meta.bucketUs.filter(_ => df.columns.contains("_tb")) match {
          case Some(b) =>
            df.where(col("_tb") >= Math.floorDiv(cut, b) && col(meta.timeCol) >= cut)
          case None => df.where(col(meta.timeCol) >= cut)
        }
        (masked, meta)
      case None => (df, meta)
    }
  }

  /** Retention maintenance pass (SURVEY §1.3; reference RP durations at
    * syncing/models.go:3-9): drop rows older than each measurement's RP
    * cutoff. Durably, each bucket whose whole span ends at or before the
    * cutoff is replaced by nothing (parked under `<m>/expired.old`) —
    * O(expired buckets), never O(table) (VERDICT r6 item 1). The boundary
    * bucket keeps its rows at rest; `load` masks them. A legacy unbucketed
    * directory is the one unit (bucket 0), replaced by its surviving rows.
    * In-memory measurements re-register the survivors. */
  def enforceRetention(): Unit =
    tables.keys.toSeq.foreach { m =>
      retentionCutoffUs(m).foreach { cut =>
        val (df, meta) = tables(m)
        durableDirFor(m) match {
          case Some(dir) =>
            val (rows, buckets) = sources.MeasurementStore.loadMeta(spark, dir, m)
              .flatMap(_.bucketUs) match {
              case Some(b) => (spark.emptyDataFrame, sources.MeasurementStore
                .liveBuckets(spark, dir, m).filter(tb => (tb + 1L) * b <= cut))
              case None => (df.where(col(meta.timeCol) >= cut), Seq(0L))
            }
            if (buckets.nonEmpty) replaceDurable(dir, meta, rows, buckets, "expired")
          case None => tables(m) = (df.where(col(meta.timeCol) >= cut), meta)
        }
      }
    }

  /** `MeasurementStore.replaceBuckets`, then re-register the fresh scan. */
  private def replaceDurable(dir: String, meta: TableMeta, rows: DataFrame,
      buckets: Seq[Long], ns: String): Unit = {
    val m = meta.measurement
    sources.MeasurementStore.replaceBuckets(spark, dir, bucketed(meta), rows, buckets, ns,
      keyTagsFor(m))
    sources.MeasurementStore.read(spark, dir, m).foreach(t => tables(m) = t)
  }

  /** dataDir when this measurement is actually persisted there. */
  private def durableDirFor(m: String): Option[String] =
    dataDir.filter(d => sources.MeasurementStore.loadMeta(spark, d, m).isDefined)

  /** Small-file compaction (VERDICT r5 item 5). Append-only ingest lands
    * each batch as new parquet files — the right O(batch) write cost, but
    * sustained ingest grows the file count (and with it per-scan footer and
    * listing work) without bound; the reference gets compaction for free
    * from the InfluxDB storage engine on its data nodes. This is the
    * maintenance pass: `MeasurementStore.compact` replaces each hot bucket
    * by its own rows as ~512 MB files, never re-copying cold or
    * already-compact buckets, and marks the schema uniform again when
    * provable. Purely physical. Run it from scheduled maintenance, NOT per
    * write: triggered from the ingest path, its O(bucket) rewrites would
    * turn O(batch) appends into quadratic write amplification. */
  def compact(measurement: String, ifMoreThan: Int = 32): Unit =
    durableDirFor(measurement).foreach { dir =>
      val wasUniform = sources.MeasurementStore.isUniform(spark, dir, measurement)
      if (sources.MeasurementStore.compact(spark, dir, measurement, ifMoreThan).nonEmpty ||
          sources.MeasurementStore.isUniform(spark, dir, measurement) != wasUniform)
        sources.MeasurementStore.read(spark, dir, measurement)
          .foreach(t => tables(measurement) = t)
    }

  /** The scheduled maintenance pass: drop expired buckets, then compact
    * hot ones — both O(touched buckets) through the store's one bucket
    * swap, so a store with nothing expired and one file per leaf
    * directory is not rewritten. The at-scale deployment runs this on a
    * timer (the analog of the reference data nodes' compaction daemon).
    *
    * Cadence guidance (same thresholds across the engine's at-rest
    * artifacts): per-append debris accumulates one file per touched
    * partition, so schedule the pass when steady-state appends since the
    * last run exceed the `ifMoreThan` file threshold for the hottest
    * partition — hourly under sustained ingest, daily otherwise. ANN
    * index maintenance follows the identical discipline on its own
    * layouts: `EmbedOps.ivfCompact(s, indexDir, ifMoreThan)` (all hot
    * `list_id=` dirs rewritten in ONE partition-pruned job) after
    * sustained `ivfAppend`/`IndexStream` activity, and
    * `EmbedOps.ivfDelete`/`pqDelete`/`DocText.neardupIndexDelete` for
    * takedown batches — both O(hot partitions), safe at any cadence. */
  def maintain(compactIfMoreThan: Int = 32): Unit = {
    enforceRetention()
    tables.keys.toSeq.sorted.foreach(compact(_, compactIfMoreThan))
  }

  /** Partition-key tags for the durable directory layout. The layout
    * already on disk (MeasurementStore meta line 6) wins over the registry:
    * once a directory is tag-partitioned, appends must stay partitioned the
    * same way even if the partition key was since dropped or redefined —
    * mixing layouts in one directory breaks partition discovery. */
  private def keyTagsFor(m: String): Seq[String] = {
    val stored = dataDir.map(sources.MeasurementStore.loadKeyTags(spark, _, m)).getOrElse(Nil)
    if (stored.nonEmpty) stored
    else partitionKeys.resolve("default", m).map(_.tags).getOrElse(Nil)
  }

  private def measurementNames: Seq[String] =
    (tables.keys.toSeq ++ pendingCqTargets.keys.toSeq ++
      Seq(Catalog.events.measurement)).distinct.sorted

  /** Registered + catalog metas, optionally restricted by SHOW's FROM m. */
  private def metasFor(from: Option[String]): Seq[TableMeta] = {
    val metas = (tables.values.map(_._2).toSeq :+ Catalog.events)
      .distinctBy(_.measurement).sortBy(_.measurement)
      .filter(m => from.forall(_ == m.measurement))
    if (metas.isEmpty)
      throw ParseException(s"unknown measurement '${from.getOrElse("")}'")
    metas
  }

  /** Execute any InfluxQL statement; SELECT/SHOW return data, DDL/admin
    * return empty or listing frames (the reference's Result rows). */
  def execute(influxql: String): DataFrame = {
    val stmt = Parser.parse(influxql)
    logQuery(stmt, influxql)
    executeStmt(stmt)
  }

  /** SHOW QUERIES surface: remember recent SELECT texts. Every entry path
    * (execute, queryJson, queryJsonStream) funnels here so proxy-path
    * queries are visible to SHOW QUERIES / KILL QUERY. */
  private def logQuery(stmt: Statement, influxql: String): Long = stmt match {
    case _: SelectStmt =>
      val id = qid.incrementAndGet()
      queryLog.addFirst((id, influxql, "default"))
      while (queryLog.size > 100) queryLog.pollLast()
      id
    case _ => -1L
  }

  /** Run `body` under a per-query Spark job group so KILL QUERY can cancel
    * the jobs the serializer is driving (the reference routes KILL to the
    * data node owning the query, routing.go:127-133; here the "node" is
    * the Spark scheduler). Job groups are thread-local — this wraps the
    * thread that consumes the result iterator, i.e. the HTTP/proxy path. */
  private def withQueryGroup[T](id: Long, influxql: String)(body: => T): T =
    if (id < 0) body
    else {
      spark.sparkContext.setJobGroup(s"graft-$engineNonce-q$id", influxql,
        interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    }

  def executeStmt(stmt: Statement): DataFrame = stmt match {
    case sel: SelectStmt => runSelect(sel)
    // SHOW … WHERE is meaningful only for scan-backed kinds (Meta.Whereable)
    case s: ShowStmt if s.where.isDefined && !Meta.Whereable(s.what) =>
      throw ParseException(s"SHOW ${s.what} does not support WHERE")
    case ShowLimited(s, lim, off) =>
      // meta pagination: lexicographic sort makes pages deterministic
      // (the reference pages SHOW SERIES the same way, series.go:69-70)
      val df = executeStmt(s)
      val sorted = df.orderBy(df.columns.map(col(_)): _*)
      val shifted = off.map(sorted.offset).getOrElse(sorted)
      lim.map(shifted.limit).getOrElse(shifted)
    case ShowGrantsStmt(user) =>
      import spark.implicits._
      users.grantsFor(user).toDF("database", "privilege")
    case ShowQueriesStmt =>
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      queryLog.iterator.asScala.toSeq.toDF("qid", "query", "database")
    case KillQuery(id) =>
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      if (!queryLog.iterator.asScala.exists(_._1 == id))
        throw ParseException(s"no such query: $id") // reference 400 shape
      queryLog.removeIf(e => e._1 == id)
      // cancel the query's Spark jobs — including ones its serializer has
      // not submitted yet (toLocalIterator submits per partition), so a
      // KILL racing the first job submission still lands
      spark.sparkContext.cancelJobGroupAndFutureJobs(s"graft-$engineNonce-q$id")
      Seq.empty[(String, String)].toDF("k", "v").limit(0)
    case ShowStmt("DATABASES", _, _, _, _) =>
      { import spark.implicits._; databases.databases.toDF("name") }
    case ShowStmt("RETENTION POLICIES", on, _, _, _) =>
      import spark.implicits._
      databases.listRps(on.getOrElse("default"))
        .map(r => (r.name, s"${r.durationUs}us", r.replicas, r.default))
        .toDF("name", "duration", "replicaN", "default")
    case ShowStmt("CONTINUOUS QUERIES", on, _, _, _) =>
      import spark.implicits._
      databases.listCqs(on)
        .map(c => (c.db, c.name, Render.cq(c.name, c.db, c.query, c.everyUs, c.forUs)))
        .toDF("database", "name", "query")
    case ShowStmt("USERS", _, _, _, _) =>
      { import spark.implicits._; users.list.toDF("user", "admin") }
    case ShowStmt("SUBSCRIPTIONS", _, _, _, _) =>
      import spark.implicits._
      subscriptions.toSeq.sortBy(_._1)
        .map { case ((db, rp, n), (mode, dests)) => (db, rp, n, mode, dests.mkString(", ")) }
        .toDF("database", "retention_policy", "name", "mode", "destinations")
    // meta scans over registered in-memory measurements MERGED with the
    // parquet catalog — written measurements are discoverable immediately
    case ShowStmt("MEASUREMENTS", _, mfilter, _, _) =>
      import spark.implicits._
      Engine.filterMeasurements(measurementNames, mfilter).toDF("name")
    case ShowStmt("TAG KEYS", _, _, from, _) =>
      import spark.implicits._
      metasFor(from).flatMap(m => m.tags.map(t => (m.measurement, t)))
        .toDF("measurement", "tagKey")
    case ShowStmt("FIELD KEYS", _, _, from, _) =>
      import spark.implicits._
      metasFor(from).flatMap(m => m.fields.map(f =>
          (m.measurement, f.name, f.ftype)))
        .toDF("measurement", "fieldKey", "fieldType")
    // CARDINALITY family over the LIVE catalog (registered + parquet
    // measurements), consistent with the SHOW MEASUREMENTS/TAG KEYS/FIELD
    // KEYS scans above — Meta.show only knows the static catalog
    case ShowStmt("MEASUREMENT CARDINALITY", _, _, _, _) =>
      { import spark.implicits._; Seq(measurementNames.length.toLong).toDF("count") }
    case ShowStmt("TAG KEY CARDINALITY", _, _, from, _) =>
      import spark.implicits._
      metasFor(from).map(m => (m.measurement, m.tags.length.toLong))
        .toDF("measurement", "count")
    case ShowStmt("FIELD KEY CARDINALITY", _, _, from, _) =>
      import spark.implicits._
      metasFor(from).map(m => (m.measurement, m.fields.length.toLong))
        .toDF("measurement", "count")
    // SERIES / TAG VALUES answer from the LIVE registry (registered +
    // written measurements), like MEASUREMENTS/TAG KEYS above — the
    // static Meta fall-through only knows the parquet catalog, which
    // made freshly written measurements invisible to Grafana's
    // variable-population queries
    case ShowStmt("SERIES", _, _, from, where) =>
      metasFor(from).map { m =>
        val (df0, meta) = load(m.measurement)
        val df = where.map(w => df0.where(Meta.tagPredicate(w, df0.columns))).getOrElse(df0)
        if (meta.tags.isEmpty)
          df.limit(1).select(lit(m.measurement).as("key")) // one untagged series
        else df.select(meta.tags.map(col): _*).distinct()
          .select(concat(lit(m.measurement),
            concat_ws("", meta.tags.map(t => concat(lit(s",$t="), col(t))): _*)).as("key"))
      }.reduce(_ unionByName _)
    case ShowStmt("TAG VALUES", _, key, from, where) =>
      val picked = metasFor(from).map(m =>
        m -> m.tags.filter(t => key.forall(_ == t))).filter(_._2.nonEmpty)
      if (picked.isEmpty)
        throw ParseException(s"no tag key ${key.getOrElse("")} on any measurement")
      picked.map { case (m, keys) =>
        val (df0, _) = load(m.measurement)
        val df = where.map(w => df0.where(Meta.tagPredicate(w, df0.columns))).getOrElse(df0)
        keys.map(t => df.select(lit(t).as("key"), col(t).as("value")).distinct())
          .reduce(_ unionByName _)
      }.reduce(_ unionByName _)
    case ShowStmt("SERIES CARDINALITY", _, _, from, where) =>
      metasFor(from).map { m =>
        val (df0, meta) = load(m.measurement)
        val df = where.map(w => df0.where(Meta.tagPredicate(w, df0.columns))).getOrElse(df0)
        if (meta.tags.isEmpty)
          spark.range(1).select(lit(1L).as("c")) // one untagged series
        else df.select(meta.tags.map(col): _*).distinct()
          .agg(count(lit(1)).cast("long").as("c"))
      }.reduce(_ unionByName _)
        .agg(sum("c").cast("long").as("count"))
    case ShowStmt("TAG VALUES CARDINALITY", _, key, from, where) =>
      val picked = metasFor(from).map(m =>
        m -> m.tags.filter(t => key.forall(_ == t))).filter(_._2.nonEmpty)
      if (picked.isEmpty)
        throw ParseException(s"no tag key ${key.getOrElse("")} on any measurement")
      picked.map { case (m, keys) =>
        val (df0, _) = load(m.measurement)
        val df = where.map(w => df0.where(Meta.tagPredicate(w, df0.columns))).getOrElse(df0)
        df.agg(keys.map(t => countDistinct(col(t))).reduce(_ + _).cast("long").as("count"))
          .select(lit(m.measurement).as("measurement"), col("count"))
      }.reduce(_ unionByName _)
    case ShowStmt(what, _, key, from, where) =>
      Meta.show(spark, sfDir, what, key, from, where)
    // metadata mutations write through to the durable catalog on success
    // (etcd semantics: a statement is acknowledged only once persisted)
    case ddl: DdlStmt      => val r = executeDdl(ddl); persistMeta(); r
    case adm: AdminStmt    =>
      val r = admin.execute(spark, adm)
      adm match { // SHOW variants of the admin DSL mutate nothing
        case _: ShowPartitionKeys | ShowNodes => case _ => persistMeta()
      }
      r
    case auth: AuthStmt    => val r = executeAuth(auth); persistMeta(); r
    case other             => throw ParseException(s"unsupported statement: $other")
  }

  private def executeAuth(stmt: AuthStmt): DataFrame = {
    import spark.implicits._
    stmt match {
      case CreateUser(n, pw, admin) => users.createUser(n, pw, admin)
      case DropUser(n)              => users.dropUser(n)
      case SetPassword(n, pw)       => users.setPassword(n, pw)
      case Grant(p, db, u)          => users.grant(p, db, u)
      case Revoke(p, db, u)         => users.revoke(p, db, u)
    }
    Seq.empty[(String, String)].toDF("k", "v").limit(0)
  }

  private def runSelect(sel: SelectStmt): DataFrame = {
    val (df, meta) = Translator.resolve(sel.from, load, () => measurementNames)
    val out = new Translator(df, meta).run(sel)
    sel.into.foreach { target => // SELECT INTO: materialize as a measurement
      // qualified INTO "db"."rp"."m": validate BEFORE materializing — a
      // failed statement must not leave a (durable) target behind. An
      // empty db part means "the current database" (rp.m form), resolved
      // by CreateContinuousQuery against its ON db, default otherwise.
      val resolvedDbRp = sel.intoDbRp.map { case (db0, rp) =>
        val db = if (db0.isEmpty) "default" else db0
        if (!databases.databases.contains(db))
          throw databases.UnknownDatabaseException(db)
        if (!databases.listRps(db).exists(_.name == rp))
          throw ParseException(s"retention policy not found: $rp on $db")
        (db, rp)
      }
      pendingCqTargets.remove(target) // a fresh run supersedes the backfill
      // every non-time/non-tag output column is a field of the target (the
      // same derivation FromSubquery uses) — a multi-field
      // `SELECT mean(v), max(v) INTO t` must answer SELECT * with both
      val tags = sel.groupByTags.filter(out.columns.contains)
      val fields = out.columns.toSeq
        .filterNot(c => c == "time" || tags.contains(c))
        .map(FieldMeta(_, None))
      val tMeta = TableMeta(target, "time", tags = tags, fields = fields)
      dataDir match {
        case Some(dir) =>
          // durable INTO: the reference's SELECT INTO lands points in the
          // target's shards, so they survive a restart. Full recompute:
          // every live bucket of the target is replaced
          replaceDurable(dir, tMeta, out,
            sources.MeasurementStore.liveBuckets(spark, dir, target), "rewrite")
        case None => registerMeasurement(tMeta, out)
      }
      // the qualified target binds the measurement to that db.rp —
      // retention follows the named policy, subscriptions on that db.rp
      // see its writes (InfluxQL fully-qualified INTO)
      resolvedDbRp.foreach { case (db, rp) => setRetentionPolicy(target, db, rp) }
    }
    out
  }

  private def executeDdl(ddl: DdlStmt): DataFrame = {
    import spark.implicits._
    ddl match {
      case CreateDatabase(n, withRp) =>
        databases.createDatabase(n)
        // WITH clause: the database's initial (default) retention policy
        withRp.foreach { case (rp, dur, repl) =>
          databases.createRp(n, databases.Rp(rp, dur, repl, default = true)) }
      case DropDatabase(n)   => databases.dropDatabase(n)
      case CreateRetentionPolicy(n, db, dur, repl, dflt) =>
        databases.createRp(db, databases.Rp(n, dur, repl, dflt))
      case DropRetentionPolicy(n, db) => databases.dropRp(db, n)
      case AlterRetentionPolicy(n, db, dur, repl, dflt) =>
        databases.alterRp(db, n, dur, repl, dflt)
      case CreateContinuousQuery(n, db, cqSel, everyUs, forUs) =>
        // rp.m INTO form: "the current database" is this CQ's ON db
        val sel = cqSel.copy(intoDbRp = cqSel.intoDbRp.map {
          case ("", rp) => (db, rp)
          case x        => x
        })
        databases.createCq(databases.CqDef(n, db, sel, everyUs, forUs))
        // reference semantics: a CQ recomputes over history on creation
        // (backfill INTO the target now) AND keeps running — the reference
        // replicates CQs precisely so they stay live on every node
        // (`/root/reference/syncing/importer.go:323-333`). Here the live
        // half is micro-batch continuation: every writeLineProtocol into
        // the CQ's source re-runs the INTO select over the merged table,
        // so the target observes each ingest batch (read-your-writes). A
        // true unbounded stream swaps this for ContinuousQuery.start on a
        // readStream of the same source — identical plan, streaming sink.
        cqs(n) = (Translator.measurementName(sel.from), sel, everyUs, forUs)
        // InfluxDB 1.x stores a CQ without checking its source: a source
        // with no data yet backfills nothing; its first write patches
        sel.from match {
          case FromMeasurement(m) if !measurementNames.contains(m) =>
          case _ => runSelect(sel)
        }
      case DropContinuousQuery(n, db) =>
        databases.dropCq(db, n)
        cqs.remove(n); cqDirty.remove(n); cqLastRun.remove(n)
      case DeleteSeries(from, where) =>
        // delete = retain the complement; durably, only the buckets holding
        // a deleted row are rewritten, so the delete survives a restart
        val (df, meta) = load(from)
        def remaining(rows: DataFrame) = where match {
          case Some(w) => rows.where(!new Translator(rows, meta).wherePredicate(w))
          case None    => rows.limit(0)
        }
        durableDirFor(from) match {
          case Some(dir) =>
            val hit = where.fold(df)(w => df.where(new Translator(df, meta).wherePredicate(w)))
            val buckets = sources.MeasurementStore.bucketIdsOf(hit)
            if (buckets.nonEmpty)
              replaceDurable(dir, meta,
                remaining(sources.MeasurementStore.inBuckets(df, buckets)), buckets, "rewrite")
          case None => registerMeasurement(meta, remaining(df))
        }
      case DropMeasurement(n) =>
        tables.remove(n)
        dataDir.foreach(sources.MeasurementStore.drop(spark, _, n))
      case CreateSubscription(n, db, rp, mode, dests) =>
        if (!databases.databases.contains(db))
          throw databases.UnknownDatabaseException(db)
        if (subscriptions.putIfAbsent((db, rp, n), (mode, dests)).isDefined)
          throw databases.DuplicateException(s"subscription $n on $db.$rp")
      case DropSubscription(n, db, rp) =>
        if (subscriptions.remove((db, rp, n)).isEmpty)
          throw ParseException(s"subscription not found: $n on $db.$rp")
    }
    Seq.empty[(String, String)].toDF("k", "v").limit(0)
  }

  /** Ingest line-protocol text; unknown measurements get their schema
    * INFERRED from the batch with conflict widening (SchemaInfer —
    * SURVEY §1.2 dynamic schema). Returns (points written, dead-lettered
    * lines). */
  def writeLineProtocol(lines: Seq[String], measurement: String,
      precision: String = "ns"): (Long, Long) = {
    import spark.implicits._
    ingestLines(spark.createDataset(lines), measurement, precision,
      forward = Some(lines))
  }

  /** BULK ingest: line-protocol FILES read as a distributed text scan —
    * the 100 TB load path (one task per split end to end: scan → parse →
    * partitioned parquet append; the driver never holds a line). The
    * reference's import tool pages the same wire format through the
    * coordinator 10k rows at a time (`syncing/importer.go:658-663`);
    * here the load parallelizes across the cluster instead. Bulk loads
    * skip subscription forwarding, exactly like the reference's
    * import/rebalance path (only client /write batches fan out). */
  def ingestLineProtocolFiles(path: String, measurement: String,
      precision: String = "ns"): (Long, Long) =
    ingestLines(spark.read.textFile(path), measurement, precision, forward = None)

  private def ingestLines(ds: org.apache.spark.sql.Dataset[String],
      measurement: String, precision: String,
      forward: Option[Seq[String]]): (Long, Long) = {
    import spark.implicits._
    // infer over the batch: ALL of it on the Seq path (client /write —
    // the lines are already on the driver; a field first appearing after
    // a sampling bound would be silently dropped, ADVICE r6), a bounded
    // take on the distributed file path
    lazy val inferred = {
      val sample = forward.getOrElse(ds.take(10000).toSeq)
      // parse for inference in parallel (r20, guide §1.2 per-task work):
      // the client /write path parses the WHOLE batch single-threaded on
      // the driver before the distributed parse even starts — at 100k
      // points that serial pass was a visible slice of the write path.
      // `.par` keeps element ORDER through `.seq`, so SchemaInfer sees
      // the exact sequence it always did (inference unchanged by
      // construction); parseLine is a pure function.
      val pts = {
        import scala.collection.parallel.CollectionConverters._
        sample.par.map(l => sources.LineProtocol.parseLine(l).toOption)
          .seq.flatten
      }
      sources.SchemaInfer.infer(measurement, pts).toTableMeta
    }
    val known = tables.get(measurement).map(_._2)
      .orElse(scala.util.Try(Catalog.load(spark, sfDir, measurement)._2).toOption)
    val meta = known match {
        case Some(base) =>
          // KNOWN measurement: a batch may still carry never-seen field
          // keys or tags — InfluxDB adds them to the measurement on write
          // (dynamic schema, SURVEY §1.2); with a fixed projection they
          // were silently dropped. Union them in; existing declarations
          // (and their inferred types/scales) stay authoritative.
          val newTags = inferred.tags.filterNot(base.tags.contains)
          val newFields = inferred.fields
            .filterNot(f => base.fields.exists(_.name == f.name))
            .filterNot(f => base.tags.contains(f.name))
          if (newTags.isEmpty && newFields.isEmpty) base
          else base.copy(tags = base.tags ++ newTags,
            fields = base.fields ++ newFields)
        case None => inferred // unknown measurement: the inference IS the schema
      }
    val floatFields = meta.fields.map(_.name)
    // ingest hygiene (100 TB bar): parse ONCE into a cached batch carrying
    // the dead-letter column, take point+error counts from a single
    // aggregation (the old path ran two extra actions that each re-parsed
    // the whole batch), and truncate the union lineage every
    // CheckpointEvery writes so sustained ingest keeps a bounded plan
    // (at rest this is parquet compaction; localCheckpoint is its
    // single-JVM analog)
    val raw = LineProtocol.parseRaw(spark, ds,
      measurement, meta.tags, floatFields, precision,
      meta.fields.map(_.ftype)).persist()
    val cnts = raw.agg(
      count(when(col("err").isNull, lit(1))).as("ok"),
      count(col("err")).as("bad"),
      min(when(col("err").isNull, col("time_ns"))).as("lo_ns"),
      max(when(col("err").isNull, col("time_ns"))).as("hi_ns")).head()
    val (nOk, nErr) = (cnts.getLong(0), cnts.getLong(1))
    // batch time span (µs) for the CQ continuation's bucket restriction
    val (tLoUs, tHiUs) =
      if (nOk > 0) (Math.floorDiv(cnts.getLong(2), 1000L), Math.floorDiv(cnts.getLong(3), 1000L))
      else (-1L, -1L)
    val ok = raw.where(col("err").isNull).drop("err")
    val withTime0 = ok.withColumn(meta.timeCol, expr("time_ns div 1000"))
    // measurements with a declared raw-ns pushdown column must carry it on
    // the write path too, or time-filtered reads fail resolution
    val withTime = meta.rawTimeNs match {
      case Some(rawNs) => withTime0.withColumn(rawNs, col("time_ns"))
      case None        => withTime0
    }
    val stored = dataDir match {
      case Some(dir) =>
        // durable path: the batch lands as NEW parquet files — O(batch)
        // per ingest, never O(table) — and the registered frame becomes a
        // plain scan of the at-rest directory (read-your-writes from disk,
        // no union lineage to compact). Write fan-out analog:
        // service/write_handler.go:157-212.
        // the batch's time bounds came free with the count aggregation —
        // they let the store prove single-bucket batches and skip the
        // dynamic-partition write entirely
        sources.MeasurementStore.append(spark, dir, bucketed(meta), withTime,
          keyTagsFor(measurement),
          timeBounds = if (nOk > 0) Some((tLoUs, tHiUs)) else None)
        raw.unpersist(false)
        sources.MeasurementStore.read(spark, dir, measurement).get._1
      case None =>
        val existing = tables.get(measurement).map(_._1)
        val merged = existing match {
          case Some(old) if old.columns.sorted.sameElements(withTime.columns.sorted) =>
            old.unionByName(withTime)
          case _ => withTime
        }
        val seq = writeSeq.updateWith(measurement) {
          case Some(n) => Some(n + 1)
          case None    => Some(1)
        }.get
        if (seq % CheckpointEvery == 0) {
          val cp = merged.localCheckpoint(true) // materialize + cut lineage
          (raw :: pendingCaches.getOrElse(measurement, Nil)).foreach(_.unpersist(false))
          pendingCaches.remove(measurement)
          cp
        } else {
          pendingCaches.updateWith(measurement)(l => Some(raw :: l.getOrElse(Nil)))
          merged
        }
    }
    registerMeasurement(meta, stored)
    // live CQ continuation: refresh every CQ whose source is this
    // measurement (micro-batch semantics — see CreateContinuousQuery).
    // Time-bucketed CQs patch only the buckets this batch touched; a CQ
    // whose target still awaits restart backfill (or has no time buckets)
    // takes the full recompute so the patch can't mask missing history.
    // RESAMPLE (event-time clock, deterministic under replay): EVERY
    // accumulates writes into a dirty span and recomputes only once the
    // span's high edge has advanced a full EVERY past the last run; FOR
    // widens every recompute to at least the trailing FOR window, so late
    // points that land in already-patched buckets still get folded in.
    if (nOk > 0) cqs.foreach {
      case (name, (src, sel, everyUs, forUs)) if src == measurement =>
        sel.groupByTime match {
          case Some(_) if cqStaleAfterRestart.remove(name).isDefined =>
            runSelect(sel) // converge: pre-restart deferred spans are unknown
          case Some(iv) if !sel.into.exists(pendingCqTargets.contains) =>
            val (dLo, dHi) = cqDirty.getOrElse(name, (tLoUs, tHiUs))
            val span = (math.min(dLo, tLoUs), math.max(dHi, tHiUs))
            val due = everyUs == 0L ||
              cqLastRun.get(name).forall(last => span._2 >= last + everyUs)
            if (due) {
              val lo = if (forUs > 0) math.min(span._1, span._2 - forUs + 1) else span._1
              patchIntoTarget(sel, iv, lo, span._2)
              cqDirty.remove(name); cqLastRun(name) = span._2
            } else cqDirty(name) = span
          case _ => runSelect(sel)
        }
      case _ =>
    }
    forward.foreach(lines => forwardToSubscriptions(measurement, lines))
    (nOk, nErr)
  }

  /** Gzip write body (reference `service/write_handler.go:55-63`: the
    * /write endpoint accepts Content-Encoding: gzip and decompresses
    * before parsing). Decompress with the JDK, split lines, and feed the
    * standard path — byte-identical semantics to a plain-text write. */
  def writeLineProtocolGzip(body: Array[Byte], measurement: String,
      precision: String = "ns"): (Long, Long) =
    writeLineProtocol(LineProtocol.splitLines(LineProtocol.gunzip(body)),
      measurement, precision)

  /** Credentialed write path (reference `service/write_handler.go:80-101`:
    * when any users exist, a write must authenticate AND hold WRITE on the
    * target db; 401 on bad credentials, 403 on missing privilege — both
    * surface as AuthException here). Open before the first admin exists,
    * matching the reference's bootstrap behavior (`service/auth.go:26-41`). */
  def writeLineProtocolAs(user: String, password: String, lines: Seq[String],
      measurement: String, db: String = "default",
      precision: String = "ns"): (Long, Long) = {
    if (!users.isEmpty) {
      if (!users.authenticate(user, password))
        throw users.AuthException("authentication failed") // the 401
      if (!users.authorize(user, db, "WRITE"))
        throw users.AuthException(s"forbidden to write to database: $db") // the 403
    }
    writeLineProtocol(lines, measurement, precision)
  }

  /** Full-mirror EXPORT (the reference's `cmd/mirror` tool,
    * cmd/mirror/main.go:13-147 + syncing/importer.go:106-139: copy meta
    * first, then every measurement, with a resume bookmark). Layout:
    * `dir/_catalog` (metadata snapshot), `dir/<m>/meta` (TableMeta) +
    * `dir/<m>/lp/` (line-protocol text, written DISTRIBUTED — one task
    * per partition, no driver collection) + `dir/<m>/_done` bookmark.
    * Measurements already bookmarked are skipped, so an interrupted
    * mirror resumes where it stopped. */
  def mirrorTo(dir: String): Unit = {
    import spark.implicits._
    sources.MetaCatalog.write(spark, dir, metaRecords)
    val hconf = spark.sparkContext.hadoopConfiguration
    tables.toSeq.sortBy(_._1).foreach { case (m, (df, tm)) =>
      val done = new org.apache.hadoop.fs.Path(s"$dir/$m/_done")
      val f = done.getFileSystem(hconf)
      if (!f.exists(done)) {
        val tags = tm.tags.filter(df.columns.contains)
        val fields = tm.fields.map(_.name).filter(df.columns.contains)
        val timeCol = tm.timeCol
        val lines = df.map { r =>
          val tagMap = tags.flatMap(t =>
            Option(r.getAs[String](t)).map(t -> _)).toMap
          val fieldMap = fields.flatMap { fn =>
            val i = r.fieldIndex(fn)
            if (r.isNullAt(i)) None
            else Some(fn -> (r.get(i) match {
              case d: java.lang.Double  => LineProtocol.FFloat(d)
              case l: java.lang.Long    => LineProtocol.FInt(l)
              case b: java.lang.Boolean => LineProtocol.FBool(b)
              case o                    => LineProtocol.FStr(String.valueOf(o))
            }))
          }.toMap
          LineProtocol.serialize(LineProtocol.Point(m, tagMap, fieldMap,
            Some(r.getAs[Long](timeCol) * 1000L)))
        }
        lines.write.mode("overwrite").text(s"$dir/$m/lp")
        sources.MeasurementStore.saveMeta(spark, dir, tm)
        f.create(done, true).close() // bookmark: this measurement is complete
      }
    }
  }

  /** Full-mirror IMPORT: replay the catalog (meta before data, like the
    * reference importer), then distributed-parse each bookmarked
    * measurement's line protocol and register it — durably when this
    * engine has a dataDir. Measurements already present are skipped
    * (idempotent re-run). */
  def mirrorFrom(dir: String): Unit = {
    sources.MetaCatalog.read(spark, dir).foreach(_.foreach(restoreRecord))
    persistMeta()
    sources.MeasurementStore.list(spark, dir)
      .filterNot(tables.contains)
      .foreach { m =>
        val hconf = spark.sparkContext.hadoopConfiguration
        val done = new org.apache.hadoop.fs.Path(s"$dir/$m/_done")
        if (done.getFileSystem(hconf).exists(done)) {
          sources.MeasurementStore.loadMeta(spark, dir, m).foreach { tm =>
            val lines = spark.read.textFile(s"$dir/$m/lp")
            val (parsed, _) = LineProtocol.parse(spark, lines, m,
              tm.tags, tm.fields.map(_.name), fieldTypes = tm.fields.map(_.ftype))
            val withTime0 = parsed.withColumn(tm.timeCol, expr("time_ns div 1000"))
            val shaped = tm.rawTimeNs match {
              case Some(ns) => withTime0.withColumn(ns, col("time_ns"))
              case None     => withTime0
            }
            dataDir match {
              case Some(dd) =>
                sources.MeasurementStore.append(spark, dd, bucketed(tm), shaped, keyTagsFor(m))
                sources.MeasurementStore.read(spark, dd, m).foreach(t => tables(m) = t)
              case None => registerMeasurement(tm, shaped.localCheckpoint(true))
            }
          }
        }
      }
  }

  // monotone sequence for subscription batch files + ANY round-robin.
  // Wall-clock-seeded: a restart must not reuse old sequence numbers, or
  // a new spool file would overwrite (destroy) a still-undelivered one.
  private val subSeq =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis() * 1000L)

  /** Subscription FIRING (reference `service/routing.go:101-126`: the
    * statement is replicated to nodes where InfluxDB forwards every write
    * under the subscribed db.rp to the destinations). Two destination
    * kinds: `http(s)://…` POSTs the batch to the remote's InfluxDB
    * `/write` endpoint (SubscriptionHttp — the real subscriber-service
    * behavior); anything else is a directory, the test stand-in, where
    * each batch lands as one line-protocol file. ALL fans out to every
    * destination, ANY round-robins across them (InfluxDB semantics).
    * A failed HTTP delivery is spooled under dataDir/_subs/pending and
    * replayed by retrySubscriptionBacklog — the same hinted-handoff
    * pattern the reference applies to replica writes
    * (`cluster/recovery.go:89-175`); without a dataDir it is dropped,
    * matching the subscriber service's log-and-drop. */
  private def forwardToSubscriptions(measurement: String, lines: Seq[String]): Unit = {
    val (db, rp) = measurementRp.getOrElse(measurement, ("default", "autogen"))
    val matching = subscriptions.toSeq.collect {
      case ((d, r, n), (mode, dests)) if d == db && r == rp => (n, mode, dests)
    }
    if (matching.isEmpty) return
    val body = lines.mkString("\n")
    matching.foreach { case (name, mode, dests) =>
      val seq = subSeq.getAndIncrement()
      val targets = mode match {
        case "ANY" => Seq(dests((seq % dests.length).toInt))
        case _     => dests
      }
      targets.foreach { dest =>
        if (dest.startsWith("http://") || dest.startsWith("https://")) {
          if (!sources.SubscriptionHttp.post(dest, db, rp, body))
            dataDir.foreach { dd =>
              // header line carries the routing triple; '#' is a
              // line-protocol comment so the body stays a valid batch
              writeFile(s"$dd/_subs/pending/$seq-$name.lp",
                s"# dest=$dest db=$db rp=$rp\n$body")
            }
        } else {
          writeFile(s"$dest/$db.$rp.$measurement-$seq-$name.lp", body)
        }
      }
    }
  }

  private def writeFile(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Replay spooled subscription batches whose HTTP delivery failed.
    * Returns the number of batches delivered; delivered spool files are
    * deleted, still-failing ones stay for the next pass (the reference's
    * RecoverNodes cycle, `cluster/recovery.go:187-229`). */
  def retrySubscriptionBacklog(): Int = dataDir.fold(0) { dd =>
    val dir = new org.apache.hadoop.fs.Path(s"$dd/_subs/pending")
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(dir)) return 0
    val Header = """# dest=(\S+) db=(\S+) rp=(\S+)""".r
    f.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".lp"))
      .sortBy(_.getPath.getName).count { st =>
      val in = f.open(st.getPath)
      val text = try {
        val bs = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bs, 65536, false)
        bs.toString("UTF-8")
      } finally in.close()
      text.split("\n", 2) match {
        case Array(Header(dest, db, rp), body)
            if sources.SubscriptionHttp.post(dest, db, rp, body) =>
          f.delete(st.getPath, false); true
        case _ => false
      }
    }
  }

  /** Privilege-gated execution (reference per-statement authorization,
    * query_handler.go:90-114): SELECT/SHOW need READ on the db, writes and
    * DDL need WRITE, user/admin statements need admin. Throws the 403
    * equivalent. When no users exist, auth is open (reference bootstrap
    * behavior before the first admin). */
  /** The privilege class a statement needs — the reference's
    * RequiredPrivileges mapping (query_handler.go:109-117). */
  def requiredPrivilege(stmt: Statement): String = stmt match {
    case _: SelectStmt | _: ShowStmt | _: ShowLimited | ShowQueriesStmt => "READ"
    case _: AuthStmt | _: ShowGrantsStmt | _: KillQuery => "ADMIN"
    case _                                             => "WRITE"
  }

  /** Does `user` hold the privilege `stmt` needs on `db`? Vacuously true
    * while no users exist (bootstrap window, service/auth.go:26-41).
    * Db-scoped: a measurement bound to some OTHER database is out of
    * reach through `db` regardless of privileges — without this, READ on
    * any one database reaches every measurement in the shared physical
    * namespace (the reference isolates data per-db; ADVICE r6). */
  def isAuthorized(user: String, stmt: Statement, db: String): Boolean =
    users.isEmpty || (requiredPrivilege(stmt) match {
      case "ADMIN" => users.list.toMap.getOrElse(user, false) // admin flag
      case p       => users.authorize(user, db, p) &&
        statementMeasurements(stmt).forall(m => ownerDb(m).forall(_ == db))
    })

  def executeAs(user: String, influxql: String, db: String = "default"): DataFrame = {
    val stmt = Parser.parse(influxql)
    if (!isAuthorized(user, stmt, db))
      throw users.AuthException(
        s"""user "$user" is not authorized to ${requiredPrivilege(stmt)} on "$db"""") // 403
    executeStmt(stmt)
  }

  /** Multi-statement request: each ';'-separated statement executes in
    * order, results accumulate (reference query_handler.go:84-87). */
  def executeAll(influxql: String): Seq[DataFrame] =
    Parser.parseAll(influxql).map(executeStmt)

  /** Query → InfluxDB-shaped JSON response (the proxy's wire format).
    * `epoch` mirrors the reference's epoch URL param (coordinator.go:32-46):
    * None → RFC3339 time strings; Some("ns"|"u"|"ms"|"s") → integer epoch.
    *
    * Stream-first: rows come off `toLocalIterator` one partition at a time
    * (see queryJsonStream), never a full collect() — a huge raw SELECT
    * through the proxy path cannot OOM the driver on row buffering; only
    * the returned String itself scales with the result. Callers that need
    * bounded TOTAL memory pass their own Writer to queryJsonStream. */
  def queryJson(influxql: String, epoch: Option[String] = Some("u")): String = {
    val w = new java.io.StringWriter
    queryJsonStream(influxql, w, epoch)
    w.toString
  }

  /** Launch the STREAMING form of a registered continuous query over an
    * unbounded input with columns (ts TIMESTAMP, tags..., field). Two
    * physical forms behind one surface (the unbounded-source half of
    * SURVEY §2.11; the batch half is the writeLineProtocol continuation
    * above):
    *
    *  - mean/sum/count/min/max — incrementally MERGEABLE, so the stored
    *    `SELECT agg(f) INTO target FROM src GROUP BY time(iv)[, tags]`
    *    becomes a stateful ContinuousQuery plan (watermark + dedup +
    *    tumbling window → update-mode sink). State is O(open windows),
    *    zero recompute: the form you want at 100 TB/day ingest.
    *  - everything else (percentile, stddev, top, median, spread, ...) —
    *    holistic aggregates with no bounded merge state, handled by a
    *    foreachBatch bridge that re-runs the stored SELECT through the
    *    full Translator, restricted to the buckets the batch touched
    *    (see startCqStreamGeneral). Full InfluxQL surface, bounded
    *    per-batch recompute. */
  def startCqStream(name: String, input: DataFrame,
      watermark: String = "1 hour",
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val (src, sel, _, _) = cqs.getOrElse(name,
      throw ParseException(s"no such continuous query: $name"))
    val iv = sel.groupByTime.getOrElse(
      throw ParseException("streaming CQ requires GROUP BY time(iv)"))
    // durable engines default the checkpoint under dataDir, so a restarted
    // engine can re-issue startCqStream(name) and RESUME from the last
    // committed source offsets instead of reprocessing (or losing) history —
    // the reference keeps CQs durable server state (importer.go:323-333)
    val cp = checkpoint.orElse(dataDir.map(d => s"$d/_checkpoints/$name"))
    sel.fields match {
      case List(Field(Call(a @ ("mean" | "sum" | "count" | "min" | "max"),
        List(Ident(f))), _)) if dataDir.isEmpty =>
        // incrementally-mergeable fast path: stateful window agg, state
        // bounded by watermark eviction — the in-memory/live form. On a
        // durable engine the general bridge below runs instead: its sink
        // writes through MeasurementStore, which the memory sink cannot.
        val cq = ContinuousQuery.CQ(name, src, f, a,
          s"$iv microseconds", sel.groupByTags, watermark)
        val q = ContinuousQuery.start(spark, input, cq)
        runningStreams.add(q)
        sel.into.foreach { target => // live read-your-writes through the sink
          registerMeasurement(
            TableMeta(target, "time", tags = sel.groupByTags,
              fields = Seq(FieldMeta(a, None))),
            spark.table(name).withColumn("time", unix_micros(col("time"))))
        }
        q
      case _ => startCqStreamGeneral(name, src, sel, iv, input, watermark, cp)
    }
  }

  /** foreachBatch bridge for CQs whose aggregate is NOT incrementally
    * mergeable: each micro-batch (a) merges into the source measurement
    * (read-your-writes, like writeLineProtocol), then (b) re-runs the
    * stored SELECT through the Translator with the WHERE range narrowed
    * to exactly the time buckets the batch touched, and (c) patches those
    * buckets in the INTO target (complement ∪ recomputed slice). Per-batch
    * cost is O(batch + touched-bucket history), never O(full history) —
    * the same bound the stateful path gets from watermark eviction, so
    * the bridge survives an unbounded stream. Matches the reference's CQ
    * semantics (full-fidelity recompute per interval,
    * /root/reference/syncing/importer.go:323-333). */
  private def startCqStreamGeneral(name: String, src: String, sel: SelectStmt,
      ivUs: Long, input: DataFrame, watermark: String,
      checkpoint: Option[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = input.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark() // at-least-once redelivery dedup
      .writeStream
      .queryName(name)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // exactly-once across restarts: the checkpoint replays the last
        // uncommitted batch on recovery, and a durable append must not land
        // twice — skip batch ids at or below the recorded high-water mark
        // (the standard foreachBatch idempotence pattern)
        if (dataDir.isEmpty || batchId > lastCommittedBatch(name)) {
          processCqBatch(name, src, sel, ivUs, batch)
          dataDir.foreach(_ => recordCommittedBatch(name, batchId))
        }
      }
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    val q = writer.start()
    runningStreams.add(q)
    q
  }

  /** Shut this engine down: stop every standing streaming query it
    * started and release ingest caches. The SparkSession is shared and
    * stays up (several engines can coexist on one session — the tests
    * do); metadata and measurement data are already durable, so a
    * close()d engine reconstructs from dataDir like any restart. */
  def close(): Unit = {
    import scala.jdk.CollectionConverters._
    runningStreams.iterator.asScala.foreach { q =>
      try if (q.isActive) q.stop() catch { case _: Exception => () }
    }
    runningStreams.clear()
    pendingCaches.values.flatten.foreach(df => try df.unpersist(false)
      catch { case _: Exception => () })
    pendingCaches.clear()
  }

  /** One general-CQ micro-batch: (a) merge into the source measurement —
    * durably via MeasurementStore.append when dataDir is set (streamed rows
    * previously lived only in the in-memory union and silently vanished on
    * the next writeLineProtocol re-registration or a restart), (b) re-run
    * the stored SELECT restricted to the touched buckets, (c) patch those
    * buckets in the INTO target — durably via the store's bucket swap when
    * dataDir is set, so standing-CQ results survive restart like raw writes
    * do. Per-batch cost stays O(batch + touched-bucket history). */
  private def processCqBatch(name: String, src: String, sel: SelectStmt,
      ivUs: Long, batch: DataFrame): Unit = {
    val srcMeta = tables.get(src).map(_._2).getOrElse(
      TableMeta(src, "time", tags = sel.groupByTags,
        fields = batch.columns.toSeq
          .filterNot(c => c == "ts" || sel.groupByTags.contains(c))
          .map(FieldMeta(_, None))))
    // full write-path shape (time_ns + ts + timeCol), so the union with
    // line-protocol-written history is column-compatible
    val shaped0 = batch
      .withColumn("time_ns", unix_micros(col("ts")) * 1000L)
      .withColumn(srcMeta.timeCol, unix_micros(col("ts")))
    val shaped = srcMeta.rawTimeNs match {
      case Some(ns) => shaped0.withColumn(ns, col("time_ns"))
      case None     => shaped0
    }
    // micro-batch frames are transient — materialize before retaining
    val rows = shaped.localCheckpoint(true)
    if (rows.head(1).nonEmpty) {
      dataDir match {
        case Some(dir) =>
          sources.MeasurementStore.append(spark, dir, bucketed(srcMeta), rows, keyTagsFor(src))
          sources.MeasurementStore.read(spark, dir, src).foreach(t => tables(src) = t)
        case None =>
          val merged = tables.get(src).map(_._1) match {
            case Some(old) if old.columns.sorted.sameElements(rows.columns.sorted) =>
              old.unionByName(rows)
            case _ => rows
          }
          registerMeasurement(srcMeta, compactLineage(src, merged))
      }
      // bucket span this batch touched (bounded by the batch itself)
      val mm = rows.agg(min(col(srcMeta.timeCol)), max(col(srcMeta.timeCol))).head()
      patchIntoTarget(sel, ivUs, mm.getLong(0), mm.getLong(1))
    }
  }

  /** Recompute a CQ's SELECT over just the buckets touched by the µs span
    * [tLoUs, tHiUs] and patch those buckets into the INTO target. Durably
    * only the target's `_tb` buckets the span overlaps are replaced; the
    * rest stay byte-untouched (Structured Streaming's "update" output
    * mode: a trigger touches only the result keys that changed). Shared by
    * the standing streaming path (processCqBatch) and the
    * writeLineProtocol batch continuation, so both stay
    * O(batch + touched-bucket history) per ingest, never O(full history). */
  private def patchIntoTarget(sel: SelectStmt, ivUs: Long,
      tLoUs: Long, tHiUs: Long): Unit = {
    val off = sel.groupByTimeOffset
    val lo = Math.floorDiv(tLoUs - off, ivUs) * ivUs + off
    val hi = (Math.floorDiv(tHiUs - off, ivUs) + 1L) * ivUs + off
    val touched: Expr = Bin("AND",
      Bin(">=", Ident("time"), IntLit(lo)),
      Bin("<", Ident("time"), IntLit(hi)))
    val restricted = sel.copy(into = None,
      where = Some(sel.where.fold(touched)(w => Bin("AND", Paren(w), touched))))
    val (df, m) = Translator.resolve(sel.from, load, () => measurementNames)
    val patch = new Translator(df, m).run(restricted).localCheckpoint(true)
    sel.into.foreach { target =>
      val tags = sel.groupByTags.filter(patch.columns.contains)
      val fields = patch.columns.toSeq
        .filterNot(c => c == "time" || tags.contains(c)).map(FieldMeta(_, None))
      val tMeta = TableMeta(target, "time", tags = tags, fields = fields)
      // a durable target read back from a bucketed directory carries the
      // physical `_tb` column — strip it before the column-compat check or
      // the union would silently replace history instead of patching it.
      // An absent or reshaped target is replaced by the patch as a whole
      val prev = tables.get(target).map(_._1)
        .filter(_.drop("_tb").columns.sorted.sameElements(patch.columns.sorted))
      def patched(p: DataFrame) =
        p.drop("_tb").where(col("time") < lo || col("time") >= hi).unionByName(patch)
      dataDir match {
        case Some(dir) =>
          val live = sources.MeasurementStore.liveBuckets(spark, dir, target)
          val buckets = if (prev.isEmpty) live else sources.MeasurementStore
            .bucketIdsCovering(spark, dir, bucketed(tMeta), lo, hi).filter(live.contains)
          replaceDurable(dir, tMeta,
            prev.fold(patch)(p => patched(sources.MeasurementStore.inBuckets(p, buckets))),
            buckets, "rewrite")
        case None => registerMeasurement(tMeta, compactLineage(target, prev.fold(patch)(patched)))
      }
    }
  }

  // high-water mark for the foreachBatch idempotence guard, one tiny file
  // per CQ beside its checkpoint (Hadoop FS — works on HDFS/S3A too)
  private def batchMarkPath(name: String) =
    new org.apache.hadoop.fs.Path(s"${dataDir.get}/_checkpoints/$name.lastbatch")
  private def lastCommittedBatch(name: String): Long =
    scala.util.Try {
      val p = batchMarkPath(name)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) -1L
      else {
        val in = f.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    }.getOrElse(-1L)
  private def recordCommittedBatch(name: String, id: Long): Unit = {
    val p = batchMarkPath(name)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Bounded-plan guard shared by sustained write paths: every
    * CheckpointEvery merges, cut the union lineage with an eager
    * localCheckpoint (single-JVM analog of at-rest compaction). */
  private def compactLineage(measurement: String, df: DataFrame): DataFrame = {
    val seq = writeSeq.updateWith(measurement) {
      case Some(n) => Some(n + 1)
      case None    => Some(1)
    }.get
    if (seq % CheckpointEvery == 0) df.localCheckpoint(true) else df
  }

  /** Streamed queryJson: O(one partition) driver memory via
    * `toLocalIterator` — the path for raw SELECTs over big time ranges
    * where the buffered proxy shape would OOM the driver. */
  def queryJsonStream(influxql: String, out: java.io.Writer,
      epoch: Option[String] = Some("u")): Unit = {
    val stmts = Parser.parseAll(influxql)
    out.write("""{"results":[""")
    stmts.zipWithIndex.foreach { case (stmt, i) =>
      if (i > 0) out.write(",")
      stmt match {
        case sel: SelectStmt =>
          val id = logQuery(sel, influxql)
          val (df, meta) = Translator.resolve(sel.from, load, () => measurementNames)
          val result = new Translator(df, meta).run(sel)
          val tags = if (sel.groupByAllTags) meta.tags else sel.groupByTags
          withQueryGroup(id, influxql) {
            InfluxJson.serializeStreamResult(Translator.measurementName(sel.from),
              result, out, tags, epoch, timeDesc = sel.orderDesc, sid = i)
          }
        case other =>
          // streamed even for meta/DDL results: SHOW SERIES on a big
          // corpus is unbounded, and collect() must never sit on the
          // query-response path (VERDICT r8 #4)
          InfluxJson.serializeStreamResult("results", executeStmt(other), out, sid = i)
      }
    }
    out.write("]}")
  }

  /** CSV response form (`Accept: application/csv` on /query — the public
    * API's other response encoding; the reference forwards the header to
    * the data node, query_utils.go:107-116). One header per statement,
    * statements separated by a blank line, rows streamed. */
  def queryCsvStream(influxql: String, out: java.io.Writer,
      epoch: Option[String] = Some("u")): Unit =
    Parser.parseAll(influxql).zipWithIndex.foreach { case (stmt, i) =>
      if (i > 0) out.write("\n")
      stmt match {
        case sel: SelectStmt =>
          val id = logQuery(sel, influxql)
          val (df, meta) = Translator.resolve(sel.from, load, () => measurementNames)
          val result = new Translator(df, meta).run(sel)
          val tags = if (sel.groupByAllTags) meta.tags else sel.groupByTags
          withQueryGroup(id, influxql) {
            InfluxCsv.serializeStream(Translator.measurementName(sel.from), result,
              out, tags, epoch, timeDesc = sel.orderDesc)
          }
        case other =>
          InfluxCsv.serializeStream("results", executeStmt(other), out, Nil, epoch)
      }
    }

  /** `chunked=true` proxy form (reference query_utils.go:34-46,118-119):
    * newline-delimited response objects, ≤ chunkSize values per line,
    * `"partial":true` on every non-final chunk of a series; each statement
    * of a multi-statement request chunks under its own statement_id. */
  def queryJsonChunked(influxql: String, out: java.io.Writer,
      chunkSize: Int = 10000, epoch: Option[String] = Some("u")): Unit =
    Parser.parseAll(influxql).zipWithIndex.foreach {
      case (sel: SelectStmt, i) =>
        val id = logQuery(sel, influxql)
        val (df, meta) = Translator.resolve(sel.from, load, () => measurementNames)
        val result = new Translator(df, meta).run(sel)
        val tags = if (sel.groupByAllTags) meta.tags else sel.groupByTags
        withQueryGroup(id, influxql) {
          InfluxJson.serializeChunked(Translator.measurementName(sel.from), result,
            out, chunkSize, tags, epoch, timeDesc = sel.orderDesc, sid = i)
        }
      case (other, i) =>
        out.write("""{"results":[""")
        InfluxJson.serializeStreamResult("results", executeStmt(other), out, sid = i)
        out.write("]}\n")
    }

}

object Engine {
  /** SHOW MEASUREMENTS WITH MEASUREMENT filter: "=name" exact, "~re" regex
    * (the withKey slot's encoding from the parser). */
  def filterMeasurements(names: Seq[String], f: Option[String]): Seq[String] = f match {
    case Some(x) if x.startsWith("=") => names.filter(_ == x.drop(1))
    case Some(x) if x.startsWith("~") =>
      val re = java.util.regex.Pattern.compile(x.drop(1))
      names.filter(n => re.matcher(n).find())
    case _ => names
  }
}
