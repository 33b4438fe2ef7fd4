package graft

import graft.ql.{FieldMeta, TableMeta}

/** Durable write path + retention enforcement (VERDICT r4 items 1-2): data
  * written through the engine must survive a restart (the reference's data
  * nodes persist every fanned-out batch, write_handler.go:157-212), deletes
  * must be at-rest compactions, and RP durations must actually expire rows
  * (syncing/models.go:3-9). */
class DurabilitySpec extends SparkSpec {

  private def tmpDir(): String =
    graft.TempDirs.scratch("graft_durable").toString

  private val meta = TableMeta("dm", "ts_us",
    tags = Seq("type"), fields = Seq(FieldMeta("v", Some(100L))))

  /** (parquet files, bytes) under the measurement's live data directory. */
  private def dataFileStats(dir: String, m: String = "dm"): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(graft.sources.MeasurementStore.dataPath(dir, m))
    val (n, bytes, _) = graft.sources.PartitionSwap.fileStats(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    (n, bytes)
  }

  /** (path, length, mtime) of every file under `root` — byte-untouched
    * evidence: a rewritten directory changes at least one of the three. */
  private def fileState(root: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root)).map(f => (f.getPath, f.length, f.lastModified)).toSet
  }

  test("written points survive an engine restart on the same dataDir") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    val (n, bad) = e1.writeLineProtocol(Seq(
      "dm,type=a v=1 1000000000",
      "dm,type=b v=2 2000000000"), "dm")
    assert(n == 2 && bad == 0)
    assert(e1.execute("SELECT v FROM dm").collect().length == 2)

    val e2 = new Engine(spark, sfDir, Some(dir)) // fresh instance = restart
    val rows = e2.execute("SELECT v FROM dm").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("v"))).toSet
    assert(rows == Set((1000000L, 1.0), (2000000L, 2.0)))
    // restored meta keeps the fixed-point scale: mean stays exact
    assert(e2.execute("SELECT mean(v) FROM dm").collect()
      .head.getAs[Double]("mean") == 1.5)
  }

  test("bulk file ingest: distributed LP text scan lands durable, dead-letters counted") {
    val dir = tmpDir()
    val lp = graft.TempDirs.scratch("graft_lp")
    java.nio.file.Files.write(lp.resolve("part-0.lp"),
      java.util.Arrays.asList(
        "bulk,type=a v=1 1000000000",
        "bulk,type=a v=2 2000000000",
        "this is not line protocol"),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(lp.resolve("part-1.lp"),
      java.util.Arrays.asList("bulk,type=b v=3 3000000000"),
      java.nio.charset.StandardCharsets.UTF_8)

    val e1 = new Engine(spark, sfDir, Some(dir))
    val (ok, bad) = e1.ingestLineProtocolFiles(lp.toString, "bulk")
    assert(ok == 3 && bad == 1, s"ok=$ok bad=$bad")
    // inferred schema + durable landing: a RESTARTED engine serves it
    val e2 = new Engine(spark, sfDir, Some(dir))
    val rows = e2.execute("SELECT v FROM bulk").collect()
      .map(_.getAs[Double]("v")).toSet
    assert(rows == Set(1.0, 2.0, 3.0))
  }

  test("appends accumulate across restarts; SHOW MEASUREMENTS sees restored tables") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.writeLineProtocol(Seq("dm,type=a v=1 1000000000"), "dm")
    val e2 = new Engine(spark, sfDir, Some(dir))
    e2.writeLineProtocol(Seq("dm,type=b v=2 2000000000"), "dm")
    assert(e2.execute("SELECT v FROM dm").collect().length == 2)
    assert(e2.execute("SHOW MEASUREMENTS").collect().map(_.getString(0)).contains("dm"))
  }

  test("SELECT INTO targets are durable; CQ continuation patches them incrementally") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.writeLineProtocol(Seq(
      "dm,type=a v=1 1000000000",
      "dm,type=a v=3 2000000000",
      "dm,type=b v=2 61000000000"), "dm")
    // explicit batch SELECT INTO lands durably
    e1.execute("SELECT mean(v) INTO dm_1m FROM dm GROUP BY time(1m)")
    def m1(e: Engine) = e.execute("SELECT * FROM dm_1m").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("mean"))).toSet
    assert(m1(e1) == Set((0L, 2.0), (60000000L, 2.0)))

    val e2 = new Engine(spark, sfDir, Some(dir)) // restart
    assert(m1(e2) == Set((0L, 2.0), (60000000L, 2.0)))

    // a CQ's per-write continuation keeps the durable target current —
    // and only the touched bucket changes, prior buckets stay as-is
    e2.execute("CREATE CONTINUOUS QUERY cq1m ON default BEGIN " +
      "SELECT mean(v) INTO dm_1m FROM dm GROUP BY time(1m) END")
    e2.writeLineProtocol(Seq("dm,type=b v=4 62000000000"), "dm")
    assert(m1(e2) == Set((0L, 2.0), (60000000L, 3.0)))

    val e3 = new Engine(spark, sfDir, Some(dir)) // restart again
    assert(m1(e3) == Set((0L, 2.0), (60000000L, 3.0)))
  }

  test("DELETE FROM compacts at rest and survives restart") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.writeLineProtocol(Seq(
      "dm,type=a v=1 1000000000",
      "dm,type=b v=2 2000000000"), "dm")
    e1.execute("DELETE FROM dm WHERE type = 'a'")
    assert(e1.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet == Set(2.0))

    val e2 = new Engine(spark, sfDir, Some(dir))
    assert(e2.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet == Set(2.0))
  }

  test("full DELETE leaves an empty but queryable measurement across restart") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.writeLineProtocol(Seq("dm,type=a v=1 1000000000"), "dm")
    e1.execute("DELETE FROM dm")
    assert(e1.execute("SELECT v FROM dm").collect().isEmpty)
    val e2 = new Engine(spark, sfDir, Some(dir))
    assert(e2.execute("SELECT v FROM dm").collect().isEmpty)
  }

  test("DROP MEASUREMENT removes the at-rest directory") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.writeLineProtocol(Seq("dm,type=a v=1 1000000000"), "dm")
    e1.execute("DROP MEASUREMENT dm")
    val e2 = new Engine(spark, sfDir, Some(dir))
    assertThrows[graft.ql.ParseException](e2.execute("SELECT v FROM dm").collect())
  }

  test("partition key lays tag values out as partition directories") {
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    e.execute("CREATE PARTITION KEY type ON default.dm")
    e.registerMeasurement(meta, spark.emptyDataFrame)
    e.writeLineProtocol(Seq(
      "dm,type=a v=1 1000000000",
      "dm,type=b v=2 2000000000"), "dm")
    // layout: time bucket OUTERMOST (shard-group analog), then key tags
    val buckets = new java.io.File(s"$dir/dm/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(buckets == Set("_tb=0"), buckets)
    val sub = new java.io.File(s"$dir/dm/data/_tb=0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(sub == Set("type=a", "type=b")) // read-side pruning comes free
    // tag column restored from the directory name (string, inference off)
    val rows = e.execute("SELECT v FROM dm WHERE type = 'b'").collect()
    assert(rows.map(_.getAs[Double]("v")).toSet == Set(2.0))
  }

  test("metadata catalog survives restart: RPs, users, CQs, subscriptions, partition keys, RP bindings") {
    val dir = tmpDir()
    val now = 10L * 3600 * 1000000 // epoch +10h, µs
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.nowUs = () => now
    e1.execute("CREATE RETENTION POLICY short ON default DURATION 1h REPLICATION 1")
    e1.execute("CREATE USER boss WITH PASSWORD 'pw' WITH ALL PRIVILEGES")
    e1.execute("CREATE PARTITION KEY type ON default.dm")
    e1.execute("CREATE SUBSCRIPTION hook ON default.autogen DESTINATIONS ALL 'dest-a', 'dest-b'")
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.setRetentionPolicy("dm", "default", "short")
    e1.writeLineProtocol(Seq(
      s"dm,type=a v=1 ${(now - 2L * 3600 * 1000000) * 1000}",  // expired under short
      s"dm,type=b v=2 ${(now - 10L * 60 * 1000000) * 1000}"), "dm")
    e1.execute("CREATE CONTINUOUS QUERY cqm ON default BEGIN " +
      "SELECT mean(v) INTO dm_m FROM dm GROUP BY time(1h) END")

    val e2 = new Engine(spark, sfDir, Some(dir)) // restart
    e2.nowUs = () => now
    assert(e2.execute("SHOW RETENTION POLICIES ON default").collect()
      .map(_.getString(0)).contains("short"))
    assert(e2.execute("SHOW USERS").collect().map(_.getString(0)).contains("boss"))
    assert(e2.execute("SHOW CONTINUOUS QUERIES").collect()
      .map(_.getString(1)).contains("cqm"))
    assert(e2.execute("SHOW SUBSCRIPTIONS").collect()
      .map(r => (r.getString(2), r.getString(4))).contains(("hook", "dest-a, dest-b")))
    assert(e2.execute("SHOW PARTITION KEYS").collect()
      .map(r => (r.getString(1), r.getString(2))).contains(("dm", "type")))
    // auth stays CLOSED: the restored user catalog is non-empty, so an
    // unknown user is rejected (r5's restart reopened auth entirely)
    val denied = intercept[RuntimeException](e2.executeAs("nobody", "SELECT v FROM dm"))
    assert(denied.getMessage.contains("not authorized"))
    assert(e2.executeAs("boss", "SELECT v FROM dm").collect().nonEmpty)
    // retention stays ENFORCED: the measurement→RP binding survived, so the
    // 2h-old point is still invisible (r5's restart reverted to autogen)
    assert(e2.execute("SELECT v FROM dm").collect()
      .map(_.getAs[Double]("v")).toSet == Set(2.0))
    // the restored CQ's INTO target answers immediately (lazy backfill
    // over the durable source), before any new write re-triggers the CQ
    assert(e2.execute("SELECT mean FROM dm_m").collect()
      .map(_.getAs[Double]("mean")).toSet == Set(2.0))
    // and the CQ is still LIVE: a fresh write refreshes its INTO target
    e2.writeLineProtocol(Seq(s"dm,type=b v=4 ${(now - 5L * 60 * 1000000) * 1000}"), "dm")
    assert(e2.execute("SELECT mean FROM dm_m").collect()
      .map(_.getAs[Double]("mean")).toSet == Set(3.0))
  }

  test("restart + append keeps the partitioned directory layout readable") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.execute("CREATE PARTITION KEY type ON default.dm")
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.writeLineProtocol(Seq("dm,type=a v=1 1000000000"), "dm")

    val e2 = new Engine(spark, sfDir, Some(dir)) // restart
    e2.writeLineProtocol(Seq("dm,type=b v=2 2000000000"), "dm")
    // both appends landed as tag=value partition directories — no mixed
    // layout ('Conflicting directory structures'), no lost tag column
    // both appends share the _tb=0 bucket; tag dirs nest under it
    val entries = new java.io.File(s"$dir/dm/data/_tb=0").listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq
    assert(entries.forall(_.isDirectory))
    assert(entries.map(_.getName).toSet == Set("type=a", "type=b"))
    assert(e2.execute("SELECT v FROM dm WHERE type = 'b'").collect()
      .map(_.getAs[Double]("v")).toSet == Set(2.0))

    // even after the key is dropped, the at-rest layout keeps winning
    e2.execute("DROP PARTITION KEY ON default.dm")
    e2.writeLineProtocol(Seq("dm,type=c v=3 3000000000"), "dm")
    assert(e2.execute("SELECT v FROM dm").collect().length == 3)
    val after = new java.io.File(s"$dir/dm/data/_tb=0").listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")).toSeq
    assert(after.forall(_.isDirectory) && after.map(_.getName).contains("type=c"))
  }

  test("a torn meta file skips that measurement but does not prevent engine start") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    e1.writeLineProtocol(Seq("dm,type=a v=1 1000000000"), "dm")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/dm/meta"),
      "corrupt".getBytes) // crash mid-write stand-in
    val e2 = new Engine(spark, sfDir, Some(dir)) // must not throw
    assert(!e2.execute("SHOW MEASUREMENTS").collect().map(_.getString(0)).contains("dm"))
  }

  test("compaction merges small files, keeps rows identical, and appends still work") {
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    e.registerMeasurement(meta, spark.emptyDataFrame)
    (1 to 20).foreach { i =>
      e.writeLineProtocol(Seq(s"dm,type=t$i v=$i ${i.toLong * 1000000000}"), "dm")
    }
    def stats() = dataFileStats(dir)
    assert(stats()._1 >= 20) // one+ file per append
    val before = e.execute("SELECT v FROM dm").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("v"))).toSet

    e.maintain(compactIfMoreThan = 4)
    assert(stats()._1 <= 4) // tiny table → ~1 file
    // compaction marked the schema uniform: scans skip mergeSchema now
    assert(graft.sources.MeasurementStore.isUniform(spark, dir, "dm"))
    val after = e.execute("SELECT v FROM dm").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("v"))).toSet
    assert(after == before) // purely physical

    // appends keep working and stay visible (and clear the uniform flag)
    e.writeLineProtocol(Seq("dm,type=z v=99 21000000000000"), "dm")
    assert(!graft.sources.MeasurementStore.isUniform(spark, dir, "dm"))
    assert(e.execute("SELECT v FROM dm").collect().length == 21)
    // a restart sees the compacted + appended state
    val e2 = new Engine(spark, sfDir, Some(dir))
    assert(e2.execute("SELECT v FROM dm").collect().length == 21)
  }

  test("bucketed compaction rewrites only hot buckets, keeps rows, leaves cold buckets untouched") {
    import graft.sources.MeasurementStore
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val bmeta = meta.copy(bucketUs = Some(3600L * 1000000L))
    // bucket 0 goes COLD after 2 appends; bucket 1 runs HOT (10 appends
    // of small batches — the append-only file debris compaction exists for)
    (1 to 2).foreach { i =>
      MeasurementStore.append(spark, dir, bmeta,
        Seq((i.toLong * 1000000L, s"t${i % 2}", i.toDouble)).toDF("ts_us", "type", "v"),
        keyTags = Seq("type"), timeBounds = Some((i.toLong * 1000000L, i.toLong * 1000000L)))
    }
    (1 to 10).foreach { i =>
      val ts = 3600L * 1000000L + i.toLong * 1000000L
      MeasurementStore.append(spark, dir, bmeta,
        Seq((ts, s"t${i % 2}", i.toDouble)).toDF("ts_us", "type", "v"),
        keyTags = Seq("type"), timeBounds = Some((ts, ts)))
    }
    def files(sub: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir, "dm", "data", sub)
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(q => q.toString -> java.nio.file.Files.size(q)).toMap
      finally st.close()
    }
    val cold0 = files("_tb=0")
    assert(files("_tb=1").size >= 10)
    val before = MeasurementStore.read(spark, dir, "dm").get._1
      .select("ts_us", "type", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

    val done = MeasurementStore.compact(spark, dir, "dm", ifMoreThan = 4)
    // only the hot bucket compacted; its file count collapsed to one per
    // tag value; the cold bucket's files are byte-identical
    assert(done.map(_._1) == Seq(1L), s"compacted: $done")
    assert(files("_tb=1").size == 2) // tag values t0, t1 → one file each
    assert(files("_tb=0") == cold0)
    // purely physical: same rows; previous generation parked for lazy readers
    val after = MeasurementStore.read(spark, dir, "dm").get._1
      .select("ts_us", "type", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(after == before)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "dm", "compact.old", "_tb=1")))

    // appends keep working afterwards, and a re-compaction replaces the
    // parked generation rather than stacking a second one
    val ts2 = 3600L * 1000000L + 999L * 1000000L
    (1 to 6).foreach { i =>
      MeasurementStore.append(spark, dir, bmeta,
        Seq((ts2 + i, "t0", 9.9)).toDF("ts_us", "type", "v"),
        keyTags = Seq("type"), timeBounds = Some((ts2 + i, ts2 + i)))
    }
    val done2 = MeasurementStore.compact(spark, dir, "dm", ifMoreThan = 4)
    assert(done2.map(_._1) == Seq(1L))
    assert(MeasurementStore.read(spark, dir, "dm").get._1.count() == before.size + 6)
  }

  test("Engine.maintain routes bucketed measurements to per-bucket compaction") {
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    val bmeta = meta.copy(bucketUs = Some(3600L * 1000000L))
    e.registerMeasurement(bmeta, spark.emptyDataFrame)
    (1 to 12).foreach { i =>
      e.writeLineProtocol(Seq(s"dm,type=t${i % 2} v=$i ${i.toLong * 1000000000}"), "dm")
    }
    val before = e.execute("SELECT v FROM dm").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("v"))).toSet
    e.maintain(compactIfMoreThan = 4)
    val (filesAfter, _) = dataFileStats(dir)
    assert(filesAfter <= 4, s"files=$filesAfter")
    val after = e.execute("SELECT v FROM dm").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("v"))).toSet
    assert(after == before)
    // the engine keeps answering after the swap (fresh listing)
    e.writeLineProtocol(Seq("dm,type=z v=99 999000000000"), "dm")
    assert(e.execute("SELECT v FROM dm").collect().length == 13)
  }

  test("two engines interleaving appends on one measurement: no lost rows, schema widenings union") {
    val dir = tmpDir()
    val e1 = new Engine(spark, sfDir, Some(dir))
    val e2 = new Engine(spark, sfDir, Some(dir)) // same dataDir, live simultaneously
    e1.registerMeasurement(meta, spark.emptyDataFrame)
    // interleave appends from both engines, including a schema widening
    // from EACH side (v stays, e1 adds w, e2 adds u) — the meta merge must
    // keep every declaration, the data files never overwrite
    e1.writeLineProtocol(Seq("dm,type=a v=1 1000000000"), "dm")
    e2.writeLineProtocol(Seq("dm,type=b v=2 2000000000"), "dm")
    e1.writeLineProtocol(Seq("dm,type=a v=3,w=30 3000000000"), "dm")
    e2.writeLineProtocol(Seq("dm,type=b v=4,u=40 4000000000"), "dm")
    e1.writeLineProtocol(Seq("dm,type=a v=5 5000000000"), "dm")

    // CONCURRENT interleaving: both engines hammer the same measurement
    // from separate threads (the JVM-scoped writer lock serializes the
    // layout decision + meta swap; parquet part files are job-unique)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (0 until 8).map { i =>
        val e = if (i % 2 == 0) e1 else e2
        pool.submit(new Runnable {
          def run(): Unit =
            e.writeLineProtocol(Seq(s"dm,type=c v=${100 + i} ${(10L + i) * 1000000000}"), "dm")
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()

    // a FRESH engine (restart) sees every row from both writers and the
    // union schema — nothing torn, nothing lost
    val e3 = new Engine(spark, sfDir, Some(dir))
    val rows = e3.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet
    assert(rows == (Set(1.0, 2.0, 3.0, 4.0, 5.0) ++ (0 until 8).map(i => 100.0 + i)), rows)
    assert(e3.execute("SELECT w FROM dm").collect()
      .flatMap(r => Option(r.get(r.fieldIndex("w")))).map(_.asInstanceOf[Double]).toSet == Set(30.0))
    assert(e3.execute("SELECT u FROM dm").collect()
      .flatMap(r => Option(r.get(r.fieldIndex("u")))).map(_.asInstanceOf[Double]).toSet == Set(40.0))
  }

  test("cross-process writer lock: foreign lock blocks with a clear error, stale lock breaks, lock releases") {
    import graft.sources.MeasurementStore
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    val batch = Seq((1000000L, "a", 1.0)).toDF("ts_us", "type", "v")
    // simulate ANOTHER process holding the lease: plant its lock file
    val mdir = java.nio.file.Paths.get(dir, "dm")
    java.nio.file.Files.createDirectories(mdir)
    val lock = mdir.resolve(".writer.lock")
    java.nio.file.Files.write(lock, "other-process".getBytes)
    spark.conf.set("graft.store.lockWaitMs", "300")
    try {
      val err = intercept[IllegalStateException] {
        MeasurementStore.append(spark, dir, meta, batch)
      }
      assert(err.getMessage.contains("write-locked by another process"))
      assert(err.getMessage.contains(".writer.lock"))
      // crashed holder: age the lock past staleMs — the writer breaks it
      // and proceeds
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
      MeasurementStore.append(spark, dir, meta, batch)
      val (df, _) = MeasurementStore.read(spark, dir, "dm").get
      assert(df.count() == 1)
      // the lease is released after the write completes
      assert(!java.nio.file.Files.exists(lock))
    } finally spark.conf.unset("graft.store.lockWaitMs")
  }

  test("single-bucket fast-path append lands the identical layout as the dynamic write") {
    import graft.sources.MeasurementStore
    val s = spark
    import s.implicits._
    val bmeta = meta.copy(bucketUs = Some(3600L * 1000000L))
    val batch = Seq(
      (1000000L, "a", 1.0), (2000000L, "b", 2.0), (3000000L, "a", 3.0))
      .toDF("ts_us", "type", "v")
    def partDirs(dir: String) = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "dm", "data"))
      try st.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).filter(_.contains("=")).toSet
      finally st.close()
    }
    val dynDir = tmpDir()
    MeasurementStore.append(spark, dynDir, bmeta, batch, keyTags = Seq("type"))
    val fastDir = tmpDir()
    MeasurementStore.append(spark, fastDir, bmeta, batch, keyTags = Seq("type"),
      timeBounds = Some((1000000L, 3000000L))) // one 1 h bucket
    assert(partDirs(fastDir) == partDirs(dynDir))
    assert(partDirs(fastDir).exists(_.startsWith("_tb=")))
    def rows(dir: String) = MeasurementStore.read(spark, dir, "dm").get._1
      .select("ts_us", "type", "v", "_tb").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getAs[Any](3).toString)).toSet
    assert(rows(fastDir) == rows(dynDir))
    // bounds spanning two buckets must NOT take the static path
    val wide = Seq((1000000L, "a", 1.0), (7200000000L, "b", 2.0)).toDF("ts_us", "type", "v")
    val wideDir = tmpDir()
    MeasurementStore.append(spark, wideDir, bmeta, wide, keyTags = Seq("type"),
      timeBounds = Some((1000000L, 7200000000L)))
    assert(partDirs(wideDir).count(_.startsWith("_tb=")) == 2)
  }

  test("retention expiry drops only fully-expired time-bucket directories") {
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    val hourUs = 3600L * 1000000
    val now = 10 * hourUs + hourUs / 2 // 10h30 → cut 9h30, NOT bucket-aligned
    e.nowUs = () => now
    e.execute("CREATE RETENTION POLICY short ON default DURATION 1h REPLICATION 1")
    e.registerMeasurement(meta, spark.emptyDataFrame)
    e.setRetentionPolicy("dm", "default", "short") // 1h RP → 1h buckets
    def ns(us: Long) = us * 1000
    e.writeLineProtocol(Seq(
      s"dm,type=a v=1 ${ns(8 * hourUs + 20 * 60000000L)}", // bucket 8: fully expired
      s"dm,type=b v=2 ${ns(9 * hourUs + 10 * 60000000L)}", // bucket 9: expired row, LIVE bucket
      s"dm,type=c v=3 ${ns(10 * hourUs + 10 * 60000000L)}"), "dm") // bucket 10: live
    def live() = e.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet
    assert(live() == Set(3.0)) // cutoff masks buckets 8 and 9's expired rows

    // byte-untouched evidence for the surviving buckets (VERDICT r15 #7):
    // capture every live file's (path, length, mtime) before the pass
    def fileState(tb: Int) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/dm/data/_tb=$tb"))
        .map(f => (f.getPath, f.length, f.lastModified)).toSet
    }
    val live9 = fileState(9)
    val live10 = fileState(10)
    val rpsBefore = e.execute("SHOW RETENTION POLICIES ON default")
      .collect().map(_.toString).toSet

    e.enforceRetention()
    // file-level: ONLY the fully-expired bucket directory was dropped — the
    // boundary bucket straddling the cutoff keeps its file (rows stay
    // masked at read time), the live bucket is untouched
    val dirs = new java.io.File(s"$dir/dm/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("_tb=9", "_tb=10"), dirs)
    assert(live() == Set(3.0))
    // the dropped bucket sits in the expiry grace dir until the next pass
    assert(new java.io.File(s"$dir/dm/expired.old/_tb=8").exists())
    // the survivors are BYTE-untouched (same files, lengths, mtimes): the
    // pass is a partition drop, never a rewrite of live data
    assert(fileState(9) == live9, "boundary bucket was rewritten")
    assert(fileState(10) == live10, "live bucket was rewritten")
    // and the RP metadata is not consumed by enforcement: SHOW RETENTION
    // POLICIES answers identically after the pass
    assert(e.execute("SHOW RETENTION POLICIES ON default")
      .collect().map(_.toString).toSet == rpsBefore)
    // idempotent: a second pass finds nothing to drop and changes nothing
    e.enforceRetention()
    assert(fileState(9) == live9 && fileState(10) == live10)
    assert(live() == Set(3.0))

    // restart under the same pinned clock: layout + enforcement survive
    val e2 = new Engine(spark, sfDir, Some(dir))
    e2.nowUs = () => now
    assert(e2.execute("SELECT v FROM dm").collect()
      .map(_.getAs[Double]("v")).toSet == Set(3.0))
  }

  test("retention: expired rows invisible at read time, reclaimed by enforceRetention; autogen keeps all") {
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    val now = 10L * 3600 * 1000000 // epoch +10h, µs
    e.nowUs = () => now
    e.execute("CREATE RETENTION POLICY short ON default DURATION 1h REPLICATION 1")
    e.registerMeasurement(meta, spark.emptyDataFrame)
    // rp-bound measurement: one point 2h old (expired), one 10min old
    e.setRetentionPolicy("dm", "default", "short")
    e.writeLineProtocol(Seq(
      s"dm,type=a v=1 ${(now - 2L * 3600 * 1000000) * 1000}",
      s"dm,type=b v=2 ${(now - 10L * 60 * 1000000) * 1000}"), "dm")
    // autogen-bound measurement with the same ancient point keeps it
    val meta2 = TableMeta("dk", "ts_us", tags = Seq("type"),
      fields = Seq(FieldMeta("v", Some(100L))))
    e.registerMeasurement(meta2, spark.emptyDataFrame)
    e.writeLineProtocol(Seq(s"dk,type=a v=1 ${(now - 2L * 3600 * 1000000) * 1000}"), "dk")

    assert(e.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet == Set(2.0))
    assert(e.execute("SELECT v FROM dk").collect().map(_.getAs[Double]("v")).toSet == Set(1.0))

    e.enforceRetention() // at-rest compaction
    val atRest = spark.read.parquet(s"$dir/dm/data").collect()
    assert(atRest.length == 1) // the expired row is physically gone
    assert(spark.read.parquet(s"$dir/dk/data").count() == 1) // infinite RP untouched

    // survivors stay correct across a restart — and the RP binding itself
    // is durable now, so the restarted engine keeps enforcing `short`
    // (with the clock still pinned, the 10-minute-old point survives)
    val e2 = new Engine(spark, sfDir, Some(dir))
    e2.nowUs = () => now
    assert(e2.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet == Set(2.0))
  }

  test("each retention pass parks only its own expired buckets under expired.old") {
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    val hourUs = 3600L * 1000000
    var now = 10 * hourUs + hourUs / 2 // cut 9h30: bucket 8 expires
    e.nowUs = () => now
    e.execute("CREATE RETENTION POLICY short ON default DURATION 1h REPLICATION 1")
    e.registerMeasurement(meta, spark.emptyDataFrame)
    e.setRetentionPolicy("dm", "default", "short") // 1h RP → 1h buckets
    e.writeLineProtocol((8 to 10).map(h =>
      s"dm,type=a v=$h ${(h * hourUs + 45 * 60000000L) * 1000}"), "dm")
    def parked() = new java.io.File(s"$dir/dm/expired.old").listFiles()
      .map(_.getName).toSet
    e.enforceRetention()
    assert(parked() == Set("_tb=8"))
    now += hourUs // cut 10h30: bucket 9 expires
    e.enforceRetention()
    assert(parked() == Set("_tb=9"), "an earlier pass's bucket was never freed")
    assert(e.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet == Set(10.0))
  }

  test("retention on a legacy unbucketed layout rewrites it without the expired rows") {
    import graft.sources.MeasurementStore
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    val hourUs = 3600L * 1000000
    val now = 10 * hourUs
    // `meta` has no bucket width: the directory is the legacy `data/` layout
    MeasurementStore.append(spark, dir, meta,
      Seq((now - 2 * hourUs, "a", 1.0), (now - 60000000L, "b", 2.0)).toDF("ts_us", "type", "v"))
    assert(MeasurementStore.loadMeta(spark, dir, "dm").get.bucketUs.isEmpty)
    val e = new Engine(spark, sfDir, Some(dir))
    e.nowUs = () => now
    e.execute("CREATE RETENTION POLICY short ON default DURATION 1h REPLICATION 1")
    e.setRetentionPolicy("dm", "default", "short")
    e.enforceRetention()
    assert(spark.read.parquet(s"$dir/dm/data").select("v").as[Double].collect().toSet == Set(2.0),
      "the expired row is still at rest")
    assert(new java.io.File(s"$dir/dm/expired.old/data").isDirectory)
    assert(MeasurementStore.loadMeta(spark, dir, "dm").get.bucketUs.isEmpty) // still legacy
  }

  test("a CQ patch replaces only the target buckets it touched; the others stay byte-identical") {
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    e.registerMeasurement(meta, spark.emptyDataFrame)
    val dayNs = 86400L * 1000000000L
    // autogen → 7-day buckets: the target spans three of them
    e.writeLineProtocol(Seq(
      s"dm,type=a v=1 ${dayNs / 2}",
      s"dm,type=a v=2 ${8 * dayNs}",
      s"dm,type=a v=3 ${15 * dayNs}"), "dm")
    e.execute("CREATE CONTINUOUS QUERY cq1h ON default BEGIN " +
      "SELECT mean(v) INTO dm_1h FROM dm GROUP BY time(1h) END")
    val buckets = new java.io.File(s"$dir/dm_1h/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(buckets == Set("_tb=0", "_tb=1", "_tb=2"), buckets)
    val cold0 = fileState(s"$dir/dm_1h/data/_tb=0")
    val cold1 = fileState(s"$dir/dm_1h/data/_tb=1")
    val hot2 = fileState(s"$dir/dm_1h/data/_tb=2")

    e.writeLineProtocol(Seq(s"dm,type=b v=5 ${15 * dayNs + 60L * 1000000000L}"), "dm")
    assert(fileState(s"$dir/dm_1h/data/_tb=0") == cold0, "untouched bucket 0 was rewritten")
    assert(fileState(s"$dir/dm_1h/data/_tb=1") == cold1, "untouched bucket 1 was rewritten")
    assert(fileState(s"$dir/dm_1h/data/_tb=2") != hot2, "the touched bucket was not patched")
    def target(e: Engine) = e.execute("SELECT * FROM dm_1h").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("mean"))).toSet
    val hourUs = 3600L * 1000000L
    val expect = Set((12 * hourUs, 1.0), (8 * 24 * hourUs, 2.0), (15 * 24 * hourUs, 4.0))
    assert(target(e) == expect)
    assert(target(new Engine(spark, sfDir, Some(dir))) == expect) // restart
  }

  test("maintain() on a store with one file per leaf directory rewrites nothing") {
    import graft.sources.MeasurementStore
    val dir = tmpDir()
    val e = new Engine(spark, sfDir, Some(dir))
    e.execute("CREATE PARTITION KEY type ON default.dm")
    e.registerMeasurement(meta, spark.emptyDataFrame)
    // two clustered appends: one file in each of 8 tag directories of _tb=0
    def lines(r: Range) = r.map(i => s"dm,type=t$i v=$i ${(i + 1) * 1000000000L}")
    e.writeLineProtocol(lines(0 until 4), "dm")
    assert(MeasurementStore.isUniform(spark, dir, "dm")) // one write, one schema
    e.writeLineProtocol(lines(4 until 8), "dm")
    assert(!MeasurementStore.isUniform(spark, dir, "dm"))
    assert(dataFileStats(dir)._1 == 8)
    val before = fileState(s"$dir/dm/data")
    val rows = e.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet

    e.maintain(compactIfMoreThan = 4) // 8 files > 4, but every leaf holds one
    assert(fileState(s"$dir/dm/data") == before, "an already-compact bucket was rewritten")
    assert(!new java.io.File(s"$dir/dm/compact.old").exists())
    // nothing rewritten, yet every file provably has one schema again
    assert(MeasurementStore.isUniform(spark, dir, "dm"))
    assert(e.execute("SELECT v FROM dm").collect().map(_.getAs[Double]("v")).toSet == rows)
  }
}
