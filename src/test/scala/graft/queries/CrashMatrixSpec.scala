package graft.queries

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The consolidated crash-window matrix (VERDICT r18 #7): one spec that
  * kills a simulated maintainer at each marker boundary of
  * `CRASH_MATRIX.md` and asserts the documented read behavior AND the
  * heal's forward/rollback decision. Rows whose full heal is pinned by a
  * family spec assert the cheap half here and cite the rest; the
  * source-scan test at the bottom is the "any future marker must add a
  * row" enforcement.
  */
class CrashMatrixSpec extends SparkSpec {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text")

  private def ranks(idx: String): Set[(Long, Long, Int)] =
    TextIndex.bm25RankIndexed(spark, sfDir, idx, 10, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("rows 1+2: text fold.tmp alone rolls BACK; fold.consumed rolls " +
      "FORWARD after a read refusal") {
    val s = spark
    val idx = graft.TempDirs.scratch("cm_fold").toString
    val ref = graft.TempDirs.scratch("cm_fold_ref").toString
    val base = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    TextIndex.bm25Build(base, idx)
    TextIndex.bm25Append(s, batch, idx) // lands in the delta tier
    TextIndex.bm25Build(docs, ref)
    val expect = ranks(ref)

    val delta = new Path(s"$idx/postings.delta.parquet")
    val tmp = new Path(s"$idx/postings.fold.tmp")
    val consumed = new Path(s"$idx/postings.fold.consumed")
    // the REAL fold marks df.dirty (touched buckets) before touching any
    // file — a faithful kill leaves the marker too; '*' = all buckets
    def markDfDirty(): Unit = {
      val out = fs.create(new Path(s"$idx/df.dirty"), true)
      out.write("*".getBytes("UTF-8")); out.close()
    }
    def stageTmpImage(): Unit =
      s.read.parquet(delta.toString).repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(tmp.toString)

    // row 1: df.dirty + tmp, delta still live (fold died mid image
    // write) — reads refuse on the marker; heal re-derives df and
    // discards the tmp (ROLLBACK), the delta refolds later
    markDfDirty()
    stageTmpImage()
    val e1 = intercept[RuntimeException](ranks(idx))
    assert(e1.getMessage.contains("unreconciled df window"),
      s"row 1: expected the df-marker refusal, got: ${e1.getMessage}")
    TextIndex.reconcile(s, idx)
    assert(!fs.exists(tmp), "row 1: rollback must delete fold.tmp")
    assert(fs.exists(delta), "row 1: rollback must leave the delta live")
    assert(ranks(idx) == expect, "row 1: rolled-back content diverged")

    // row 2: df.dirty + consumed + tmp (fold committed, rows parked) —
    // reads refuse on the debris, heal moves the parked files in
    // (FORWARD) and re-derives df
    markDfDirty()
    stageTmpImage()
    assert(fs.rename(delta, consumed), "fixture: delta -> consumed")
    val e = intercept[RuntimeException](ranks(idx))
    assert(e.getMessage.contains("committed-but-unfinished"),
      s"row 2: expected the fold-window refusal, got: ${e.getMessage}")
    TextIndex.reconcile(s, idx)
    assert(!fs.exists(tmp) && !fs.exists(consumed) && !fs.exists(delta),
      "row 2: forward heal must clear tmp, consumed and delta")
    assert(ranks(idx) == expect, "row 2: forward-healed content diverged")
  }

  test("row 3: an orphaned partitioned-swap bucket refuses reads and " +
      "heals FORWARD") {
    val s = spark
    val idx = graft.TempDirs.scratch("cm_swap").toString
    TextIndex.bm25Build(docs, idx)
    val expect = ranks(idx)
    val liveRoot = new Path(s"$idx/postings.parquet")
    val bucket = fs.listStatus(liveRoot)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("tb="))
      .head.getPath
    val parked = new Path(s"$idx/postings.del.tmp/${bucket.getName}")
    fs.mkdirs(parked.getParent)
    assert(fs.rename(bucket, parked), "fixture: park the bucket")
    val e = intercept[RuntimeException](ranks(idx))
    assert(e.getMessage.contains("unfinished postings.del swap"),
      s"row 3: expected the orphan refusal, got: ${e.getMessage}")
    TextIndex.reconcile(s, idx)
    assert(fs.exists(new Path(liveRoot, bucket.getName)),
      "row 3: forward heal must rename the orphan back into the live layout")
    assert(ranks(idx) == expect, "row 3: forward-healed content diverged")
  }

  /** A durable measurement with rows in two 7-day buckets, _tb=0 and _tb=1. */
  private def durableStore(tag: String): (String, Set[(Long, Double)]) = {
    val dir = graft.TempDirs.scratch(tag).toString
    val e = new graft.Engine(spark, sfDir, Some(dir))
    val dayNs = 86400L * 1000000000L
    e.writeLineProtocol(Seq(
      s"cm,host=a v=1 ${dayNs}", s"cm,host=b v=2 ${2 * dayNs}",
      s"cm,host=a v=3 ${9 * dayNs}"), "cm")
    (dir, rowsOf(new graft.Engine(spark, sfDir, Some(dir))))
  }

  private def rowsOf(e: graft.Engine): Set[(Long, Double)] =
    e.execute("SELECT v FROM cm").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("v"))).toSet

  test("rows 3+4 (store): an orphaned <ns>.tmp bucket rolls FORWARD at " +
      "Engine restore; a tmp bucket beside its live bucket is discarded") {
    // row 3: a rewrite died between the bucket's two renames — live
    // parked, the replacement staged under rewrite.tmp, nothing live
    val (dir, expect) = durableStore("cm_store_fwd")
    val live = new Path(s"$dir/cm/data/_tb=0")
    val staged = new Path(s"$dir/cm/rewrite.tmp/_tb=0")
    fs.mkdirs(staged.getParent)
    assert(fs.rename(live, staged), "fixture: stage the bucket")
    val e = new graft.Engine(spark, sfDir, Some(dir)) // restore heals
    assert(fs.exists(live) && !fs.exists(staged.getParent),
      "row 3: restore must roll the orphaned bucket forward")
    assert(rowsOf(e) == expect, "row 3: rows lost in the crash window")

    // row 4: the rewrite died before its first rename — a staged copy
    // beside the live bucket is discarded, the live bucket untouched
    val (dir2, expect2) = durableStore("cm_store_back")
    val live2 = new Path(s"$dir2/cm/data/_tb=1")
    val staged2 = new Path(s"$dir2/cm/compact.tmp/_tb=1")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live2, fs, staged2, false,
      spark.sparkContext.hadoopConfiguration), "fixture: stage a copy")
    val liveFiles = fs.listStatus(live2).map(st => (st.getPath.getName, st.getLen)).toSet
    val e2 = new graft.Engine(spark, sfDir, Some(dir2))
    assert(!fs.exists(staged2.getParent), "row 4: the staged bucket must be discarded")
    assert(fs.listStatus(live2).map(st => (st.getPath.getName, st.getLen)).toSet == liveFiles,
      "row 4: the live bucket must stay untouched")
    assert(rowsOf(e2) == expect2, "row 4: rows duplicated or lost")
  }

  test("rows 3+4 (store): restore leaves a staged bucket alone while another " +
      "live process holds the writer lease") {
    // the holder may be between its tmp write and its commit: its staged
    // bucket is not debris. Restore must neither wait nor discard it
    val (dir, expect) = durableStore("cm_store_lease")
    val live = new Path(s"$dir/cm/data/_tb=1")
    val staged = new Path(s"$dir/cm/rewrite.tmp/_tb=1")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, staged, false,
      spark.sparkContext.hadoopConfiguration), "fixture: stage a copy")
    val lock = new Path(s"$dir/cm/.writer.lock")
    val out = fs.create(lock, false)
    try out.write("other-process".getBytes("UTF-8")) finally out.close()
    val e = new graft.Engine(spark, sfDir, Some(dir))
    assert(fs.exists(staged), "a live holder's staged bucket was discarded")
    assert(fs.exists(lock), "restore took a lease it does not hold")
    assert(rowsOf(e) == expect)

    // the holder crashed: its lease goes stale and the next restore heals
    fs.setTimes(lock, System.currentTimeMillis() - 3600 * 1000, -1)
    val e2 = new graft.Engine(spark, sfDir, Some(dir))
    assert(!fs.exists(staged.getParent), "a crashed holder's staged bucket survived")
    assert(!fs.exists(lock))
    assert(rowsOf(e2) == expect)
  }

  test("rows 5+8+9: doclen flat swap heals FORWARD; dirty markers refuse " +
      "reads and heal by recompute/re-derive") {
    val s = spark
    val idx = graft.TempDirs.scratch("cm_dirty").toString
    TextIndex.bm25Build(docs, idx)
    val expect = ranks(idx)
    val n = docs.count()

    // row 5: doclen mid-swap (tmp alone). Searches still answer — and
    // CORRECTLY (stats artifact; folds are content-identical)
    val live = new Path(s"$idx/doclen.parquet")
    val ltmp = new Path(s"$idx/doclen.parquet.tmp")
    assert(fs.rename(live, ltmp), "fixture: live -> tmp")
    assert(ranks(idx) == expect,
      "row 5: search through the stats artifact must stay correct")
    TextIndex.reconcile(s, idx)
    assert(fs.exists(live) && !fs.exists(ltmp),
      "row 5: forward heal must finish the rename")
    assert(s.read.parquet(live.toString).count() == n)

    // row 8: stats.dirty — refuse, heal recomputes from doclen
    fs.create(new Path(s"$idx/stats.dirty"), true).close()
    val e8 = intercept[RuntimeException](ranks(idx))
    assert(e8.getMessage.contains("unreconciled stats window"))
    TextIndex.reconcile(s, idx)
    assert(!fs.exists(new Path(s"$idx/stats.dirty")))
    assert(ranks(idx) == expect, "row 8: recompute-healed content diverged")

    // row 9: df.dirty (content '*' = all buckets) — refuse, heal
    // re-derives the tier from the postings
    val out = fs.create(new Path(s"$idx/df.dirty"), true)
    out.write("*".getBytes("UTF-8")); out.close()
    val e9 = intercept[RuntimeException](ranks(idx))
    assert(e9.getMessage.contains("unreconciled df window"))
    TextIndex.reconcile(s, idx)
    assert(!fs.exists(new Path(s"$idx/df.dirty")))
    assert(ranks(idx) == expect, "row 9: re-derived df content diverged")
  }

  test("rows 10+11: rebuild.ready refuses reads (forward heal pinned in " +
      "IvfRebuildSpec); rebuild.tmp without it rolls BACK") {
    val s = spark
    val idx = graft.TempDirs.scratch("cm_rebuild").toString
    val v = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    EmbedOps.ivfBuildV(v, idx, None)
    def knn() = EmbedOps.ivfKnnIndexed(s, sfDir, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val base = knn()

    // row 10: the cutover-committed marker refuses reads
    fs.create(new Path(s"$idx/rebuild.ready"), true).close()
    val e = intercept[RuntimeException](knn())
    assert(e.getMessage.contains("mid generation-cutover"))
    // the FORWARD heal needs a staged generation — IvfRebuildSpec pins
    // it; here remove the simulated marker and confirm reads recover
    fs.delete(new Path(s"$idx/rebuild.ready"), false)
    assert(knn() == base)

    // row 11: a staged-but-uncommitted generation is discarded (ROLLBACK)
    fs.mkdirs(new Path(s"$idx/rebuild.tmp/junk"))
    EmbedOps.reconcileSwaps(s, idx)
    assert(!fs.exists(new Path(s"$idx/rebuild.tmp")),
      "row 11: rollback must discard the staged generation")
    assert(knn() == base, "row 11: live generation must be untouched")
  }

  test("row 14: near-dup del.tmp refuses checks and heals orphans FORWARD") {
    val s = spark
    val idx = graft.TempDirs.scratch("cm_neardup").toString
    DocText.neardupIndexBuild(docs, idx)
    val probe = docs.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    def pairs() = DocText.neardupCheckPlan(probe, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs()
    assert(base.nonEmpty, "fixture: replicas must collapse")

    // any del.tmp content → refuse (r19 guard)
    val bucket = fs.listStatus(new Path(s"$idx/bands.parquet"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_db="))
      .head.getPath
    val parked = new Path(s"$idx/del.tmp/bands.parquet/${bucket.getName}")
    fs.mkdirs(parked.getParent)
    assert(fs.rename(bucket, parked), "fixture: park the bucket")
    val e = intercept[RuntimeException](pairs())
    assert(e.getMessage.contains("unfinished takedown swap"),
      s"row 14: expected the takedown refusal, got: ${e.getMessage}")
    DocText.neardupReconcile(s, idx)
    assert(!fs.exists(new Path(s"$idx/del.tmp")))
    assert(pairs() == base, "row 14: forward-healed content diverged")
  }

  test("row 16: the _encoding fence refuses a mismatched maintenance op " +
      "(never healed — it is identity, not a crash window)") {
    val s = spark
    val idx = graft.TempDirs.scratch("cm_enc").toString
    val v = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    EmbedOps.ivfPqBuildV(v.where(col("vec_id") % 10 =!= 0), idx)
    // overwrite through the Hadoop FS (a raw Files.write leaves the old
    // .crc sidecar behind → ChecksumException instead of the fence)
    val out = fs.create(new Path(s"$idx/_encoding"), true)
    out.write("pq-residual".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException](
      EmbedOps.ivfPqAppend(s, v.where(col("vec_id") % 10 === 0), idx))
    assert(e.getMessage.contains("not") &&
      e.getMessage.contains("interchangeable"))
  }

  test("rows 17+19: emb.dirty refuses rerank fetches and heals FORWARD " +
      "by re-running both tier deletes; a missing emb.buckets stamp is a " +
      "fence that refuses") {
    val s = spark
    import s.implicits._
    val idx = graft.TempDirs.scratch("cm_embdirty").toString
    val v = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    EmbedOps.ivfPqBuildV(v, idx)
    val victim = 42L
    assert(EmbedOps.fetchRerankVecs(s, idx, Seq(victim)).count() == 1,
      "fixture: the victim vector must be fetchable before the takedown")

    // row 17: the takedown died right after writing the marker — neither
    // tier has deleted yet (the strongest crash point: the heal must do
    // ALL the work). Reads through the fetch refuse loudly.
    val dirty = new Path(s"$idx/emb.dirty")
    val out = fs.create(dirty, true)
    out.write(victim.toString.getBytes("UTF-8")); out.close()
    val e = intercept[RuntimeException](
      EmbedOps.fetchRerankVecs(s, idx, Seq(victim)).count())
    assert(e.getMessage.contains("unfinished two-tier takedown"),
      s"row 17: expected the emb.dirty refusal, got: ${e.getMessage}")
    EmbedOps.reconcileSwaps(s, idx)
    assert(!fs.exists(dirty), "row 17: forward heal must clear emb.dirty")
    assert(EmbedOps.fetchRerankVecs(s, idx, Seq(victim)).count() == 0,
      "row 17: forward heal must delete the marker's ids from the sidecar")
    assert(s.read.parquet(s"$idx/codes.parquet")
        .where(col("vec_id") === victim).count() == 0,
      "row 17: forward heal must delete the marker's ids from the codes")

    // row 19: the bucket-count stamp is an identity fence — without it
    // the pure bucket function is unknown and pruned fetches refuse
    val stamp = new Path(s"$idx/emb.buckets")
    assert(fs.delete(stamp, false), "fixture: drop the stamp")
    val e2 = intercept[RuntimeException](
      EmbedOps.fetchRerankVecs(s, idx, Seq(1L)).count())
    assert(e2.getMessage.contains("no emb.buckets stamp"),
      s"row 19: expected the fence refusal, got: ${e2.getMessage}")
  }

  test("row exhaustiveness: every greppable marker literal in main source " +
      "appears in CRASH_MATRIX.md (a new marker must add a row + a case)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(sys.props("user.dir"),
      "src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found at $root — run from the repo root")
    val text = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .mkString("\n")
    // the scannable marker suffixes (.tmp/.old are too generic — their
    // rows are pinned by the family specs)
    val pat = """_pending|_encoding|_generation|[A-Za-z0-9_.]*\.(?:dirty|ready|consumed|buckets)""".r
    val found = pat.findAllIn(text).toSet
      .map((m: String) => m.stripPrefix(".")) // a bare ".dirty" in prose
    val matrix = Set(
      "stats.dirty", "df.dirty", "rebuild.ready",
      "fold.consumed", "codes.fold.consumed", "postings.fold.consumed",
      "_pending", "_encoding",
      // r20: the rerank sidecar's two-tier takedown marker + identity
      // fence, the handle's content-generation stamp, and the sidecar's
      // reserved (never-created) fold namespace the read guard probes
      "emb.dirty", "emb.buckets", "_generation", "emb.fold.consumed",
      // prose fragments from scaladocs citing the classes above, plus
      // the sidecar's conf key (a session conf, not a disk marker)
      "dirty", "ready", "consumed", "buckets", "graft.rerank.buckets")
    val unlisted = found -- matrix
    assert(unlisted.isEmpty,
      s"marker literals with no CRASH_MATRIX.md row: $unlisted — add the " +
        "row and a CrashMatrixSpec case before shipping the marker")
    val matrixPath = java.nio.file.Paths.get(sys.props("user.dir"),
      "CRASH_MATRIX.md")
    val doc = new String(java.nio.file.Files.readAllBytes(matrixPath), "UTF-8")
    Seq("stats.dirty", "df.dirty", "rebuild.ready", "fold.consumed",
      "_pending", "_encoding", "del.tmp", "doclen.parquet.old",
      "emb.dirty", "emb.buckets", "_generation")
      .foreach(m => assert(doc.contains(m), s"CRASH_MATRIX.md lost row: $m"))
  }
}
