package graft.queries

import graft.sources.PartitionSwap
import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table: exact and
  * near-duplicate detection (MinHash/LSH, SimHash, shingle Jaccard), text
  * analysis (token stats, quality scoring, language ID, fingerprints).
  * These extend the reference's surface per BASELINE.json's north star.
  *
  * Cross-engine determinism: every hash is
  * `conv(substr(md5(s),1,15),16,10)` — 60 bits of md5, identical in Spark
  * and DuckDB (`CAST('0x'||substr(md5(s),1,15) AS BIGINT)`), so MinHash /
  * SimHash / rolling-hash results are bit-equal and fully oracle-checkable,
  * unlike engine-private hash functions (xxhash64 vs DuckDB's hash).
  *
  * Scale notes (100 TB bar):
  *   - Per-document ops (shingling, MinHash signatures, SimHash, token
  *     stats) are pure higher-order-function EXPRESSIONS — `transform`/
  *     `aggregate`/`array_min` inside the projection. Map-only: no explode,
  *     no shuffle, stays in whole-stage codegen.
  *   - LSH banding shuffles once on (band, band_key) — the standard
  *     sub-quadratic near-dup join; candidate verification touches only
  *     colliding pairs.
  *   - Pairwise shingle-Jaccard is deliberately bucket-bounded
  *     ((lang, source) partitions) — the quadratic baseline the LSH path
  *     replaces at scale.
  */
object DocText {

  /** 60-bit deterministic hash, identical in Spark and DuckDB. */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB mirror of h60. */
  private def H(sql: String): String =
    s"CAST('0x'||substr(md5($sql),1,15) AS BIGINT)"

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** documents ∪ replica copies (doc_id+1000000) — the near-dup fixtures:
    * every doc has one exact duplicate, so dedup pipelines provably collapse
    * and LSH provably recalls (pair (id, id+1000000) at jaccard 1.0). */
  private def docs2(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select("doc_id", "lang", "source", "text")
    base.union(base.withColumn("doc_id", col("doc_id") + 1000000L))
  }
  private val DOCS2 =
    """d2 AS (SELECT doc_id, lang, source, text FROM documents
      |       UNION ALL
      |       SELECT doc_id+1000000 AS doc_id, lang, source, text FROM documents)""".stripMargin

  private def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))

  /** Distinct 3-token shingles (n-gram shingling for near-dup detection);
    * gram building is the generated WordGramsExpr loop, not an
    * interpreted transform-HOF. */
  private def withShingles(df: DataFrame): DataFrame =
    withToks(df).withColumn("shingles",
      array_distinct(expr("word_grams(toks, 3)")))

  /** DuckDB mirror: tk (tokens) and sh (distinct shingles) CTEs over a
    * relation named `src` with (doc_id, text [, ...]). */
  private def shCte(src: String): String =
    s"""tk AS (SELECT *, string_split(text, ' ') AS toks FROM $src),
       |sh AS (SELECT *, list_distinct(CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_transform(generate_series(1, len(toks)-2),
       |                             i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) END) AS shingles
       |       FROM tk)""".stripMargin

  private val NSEEDS = 8
  private val NBANDS = 4 // 2 seeds per band

  // Universal-hash minhash: ONE content hash per shingle (x = H(t) mod p),
  // then the k seeded hashes are (a_i*x + b_i) mod p — the standard
  // construction; hashing per (shingle × seed) cost 8× the md5 calls for
  // nothing. a_i/b_i derive from md5 of fixed labels so both engines
  // compute identical constants; products stay under 2^63 (a,x < p ≈ 1e9).
  private val P = 1000000007L
  private def seedConst(label: String, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$label:$i".getBytes("UTF-8"))
    val h = java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    h % P
  }
  private val A: Seq[Long] = (0 until NSEEDS).map(i => 1L + seedConst("a", i) % (P - 1)) // nonzero
  private val B: Seq[Long] = (0 until NSEEDS).map(i => seedConst("b", i))

  /** MinHash signature columns m0..m7, all seeds in ONE generated pass
    * over the shingles (MinHashSigExpr: md5 once per shingle, then the
    * seeded multiply-mod minima — replaces 1+NSEEDS interpreted HOF
    * passes per document; codegen subexpression elimination evaluates
    * the signature array once across the m_i projections). */
  private def withSig(df: DataFrame): DataFrame = {
    val sig = call_function("minhash_sig", col("shingles"),
      typedLit(A), typedLit(B), lit(P))
    val withS = df.withColumn("_sig", sig)
    (0 until NSEEDS).foldLeft(withS) { (acc, i) =>
      acc.withColumn(s"m$i", col("_sig").getItem(i))
    }.drop("_sig")
  }

  /** Banded-LSH keys for any frame with a `text` column — ONE array
    * column `bands` of NBANDS `"b:m:m"` strings, computed with exactly
    * the batch kernel's constants (3-token shingles, the seeded
    * `minhash_sig` codegen pass, 2 seeds per band), so the streaming
    * near-dup path (`NearDedupStream`) collides the same documents the
    * batch `d_lsh_pairs` would. Texts too short to shingle fall back to
    * a single exact-content key (an exact-dup-only document — near-dup
    * needs shingles). */
  private[graft] def withBandKeys(df: DataFrame): DataFrame =
    withSig(withShingles(df)).withColumn("bands",
        when(size(col("shingles")) === 0,
          array(concat(lit("x:"), md5(col("text")))))
          .otherwise(array((0 until NBANDS).map { b =>
            concat_ws(":", lit(b.toString),
              col(s"m${2 * b}").cast("string"),
              col(s"m${2 * b + 1}").cast("string"))
          }: _*)))
      .drop((0 until NSEEDS).map(i => s"m$i") ++ Seq("toks", "shingles"): _*)

  /** Banded-LSH candidate pairs joined back to their shingle sets
    * (`doc_a, doc_b, sh_a, sh_b`), ready for exact-Jaccard verification —
    * shared by `d_lsh_pairs` and `d_dup_clusters`.
    *
    * Partition pinning is SIZE-GATED (VERDICT r8 #3). The trap it guards:
    * candidate pairs are byte-light but the verify join is CPU-heavy per
    * row — exactly where AQE's size-based coalescing misjudges. At sf1 it
    * folded the whole verify into ONE task (minutes of single-core
    * array_intersect), and a broadcast pair set from the other direction
    * probes the raw 1-2-split shingle scan. But pinning unconditionally
    * taxes small corpora ~9-12× (three forced 32-way exchanges replace two
    * AQE broadcast joins over 5k docs — r8 measured d_lsh_pairs 1.3→11.6 s).
    * So: below `graft.lsh.pinMinDocs` leave the plan to AQE/broadcast;
    * above it pin the exchanges. The gating count doubles as the forced
    * materialization of the persisted shingle index (needed anyway). */
  /** (doc_id, band, bkey) rows from a signature frame — the persisted
    * shape of the banded LSH index (oracle mirror: the `bd` CTE). */
  private def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array((0 until NBANDS).map { b =>
        concat_ws(":", col(s"m${2 * b}").cast("string"), col(s"m${2 * b + 1}").cast("string"))
      }: _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))

  // ---- persisted near-dup index lifecycle (build / check / delete) ----

  /** Bucket count for the persisted near-dup index layout: both tables
    * are laid out `partitionBy(_db = doc_id % 64)` so a takedown batch
    * rewrites only the bucket directories its ids hash to — the same
    * shard-group discipline as the measurement store's `_tb` buckets. */
  private val NEARDUP_BUCKETS = 64L

  private def dbBucket: Column = pmod(col("doc_id"), lit(NEARDUP_BUCKETS))

  /** Explicit read schemas for the two index tables (r20 optimization —
    * the EmbedOps/TextIndex artifact-schema discipline): schema
    * inference runs a footer-read job per open; the layouts are pinned
    * by this file's writers. `_db` reads back as STRING (partition-type
    * inference off session-wide). */
  private val bandsIdxSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bkey",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_db",
      org.apache.spark.sql.types.StringType)))

  private val shinglesIdxSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("shingles",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("_db",
      org.apache.spark.sql.types.StringType)))

  /** Build the persisted banded-LSH near-dup index over `corpus`
    * (doc_id, text, …): the (doc_id, band, bkey) band rows plus the
    * per-doc shingle sets — the between-crawls at-rest artifact that
    * `neardupCheck` joins each new batch against. */
  def neardupIndexBuild(corpus: DataFrame, idxDir: String): Unit = {
    // two table writes = two actions: persist the shingle+signature pass
    // so the corpus is shingled ONCE, not once per artifact
    val sig = withSig(withShingles(corpus)).persist()
    try {
      // materialize the shingle+signature pass ONCE before the writes so
      // the overlapped branches read the cache instead of racing to
      // compute it twice, then overlap the two independent table writes
      // (guide §2.6)
      sig.count()
      Par.run(
        () => bandRows(sig).withColumn("_db", dbBucket)
          .repartition(col("_db"))
          .write.mode("overwrite").partitionBy("_db").parquet(s"$idxDir/bands.parquet"),
        () => sig.select(col("doc_id"), col("shingles")).withColumn("_db", dbBucket)
          .repartition(col("_db"))
          .write.mode("overwrite").partitionBy("_db").parquet(s"$idxDir/shingles.parquet"))
    } finally sig.unpersist()
  }

  /** Append a new batch's band rows + shingle sets into the persisted
    * index — the between-crawls maintenance step after `neardupCheck`
    * admits it: O(batch) shingling, appended into the `partitionBy(_db)`
    * layout without rewriting existing bucket files (the `ivfAppend`
    * discipline; per-bucket small-file debris is a compaction concern,
    * same as every other at-rest layout here). */
  def neardupIndexAppend(batch: DataFrame, idxDir: String): Unit = {
    neardupReconcile(batch.sparkSession, idxDir)
    val sig = withSig(withShingles(batch)).persist()
    try {
      // same overlap as the build: materialize the shingling once, then
      // the two table appends run concurrently (different directories)
      sig.count()
      Par.run(
        () => bandRows(sig).withColumn("_db", dbBucket)
          .repartition(col("_db"))
          .write.mode("append").partitionBy("_db").parquet(s"$idxDir/bands.parquet"),
        () => sig.select(col("doc_id"), col("shingles")).withColumn("_db", dbBucket)
          .repartition(col("_db"))
          .write.mode("append").partitionBy("_db").parquet(s"$idxDir/shingles.parquet"))
    } finally sig.unpersist()
  }

  /** Incremental near-dup check of a new batch against the persisted
    * index: O(batch) shingling + keyed joins against the at-rest index
    * tables — the existing corpus's documents are never re-read or
    * re-shingled (DocPlanSpec asserts this on the executed plan).
    * Returns (new_doc, old_doc, jaccard ≥ 0.8), EAGERLY: the shingled
    * batch is cached for the duration of the check only and unpersisted
    * before returning (ADVICE r11 — a per-crawl-batch public API must
    * not leak cached blocks for the session lifetime), so the result
    * comes back as a small local relation of the matched pairs. Driver
    * memory is O(matched pairs); a batch expected to collide with a
    * large fraction of the corpus should go through `neardupCheckPlan`
    * and manage its own caching. */
  def neardupCheck(fresh0: DataFrame, idxDir: String): DataFrame = {
    val s = fresh0.sparkSession
    import s.implicits._
    neardupReconcile(s, idxDir)
    val fresh = withSig(withShingles(fresh0)).persist()
    try {
      checkJoin(fresh, idxDir)
        .as[(Long, Long, Double)].collect().toSeq
        .toDF("new_doc", "old_doc", "jaccard")
    } finally fresh.unpersist()
  }

  /** The check's declarative form — the same candidate+verify join plan,
    * returned LAZILY over an uncached batch (the batch subtree shingles
    * under each of its two consumers instead of once from cache): what
    * the `d_incr_neardup`/`d_neardup_takedown` gates run, so the
    * executed plan keeps the index-scan shape the oracle and
    * DocPlanSpec reason about. */
  def neardupCheckPlan(fresh0: DataFrame, idxDir: String): DataFrame =
    checkJoin(withSig(withShingles(fresh0)), idxDir)

  /** Read guard for the persisted near-dup index (VERDICT r18 #2 — the
    * storm discipline extended to the one swap-machinery user it didn't
    * cover): while `del.tmp` exists a takedown is mid-swap (or died
    * mid-swap), and a scan could list the live layout with a rewritten
    * bucket missing — silently dropping every pair whose old doc lives
    * there. Reads refuse loudly instead; only maintenance entries heal
    * (`neardupReconcile`), exactly the `requireNoSwapDebris` contract of
    * the text and vector tiers. */
  private def requireNoTakedownDebris(s: SparkSession, idxDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$idxDir/del.tmp")
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (f.exists(p))
      sys.error(s"near-dup index at $idxDir has an unfinished takedown swap " +
        "(del.tmp present): a maintainer is mid-delete or died mid-swap — " +
        "a scan now could silently miss rewritten buckets; run a " +
        "maintenance entry (neardupReconcile heals), then retry")
  }

  private def checkJoin(fresh: DataFrame, idxDir: String): DataFrame = {
    val s = fresh.sparkSession
    requireNoTakedownDebris(s, idxDir)
    val cand = s.read.schema(bandsIdxSchema).parquet(s"$idxDir/bands.parquet")
      .select(col("doc_id").as("old_doc"), col("band"), col("bkey"))
      .join(bandRows(fresh).toDF("new_doc", "band", "bkey"), Seq("band", "bkey"))
      .select("new_doc", "old_doc").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val uni = size(col("sh_a")) + size(col("sh_b")) -
      size(array_intersect(col("sh_a"), col("sh_b")))
    cand
      .join(s.read.schema(shinglesIdxSchema).parquet(s"$idxDir/shingles.parquet")
        .select(col("doc_id").as("old_doc"), col("shingles").as("sh_a")), Seq("old_doc"))
      .join(fresh.select(col("doc_id").as("new_doc"), col("shingles").as("sh_b")),
        Seq("new_doc"))
      .withColumn("jaccard", round(inter / uni, 4))
      .where(col("jaccard") >= 0.8)
      .select("new_doc", "old_doc", "jaccard")
  }

  /** Takedown propagation for the persisted near-dup index — the
    * document-side `ivfDelete`: a removed doc's band rows and shingle
    * set must not linger, or they keep suppressing future admits against
    * content that no longer exists. The deletion set is bounded (a
    * takedown batch), and its buckets are known WITHOUT any scan (`_db`
    * is a pure function of doc_id), so each table rewrites ONLY the
    * affected bucket directories — O(affected buckets), never O(index) —
    * and swaps via rename with the previous generation parked under
    * `del.old` for lazy readers. Returns docs removed. */
  def neardupIndexDelete(s: SparkSession, idxDir: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    import s.implicits._
    neardupIndexDelete(s, idxDir, ids.toDF("doc_id"))
  }

  /** DataFrame-keyed takedown (VERDICT r11 ask): the deletion set arrives
    * as a relation — a retention query's output, a legal-hold table, a
    * streaming dead-letter sink — instead of a driver-side list, so it
    * never has to fit in driver memory. The affected buckets are still
    * discovered without touching the index (`_db` is a pure function of
    * doc_id: one tiny distinct over the deletion set, ≤ 64 rows out), and
    * survivors are computed by anti-join — AQE picks a broadcast build
    * when the set is small, a shuffle join when it is not; the `Seq`
    * overload above delegates here. */
  def neardupIndexDelete(s: SparkSession, idxDir: String, ids: DataFrame): Long = {
    neardupReconcile(s, idxDir)
    val del = ids.select(col("doc_id").cast("long").as("doc_id")).distinct().persist()
    try {
      val buckets = del
        .select(pmod(col("doc_id"), lit(NEARDUP_BUCKETS)).cast("string").as("b"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      if (buckets.isEmpty) return 0L
      // small deletion sets (the overwhelmingly common takedown shape)
      // anti-join as a broadcast: the survivor pass is then map-only and
      // keeps the scan's bucket-aligned partitioning, so the write below
      // needs no repartition. A set past the threshold falls back to the
      // shuffle anti-join, whose output is doc_id-partitioned — there the
      // _db repartition is re-established before the partitioned write so
      // the layout does not fragment into tasks×buckets files.
      val delSmall = del.count() <= s.conf
        .get("graft.neardup.takedownBroadcastMax", "4000000").toLong
      val conf = s.sparkContext.hadoopConfiguration
      val tables = Seq("bands.parquet", "shingles.parquet").filter { t =>
        val root = new org.apache.hadoop.fs.Path(s"$idxDir/$t")
        root.getFileSystem(conf).exists(root)
      }
      val removed = new java.util.concurrent.atomic.AtomicLong(0L)
      // 1) survivor images for BOTH tables land under del.tmp
      //    CONCURRENTLY (r20, guide §2.6 — independent tables; reads of
      //    the live layout all happen before any swap). The shingles
      //    branch counts removed docs with one semi-join — ≡ the former
      //    hit.count − survivors.count (shingles holds one row per doc),
      //    one action instead of two. Raw string compare on the
      //    partition value (inference is off session-wide) keeps the
      //    filter a PartitionFilter: the scans list only the affected
      //    bucket directories.
      Par.run(tables.map { t =>
        () => {
          val dir = s"$idxDir/$t"
          val sch =
            if (t == "bands.parquet") bandsIdxSchema else shinglesIdxSchema
          val hit = s.read.schema(sch).parquet(dir)
            .where(col("_db").isin(buckets: _*))
          val survivors = hit.join(
            if (delSmall) broadcast(del) else del, Seq("doc_id"), "left_anti")
          if (t == "shingles.parquet")
            removed.set(hit.join(del, Seq("doc_id"), "left_semi").count())
          // survivors write STRAIGHT from the bucket-pruned scan (r21,
          // guide §2.4 — VERDICT r20 #7): the scan's tasks are already
          // bucket-file-aligned (the layout is partitionBy(_db) on
          // disk), so with the broadcast anti-join the whole rewrite is
          // a map-only pass — the former repartition(_db) shuffled
          // every survivor byte of every affected bucket just to
          // re-establish a partitioning the scan came in with. Trade
          // recorded in OPTIMIZATION_r21: output keeps the input's
          // per-bucket file count (appends' debris included) instead of
          // compacting to one file per bucket — compaction is the
          // append path's documented concern, not the takedown's.
          (if (delSmall) survivors else survivors.repartition(col("_db")))
            .write.mode("overwrite").partitionBy("_db").parquet(s"$idxDir/del.tmp/$t")
        }
      }: _*)
      // 2) per-bucket swaps, table by table. del.tmp now stays present
      //    across the WHOLE swap sequence — the former between-tables
      //    window (bands swapped, shingles not, no marker → readable
      //    mixed state) now refuses loudly instead; reconcile semantics
      //    are unchanged (per-bucket: tmp without live → finish, tmp
      //    with live → the swap never started for that bucket).
      // A bucket whose every doc was deleted has no tmp dir: its swap
      // only parks the live bucket.
      tables.foreach { t =>
        val dir = new org.apache.hadoop.fs.Path(s"$idxDir/$t")
        PartitionSwap.commit(dir.getFileSystem(conf), buckets.map(b => s"_db=$b"),
          new org.apache.hadoop.fs.Path(s"$idxDir/del.tmp/$t"),
          new org.apache.hadoop.fs.Path(s"$idxDir/del.old/$t"))(
          new org.apache.hadoop.fs.Path(dir, _))
      }
      new org.apache.hadoop.fs.Path(idxDir).getFileSystem(conf)
        .delete(new org.apache.hadoop.fs.Path(s"$idxDir/del.tmp"), true)
      removed.get
    } finally del.unpersist()
  }

  /** Crash-recovery for the takedown's per-bucket tmp+rename swaps — the
    * document-index twin of `EmbedOps.reconcileSwaps` (ADVICE r11
    * medium): a crash between a bucket's two renames (live → del.old,
    * tmp → live) leaves its survivors parked under `del.tmp` and nothing
    * live, which a later `neardupCheck` would read as "no prior docs in
    * this bucket" and wrongly admit near-dups. `PartitionSwap.heal`
    * applies the one crash rule: tmp bucket with no live bucket → finish
    * the swap; tmp bucket with a live bucket → the swap never started,
    * discard tmp and let the takedown re-run. Runs at entry of every
    * index op (single-maintainer contract); two exists() probes when there
    * is nothing to heal. */
  def neardupReconcile(s: SparkSession, idxDir: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val f = new org.apache.hadoop.fs.Path(idxDir).getFileSystem(conf)
    Seq("bands.parquet", "shingles.parquet").foreach { t =>
      PartitionSwap.heal(f, new org.apache.hadoop.fs.Path(s"$idxDir/del.tmp/$t")) {
        case u if u.startsWith("_db=") => new org.apache.hadoop.fs.Path(s"$idxDir/$t/$u")
      }
    }
    f.delete(new org.apache.hadoop.fs.Path(s"$idxDir/del.tmp"), true)
  }

  private def lshCandVerify(s: SparkSession, sh: DataFrame, sig: DataFrame): DataFrame = {
    val bands = bandRows(sig)
    val p = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val pin = sh.count() >= s.conf.get("graft.lsh.pinMinDocs", "20000").toLong
    val cand0 = bands.toDF("doc_a", "band", "bkey")
      .join(bands.toDF("doc_b", "band", "bkey"), Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // explicit partition count → exempt from AQE coalescing
    val cand = (if (pin) cand0.repartition(p, col("doc_a"), col("doc_b")) else cand0)
      .distinct()
    val shV = if (pin) sh.repartition(p, col("doc_id")) else sh
    cand
      .join(shV.toDF("doc_a", "sh_a"), Seq("doc_a"))
      .join(shV.toDF("doc_b", "sh_b"), Seq("doc_b"))
  }

  /** DuckDB mirror: long-format signatures (doc_id, seed, mh) from `sh`;
    * the a/b constant lists are indexed by seed (1-based). */
  private val SIG_CTE = {
    val aList = A.mkString("[", ", ", "]")
    val bList = B.mkString("[", ", ", "]")
    s"""hx AS (SELECT doc_id, ${H("shingle")} % $P AS x
       |       FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)),
       |sg AS (SELECT doc_id, s.seed,
       |         min(($aList[s.seed+1] * x + $bList[s.seed+1]) % $P) AS mh
       |       FROM hx CROSS JOIN (SELECT unnest(generate_series(0, ${NSEEDS - 1})) AS seed) s
       |       GROUP BY 1, 2)""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // ---- exact dedup: hash-groupBy on content (scales to any size; the
    //      canonical pick is min doc_id, deterministic)
    Q("d_dedup_exact",
      s"""WITH $DOCS2
         |SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM d2 GROUP BY 1""".stripMargin) { (s, d) =>
      docs2(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
    },

    // ---- fingerprints: exact (md5 of text) + bag-of-words (md5 of sorted
    //      distinct tokens) — order-insensitive near-dup key
    Q("d_fingerprint",
      """SELECT doc_id, md5(text) AS exact_fp,
        |       md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS bag_fp
        |FROM documents""".stripMargin) { (s, d) =>
      withToks(docs(s, d)).select(col("doc_id"), md5(col("text")).as("exact_fp"),
        md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))).as("bag_fp"))
    },

    // ---- rolling-hash fingerprint (Karp-Rabin fold over token hashes);
    //      sequential fold mirrored via list_reduce with a prepended zero
    Q("d_rolling_hash",
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
         |SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                           list_transform(toks, t -> ${H("t")})),
         |              (a, x) -> (a * 31 + x) % 1000000007) AS rolling_fp
         |FROM tk""".stripMargin) { (s, d) =>
      // one generated loop (RollingH60Expr) — formerly an interpreted
      // transform (md5 per token) + aggregate fold
      withToks(docs(s, d)).select(col("doc_id"),
        call_function("rolling_h60", col("toks"), lit(31L), lit(1000000007L))
          .as("rolling_fp"))
    },

    // ---- string-function surface (beyond-reference §2.5 extension row:
    //      upper/substr/concat/replace/length/position as built-ins)
    Q("d_string_funcs",
      """SELECT doc_id,
        |  upper(substr(text, 1, 10)) AS head10,
        |  length(text) AS len,
        |  length(replace(text, ' ', '')) AS len_nospace,
        |  strpos(text, 'spark') AS spark_pos,
        |  lang || ':' || source AS lang_source
        |FROM documents""".stripMargin) { (s, d) =>
      docs(s, d).select(col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head10"),
        length(col("text")).as("len"),
        length(regexp_replace(col("text"), " ", "")).as("len_nospace"),
        instr(col("text"), "spark").cast("long").as("spark_pos"),
        concat(col("lang"), lit(":"), col("source")).as("lang_source"))
    },

    // ---- token counting + type-token ratio + stopword ratio
    Q("d_token_stats",
      """WITH tk AS (SELECT doc_id, n_chars, string_split(text,' ') AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr,
        |  round(CAST(n_chars - len(toks) + 1 AS DOUBLE) / len(toks), 4) AS avg_tok_len,
        |  round(CAST(len(list_filter(toks, t -> t IN ('the','a'))) AS DOUBLE) / len(toks), 4) AS stop_ratio
        |FROM tk""".stripMargin) { (s, d) =>
      withToks(docs(s, d)).select(col("doc_id"), size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 4).as("ttr"),
        round((col("n_chars") - size(col("toks")) + 1).cast("double") / size(col("toks")), 4)
          .as("avg_tok_len"),
        round(expr("element_at(token_set_counts(toks, array(array('the','a'))), 1)").cast("double")
          / size(col("toks")), 4).as("stop_ratio"))
    },

    // ---- quality score: blended length / lexical-diversity / stopword
    //      signal, quantized to basis points via floor(x*1e4 + 0.5) — pure
    //      double ops, bit-identical across engines (Spark's BigDecimal
    //      HALF_UP round() and DuckDB's round() disagree on doubles that
    //      sit one ulp under a decimal midpoint)
    Q("d_quality_score",
      """WITH tk AS (SELECT doc_id, n_chars, string_split(text,' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(floor((0.5 * least(CAST(n_chars AS DOUBLE) / 400.0, 1.0)
        |      + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
        |      + 0.2 * least(5.0 * CAST(len(list_filter(toks, t -> t IN ('the','a'))) AS DOUBLE)
        |                        / len(toks), 1.0)) * 10000.0 + 0.5) AS BIGINT) AS quality_bp
        |FROM tk""".stripMargin) { (s, d) =>
      withToks(docs(s, d)).select(col("doc_id"),
        floor((lit(0.5) * least(col("n_chars").cast("double") / 400.0, lit(1.0))
          + lit(0.3) * (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          + lit(0.2) * least(lit(5.0) * expr("element_at(token_set_counts(toks, array(array('the','a'))), 1)").cast("double")
            / size(col("toks")), lit(1.0))) * 10000.0 + 0.5).cast("long").as("quality_bp"))
    },

    // ---- language ID: marker-token scoring, argmax with deterministic
    //      (score DESC, lang ASC) tie-break — the n-gram-profile heuristic
    //      shape; both engines compute the identical function
    Q("d_lang_id",
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |m(l, mk) AS (VALUES ('en', ['the','a','of']), ('es', ['el','la','los']),
        |             ('de', ['der','die','das']), ('fr', ['le','les','et']),
        |             ('zh', ['de','shi','zai'])),
        |sc AS (SELECT doc_id, m.l, len(list_filter(toks, t -> list_contains(m.mk, t))) AS s
        |       FROM tk CROSS JOIN m),
        |r AS (SELECT doc_id, l, s,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l ASC) AS rn FROM sc)
        |SELECT doc_id, l AS lang_guess, s AS score FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      val markers = Seq(
        "en" -> Seq("the", "a", "of"), "es" -> Seq("el", "la", "los"),
        "de" -> Seq("der", "die", "das"), "fr" -> Seq("le", "les", "et"),
        "zh" -> Seq("de", "shi", "zai"))
      // all five marker counts in one generated pass (TokenSetCountsExpr);
      // cast to int preserves the former size(filter(...)) column type
      val scored = withToks(docs(s, d)).select(col("doc_id"),
          posexplode(call_function("token_set_counts", col("toks"),
            typedLit(markers.map(_._2)))))
        .select(col("doc_id"),
          element_at(typedLit(markers.map(_._1)), col("pos") + 1).as("l"),
          col("col").cast("int").as("s"))
      scored.withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("s").desc, col("l").asc)))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("l").as("lang_guess"), col("s").as("score"))
    },

    // ---- pairwise shingle Jaccard within (lang, source) buckets — the
    //      exact quadratic baseline, bucket-bounded; replicas guarantee
    //      jaccard-1.0 pairs exist
    Q("d_shingle_jaccard",
      s"""WITH $DOCS2,
         |${shCte("d2")}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |        / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))),
         |        4) AS jaccard
         |FROM sh a JOIN sh b
         |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
         |      >= 0.8""".stripMargin) { (s, d) =>
      // Bucket-bounded pairwise compare with the shingle table materialized
      // once (the self-join would otherwise recompute shingling per side).
      // An inverted-index (explode + join on shingle) variant was measured
      // 1.4× SLOWER here: this corpus has a 31-token vocabulary, so posting
      // lists are huge and pair-events explode (~100M); on natural text
      // (near-unique shingles) the inverted index wins — which is exactly
      // why the LSH path (d_lsh_pairs), not this baseline, is the scale
      // answer.
      // spread the source BEFORE shingling: the documents scan is 1-2
      // parquet splits, and a persist() freezes that layout — shingling,
      // the counts-agg map side, and the ×8-replicated a-side exchange
      // write would all run in 1-2 tasks (measured: ~4× effective
      // parallelism at sf1 with 32 cores; the byte-light/CPU-heavy shape
      // AQE can't see). Explicit count so AQE doesn't re-coalesce.
      val sh = withShingles(docs2(s, d)
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt))
        .select("doc_id", "lang", "source", "shingles").persist()
      val a = sh.toDF("doc_a", "lang", "source", "sh_a")
      val b = sh.toDF("doc_b", "lang", "source", "sh_b")
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val uni = size(col("sh_a")) + size(col("sh_b")) - size(array_intersect(col("sh_a"), col("sh_b")))
      // cardinality guard (VERDICT r6 item 5): the exact baseline is
      // quadratic PER BUCKET — one hot (lang, source) bucket at corpus
      // scale is quadratic death. Refuse loudly above the cap instead of
      // silently grinding; the LSH path (d_lsh_pairs) is the scale answer.
      // Plan-native (broadcast count join + raise_error), so the guard
      // itself adds no driver-side action and no extra shuffle.
      val cap = s.conf.get("graft.shingleJaccard.bucketCap", "20000").toInt
      val counts = sh.groupBy("lang", "source").agg(count(lit(1)).as("_bn"))
      // block-salted pair decomposition + explicit probe repartition. Two
      // distinct parallelism ceilings hide here (both measured at sf1,
      // where the box ran the whole 405 s join at load 2 of 32):
      //  1. a bare (lang, source) join key bounds a SHUFFLE join at the
      //     bucket count (~45). Salting the b-side with pmod(hash(doc_b),
      //     B) and replicating the a-side ×B lifts key cardinality to
      //     buckets×B; every pair still meets exactly once (b keeps ONE
      //     block id), output identical.
      //  2. the b-side shingle table fits under the broadcast threshold,
      //     so Catalyst picks a BROADCAST join — then no shuffle happens
      //     at all and the quadratic pair work runs over the a-side's
      //     INPUT partitioning, i.e. 1-2 parquet splits for a small table.
      //     Key cardinality is irrelevant in that plan; the probe side
      //     must be explicitly repartitioned. repartition on the salted
      //     key fixes both plans at once (CPU-heavy/byte-light stages are
      //     exactly where AQE's size-based coalescing misjudges, so the
      //     explicit exchange is load-bearing, not belt-and-braces).
      val blocks = s.conf.get("graft.shingleJaccard.blocks", "8").toInt
      val bSalted = b.withColumn("_blk", pmod(xxhash64(col("doc_b")), lit(blocks)))
      a.join(broadcast(counts), Seq("lang", "source"))
        // assert_true returns NULL when the predicate holds (so the filter
        // passes every row) and raises with the message when it doesn't
        .where(assert_true(col("_bn") <= cap, concat(
          lit("d_shingle_jaccard: bucket ("), col("lang"), lit(","), col("source"),
          lit(s") holds more than $cap docs - exact quadratic baseline refused; " +
            "use d_lsh_pairs or raise graft.shingleJaccard.bucketCap"))).isNull)
        .drop("_bn")
        .withColumn("_blk", explode(array((0 until blocks).map(lit(_)): _*)))
        // explicit partition count: a bare repartition(cols) is an AQE
        // coalesce target, which would re-merge these byte-light partitions
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("lang"), col("source"), col("_blk"))
        // shuffle_hash HINT, not just the repartition: if AQE demotes this
        // join to broadcast at runtime (the b-side measures small), its
        // LocalShuffleReader re-reads the pinned exchange at MAP-task
        // granularity — and the a-side subtree is all map-side over a 1-2
        // split parquet scan, so the quadratic probe would collapse back
        // to 1-2 cores. The hint keeps the reduce-side 32-way partitioning
        // the repartition paid for, in every AQE re-plan.
        .join(bSalted.hint("shuffle_hash"), Seq("lang", "source", "_blk"))
        .drop("_blk")
        .where(col("doc_a") < col("doc_b"))
        // size prefilter: jaccard ≤ min(|A|,|B|)/max(|A|,|B|), so pairs
        // failing the length ratio can never reach 0.8 — prunes the
        // expensive array_intersect without changing the result set
        .where(least(size(col("sh_a")), size(col("sh_b"))).cast("double")
          / greatest(size(col("sh_a")), size(col("sh_b"))) >= 0.8)
        .withColumn("jaccard", round(inter / uni, 4))
        .where(inter / uni >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
    },

    // ---- MinHash signatures (the sub-quadratic scale path, stage 1):
    //      map-only expression per document
    Q("d_minhash_sig",
      s"""WITH ${shCte("documents")},
         |$SIG_CTE
         |SELECT doc_id, seed, mh FROM sg""".stripMargin) { (s, d) =>
      val sig = withSig(withShingles(docs(s, d)))
      sig.select(col("doc_id"),
          posexplode(array((0 until NSEEDS).map(i => col(s"m$i")): _*)))
        .select(col("doc_id"), col("pos").cast("long").as("seed"), col("col").as("mh"))
    },

    // ---- MinHash LSH near-dup pairs (stage 2): band signatures, shuffle
    //      once on (band, band_key), verify only colliding candidates
    Q("d_lsh_pairs",
      s"""WITH $DOCS2,
         |${shCte("d2")},
         |$SIG_CTE,
         |bd AS (SELECT doc_id, b.b AS band,
         |         CAST(max(CASE WHEN seed = 2*b.b THEN mh END) AS VARCHAR) || ':' ||
         |         CAST(max(CASE WHEN seed = 2*b.b+1 THEN mh END) AS VARCHAR) AS bkey
         |       FROM sg CROSS JOIN (SELECT unnest(generate_series(0, ${NBANDS - 1})) AS b) b
         |       GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bd x JOIN bd y ON x.band = y.band AND x.bkey = y.bkey
         |                            AND x.doc_id < y.doc_id),
         |v AS (SELECT c.doc_a, c.doc_b,
         |        round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |          / (len(sa.shingles) + len(sb.shingles)
         |             - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
         |      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
         |                  JOIN sh sb ON sb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.8""".stripMargin) { (s, d) =>
      // Materialize shingle sets + signatures once: the band self-join and
      // the two verification joins would otherwise recompute the full
      // shingling+minhash expression per reference (at real scale this is
      // the persisted LSH index table).
      val sh = withShingles(docs2(s, d)).select("doc_id", "shingles").persist()
      val sig = withSig(sh).persist()
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val uni = size(col("sh_a")) + size(col("sh_b")) - size(array_intersect(col("sh_a"), col("sh_b")))
      lshCandVerify(s, sh, sig)
        .withColumn("jaccard", round(inter / uni, 4))
        .where(col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
    },

    // ---- incremental near-dup against a PERSISTED LSH index — the
    //      document-side sibling of em_ivf_append: a new crawl batch is
    //      checked against the existing corpus WITHOUT re-pairing the
    //      corpus with itself. The old corpus's band rows + shingle sets
    //      persist as the index (what a deployment maintains between
    //      crawls); the new batch computes ITS bands (O(batch)), joins
    //      the band index on (band, bkey) — candidates only, the
    //      corpus-side scan is the index table, never the documents —
    //      and verifies exact Jaccard on colliding pairs. DOCS2's
    //      planted replicas (doc_id+10⁶) all land in the new batch with
    //      their originals in the old corpus, so the gate provably
    //      catches every planted cross-set dup (plus organic ones).
    Q("d_incr_neardup",
      s"""WITH $DOCS2,
         |${shCte("d2")},
         |$SIG_CTE,
         |bd AS (SELECT doc_id, b.b AS band,
         |         CAST(max(CASE WHEN seed = 2*b.b THEN mh END) AS VARCHAR) || ':' ||
         |         CAST(max(CASE WHEN seed = 2*b.b+1 THEN mh END) AS VARCHAR) AS bkey
         |       FROM sg CROSS JOIN (SELECT unnest(generate_series(0, ${NBANDS - 1})) AS b) b
         |       GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT x.doc_id AS old_doc, y.doc_id AS new_doc
         |         FROM bd x JOIN bd y ON x.band = y.band AND x.bkey = y.bkey
         |         WHERE x.doc_id < 1000000 AND y.doc_id >= 1000000),
         |v AS (SELECT c.new_doc, c.old_doc,
         |        round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |          / (len(sa.shingles) + len(sb.shingles)
         |             - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
         |      FROM cand c JOIN sh sa ON sa.doc_id = c.old_doc
         |                  JOIN sh sb ON sb.doc_id = c.new_doc)
         |SELECT new_doc, old_doc, jaccard FROM v WHERE jaccard >= 0.8""".stripMargin) { (s, d) =>
      val idx = graft.TempDirs.scratch("graft_lsh_idx").toString
      val all = docs2(s, d)
      // index build (the between-crawls artifact), then the incremental
      // check: O(new batch) shingling + keyed joins against the index
      // tables — the old DOCUMENTS are never touched
      neardupIndexBuild(all.where(col("doc_id") < 1000000L), idx)
      neardupCheckPlan(all.where(col("doc_id") >= 1000000L), idx)
    },

    // ---- takedown propagation through the near-dup index: a removed
    //      original's bands/shingles must stop suppressing new admits.
    //      Build the index, DELETE every original with doc_id % 10 == 3
    //      (the bounded takedown batch — a partition-pruned rewrite of
    //      only the buckets those ids hash to), then run the incremental
    //      check: replicas of deleted originals now ADMIT (no match
    //      row), replicas of survivors still collapse. The oracle is the
    //      incremental check with the takedown set excluded from the
    //      index side.
    Q("d_neardup_takedown",
      s"""WITH $DOCS2,
         |${shCte("d2")},
         |$SIG_CTE,
         |bd AS (SELECT doc_id, b.b AS band,
         |         CAST(max(CASE WHEN seed = 2*b.b THEN mh END) AS VARCHAR) || ':' ||
         |         CAST(max(CASE WHEN seed = 2*b.b+1 THEN mh END) AS VARCHAR) AS bkey
         |       FROM sg CROSS JOIN (SELECT unnest(generate_series(0, ${NBANDS - 1})) AS b) b
         |       GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT x.doc_id AS old_doc, y.doc_id AS new_doc
         |         FROM bd x JOIN bd y ON x.band = y.band AND x.bkey = y.bkey
         |         WHERE x.doc_id < 1000000 AND x.doc_id % 10 <> 3
         |               AND y.doc_id >= 1000000),
         |v AS (SELECT c.new_doc, c.old_doc,
         |        round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |          / (len(sa.shingles) + len(sb.shingles)
         |             - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
         |      FROM cand c JOIN sh sa ON sa.doc_id = c.old_doc
         |                  JOIN sh sb ON sb.doc_id = c.new_doc)
         |SELECT new_doc, old_doc, jaccard FROM v WHERE jaccard >= 0.8""".stripMargin) { (s, d) =>
      val idx = graft.TempDirs.scratch("graft_lsh_td").toString
      val all = docs2(s, d)
      val old = all.where(col("doc_id") < 1000000L)
      // phase-split (VERDICT r18 #5): the in-gate 64-bucket index BUILD
      // dominates this gate's wall time; the takedown itself is the
      // O(affected buckets) operation the gate exists to prove. The
      // bench artifact records both so the number stops reading as
      // "takedown is slow".
      graft.Phases.time("build")(neardupIndexBuild(old, idx))
      graft.Phases.time("takedown") {
        val takedown = old.where(col("doc_id") % 10 === 3)
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        neardupIndexDelete(s, idx, takedown)
      }
      neardupCheckPlan(all.where(col("doc_id") >= 1000000L), idx)
    },

    // ---- 48-bit SimHash over distinct tokens (bit 48..63 left clear so
    //      the value is exact in BIGINT and double on both engines).
    //      Spark side is a pure generated expression (48 in-row folds, no
    //      explode/shuffle); the oracle recomputes via unnest+group to
    //      cross-check method-independence.
    Q("d_simhash48",
      s"""WITH tk AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks FROM documents),
         |hx AS (SELECT doc_id, ${H("tok")} AS hv
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)),
         |bits AS (SELECT doc_id, j.j,
         |           sum(CASE WHEN (hv >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS bal
         |         FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS j) j
         |         GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash48
         |FROM bits GROUP BY 1""".stripMargin) { (s, d) =>
      // one generated loop per doc (simhash_bits) — formerly 48
      // interpreted aggregate-HOF folds over the token hashes
      withToks(docs(s, d)).select(col("doc_id"),
        call_function("simhash_bits", array_distinct(col("toks")), lit(48))
          .as("simhash48"))
    },

    // ---- deterministic train/val/test split assignment: the standard
    //      hash-bucket split a training pipeline needs (reproducible at
    //      any scale, no shuffle, no RNG state — re-running the pipeline
    //      or adding machines never moves a document between splits).
    //      80/10/10 on h60("split:"+doc_id) % 100.
    Q("d_split_assign",
      s"""SELECT doc_id,
         |  ${H("'split:'||CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN ${H("'split:'||CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${H("'split:'||CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin) { (s, d) =>
      val bucket = h60(concat(lit("split:"), col("doc_id").cast("string"))) % 100
      docs(s, d).select(col("doc_id"), bucket.as("bucket"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
    },

    // ---- near-dup CLUSTER canonicalization: connected components over the
    //      verified LSH pair graph (the step after pair generation in a
    //      dedup pipeline — each cluster keeps one canonical doc). Spark
    //      side is Pregel-style min-label propagation: O(diameter) rounds
    //      of join+groupBy, lineage cut per round, convergence detected by
    //      the monotone sum of labels — the DataFrame-native form of what
    //      GraphX/GraphFrames would run, distributed at any scale. The
    //      oracle computes the same unique fixpoint via a recursive CTE,
    //      so the hash-match proves the iteration converged exactly.
    Q("d_dup_clusters",
      s"""WITH RECURSIVE $DOCS2,
         |${shCte("d2")},
         |$SIG_CTE,
         |bd AS (SELECT doc_id, b.b AS band,
         |         CAST(max(CASE WHEN seed = 2*b.b THEN mh END) AS VARCHAR) || ':' ||
         |         CAST(max(CASE WHEN seed = 2*b.b+1 THEN mh END) AS VARCHAR) AS bkey
         |       FROM sg CROSS JOIN (SELECT unnest(generate_series(0, ${NBANDS - 1})) AS b) b
         |       GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bd x JOIN bd y ON x.band = y.band AND x.bkey = y.bkey
         |                            AND x.doc_id < y.doc_id),
         |v AS (SELECT c.doc_a, c.doc_b,
         |        CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |          / (len(sa.shingles) + len(sb.shingles)
         |             - len(list_intersect(sa.shingles, sb.shingles))) AS j
         |      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
         |                  JOIN sh sb ON sb.doc_id = c.doc_b),
         |bi AS (SELECT doc_a AS a, doc_b AS b FROM v WHERE j >= 0.8
         |       UNION ALL SELECT doc_b, doc_a FROM v WHERE j >= 0.8),
         |reach AS (SELECT doc_id AS v, doc_id AS r FROM d2
         |          UNION
         |          SELECT bi.b AS v, reach.r FROM bi JOIN reach ON reach.v = bi.a),
         |cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT doc_id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
         |FROM cl""".stripMargin) { (s, d) =>
      // edges: the same LSH candidate→verify pipeline as d_lsh_pairs
      val sh = withShingles(docs2(s, d)).select("doc_id", "shingles").persist()
      val sig = withSig(sh).persist()
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val uni = size(col("sh_a")) + size(col("sh_b")) - size(array_intersect(col("sh_a"), col("sh_b")))
      val edges = lshCandVerify(s, sh, sig)
        .where(inter / uni >= 0.8)
        .select("doc_a", "doc_b")
      // Two CC algorithms, both converging to the same unique min-id
      // labeling (ComponentsSpec pins the equality): min-label propagation
      // below graft.cc.starMinDocs (cheapest at tiny corpora), alternating
      // large-star/small-star (O(log n) rounds, skew-bounded — the
      // VERDICT r8 extreme-edge-count caveat) above it. Measured on the
      // r9 corpus (outputs identical row-for-row): star 16.6 s vs
      // propagation 34.2 s at 100k docs (sf1); parity at 10k and below —
      // hence the 10k default: no cost at bench scale, 2× at sf1, and the
      // round count stops tracking diameter beyond that.
      val labels =
        if (sh.count() >= s.conf.get("graft.cc.starMinDocs", "10000").toLong) {
          val star = Components.starContract(
            edges.select(col("doc_a").as("a"), col("doc_b").as("b")))
          docs2(s, d).select(col("doc_id"))
            .join(star.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("comp"), col("doc_id")).as("cluster_id"))
        } else {
          val bi = edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
            .union(edges.select(col("doc_b").as("a"), col("doc_a").as("b")))
            .localCheckpoint(true) // reused every round: materialize once
          // min-label propagation to the unique fixpoint
          var lbl = docs2(s, d)
            .select(col("doc_id"), col("doc_id").as("cluster_id")).localCheckpoint(true)
          var prevSum = Long.MaxValue
          var sum = lbl.agg(org.apache.spark.sql.functions.sum("cluster_id")).head.getLong(0)
          while (sum < prevSum) { // Σ labels strictly decreases until converged
            val prop = bi.join(lbl, bi("a") === lbl("doc_id"))
              .groupBy(bi("b").as("nbr_of")).agg(min("cluster_id").as("nbr_min"))
            lbl = lbl.join(prop, lbl("doc_id") === col("nbr_of"), "left")
              .select(lbl("doc_id"),
                least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
              .localCheckpoint(true) // cut lineage: O(1) plan depth per round
            prevSum = sum
            sum = lbl.agg(org.apache.spark.sql.functions.sum("cluster_id")).head.getLong(0)
          }
          lbl
        }
      labels.withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
    },

    // ---- benchmark DECONTAMINATION: flag training docs sharing any
    //      shingle with a held-out benchmark set (doc_id < 10 stands in
    //      for the eval suite) — the n-gram-overlap check every LLM data
    //      pipeline runs before training. Benchmark shingles are tiny →
    //      broadcast; the corpus side is one exploded semi-join keyed on
    //      the shingle — an inverted-index probe, never corpus×benchmark.
    Q("d_decontaminate",
      s"""WITH ${shCte("documents")},
         |bl AS (SELECT list(DISTINCT sgl) AS bs FROM
         |        (SELECT unnest(shingles) AS sgl FROM sh WHERE doc_id < 10))
         |SELECT doc_id,
         |       CAST(len(list_intersect(shingles, bl.bs)) AS BIGINT) AS n_hits,
         |       len(list_intersect(shingles, bl.bs)) > 0 AS contaminated
         |FROM sh CROSS JOIN bl WHERE doc_id >= 10""".stripMargin) { (s, d) =>
      // The held-out benchmark set is SMALL by construction (an eval set,
      // not a corpus) — so its distinct shingles collect to the driver and
      // ship as one literal array, and contamination becomes a map-only
      // array_intersect over the corpus: ZERO shuffles (the previous shape
      // exploded every corpus shingle and paid a countDistinct shuffle
      // plus a left join — 3 exchanges and 7-8 s at sf0.1, vs map-only
      // here). Per-doc shingles are already distinct, so the intersect
      // size IS the distinct hit count.
      val sh = withShingles(docs(s, d)).select("doc_id", "shingles")
      val benchSgl = sh.where(col("doc_id") < 10)
        .select(explode(col("shingles")).as("sgl")).distinct()
        .collect().map(_.getString(0)).sorted
      val hits = size(array_intersect(col("shingles"), typedLit(benchSgl))).cast("long")
      sh.where(col("doc_id") >= 10)
        .select(col("doc_id"), hits.as("n_hits"), (hits > 0).as("contaminated"))
    },

    // ---- repetition quality filters (the Gopher/MassiveText rules: a doc
    //      dominated by its own most-frequent n-gram, or with a high share
    //      of duplicated n-grams, is boilerplate). Spark side is MAP-ONLY:
    //      sort each doc's n-gram array in-row, then a single aggregate()
    //      fold computes the longest equal-run (= top n-gram count) and
    //      the duplicated-occurrence total — no explode, no shuffle, stays
    //      in codegen at any corpus size. The oracle recomputes both via
    //      the naive unnest+GROUP BY shape, so the hash-match proves the
    //      run-length fold equals the exact counting semantics.
    Q("d_repetition_stats",
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
        |                i -> toks[i] || ' ' || toks[i+1])) AS g FROM tk),
        |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-2),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM tk),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top2_cnt,
        |              CAST(sum(c) AS BIGINT) AS n_2grams FROM c2 GROUP BY 1),
        |a3 AS (SELECT doc_id, CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3_occ,
        |              CAST(sum(c) AS BIGINT) AS n_3grams FROM c3 GROUP BY 1)
        |SELECT a2.doc_id, top2_cnt, n_2grams,
        |  CAST(floor(top2_cnt / CAST(n_2grams AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS top2_bp,
        |  dup3_occ, n_3grams,
        |  CAST(floor(dup3_occ / CAST(n_3grams AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS dup3_bp
        |FROM a2 JOIN a3 ON a2.doc_id = a3.doc_id""".stripMargin) { (s, d) =>
      // n-gram repetition stats (best = the doc's top n-gram count,
      // dup = Σ occurrences of repeated n-grams, n = gram count) in ONE
      // generated counting loop per doc (GramStatsExpr) — formerly an
      // interpreted transform to build the grams, an interpreted
      // array_sort, and an interpreted stateful aggregate-HOF fold with
      // a named_struct allocation per element. Occurrence counting
      // equals run-length over any sorted array exactly (a sort only
      // groups equal grams adjacently).
      withToks(docs(s, d))
        // docs under 3 tokens have no 3-grams: the oracle's inner joins
        // drop them (no g3 rows → no a3 row), so filter symmetrically
        .where(size(col("toks")) >= 3)
        .withColumn("r2", expr("gram_stats(toks, 2)"))
        .withColumn("r3", expr("gram_stats(toks, 3)"))
        .select(col("doc_id"),
          col("r2.best").as("top2_cnt"), col("r2.n").as("n_2grams"),
          floor(col("r2.best") / col("r2.n").cast("double") * 10000 + 0.5)
            .cast("long").as("top2_bp"),
          col("r3.dup").as("dup3_occ"), col("r3.n").as("n_3grams"),
          floor(col("r3.dup") / col("r3.n").cast("double") * 10000 + 0.5)
            .cast("long").as("dup3_bp"))
    },

    // ---- PII detection + scrubbing: regex redaction of emails and phone
    //      numbers with per-doc match counts — the scrub every public
    //      training corpus runs. The synthetic corpus carries no PII, so
    //      the query AUGMENTS each doc with deterministic synthetic
    //      contacts first (derived from its own fields — both engines
    //      build the identical string), then proves detection (counts) and
    //      redaction (fingerprint of the scrubbed text) match exactly.
    //      Map-only: regexp ops in the projection, no shuffle. The regexes
    //      stay in the Java∩RE2 common dialect so Spark and DuckDB agree.
    Q("d_pii_scrub",
      """WITH aug AS (SELECT doc_id,
        |    text || ' contact ' || source || '@example.com or ' || lang
        |         || '.user@mail.org call 555-' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '555-[0-9]+')) AS BIGINT) AS n_phones,
        |  CAST('0x'||substr(md5(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '555-[0-9]+', '[PHONE]', 'g')),1,15) AS BIGINT) AS scrub_fp
        |FROM aug""".stripMargin) { (s, d) =>
      val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val phoneRe = "555-[0-9]+"
      docs(s, d)
        .withColumn("t", concat(col("text"), lit(" contact "), col("source"),
          lit("@example.com or "), col("lang"), lit(".user@mail.org call 555-"),
          col("doc_id").cast("string")))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phones"),
          h60(regexp_replace(regexp_replace(col("t"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]")).as("scrub_fp"))
    },

    // ---- training-chunk windowing: split every document into fixed-size
    //      token windows with overlap (64-token chunks, stride 48 — the
    //      context-packing step before tokenization in an LLM pipeline).
    //      Map-only + explode: the row multiplier ≈ n_tokens/stride is the
    //      output's actual size, there is no shuffle, and each chunk's
    //      fingerprint makes the result hash-checkable without shipping
    //      the chunk text twice.
    Q("d_chunk_windows",
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |st AS (SELECT doc_id, toks, unnest(generate_series(0, ((len(toks)-1)//48)*48, 48)) AS s
        |       FROM tk)
        |SELECT doc_id, CAST(s//48 AS BIGINT) AS chunk_idx,
        |  CAST(len(toks[s+1 : s+64]) AS BIGINT) AS n_chunk_toks,
        |  CAST('0x'||substr(md5(array_to_string(toks[s+1 : s+64], ' ')),1,15) AS BIGINT) AS chunk_fp
        |FROM st""".stripMargin) { (s, d) =>
      withToks(docs(s, d))
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(0, ((size(toks)-1) div 48)*48, 48)")).as("s"))
        .select(col("doc_id"), (col("s") / 48).cast("long").as("chunk_idx"),
          size(expr("slice(toks, s+1, 64)")).cast("long").as("n_chunk_toks"),
          h60(array_join(expr("slice(toks, s+1, 64)"), " ")).as("chunk_fp"))
    },

    // ---- the CURATION LEDGER: the composed keep/drop decision a corpus
    //      pipeline ends with, one row per document carrying the FIRST
    //      failing stage as the reason — exact-dup canonicalization (one
    //      hash groupBy), then map-only token/quality/repetition gates
    //      reusing the exact formulas of d_dedup_exact, d_token_stats,
    //      d_quality_score, and d_repetition_stats. The ledger (not a
    //      filtered corpus) is the production artifact: it makes every
    //      drop auditable and the pipeline re-runnable stage by stage.
    Q("d_curation_ledger",
      """WITH tk AS (SELECT doc_id, n_chars, string_split(text,' ') AS toks,
        |       CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS th FROM documents),
        |canon AS (SELECT th, min(doc_id) AS keeper FROM tk GROUP BY 1),
        |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
        |                i -> toks[i] || ' ' || toks[i+1])) AS g FROM tk),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id,
        |         CAST(floor(max(c) / CAST(sum(c) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS top2_bp
        |       FROM c2 GROUP BY 1),
        |q AS (SELECT tk.doc_id, canon.keeper, len(toks) AS n_tokens, a2.top2_bp,
        |        CAST(floor((0.5 * least(CAST(n_chars AS DOUBLE) / 400.0, 1.0)
        |          + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
        |          + 0.2 * least(5.0 * CAST(len(list_filter(toks, t -> t IN ('the','a'))) AS DOUBLE)
        |                        / len(toks), 1.0)) * 10000.0 + 0.5) AS BIGINT) AS quality_bp
        |      FROM tk JOIN canon USING (th) LEFT JOIN a2 ON a2.doc_id = tk.doc_id)
        |SELECT doc_id,
        |  CASE WHEN doc_id != keeper  THEN 'dup_exact'
        |       WHEN n_tokens < 20     THEN 'too_short'
        |       WHEN quality_bp < 5000 THEN 'low_quality'
        |       WHEN top2_bp > 1500    THEN 'repetitive'
        |       ELSE 'keep' END AS verdict,
        |  doc_id = keeper AND n_tokens >= 20 AND quality_bp >= 5000
        |    AND top2_bp <= 1500 AS keep
        |FROM q""".stripMargin) { (s, d) =>
      val tk = withToks(docs(s, d))
        .withColumn("th", h60(col("text")))
      val canon = tk.groupBy("th").agg(min("doc_id").as("keeper"))
      // LEFT JOIN a2 in the oracle + the gram guard here: a single-token
      // doc has no 2-grams (top2_bp null) but MUST still appear in the
      // ledger — 'too_short' fires before the repetition test either way
      val top2 = expr("gram_stats(toks, 2)")
      val quality = floor((lit(0.5) * least(col("n_chars").cast("double") / 400.0, lit(1.0))
        + lit(0.3) * (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
        + lit(0.2) * least(lit(5.0) * expr("element_at(token_set_counts(toks, array(array('the','a'))), 1)").cast("double")
          / size(col("toks")), lit(1.0))) * 10000.0 + 0.5).cast("long")
      val scored = tk
        .withColumn("r2", top2)
        // try_divide: a doc with no 2-grams has n = 0 → NULL top2_bp (the
        // oracle's LEFT JOIN shape), not an ANSI divide-by-zero
        .withColumn("top2_bp",
          floor(try_divide(col("r2.best"), col("r2.n").cast("double")) * 10000 + 0.5)
            .cast("long"))
        .withColumn("quality_bp", quality)
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .join(canon, Seq("th")) // broadcast-sized at any SF: one row per distinct text
      scored.select(col("doc_id"),
        when(col("doc_id") =!= col("keeper"), "dup_exact")
          .when(col("n_tokens") < 20, "too_short")
          .when(col("quality_bp") < 5000, "low_quality")
          .when(col("top2_bp") > 1500, "repetitive")
          .otherwise("keep").as("verdict"),
        (col("doc_id") === col("keeper") && col("n_tokens") >= 20 &&
          col("quality_bp") >= 5000 && col("top2_bp") <= 1500).as("keep"))
    },

    // ---- stratified sampling: per-stratum keep rates driven by the
    //      deterministic split hash (sampleBy without RNG state — the
    //      balanced-sampling stage of a corpus pipeline: downsample the
    //      dominant source, keep the rare one whole). Map-only: the keep
    //      decision is a pure function of (doc_id, stratum), so re-running
    //      the pipeline — or running it on a different cluster layout —
    //      selects the IDENTICAL sample.
    Q("d_stratified_sample",
      s"""SELECT doc_id, source,
         |  ${H("'samp:'||CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |FROM documents
         |WHERE ${H("'samp:'||CAST(doc_id AS VARCHAR)")} % 100 <
         |  CASE source WHEN 'src0' THEN 25 WHEN 'src1' THEN 50 ELSE 100 END""".stripMargin) { (s, d) =>
      val bucket = h60(concat(lit("samp:"), col("doc_id").cast("string"))) % 100
      val rate = when(col("source") === "src0", 25)
        .when(col("source") === "src1", 50).otherwise(100)
      docs(s, d).select(col("doc_id"), col("source"), bucket.as("bucket"))
        .where(col("bucket") < rate)
    },

    // ---- corpus-wide heavy hitters: the 20 most frequent 2-grams with
    //      occurrence and document-frequency counts (boilerplate
    //      detection — the corpus-level companion to the per-doc
    //      repetition filters). Scale shape: explode → one partial-
    //      aggregated shuffle on the gram; the top-k is
    //      TakeOrderedAndProject (per-partition heaps merged on the
    //      driver), never a full sort. count DESC, gram ASC tie-break
    //      keeps the result deterministic.
    Q("d_top_ngrams",
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
        |                i -> toks[i] || ' ' || toks[i+1])) AS g FROM tk),
        |c AS (SELECT g, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |      FROM g2 GROUP BY 1)
        |SELECT g AS ngram, CAST(n_occ AS BIGINT) AS n_occ, CAST(n_docs AS BIGINT) AS n_docs
        |FROM c ORDER BY n_occ DESC, g ASC LIMIT 20""".stripMargin) { (s, d) =>
      withToks(docs(s, d))
        // explode of the guarded (possibly empty) gram array drops
        // single-token docs — exactly DuckDB's empty generate_series
        .select(col("doc_id"), explode(expr("word_grams(toks, 2)")).as("ngram"))
        .groupBy("ngram")
        .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
        .orderBy(col("n_occ").desc, col("ngram").asc)
        .limit(20)
    }
  )
}
