package graft.queries

import graft.sources.PartitionSwap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained BM25 postings index (VERDICT r15
  * #1) — the text analog of the vector ladder's build-once/query-many
  * shape. `EmbedOps.hybridRrf` recomputes postings per query batch, so
  * hybrid retrieval paid a corpus text scan the vector side no longer
  * pays; this index moves the text side at rest.
  *
  * Layout at `indexDir`:
  *   - `postings.parquet/tb=N/` — (term, doc_id, tf, dl) laid out
  *     `partitionBy(tb)` where `tb = pmod(xxhash64(term), TB)`: a query's
  *     term buckets push as PartitionFilters, so the scoring scan reads
  *     ≈ |query-term buckets|/TB of the postings — never the corpus text
  *     (the `d_inverted_index` df-filter discipline, made at-rest).
  *     Within each bucket the rows are CLUSTERED BY TERM (build, fold and
  *     compact all sort within partitions; VERDICT r16 #2b), so each
  *     term's postings are contiguous and the query-vocabulary predicate
  *     the search pushes into the scan prunes at parquet row-group
  *     granularity — per-query read bytes are bounded by the query
  *     terms' postings, not the probed buckets' full volume.
  *   - `postings.delta.parquet/` — the flat L0 tier (tb as a data
  *     column): each appended batch lands as ONE file, folded into the
  *     partitioned layout every `graft.ivf.deltaMaxFiles` files — the
  *     exact delta/fold/marker machinery the vector tiers use
  *     (EmbedOps.foldDeltaAt, shared, pcol = "tb").
  *   - `doclen.parquet/` — one (doc_id, dl) row per document, flat. Kept
  *     per-doc rather than as increment rows so DELETE stays idempotent:
  *     a retried takedown anti-joins the same ids to the same result,
  *     where a (−ddocs, −dtokens) increment row would double-decrement
  *     on replay (the IndexStream scrub re-runs the whole delete).
  *   - `df.parquet/tb=N/` — the derived per-term (term, df) tier for
  *     the PARTITIONED postings (VERDICT r16 #7): search-time df is one
  *     pruned read of these tiny rows plus a count over the bounded
  *     delta, so the probed postings are scanned once per query, not
  *     twice. Folds and deletes re-derive exactly the buckets they
  *     rewrote; the `df.dirty` marker (content = touched buckets) makes
  *     every crash window read-refusing and heal-pruned.
  *   - `stats.parquet` — ONE row (n_docs, dl_sum), the BM25 corpus
  *     constants as exact integers AT REST (VERDICT r16 #2a): searches
  *     read two scalars instead of aggregating the doclen table per
  *     query batch (O(N docs) per search at corpus scale). Maintained
  *     by build/append/delete under the `stats.dirty` marker: the
  *     marker is created before the first doclen-mutating write of an
  *     op and removed after the matching stats write, so ANY crash
  *     inside the window is (a) refused loudly by reads and (b) healed
  *     by the next maintenance entry's `reconcile`, which recomputes
  *     the scalars from the doclen table — recompute ≡ increment is
  *     the invariant `TextIndexSpec` pins across append/delete/replay.
  *
  * Lifecycle parity with the vector indexes: append is O(batch) (one
  * tokenize/tf pass, one delta file, one doclen append, one stats
  * increment), delete rewrites ONLY the term buckets the doc's terms
  * hash to (partition-pruned anti-join, two-rename swap, `del`/`compact`
  * namespaces shared with `EmbedOps.deleteFromPartitioned`) and then
  * recomputes the two stats scalars from the doclen rewrite it already
  * paid for, compact collapses hot buckets' append debris, and every
  * crash window is healed by `reconcile` / refused loudly by the read
  * guards (`requireNoSwapDebris` with pcol "tb"; `stats.dirty`).
  *
  * Scoring exactness: `bm25RankIndexed` reproduces
  * `EmbedOps.bm25Rank`'s arithmetic operation-for-operation (rational
  * log-free idf, micro-quantized per-term contributions, BIGINT per-doc
  * sums), sourced from the at-rest postings instead of an in-gate
  * tokenize — `em_hybrid_rrf_persisted` shares `hybridRrfOracleSql`
  * byte-identically on that basis.
  *
  * Reference anchor: the reference's standing-CQ import path
  * (`syncing/importer.go:323-333`) applies new points against existing
  * state rather than recomputing it — this is that discipline for the
  * retrieval index's text half.
  */
object TextIndex {

  /** Term-bucket count. Fixed like the near-dup index's `doc_id%64`
    * layout: the partition count is a layout constant (rewrites are
    * O(affected buckets)), per-bucket VOLUME scales out via file count
    * inside each bucket dir + `bm25Compact`'s target-bytes splitting. */
  private val TB = 64

  /** The delta tier's schema, pinned so delta reads never depend on
    * schema inference: a concurrent appender creates the dir (with only
    * the committer's `_temporary` inside) before its first file commits,
    * and an inference-based read of that moment throws
    * UNABLE_TO_INFER_SCHEMA — where the CORRECT answer is simply "no
    * committed rows yet" (found by the concurrent reader/maintainer
    * storm, r18). Files commit atomically (local/HDFS rename), so an
    * explicit-schema read always sees a consistent prefix of batches. */
  private val deltaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tb",
      org.apache.spark.sql.types.LongType)))

  /** Explicit read schemas for the FIXED at-rest artifacts (r20
    * optimization, guide §5 — driver work): a schema-inferred
    * `read.parquet` runs a footer-read job per call, pure fixed latency
    * on every search/maintenance entry and a listing+footer pass over a
    * large index dir at deployment scale. The schemas are pinned by this
    * file's own writers; partition columns read back as STRING
    * (partition-type inference is off session-wide). */
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tb",
      org.apache.spark.sql.types.StringType)))

  private val doclenSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType)))

  private val statsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl_sum",
      org.apache.spark.sql.types.LongType)))

  private val dfTierSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tb",
      org.apache.spark.sql.types.StringType)))

  /** Count of searches that dropped the term row-group predicate because
    * the query vocabulary exceeded `graft.text.termPushdownMax` — the
    * observable for the documented pushdown fallback (results stay
    * identical; read volume regresses to the probed buckets' full
    * volume, which production should see in a metric, not infer). */
  val termPushdownFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Term-pushdown ceiling. The default is PARQUET-SAFE, not merely
    * plan-size-motivated: parquet evaluates a pushed In predicate as a
    * recursive or-chain, and on a default JVM stack the recursion
    * overflows executor threads past ~600 string literals (~800-1100
    * for longs — measured r20; the original 8192 default was a latent
    * StackOverflowError for any multi-thousand-term vocabulary, first
    * hit by the batched serve's union vocabulary at sf10). Past the
    * ceiling the search falls back observably (counter + warn) to
    * bucket PartitionFilters only — identical results, spec-pinned. */
  private def termPushMax(s: SparkSession): Int =
    s.conf.get("graft.text.termPushdownMax", "384").toInt

  // BM25 parameters — the LITERAL constants EmbedOps.bm25Rank uses
  // (k1 = 1.2, b = 0.75; 2.2 = k1+1, 0.25 = 1−b), spelled identically so
  // the scoring doubles are the same bit patterns, not derived values.

  /** One tokenize → tf pass over a (doc_id, text) corpus: the postings
    * rows (term, doc_id, tf, dl) plus their term bucket. Whitespace
    * tokenization — the shared convention of every text gate. */
  private def tfRows(corpus: DataFrame): DataFrame =
    tfRowsT(corpus.select(col("doc_id"), split(col("text"), " ").as("toks")))

  /** The tf pass over an already-tokenized (doc_id, toks) corpus — the
    * RAG composition indexes chunk token windows directly. */
  private def tfRowsT(tk: DataFrame): DataFrame =
    tk.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(TB.toLong)))

  private def doclenRows(corpus: DataFrame): DataFrame =
    doclenRowsT(corpus.select(col("doc_id"), split(col("text"), " ").as("toks")))

  private def doclenRowsT(tk: DataFrame): DataFrame =
    tk.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))

  // ---- the corpus-stats artifact (VERDICT r16 #2a) ----

  private def statsP(indexDir: String) = s"$indexDir/stats.parquet"
  private def dirtyP(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/stats.dirty")

  /** Create the dirty marker — the op is about to mutate doclen and the
    * stats no longer (or may no longer) match it. One atomic create. */
  private def markStatsDirty(s: SparkSession, indexDir: String): Unit = {
    val (f, _) = EmbedOps.hfs(s, indexDir)
    f.mkdirs(new org.apache.hadoop.fs.Path(indexDir))
    f.create(dirtyP(indexDir), true).close()
  }

  private def clearStatsDirty(s: SparkSession, indexDir: String): Unit = {
    val (f, _) = EmbedOps.hfs(s, indexDir)
    f.delete(dirtyP(indexDir), false)
    ()
  }

  /** The exact scalars from the per-doc length table — the recompute
    * side of the recompute ≡ increment invariant. (0, 0) for an absent
    * or empty doclen table. */
  private def recomputeStats(s: SparkSession, indexDir: String): (Long, Long) = {
    val (f, p) = EmbedOps.hfs(s, s"$indexDir/doclen.parquet")
    if (!f.exists(p)) return (0L, 0L)
    val r = s.read.schema(doclenSchema).parquet(p.toString)
      .agg(count(lit(1)).cast("long"),
        coalesce(sum("dl"), lit(0L)).cast("long")).head
    (r.getLong(0), r.getLong(1))
  }

  private def writeStats(s: SparkSession, indexDir: String,
      nDocs: Long, dlSum: Long): Unit = {
    import s.implicits._
    Seq((nDocs, dlSum)).toDF("n_docs", "dl_sum")
      .coalesce(1).write.mode("overwrite").parquet(statsP(indexDir))
  }

  // ---- the per-term df tier (VERDICT r16 #7) ----
  //
  // `df.parquet/tb=N/` holds (term, df) for the PARTITIONED postings
  // tier — the last derived artifact of a fully materialized inverted
  // index. Search-time df becomes: tier row (pruned to the query
  // vocabulary — a few hundred tiny rows) + a count over the BOUNDED
  // delta tier, so the probed postings are read ONCE (the scoring join)
  // instead of twice (scoring + a df aggregation over the same rows).
  //
  // Maintenance is the LSM discipline: the tier tracks the FOLDED layout
  // only, so append stays O(batch) (the delta's counts are added at
  // search, not materialized); fold and delete refresh exactly the
  // buckets they rewrote (same cost class as the rewrite itself); crash
  // windows are covered by the `df.dirty` marker, whose content names
  // the touched buckets — reads refuse while it exists, reconcile
  // re-derives those buckets from the postings (recompute ≡ the
  // refresh, provable because df IS a per-bucket aggregate of the
  // postings).

  private def dfDirtyP(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/df.dirty")

  private def clearDfDirty(s: SparkSession, indexDir: String): Unit = {
    val (f, _) = EmbedOps.hfs(s, indexDir)
    f.delete(dfDirtyP(indexDir), false)
    ()
  }

  /** Mark the df tier stale for `buckets` (None = all): one atomic
    * create whose CONTENT is the touched-bucket list, so the heal is as
    * pruned as the op that died. */
  private def markDfDirty(s: SparkSession, indexDir: String,
      buckets: Option[Seq[String]]): Unit = {
    val (f, _) = EmbedOps.hfs(s, indexDir)
    f.mkdirs(new org.apache.hadoop.fs.Path(indexDir))
    val out = f.create(dfDirtyP(indexDir), true)
    try out.write(buckets.fold("*")(_.mkString(",")).getBytes("UTF-8"))
    finally out.close()
  }

  private def readDfDirty(s: SparkSession, indexDir: String)
      : Option[Option[Seq[String]]] = {
    val (f, _) = EmbedOps.hfs(s, indexDir)
    if (!f.exists(dfDirtyP(indexDir))) None
    else {
      val in = f.open(dfDirtyP(indexDir))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(if (txt.trim == "*" || txt.trim.isEmpty) None
           else Some(txt.trim.split(",").toSeq))
    }
  }

  /** Re-derive the df tier for `buckets` (None = all) from the
    * PARTITIONED postings tier — the pruned recompute every refresh and
    * every heal runs. Each bucket dir swaps whole (delete + rename; the
    * surrounding df.dirty marker covers any torn point). */
  private def refreshDf(s: SparkSession, indexDir: String,
      buckets: Option[Seq[String]],
      source: Option[DataFrame] = None): Unit = {
    val (f, liveP) = EmbedOps.hfs(s, s"$indexDir/postings.parquet")
    if (!f.exists(liveP) || f.listStatus(liveP).isEmpty) return
    dfDeriveTmp(s, indexDir, buckets, source)
    dfSwapTmp(s, indexDir, buckets)
  }

  /** The derive half of `refreshDf`: aggregate the df rows into
    * `df.refresh.tmp`. Writes NO visible state (readers never look at
    * the tmp dir), so the build overlaps it with the other artifact
    * writes (guide §2.6) and swaps after — `dfSwapTmp`. */
  private def dfDeriveTmp(s: SparkSession, indexDir: String,
      buckets: Option[Seq[String]],
      source: Option[DataFrame] = None): Unit = {
    val (f, liveP) = EmbedOps.hfs(s, s"$indexDir/postings.parquet")
    val tmpRoot = new org.apache.hadoop.fs.Path(s"$indexDir/df.refresh.tmp")
    f.delete(tmpRoot, true)
    // `source` (r20 optimization): the build already holds the postings
    // rows it just wrote (cached token pass) — aggregating those instead
    // of re-reading the live layout drops an O(index) read from every
    // build; identical rows, identical counts, identical dir names
    // (tb longs write the same `tb=N` dirs the string read would).
    // Maintenance refreshes keep the live read.
    val pruned = source.getOrElse(buckets.fold(
      s.read.schema(postingsSchema).parquet(liveP.toString))(bs =>
      s.read.schema(postingsSchema).parquet(liveP.toString)
        .where(col("tb").isin(bs: _*))))
    pruned.groupBy("tb", "term").agg(count(lit(1)).as("df"))
      .repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("term"))
      .write.mode("overwrite").partitionBy("tb").parquet(tmpRoot.toString)
  }

  /** The swap half of `refreshDf`: move the refreshed bucket dirs from
    * `df.refresh.tmp` into `df.parquet` (callers hold the df.dirty
    * marker across this). */
  private def dfSwapTmp(s: SparkSession, indexDir: String,
      buckets: Option[Seq[String]]): Unit = {
    val (f, _) = EmbedOps.hfs(s, s"$indexDir/postings.parquet")
    val tmpRoot = new org.apache.hadoop.fs.Path(s"$indexDir/df.refresh.tmp")
    val dfRoot = new org.apache.hadoop.fs.Path(s"$indexDir/df.parquet")
    f.mkdirs(dfRoot)
    // swap in the refreshed buckets; a refreshed bucket that lost every
    // posting has no tmp dir — drop its stale df dir outright
    val refreshed = f.listStatus(tmpRoot)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("tb="))
      .map(_.getPath.getName).toSet
    val toClear = buckets.fold(
      f.listStatus(dfRoot).filter(_.isDirectory).map(_.getPath.getName).toSet
        ++ refreshed)(bs => bs.map(b => s"tb=$b").toSet)
    toClear.foreach { nm =>
      f.delete(new org.apache.hadoop.fs.Path(dfRoot, nm), true)
      val tmp = new org.apache.hadoop.fs.Path(tmpRoot, nm)
      if (f.exists(tmp) &&
          !f.rename(tmp, new org.apache.hadoop.fs.Path(dfRoot, nm)))
        sys.error(s"df refresh swap failed for $nm (df.dirty marker " +
          "remains — reconcile re-derives)")
    }
    f.delete(tmpRoot, true)
  }

  /** Maintenance-path read of the stats scalars. Only called after
    * `reconcile`, which guarantees a live, clean stats artifact whenever
    * a doclen table exists (including legacy dirs built before the
    * artifact existed). */
  private def readStatsMaint(s: SparkSession, indexDir: String): (Long, Long) = {
    val r = s.read.schema(statsSchema).parquet(statsP(indexDir))
      .select("n_docs", "dl_sum").head
    (r.getLong(0), r.getLong(1))
  }

  /** Search-path read: two scalars from the index's SMALLEST artifact.
    * Refuses loudly inside a maintainer's crash window (`stats.dirty`
    * present — the scalars may not match the doclen table), exactly
    * like `requireNoSwapDebris` refuses a torn postings layout. A
    * legacy dir with no stats artifact falls back to the read-only
    * recompute (searches never mutate; the next maintenance entry
    * materializes the artifact). */
  private def readStatsSearch(s: SparkSession, indexDir: String): (Long, Long) = {
    val (f, sp) = EmbedOps.hfs(s, statsP(indexDir))
    if (f.exists(dirtyP(indexDir)))
      sys.error(s"text index at $indexDir has an unreconciled stats window " +
        "(stats.dirty present): a maintainer died between its doclen write " +
        "and its stats write, or is mid-op — run reconcile " +
        "(maintenance-only) to recompute the corpus stats, then retry")
    if (f.exists(sp)) readStatsMaint(s, indexDir)
    else recomputeStats(s, indexDir)
  }

  /** Build the index from a (doc_id, text) corpus: postings partitioned
    * by term bucket and CLUSTERED BY TERM within each bucket (each
    * term's rows contiguous → row-group pruning to the query
    * vocabulary), plus the per-doc length table and the two-scalar
    * stats artifact. */
  def bm25Build(corpus: DataFrame, indexDir: String): Unit =
    bm25BuildT(corpus.select(col("doc_id"), split(col("text"), " ").as("toks")),
      indexDir)

  /** Build from an already-tokenized (doc_id, toks) corpus — the RAG
    * composition's chunk token windows index without a string
    * round-trip. */
  def bm25BuildT(tk: DataFrame, indexDir: String): Unit = {
    val s = tk.sparkSession
    // a REBUILD over an existing dir must not leave the old stats beside
    // a new doclen if it crashes mid-way — same marker window as append
    markStatsDirty(s, indexDir)
    // tokenize/chunk ONCE: every artifact below consumes `tk`, and
    // for the RAG composition `tk` is the chunk-window derivation — one
    // materialized pass instead of two, then the independent table
    // writes overlap (guide §2.6; all are inside the stats-dirty marker
    // window, so the crash semantics are the sequential ones)
    val tkc = tk.persist()
    // the stats scalars aggregate the SAME doclen rows the write lands
    // (count/sum are order-free), so computing them from the cached
    // tokens in an overlapped branch ≡ the former post-write
    // read-back (recompute ≡ increment invariant intact: reconcile's
    // recompute over the written file yields the same two scalars) —
    // and drops an O(corpus-docs) read pass from every build
    val stats = new java.util.concurrent.atomic.AtomicReference[(Long, Long)]
    try {
      tkc.count()
      // ONE tf pass (r21, guide §1.2): the tokenize + explode +
      // (doc, term) aggregation previously ran TWICE per build — once
      // under the postings write, once re-derived for the df tier. Pin
      // it; the postings write lands the cached rows and the df branch
      // aggregates the same materialization (identical rows by
      // construction — one deterministic aggregation, one
      // materialization). The df TMP write carries no visible state
      // (readers never look at df.refresh.tmp), so it joins the
      // overlapped group (guide §2.6) instead of running as a serial
      // tail; only the SWAP stays behind the df.dirty marker below.
      val tfc = tfRowsT(tkc).persist()
      try {
        graft.queries.Par.run(
          () => tfc
            .repartition(col("tb"))
            // the write requires (tb) ordering for partitionBy; sorting
            // (tb, term) satisfies it AND clusters terms, so no second sort
            // is inserted and the clustering survives into the files
            .sortWithinPartitions(col("tb"), col("term"))
            .write.mode("overwrite").partitionBy("tb")
            .parquet(s"$indexDir/postings.parquet"),
          () => doclenRowsT(tkc)
            .write.mode("overwrite").parquet(s"$indexDir/doclen.parquet"),
          () => {
            val r = doclenRowsT(tkc)
              .agg(count(lit(1)).cast("long"),
                coalesce(sum("dl"), lit(0L)).cast("long")).head
            stats.set((r.getLong(0), r.getLong(1)))
          },
          () => dfDeriveTmp(s, indexDir, None, Some(tfc)))
        val (n, dl) = stats.get
        writeStats(s, indexDir, n, dl)
        clearStatsDirty(s, indexDir)
        // the derived df tier — full derive at build (O(index), like the
        // build itself), aggregated from the pinned tf pass instead of
        // a live-layout re-read; folds and deletes keep it fresh per
        // touched bucket. Only the dir swap runs here — the derive
        // overlapped above.
        markDfDirty(s, indexDir, None)
        dfSwapTmp(s, indexDir, None)
        clearDfDirty(s, indexDir)
      } finally tfc.unpersist()
    } finally tkc.unpersist()
    EmbedOps.bumpGeneration(s, indexDir)
  }

  /** Incremental maintenance: tokenize ONLY the new docs (map-only +
    * one bounded per-doc groupBy), land the batch as ONE term-sorted
    * file in the postings delta tier (fold amortized — the LSM L0
    * landing every vector tier uses), append the batch's doclen rows,
    * and INCREMENT the stats scalars (O(batch) end to end — the
    * increment reads one row and the batch's own aggregate, never the
    * doclen table). Returns docs appended. Duplicate doc_ids are the
    * caller's contract, exactly as vec_ids are for the vector appends
    * (IndexStream's marker+scrub makes stream replays idempotent: the
    * scrub's delete RECOMPUTES the scalars from the surviving doclen
    * rows, which heals any crash point of a dead append — the
    * recompute ≡ increment invariant). */
  def bm25Append(s: SparkSession, newDocs: DataFrame, indexDir: String): Long = {
    reconcile(s, indexDir)
    val batchLens = doclenRows(newDocs)
    val agg = batchLens
      .agg(count(lit(1)).cast("long"),
        coalesce(sum("dl"), lit(0L)).cast("long")).head
    val (n, dl) = (agg.getLong(0), agg.getLong(1))
    if (n > 0) {
      val (n0, dl0) = readStatsMaint(s, indexDir)
      markStatsDirty(s, indexDir)
      tfRows(newDocs).coalesce(1)
        // one file; term-sorted so even unfolded delta reads prune
        .sortWithinPartitions(col("term"))
        .write.mode("append")
        .parquet(s"$indexDir/postings.delta.parquet")
      batchLens.coalesce(1).write.mode("append")
        .parquet(s"$indexDir/doclen.parquet")
      writeStats(s, indexDir, n0 + n, dl0 + dl)
      clearStatsDirty(s, indexDir)
      val maxFiles = s.conf.get("graft.ivf.deltaMaxFiles", "64").toInt
      val (f, deltaP) = EmbedOps.hfs(s, s"$indexDir/postings.delta.parquet")
      if (EmbedOps.parquetFileCount(f, deltaP) >= maxFiles)
        bm25FoldDelta(s, indexDir)
      // the doclen table shares the same delta gate (VERDICT r17 missing
      // #1): each append above landed one more file, and nothing else
      // ever folds them
      val (_, doclenP) = EmbedOps.hfs(s, s"$indexDir/doclen.parquet")
      if (EmbedOps.parquetFileCount(f, doclenP) >= maxFiles)
        compactDoclen(s, indexDir)
      EmbedOps.bumpGeneration(s, indexDir)
    }
    n
  }

  /** Collapse doclen's per-append file debris (VERDICT r17 missing #1):
    * `bm25Append` lands one file per batch and, until this fold existed,
    * nothing ever collapsed them — sustained ingest grew the table's
    * file count without bound while `recomputeStats` and the legacy
    * search fallback list/scan all of it. Same LSM discipline as every
    * other artifact: rewrite the table as one size-targeted generation
    * through the SAME tmp+rename swap `deleteFlat` uses, so the existing
    * doclen heal in `reconcile` ("tmp alone → finish; both → discard
    * tmp") covers this op's crash window verbatim. Content-identical by
    * construction, so the stats scalars are untouched (recompute ≡
    * increment holds across the fold). Returns the pre-fold file count
    * (0 = nothing to fold). */
  private[queries] def compactDoclen(s: SparkSession, indexDir: String,
      targetBytes: Long = 512L << 20): Int = {
    val (f, p) = EmbedOps.hfs(s, s"$indexDir/doclen.parquet")
    val nFiles = EmbedOps.parquetFileCount(f, p)
    if (nFiles <= 1) return 0
    // size-targeted, not coalesce(1): at corpus scale doclen is one row
    // per document — the folded generation splits at ~targetBytes/file
    val bytes = f.getContentSummary(p).getLength
    val outFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/doclen.parquet.tmp")
    val old = new org.apache.hadoop.fs.Path(s"$indexDir/doclen.parquet.old")
    f.delete(tmp, true)
    s.read.schema(doclenSchema).parquet(p.toString).coalesce(outFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    PartitionSwap.commitOne(f, p, tmp, old)
    // the swap is complete — drop the displaced generation now instead of
    // parking a full copy of the table until the NEXT fold (ADVICE r18);
    // a crash before this delete leaves .old for reconcile's stale-.old
    // sweep (live healthy → .old is debris)
    f.delete(old, true)
    nFiles
  }

  /** The postings tier's L0→L1 fold (postings.delta.parquet →
    * postings.parquet), sharing the vector tiers' marker protocol under
    * the text namespace. Folded files land term-clustered (the
    * `sortWithin` column), so the row-group pruning the build
    * establishes survives sustained ingest. Stats are untouched — the
    * fold moves postings between tiers, never changes the corpus. */
  def bm25FoldDelta(s: SparkSession, indexDir: String): Unit = {
    // heal any previous crash FIRST so this fold's df marker never
    // overwrites an unhealed one's bucket list
    reconcile(s, indexDir)
    val (f, deltaP) = EmbedOps.hfs(s, s"$indexDir/postings.delta.parquet")
    if (!f.exists(deltaP)) return
    // the delta's distinct buckets (bounded — the delta is a few batch
    // files): exactly the df-tier entries this fold will stale
    val touched = s.read.schema(deltaSchema).parquet(deltaP.toString)
      .select(col("tb").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    markDfDirty(s, indexDir, Some(touched))
    EmbedOps.foldDeltaAt(s, indexDir, "postings.delta.parquet",
      "postings.fold.tmp", "postings.fold.consumed", "postings.parquet", "tb",
      sortWithin = Seq("term"))
    refreshDf(s, indexDir, Some(touched))
    clearDfDirty(s, indexDir)
  }

  /** Targeted takedown: fold first (a delete around an unfolded delta
    * would resurface the doc's postings at the next fold), then rewrite
    * ONLY the term buckets the doc's terms hash to (column-pruned
    * (doc_id, tb) scan → broadcast-join → partition-pruned anti-join —
    * O(affected buckets), never O(index)), then drop the doclen rows
    * (flat tmp+swap) and refresh the stats scalars from the surviving
    * doclen rows — a recompute, which costs the same order as the
    * doclen rewrite the delete already paid for and is what makes a
    * retried (replayed) delete converge instead of double-decrementing.
    * Idempotent end to end: the IndexStream scrub can re-run it
    * blindly. Returns docs deleted. */
  def bm25Delete(s: SparkSession, indexDir: String, ids: DataFrame): Long = {
    reconcile(s, indexDir)
    bm25FoldDelta(s, indexDir)
    markStatsDirty(s, indexDir)
    val (_, affected) = EmbedOps.deleteFromPartitioned(s, indexDir,
      "postings.parquet", "postings.del", ids, pcol = "tb", idCol = "doc_id")
    // the rewritten buckets' df rows are stale — re-derive exactly those
    // (same cost class as the rewrite the delete just paid for)
    if (affected.nonEmpty) {
      markDfDirty(s, indexDir, Some(affected.map(_.toString)))
      refreshDf(s, indexDir, Some(affected.map(_.toString)))
      clearDfDirty(s, indexDir)
    }
    val nDel = EmbedOps.deleteFlat(s, s"$indexDir/doclen.parquet", ids,
      idCol = "doc_id")
    val (n, dl) = recomputeStats(s, indexDir)
    writeStats(s, indexDir, n, dl)
    clearStatsDirty(s, indexDir)
    if (nDel > 0) EmbedOps.bumpGeneration(s, indexDir)
    nDel
  }

  /** Hot-bucket compaction: collapse sustained appends' per-bucket file
    * debris (postings.compact namespace, salt on doc_id), re-clustering
    * each rewritten bucket by term. */
  def bm25Compact(s: SparkSession, indexDir: String, ifMoreThan: Int = 8,
      targetBytes: Long = 512L << 20): Seq[(Long, Int, Int)] = {
    reconcile(s, indexDir)
    bm25FoldDelta(s, indexDir)
    val out = EmbedOps.compactPartitioned(s, indexDir, "postings.parquet",
      "postings.compact", ifMoreThan, targetBytes, pcol = "tb",
      idCol = "doc_id", sortWithin = Seq("term"))
    // doclen debris folds under the same threshold as the hot buckets
    val (f, doclenP) = EmbedOps.hfs(s, s"$indexDir/doclen.parquet")
    if (EmbedOps.parquetFileCount(f, doclenP) > ifMoreThan)
      compactDoclen(s, indexDir, targetBytes)
    out
  }

  /** Heal any crash state this index's namespaces can carry — the
    * maintenance-entry reconciliation (every op above runs it first;
    * reads never do — they refuse loudly instead). */
  def reconcile(s: SparkSession, indexDir: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val f = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(conf)
    Seq("postings.del.tmp", "postings.compact.tmp").foreach { ns =>
      PartitionSwap.heal(f, new org.apache.hadoop.fs.Path(s"$indexDir/$ns")) {
        case u if u.startsWith("tb=") =>
          new org.apache.hadoop.fs.Path(s"$indexDir/postings.parquet/$u")
      }
    }
    // the flat doclen swap (deleteFlat's tmp): tmp alone → finish;
    // both present → swap never started, discard tmp
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/doclen.parquet")
    val ltmp = new org.apache.hadoop.fs.Path(s"$indexDir/doclen.parquet.tmp")
    PartitionSwap.healOne(f, live, ltmp)
    // a .old beside a healthy live table is a fold that crashed between
    // its tmp->live rename and its .old delete (or a pre-r19 fold that
    // never deleted) — the displaced generation is debris (ADVICE r18)
    val lold = new org.apache.hadoop.fs.Path(s"$indexDir/doclen.parquet.old")
    if (f.exists(lold) && f.exists(live) && !f.exists(ltmp))
      f.delete(lold, true)
    EmbedOps.healFoldAt(f, indexDir, "postings.parquet",
      "postings.fold.tmp", "postings.fold.consumed", "tb")
    // the df tier — after the postings heals above, so the re-derive
    // reads the healed layout. A dirty marker names the buckets the dead
    // op touched (pruned heal); a missing tier beside live postings is a
    // legacy (pre-df) dir — full derive on first maintenance entry.
    val dfRoot = new org.apache.hadoop.fs.Path(s"$indexDir/df.parquet")
    val postingsRoot = new org.apache.hadoop.fs.Path(s"$indexDir/postings.parquet")
    readDfDirty(s, indexDir) match {
      case Some(buckets) =>
        refreshDf(s, indexDir, buckets)
        clearDfDirty(s, indexDir)
      case None if !f.exists(dfRoot) && f.exists(postingsRoot) =>
        markDfDirty(s, indexDir, None)
        refreshDf(s, indexDir, None)
        clearDfDirty(s, indexDir)
      case None => ()
    }
    // the stats artifact — LAST, after every doclen heal above, so the
    // recompute reads the healed table. A dirty marker means a
    // maintainer died inside its stats window; a missing artifact
    // beside a live doclen is a legacy (pre-stats) dir — both converge
    // to recompute-and-write, the recompute ≡ increment invariant.
    val statsLive = new org.apache.hadoop.fs.Path(statsP(indexDir))
    if (f.exists(dirtyP(indexDir)) ||
        (!f.exists(statsLive) && f.exists(live))) {
      val (n, dl) = recomputeStats(s, indexDir)
      writeStats(s, indexDir, n, dl)
      f.delete(dirtyP(indexDir), false)
    }
  }

  /** The postings' LIVE logical content — partitioned tier ∪ (bounded)
    * delta — as (term, doc_id, tf, dl, tb[string]). `filterBuckets`
    * lands as PartitionFilters on the partitioned tier (raw string
    * compare, the ivfCompact precedent) and as a pushed predicate over
    * the delta's few files; `filterTerms` pushes the bounded query
    * vocabulary into BOTH scans as a data predicate, which the
    * term-clustered layout turns into row-group pruning (each term's
    * postings are contiguous, so groups whose [min,max] term range
    * misses every query term never leave disk). Appended-but-unfolded
    * postings are always visible, and a crashed maintainer's loss
    * window fails loudly. */
  private def postingsLiveRows(s: SparkSession, indexDir: String,
      filterBuckets: Option[Seq[String]],
      filterTerms: Option[Seq[String]] = None): DataFrame = {
    EmbedOps.requireNoSwapDebris(s, indexDir, "postings.parquet",
      Seq("postings.del", "postings.compact"), "postings.fold.tmp",
      "postings.fold.consumed", pcol = "tb")
    val (f, liveP) = EmbedOps.hfs(s, s"$indexDir/postings.parquet")
    val deltaP = new org.apache.hadoop.fs.Path(s"$indexDir/postings.delta.parquet")
    def shape(df: DataFrame): DataFrame = {
      val bPruned = filterBuckets.fold(df)(bs => df.where(col("tb").isin(bs: _*)))
      val pruned = filterTerms.fold(bPruned)(ts =>
        bPruned.where(col("term").isin(ts: _*)))
      pruned.select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("tb").cast("string").as("tb"))
    }
    val parts = Seq(
      if (f.exists(liveP) && f.listStatus(liveP).nonEmpty)
        Some(shape(s.read.schema(postingsSchema).parquet(liveP.toString)))
      else None,
      if (f.exists(deltaP))
        Some(shape(s.read.schema(deltaSchema).parquet(deltaP.toString)))
      else None).flatten
    require(parts.nonEmpty, s"no postings content at $indexDir")
    parts.reduce(_ union _)
  }

  /** Per-query BM25 top-`topn` from the AT-REST index, byte-identical to
    * `EmbedOps.bm25Rank` over the same corpus content. Query docs
    * (doc_id < nq) tokenize from the corpus table (bounded — nq docs);
    * see `bm25RankIndexedQ` for the scan-bounding mechanics. */
  def bm25RankIndexed(s: SparkSession, d: String, indexDir: String,
      nq: Int, topn: Int): DataFrame = {
    val qt = graft.Tables(s, d, "documents")
      .where(col("doc_id") < nq)
      .select(col("doc_id").as("qid"),
        explode(split(col("text"), " ")).as("term"))
      .distinct()
    bm25RankIndexedQ(s, qt, indexDir, topn)
  }

  /** The query-corpus-parameterized scorer (the RAG composition feeds
    * chunk-window query terms): `qt` is the distinct (qid, term) pairs
    * of the query docs. ONE driver collect materializes the query
    * vocabulary with its term buckets (≤ query vocabulary — the
    * probe-list discipline); the buckets push as PartitionFilters and
    * the terms push as a row-group-pruning data predicate, so the
    * scoring pass reads ≈ the query terms' own postings: df for the
    * query terms and the posting-bounded scoring join both run on that
    * doubly-pruned scan, and the corpus constants come from the at-rest
    * two-scalar stats artifact — nothing in the per-query path scales
    * with the corpus. Vocabularies beyond
    * `graft.text.termPushdownMax` (default 384 — the parquet-safe
    * ceiling, see `termPushMax`) skip the term predicate and keep
    * bucket pruning only. Returns (qid, id, rt ≤ topn). */
  def bm25RankIndexedQ(s: SparkSession, qt: DataFrame, indexDir: String,
      topn: Int): DataFrame = {
    val (nDocs, lTot) = readStatsSearch(s, indexDir)
    val avgdl = lTot.toDouble / nDocs.toDouble
    // the query vocabulary with engine-computed buckets (the same
    // xxhash64 the layout used), ONE collect — bounded by the query
    // docs' distinct terms
    val vocab = qt
      .select(col("term"),
        pmod(xxhash64(col("term")), lit(TB.toLong)).cast("string").as("tb"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (probed, filterTerms) = scanPruning(s, vocab)
    val live = postingsLiveRows(s, indexDir, Some(probed), filterTerms)
    // df for the query terms: the at-rest per-term tier (a few tiny
    // rows, bucket- and term-pruned) + a count over the BOUNDED delta —
    // the probed postings are read ONCE (the scoring join below), not
    // twice (VERDICT r16 #7). Legacy dirs without the tier aggregate
    // the pruned live scan as before.
    val dfr = dfFrame(s, indexDir, probed, filterTerms,
      qt.select("term").distinct(), live)
    scoreFromPostings(live, qt.join(dfr, Seq("term")), nDocs, avgdl, topn)
  }

  /** The bucket PartitionFilters + row-group term predicate for a query
    * vocabulary of (term, tb) pairs. Oversized vocabularies drop the
    * term predicate (a giant IN bloats the plan past its row-group
    * value) and keep bucket pruning only — a silent regression to
    * reading probed buckets in full unless made observable (VERDICT r17
    * wrong #3): one warn + a counter the spec (and a production scrape)
    * can watch. */
  private def scanPruning(s: SparkSession, vocab: Seq[(String, String)])
      : (Seq[String], Option[Seq[String]]) = {
    val probed = vocab.map(_._2).distinct
    val pushMax = termPushMax(s)
    val filterTerms =
      if (vocab.length <= pushMax) Some(vocab.map(_._1))
      else {
        termPushdownFallbacks.incrementAndGet()
        System.err.println(s"[graft.text] query vocabulary ${vocab.length} " +
          s"terms exceeds graft.text.termPushdownMax=$pushMax: dropping the " +
          "row-group term predicate, keeping bucket PartitionFilters only " +
          "(probed buckets read in full)")
        None
      }
    (probed, filterTerms)
  }

  /** Per-term df for the query vocabulary: the at-rest per-term tier
    * (bucket- and term-pruned) + a count over the BOUNDED delta; legacy
    * dirs without the tier aggregate the pruned live scan instead.
    * Refuses loudly inside a df-maintainer's crash window. */
  private def dfFrame(s: SparkSession, indexDir: String,
      probed: Seq[String], filterTerms: Option[Seq[String]],
      qTerms: DataFrame, live: => DataFrame): DataFrame = {
    val (f, dfRootP) = EmbedOps.hfs(s, s"$indexDir/df.parquet")
    if (f.exists(dfDirtyP(indexDir)))
      sys.error(s"text index at $indexDir has an unreconciled df window " +
        "(df.dirty present): the per-term tier may not match the " +
        "postings — run reconcile (maintenance-only), then retry")
    if (!f.exists(dfRootP))
      live.join(broadcast(qTerms), Seq("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
    else {
      val base0 = s.read.schema(dfTierSchema).parquet(dfRootP.toString)
        .where(col("tb").isin(probed: _*))
      val base = filterTerms.fold(base0)(ts =>
          base0.where(col("term").isin(ts: _*)))
        .join(broadcast(qTerms), Seq("term"))
        .select(col("term"), col("df").as("df_base"))
      val deltaP = new org.apache.hadoop.fs.Path(
        s"$indexDir/postings.delta.parquet")
      if (!f.exists(deltaP)) base.select(col("term"), col("df_base").as("df"))
      else {
        val dRows0 = s.read.schema(deltaSchema).parquet(deltaP.toString)
        val dCnt = filterTerms.fold(dRows0)(ts =>
            dRows0.where(col("term").isin(ts: _*)))
          .join(broadcast(qTerms), Seq("term"))
          .groupBy("term").agg(count(lit(1)).as("df_delta"))
        base.join(dCnt, Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("df_base"), lit(0L))
              + coalesce(col("df_delta"), lit(0L))).as("df"))
      }
    }
  }

  /** The BM25 scoring tail shared by every indexed scorer: `live` is the
    * (doubly-pruned) postings scan, `qd` the (qid, term, df) query-side
    * rows. The arithmetic reproduces `EmbedOps.bm25Rank`
    * operation-for-operation — one definition, so the per-request
    * serving path and the batched gate path cannot drift apart. */
  private def scoreFromPostings(live: DataFrame, qd: DataFrame,
      nDocs: Long, avgdl: Double, topn: Int): DataFrame = {
    val idf = (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val denom = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl)))
    val contrib = floor(idf * (col("tf").cast("double") * lit(2.2)) / denom
      * lit(1000000.0) + lit(0.5)).cast("long")
    live.join(broadcast(qd), Seq("term"))
      .where(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"), contrib.as("cm"))
      .groupBy("qid", "doc_id").agg(sum("cm").as("bm25_micro"))
      .withColumn("rt", row_number().over(Window.partitionBy("qid")
        .orderBy(col("bm25_micro").desc, col("doc_id").asc)))
      .where(col("rt") <= topn)
      .select(col("qid"), col("doc_id").as("id"), col("rt"))
  }

  /** Resolve the query-side artifacts a RESIDENT serving handle holds
    * across requests (VERDICT r18 #1): the two stats scalars, every
    * query doc's vocabulary with its term buckets, and the per-term df —
    * all bounded driver-side rows a deployment loads once per index
    * generation instead of once per request. Values are computed by the
    * same reads `bm25RankIndexedQ` performs per request, so serving from
    * them is byte-identical — against THIS index content: the handle is
    * a frozen snapshot, reopened after maintenance. Returns (nDocs,
    * avgdl, vocab rows (qid, term, tb), df rows (qid, term, df) — df
    * rows only for terms with postings, exactly the inner join the
    * per-request path performs). */
  private[queries] def resolveTextServe(s: SparkSession, qt: DataFrame,
      indexDir: String)
      : (Long, Double, Seq[(Long, String, String)], Seq[(Long, String, Long)]) = {
    val (nDocs, lTot) = readStatsSearch(s, indexDir)
    val avgdl = lTot.toDouble / nDocs.toDouble
    val qrows = qt.select(col("qid"), col("term"),
        pmod(xxhash64(col("term")), lit(TB.toLong)).cast("string").as("tb"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val vocabAll = qrows.map(t => (t._2, t._3)).distinct
    // the df READ prunes with the union vocabulary (one resolve for all
    // query docs); the per-request pushdown decision stays per request
    val probed = vocabAll.map(_._2).distinct
    val filterTerms =
      if (vocabAll.length <= termPushMax(s)) Some(vocabAll.map(_._1)) else None
    val live = postingsLiveRows(s, indexDir, Some(probed), filterTerms)
    val qTerms = {
      import s.implicits._
      vocabAll.map(_._1).distinct.toDF("term")
    }
    val dfMap = dfFrame(s, indexDir, probed, filterTerms, qTerms, live)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val qd = qrows.flatMap { case (q, t, _) => dfMap.get(t).map(df => (q, t, df)) }
    (nDocs, avgdl, qrows, qd)
  }

  /** Score ONE request from RESOLVED query-side artifacts: the only
    * per-request reads are the doubly-pruned postings scan itself — no
    * stats read, no vocabulary collect, no df-tier read. Same pruning
    * decisions (per-request vocabulary size gates the term pushdown,
    * counter and warn included) and the same `scoreFromPostings`
    * arithmetic as `bm25RankIndexedQ`, so results are byte-identical
    * against the same index content. */
  private[queries] def bm25RankServe(s: SparkSession,
      vocab: Seq[(String, String)], qd: Seq[(Long, String, Long)],
      nDocs: Long, avgdl: Double, indexDir: String, topn: Int): DataFrame = {
    import s.implicits._
    val (probed, filterTerms) = scanPruning(s, vocab)
    val live = postingsLiveRows(s, indexDir, Some(probed), filterTerms)
    scoreFromPostings(live, qd.toDF("qid", "term", "df"), nDocs, avgdl, topn)
  }
}
