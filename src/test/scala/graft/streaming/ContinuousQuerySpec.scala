package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Continuous queries over Structured Streaming (SURVEY §2.11): tumbling
  * window agg into a sink table, with at-least-once redelivery deduped
  * inside the watermark (the reference's replica dedup,
  * coordinator.go:98-104). */
class ContinuousQuerySpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("CQ computes windowed mean into the sink; duplicate deliveries collapse") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")

    val cq = ContinuousQuery.CQ("cq_mean_5m", "events", "value", "mean",
      "5 minutes", Seq("event_type"), watermark = "10 minutes")

    // batch 1: two points in the 10:00 window + one duplicate delivery
    input.addData(
      (ts(1), "click", 100.0),
      (ts(2), "click", 50.0),
      (ts(1), "click", 100.0)) // at-least-once redelivery

    val q = ContinuousQuery.start(s, df, cq)
    q.processAllAvailable()

    val out = s.sql("SELECT * FROM cq_mean_5m").collect()
      .map(r => (r.getAs[Timestamp]("time"), r.getAs[String]("event_type"), r.getAs[Double]("mean")))
    assert(out.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "click", 75.0)))
    q.stop()
  }

  test("late data within watermark updates the window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val cq = ContinuousQuery.CQ("cq_sum_5m", "events", "value", "sum",
      "5 minutes", Seq("event_type"), watermark = "30 minutes")

    input.addData((ts(12), "view", 10.0))
    val q = ContinuousQuery.start(s, df, cq)
    q.processAllAvailable()
    // late point for the earlier 10:10 window, still inside the watermark
    input.addData((ts(11), "view", 5.0))
    q.processAllAvailable()

    val out = s.sql("SELECT sum FROM cq_sum_5m WHERE event_type = 'view' ORDER BY time").collect()
    assert(out.map(_.getDouble(0)).contains(15.0))
    q.stop()
  }

  test("general streaming CQ (percentile) matches the batch answer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val e = new graft.Engine(s, sfDir)
    val meta = graft.ql.TableMeta("pq_src", "ts_us",
      tags = Seq("type"), fields = Seq(graft.ql.FieldMeta("value", Some(100L))))
    e.registerMeasurement(meta, s.emptyDataFrame)
    // pre-stream history so the backfilled bucket must SURVIVE the patches
    e.writeLineProtocol(Seq("pq_src,type=gold value=7 60000000000"), "pq_src")
    e.execute(
      """CREATE CONTINUOUS QUERY live_p90 ON default BEGIN
        |SELECT percentile(value, 90) INTO pq_tgt FROM pq_src GROUP BY time(5m), type
        |END""".stripMargin)

    val input = MemoryStream[(Timestamp, String, Double)]
    val q = e.startCqStream("live_p90", input.toDF().toDF("ts", "type", "value"))
    input.addData(
      (ts(1), "gold", 10.0), (ts(2), "gold", 20.0), (ts(3), "gold", 30.0),
      (ts(2), "gold", 20.0)) // at-least-once redelivery
    q.processAllAvailable()
    // second micro-batch touches a DIFFERENT bucket: only that bucket is
    // recomputed; earlier buckets must come through the patch-merge intact
    input.addData((ts(6), "silver", 5.0))
    q.processAllAvailable()
    q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[String]("type"),
        r.getAs[Double]("percentile"))).toSet
    val streamed = rows(e.execute("SELECT type, percentile FROM pq_tgt"))
    val batch = rows(e.execute(
      "SELECT percentile(value, 90) FROM pq_src GROUP BY time(5m), type"))
    assert(streamed == batch)            // holistic agg, full surface
    assert(streamed.size == 3)           // backfill bucket + 2 stream buckets
    assert(streamed.exists(_._3 == 7.0)) // pre-stream history survived
  }

  test("durable CQ resumes from checkpoint across engine restart; source and target survive") {
    val s = spark
    import s.implicits._
    val dataDir = graft.TempDirs.scratch("graft_cq_dur").toString
    val streamIn = graft.TempDirs.scratch("graft_cq_in").toString

    val e1 = new graft.Engine(s, sfDir, Some(dataDir))
    val meta = graft.ql.TableMeta("cq_src", "ts_us",
      tags = Seq("type"), fields = Seq(graft.ql.FieldMeta("value", Some(100L))))
    e1.registerMeasurement(meta, s.emptyDataFrame)
    e1.writeLineProtocol(Seq("cq_src,type=gold value=7 60000000000"), "cq_src")
    e1.execute(
      """CREATE CONTINUOUS QUERY dur_p90 ON default BEGIN
        |SELECT percentile(value, 90) INTO cq_tgt FROM cq_src GROUP BY time(5m), type
        |END""".stripMargin)

    def startStream(e: graft.Engine) = e.startCqStream("dur_p90",
      s.readStream.schema("ts TIMESTAMP, type STRING, value DOUBLE").parquet(streamIn))

    // batch A arrives, is processed, then the engine "crashes" (stop)
    Seq((ts(1), "gold", 10.0), (ts(2), "gold", 20.0))
      .toDF("ts", "type", "value").write.mode("append").parquet(streamIn)
    val q1 = startStream(e1)
    q1.processAllAvailable(); q1.stop()

    // batch B lands while the engine is down
    Seq((ts(6), "silver", 5.0))
      .toDF("ts", "type", "value").write.mode("append").parquet(streamIn)

    val e2 = new graft.Engine(s, sfDir, Some(dataDir)) // restart
    // the durable target answers BEFORE the stream is even restarted
    assert(e2.execute("SELECT percentile FROM cq_tgt").collect().nonEmpty)
    // the CQ registration itself was restored from the catalog: resume it
    val q2 = startStream(e2)
    q2.processAllAvailable(); q2.stop()

    // checkpoint resume: batch A was NOT reprocessed (no duplicate source
    // rows), batch B was — every streamed point is durable exactly once
    val srcVals = e2.execute("SELECT value FROM cq_src").collect()
      .map(_.getAs[Double]("value")).sorted.toSeq
    assert(srcVals == Seq(5.0, 7.0, 10.0, 20.0))

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[String]("type"),
        r.getAs[Double]("percentile"))).toSet
    val streamed = rows(e2.execute("SELECT type, percentile FROM cq_tgt"))
    val batch = rows(e2.execute(
      "SELECT percentile(value, 90) FROM cq_src GROUP BY time(5m), type"))
    assert(streamed == batch) // pre-stream history + A + B, patched buckets agree
    assert(streamed.size == 3)
  }

  test("CREATE CONTINUOUS QUERY on a partition-keyed source with no data backfills " +
      "nothing; the first write lands in the target") {
    val dataDir = graft.TempDirs.scratch("graft_cq_empty").toString
    val e = new graft.Engine(spark, sfDir, Some(dataDir))
    e.execute("CREATE PARTITION KEY host ON default.cq_empty")
    // InfluxDB 1.x stores a CQ without checking that its source exists
    e.execute(
      """CREATE CONTINUOUS QUERY cq_e ON default BEGIN
        |SELECT mean(usage) INTO cq_empty_1m FROM cq_empty GROUP BY time(1m), host
        |END""".stripMargin)
    e.writeLineProtocol(Seq(
      "cq_empty,host=a usage=1 60000000000",
      "cq_empty,host=a usage=3 61000000000",
      "cq_empty,host=b usage=5 62000000000"), "cq_empty")
    def target(e: graft.Engine) = e.execute("SELECT * FROM cq_empty_1m").collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[String]("host"), r.getAs[Double]("mean"))).toSet
    val expect = Set((60000000L, "a", 2.0), (60000000L, "b", 5.0))
    assert(target(e) == expect)
    assert(target(new graft.Engine(spark, sfDir, Some(dataDir))) == expect) // durable
  }

  test("batch backfill produces the same answer as the streaming plan") {
    val s = spark
    import s.implicits._
    val hist = Seq(
      (ts(1), "click", 100.0), (ts(2), "click", 50.0), (ts(7), "click", 30.0),
      (ts(1), "click", 100.0) // duplicate point
    ).toDF("ts", "event_type", "value")
    val cq = ContinuousQuery.CQ("cq_bf", "events", "mean", "mean", "5 minutes", Seq("event_type"))
    val out = ContinuousQuery.backfill(hist, cq.copy(field = "value"))
      .collect().map(r => (r.getAs[Timestamp]("time").toString, r.getAs[Double]("mean"))).toSet
    assert(out == Set(("2024-01-01 10:00:00.0", 75.0), ("2024-01-01 10:05:00.0", 30.0)))
  }
}
