package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import StreamingOps._

// top-level so Spark can generate its encoder without an outer-scope ref
case class QVec(qid: Long, qv: Seq[Float], qn2: Double)

case class BDoc(doc_id: Long, key: String, v: String)

case class SDoc(doc_id: Long, text: String)

case class EVec(vec_id: Long, embedding: Seq[Float])

/** Golden tests for the streaming operators: MemoryStream feeds with
  * controlled event times; watermark/late-data/session/dedup semantics have
  * no DuckDB oracle (SURVEY.md §5.2 #3), so expected outputs are asserted
  * literally here.
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:$sec%02d")

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  private def runBatches[T](query: org.apache.spark.sql.DataFrame,
      sink: String): Unit = {
    val q = query.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
  }

  test("update mode emits refreshed window rows without waiting for the watermark") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = windowedCounts(input.toDF(), "10 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("upd")
      .outputMode(OutputMode.Update()).start()
    input.addData(Ev(1, ts(1), 10, "click", 1.0), Ev(2, ts(3), 10, "click", 2.0))
    q.processAllAvailable()
    input.addData(Ev(3, ts(5), 11, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    // memory sink logs each emitted update: the still-OPEN window appears
    // once per batch it changed in (append mode would show nothing yet)
    val rows = spark.sql("SELECT w_start, n, sum_value FROM upd ORDER BY n").collect()
    rows.map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe Seq(
      (ts(0), 2L, 3.0),
      (ts(0), 3L, 6.0))
  }

  test("file-source ingest throttles: maxFilesPerTrigger and maxBytesPerTrigger") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("events_files")
    (1 to 3).foreach { i =>
      Seq((i.toLong, ts(i), i.toLong, "click", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }
    val schema = spark.read.parquet(dir.toString).schema
    def run(opt: String, v: String): (Long, Int) = {
      val name = s"ingest_$opt"
      val q = spark.readStream.schema(schema).option(opt, v)
        .parquet(dir.toString)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      (spark.sql(s"SELECT count(*) FROM $name").head().getLong(0), batches)
    }
    // files=1: one file per micro-batch → ≥3 non-empty batches, no loss
    val (n1, b1) = run("maxFilesPerTrigger", "1")
    n1 shouldBe 3L
    b1 should be >= 3
    // bytes=1: admission throttled to ~1 byte still admits one file per
    // batch (minimum progress guarantee) → same shape, no loss
    val (n2, b2) = run("maxBytesPerTrigger", "1")
    n2 shouldBe 3L
    b2 should be >= 3
  }

  test("stream-stream interval join: matches inside the bound, drops outside, state watermark-bounded") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]    // right side
    val purchases = MemoryStream[Ev] // left side
    val joined = intervalJoin(purchases.toDF(), clicks.toDF(), "user_id",
      watermarkDelay = "10 minutes", before = "5 minutes", after = "0 minutes")
      .select(col("l_event_id").as("pid"), col("r_event_id").as("cid"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    // user 10: click 00:02 → purchase 00:05 (3 min gap, inside 5-min bound)
    // user 11: click 00:01 → purchase 00:20 (19 min gap, outside)
    clicks.addData(Ev(100, ts(2), 10, "click", 1.0), Ev(101, ts(1), 11, "click", 1.0))
    purchases.addData(Ev(200, ts(5), 10, "purchase", 9.0), Ev(201, ts(20), 11, "purchase", 9.0))
    q.processAllAvailable()
    // user 12: click 00:59 → purchase 00:59:30 (inside); also pushes both
    // watermarks forward so earlier join state flushes
    clicks.addData(Ev(102, ts(59), 12, "click", 1.0))
    purchases.addData(Ev(202, ts(59, 30), 12, "purchase", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT pid, cid FROM ssj ORDER BY pid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    rows shouldBe Seq((200L, 100L), (202L, 102L))
  }

  test("stream-stream LEFT OUTER interval join: unmatched left emits null-padded after watermark") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]    // right side
    val purchases = MemoryStream[Ev] // left side
    val joined = intervalJoin(purchases.toDF(), clicks.toDF(), "user_id",
      watermarkDelay = "10 minutes", before = "5 minutes", after = "0 minutes",
      joinType = "left_outer")
      .select(col("l_event_id").as("pid"), col("r_event_id").as("cid"))
    val q = joined.writeStream.format("memory").queryName("ssj_lo")
      .outputMode(OutputMode.Append()).start()
    // user 10: click 00:02 → purchase 00:05 (matched)
    // user 11: purchase 00:06 with NO click in [00:01, 00:06] (unmatched)
    clicks.addData(Ev(100, ts(2), 10, "click", 1.0))
    purchases.addData(Ev(200, ts(5), 10, "purchase", 9.0),
      Ev(201, ts(6), 11, "purchase", 9.0))
    q.processAllAvailable()
    // advance BOTH watermarks far past 00:06 → the unmatched left row's
    // state expires and the null-padded outer row flushes
    clicks.addData(Ev(102, ts(59), 12, "click", 1.0))
    purchases.addData(Ev(202, ts(59, 30), 12, "purchase", 1.0))
    q.processAllAvailable()
    // one more nudge: outer results emit on the batch AFTER the watermark
    // move (state eviction happens at batch start)
    clicks.addData(Ev(103, ts(90), 13, "click", 1.0))
    purchases.addData(Ev(203, ts(90), 13, "purchase", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT pid, cid FROM ssj_lo ORDER BY pid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    rows should contain allOf ((200L, 100L), (201L, -1L))
    // the unmatched purchase appears exactly once, null-padded
    rows.count(_._1 == 201L) shouldBe 1
  }

  test("stream-stream FULL OUTER interval join: unmatched rows on both sides null-pad") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = intervalJoin(purchases.toDF(), clicks.toDF(), "user_id",
      watermarkDelay = "10 minutes", before = "5 minutes", after = "0 minutes",
      joinType = "full_outer")
      .select(col("l_event_id").as("pid"), col("r_event_id").as("cid"))
    val q = joined.writeStream.format("memory").queryName("ssj_fo")
      .outputMode(OutputMode.Append()).start()
    // user 10: matched pair; user 11: purchase with no click (left-only);
    // user 12: click with no purchase (right-only)
    clicks.addData(Ev(100, ts(2), 10, "click", 1.0), Ev(101, ts(2), 12, "click", 1.0))
    purchases.addData(Ev(200, ts(5), 10, "purchase", 9.0),
      Ev(201, ts(6), 11, "purchase", 9.0))
    q.processAllAvailable()
    // two watermark advances: eviction emits outer rows a batch late
    for (t <- Seq(59, 90)) {
      clicks.addData(Ev(300 + t, ts(t), 20, "click", 1.0))
      purchases.addData(Ev(400 + t, ts(t), 20, "purchase", 1.0))
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.sql("SELECT pid, cid FROM ssj_fo").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    rows should contain allOf (
      (200L, 100L),  // matched
      (201L, -1L),   // left-only purchase null-padded
      (-1L, 101L))   // right-only click null-padded
  }

  test("per-window distinct-user sketch merges across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = windowedDistinctUsers(input.toDF(), "10 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("sketchy")
      .outputMode(OutputMode.Update()).start()
    // batch 1: users {10, 11} (10 twice) in window [00:00, 00:10)
    input.addData(Ev(1, ts(1), 10, "click", 1.0), Ev(2, ts(3), 11, "click", 1.0),
      Ev(3, ts(4), 10, "view", 1.0))
    q.processAllAvailable()
    // batch 2: user 12 new, user 10 again — the window's sketch STATE must
    // merge with batch 1's (estimate 3, not 2); HLL is exact at this size
    input.addData(Ev(4, ts(6), 12, "click", 1.0), Ev(5, ts(7), 10, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT w_start, nd_users FROM sketchy ORDER BY nd_users")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    rows shouldBe Seq((ts(0), 2L), (ts(0), 3L))
  }

  test("checkpointed query restart recovers window state and source offsets") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmpDir("ckpt_recovery").toString
    val outDir = tmpDir("ckpt_out").toString
    val input = MemoryStream[Ev]
    // parquet sink: fault-tolerant (the memory sink refuses checkpoint
    // recovery outright), Append mode — rows land when the watermark
    // closes their window
    def start() = windowedCounts(input.toDF(), "10 minutes", "10 minutes")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    // run 1: two clicks in window [00:00, 00:10), still open → no output
    val q1 = start()
    input.addData(Ev(1, ts(1), 10, "click", 1.0), Ev(2, ts(3), 11, "click", 2.0))
    q1.processAllAvailable()
    q1.stop()
    // run 2: SAME checkpoint — the restarted query must resume from the
    // committed offsets (not re-read batch 1) and merge a third click
    // into the RECOVERED window state; the ts(21) event then advances the
    // watermark past the horizon and the window emits n=3, not n=1
    val q2 = start()
    input.addData(Ev(3, ts(5), 12, "click", 3.0), Ev(4, ts(21), 13, "view", 0.0))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir)
      .filter($"event_type" === "click")
      .select("n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    rows shouldBe Seq((3L, 6.0))
  }

  test("tumbling window with watermark drops late data beyond the horizon") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = windowedCounts(input.toDF(), "5 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()

    // batch 1: events in [00:00,00:10) and [00:10,00:20)
    input.addData(
      Ev(1, ts(1), 10, "click", 1.0),
      Ev(2, ts(4), 10, "click", 2.0),
      Ev(3, ts(12), 11, "click", 3.0))
    q.processAllAvailable()
    // batch 2: advance watermark far ahead → closes both windows
    input.addData(Ev(4, ts(40), 10, "click", 1.0))
    q.processAllAvailable()
    // batch 3: a LATE event for the long-closed first window → dropped
    input.addData(Ev(5, ts(2), 10, "click", 100.0))
    q.processAllAvailable()
    // close the third window too so we can see nothing extra appeared
    input.addData(Ev(6, ts(59), 10, "click", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql(
      "SELECT w_start, n, sum_value FROM tumbling ORDER BY w_start").collect()
    rows.map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe Seq(
      (ts(0), 2L, 3.0),   // late event 5 NOT counted (would be 3 rows / 103.0)
      (ts(10), 1L, 3.0),
      (ts(40), 1L, 1.0))  // closed when event 6 pushed the watermark past 00:50
  }

  test("sliding windows assign events to overlapping windows") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = windowedCounts(input.toDF(), "5 minutes", "10 minutes", Some("5 minutes"))
    val q = out.writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(1, ts(7), 10, "click", 1.0))
    q.processAllAvailable()
    input.addData(Ev(2, ts(45), 10, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT w_start FROM sliding ORDER BY w_start").collect()
    // event at 00:07 belongs to [00:00,00:10) and [00:05,00:15)
    rows.map(_.getTimestamp(0)).toSeq shouldBe Seq(ts(0), ts(5))
  }

  test("session window merges events within the gap, splits across it") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = sessionCounts(input.toDF(), "5 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Ev(1, ts(0), 10, "a", 0), Ev(2, ts(2), 10, "a", 0),  // one session
      Ev(3, ts(20), 10, "a", 0),                            // second session
      Ev(4, ts(1), 20, "a", 0))                             // other user
    q.processAllAvailable()
    input.addData(Ev(5, ts(59), 99, "a", 0)) // advance watermark, close all
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT user_id, n FROM sessions ORDER BY user_id, n").collect()
    rows.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq(
      (10L, 1L), (10L, 2L), (20L, 1L))
  }

  test("dropDuplicatesWithinWatermark removes re-deliveries") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = dedupWithinWatermark(input.toDF(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      Ev(1, ts(1), 10, "a", 1.0),
      Ev(1, ts(1, 30), 10, "a", 1.0), // duplicate delivery, same id
      Ev(2, ts(2), 10, "a", 1.0))
    q.processAllAvailable()
    input.addData(Ev(1, ts(3), 10, "a", 1.0)) // dup again within horizon
    q.processAllAvailable()
    q.stop()
    spark.sql("SELECT count(*) FROM dedup").collect()(0).getLong(0) shouldBe 2L
  }

  case class ShDoc(doc_id: Long, ts: Timestamp, sh: Seq[String])

  test("streaming near-dup: verified match vs static index, sub-threshold and redelivery excluded") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val shA = (0 until 20).map(i => s"alpha$i")
    val shB = (0 until 20).map(i => s"beta$i")
    val static = Seq(
      (100L, shA),
      (200L, shB)).toDF("doc_id", "sh")
    val input = MemoryStream[ShDoc]
    val out = nearDupMatches(input.toDF(), static, "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      ShDoc(10, ts(1), shA.tail),                          // 19/20 of shA → jaccard 0.95
      ShDoc(11, ts(1), (0 until 20).map(i => s"gamma$i")), // unrelated → no match
      ShDoc(12, ts(1), shA.take(12) ++ (0 until 8).map(i => s"delta$i"))) // 12/28 = 0.4286 < τ
    q.processAllAvailable()
    input.addData(
      ShDoc(10, ts(2), shA.tail), // redelivery within horizon → deduped
      // doc 12 re-ingested with UPDATED content, now a true near-dup: its
      // earlier sub-threshold sighting must not have poisoned dedup state
      // (verification runs BEFORE the stateful dedup)
      ShDoc(12, ts(2), shA))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT doc_id, matched_id, jaccard FROM neardup ORDER BY doc_id").collect()
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe Seq(
      (10L, 100L, 0.95), (12L, 100L, 1.0))
  }

  test("streaming near-dup against a LOADED persisted band index matches the in-memory path") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{ArtifactPaths, NearDup}
    val shA = (0 until 20).map(i => s"alpha$i")
    val shB = (0 until 20).map(i => s"beta$i")
    val static = Seq((100L, shA), (200L, shB)).toDF("doc_id", "sh")
    val dir = tmpDir("graft_bandidx").toString
    NearDup.saveBandIndex(static, dir)
    ArtifactPaths.exists(dir) shouldBe true
    val idx = NearDup.loadBandIndex(spark, dir)
    // parameters travel WITH the artifact
    (idx.numHashes, idx.bands, idx.rowsPerBand) shouldBe
      (NearDup.DefaultNumHashes, NearDup.DefaultBands, NearDup.DefaultRowsPerBand)
    val input = MemoryStream[ShDoc]
    val out = nearDupMatches(input.toDF(), idx, "10 minutes",
      NearDup.DefaultThreshold)
    val q = out.writeStream.format("memory").queryName("neardup_loaded")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      ShDoc(10, ts(1), shA.tail),                          // 0.95 vs 100
      ShDoc(11, ts(1), (0 until 20).map(i => s"gamma$i")), // no match
      ShDoc(12, ts(1), shB))                               // 1.0 vs 200
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT doc_id, matched_id, jaccard FROM neardup_loaded ORDER BY doc_id")
      .collect()
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe Seq(
      (10L, 100L, 0.95), (12L, 200L, 1.0))
  }

  test("maintaining sink: stream probes AND appends, so later batches match earlier ingests") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.NearDup
    val shA = (0 until 20).map(i => s"alpha$i")
    val shB = (0 until 20).map(i => s"beta$i")
    val dir = tmpDir("graft_bandidx_maint").toString
    NearDup.saveBandIndex(Seq((100L, shA)).toDF("doc_id", "sh"), dir)

    val outDir = tmpDir("graft_maint_out").toString
    val input = MemoryStream[ShDoc]
    val q = input.toDF().writeStream
      .foreachBatch(nearDupMaintainingSink(dir, s"$outDir/data") _)
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()
    // batch 0: a brand-new doc — unrelated to the initial corpus
    input.addData(ShDoc(10, ts(1), shB))
    q.processAllAvailable()
    // batch 1: near-dup of doc 10 — which arrived ON THE STREAM, not in
    // the initial corpus: only a maintained index can match it
    input.addData(ShDoc(20, ts(2), shB.tail))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(s"$outDir/data")
      .select(col("doc_id"), col("matched_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    rows shouldBe Set((20L, 10L, 0.95))

    // the artifact now holds corpus + both streamed batches
    val idx = NearDup.loadBandIndex(spark, dir)
    idx.docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet shouldBe
      Set(100L, 10L, 20L)

    // at-least-once replay of batch 1 rewrites its own append subtree —
    // no duplicate docs rows, identical future matches
    val replay = Seq((20L, shB.tail)).toDF("doc_id", "sh")
    nearDupMaintainingSink(dir, s"$outDir/data")(replay, 1L)
    val idx2 = NearDup.loadBandIndex(spark, dir)
    idx2.docs.count() shouldBe 3
    matchRowsOf(NearDup.matchAgainstBandIndex(
      Seq((30L, shB)).toDF("doc_id", "sh"), idx2)) shouldBe
      Set((30L, 10L, 1.0), (30L, 20L, 0.95))

    // a torn append (no docs/_SUCCESS commit marker) is invisible to load
    new java.io.File(s"$dir/appends/torn/banded").mkdirs()
    NearDup.loadBandIndex(spark, dir).docs.count() shouldBe 3
  }

  private def matchRowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("maintaining sink: a replayed batch does not match its own committed append") {
    val sp = spark; import sp.implicits._
    import graft.operators.NearDup
    val shA = (0 until 20).map(i => s"alpha$i")
    val dir = tmpDir("graft_bandidx_replay").toString
    NearDup.saveBandIndex(Seq((100L, shA)).toDF("doc_id", "sh"), dir)
    val outDir = tmpDir("graft_maint_replay_out").toString
    def batch0() = {
      nearDupMaintainingSink(dir, s"$outDir/data")(
        Seq((10L, shA.tail)).toDF("doc_id", "sh"), 0L)
      matchRowsOf(spark.read.parquet(s"$outDir/data/batch=0")
        .select("doc_id", "matched_id", "jaccard"))
    }
    val first = batch0()
    first shouldBe Set((10L, 100L, 0.95))
    // the replay finds batch 0's append committed; the probe leaves it out
    batch0() shouldBe first
    NearDup.loadBandIndex(spark, dir).docs.count() shouldBe 2
  }

  test("maintaining sink under a planted identical class ARRIVING on the " +
      "stream: keyed appends do not resurrect the quadratic — output is " +
      "exact across batches and replay-idempotent (r18 task 8)") {
    val sp = spark; import sp.implicits._
    import graft.operators.NearDup
    // the skew-gate plant shape, streamed: an identical shingle-set class
    // arrives 30 members per micro-batch; distinct bystanders ride along
    val cls = (0 until 20).map(i => s"hot$i")
    val other = (0 until 20).map(i => s"cold$i")
    val dir = tmpDir("graft_maint_skew_idx").toString
    val outDir = tmpDir("graft_maint_skew_out").toString
    NearDup.saveBandIndex(Seq((1000L, other)).toDF("doc_id", "sh"), dir)
    def classBatch(from: Long, n: Int) =
      ((from until from + n).map(i => (i, cls)) :+
        (5000L + from, (0 until 20).map(i => s"uniq${from}_$i")))
        .toDF("doc_id", "sh")
    val sink = nearDupMaintainingSink(dir, s"$outDir/data") _
    sink(classBatch(0L, 30), 0L)   // 30 class members probe: corpus has none
    sink(classBatch(100L, 30), 1L) // 30 more probe the 30 appended ones
    sink(classBatch(200L, 30), 2L) // 30 more probe 60
    val out = spark.read.parquet(s"$outDir/data")
    // batch 0 finds nothing (class absent from the initial corpus);
    // batch 1: 30 new x 30 standing = 900 exact J=1.0 matches; batch 2:
    // 30 x 60 = 1800 — the TRUE cross-batch output of an identical class,
    // all at jaccard 1.0, nothing else
    out.count() shouldBe (900L + 1800L)
    out.select(col("jaccard")).distinct().collect()
      .map(_.getDouble(0)).toSeq shouldBe Seq(1.0)
    out.filter(col("doc_id") >= 5000L || col("matched_id") >= 5000L)
      .count() shouldBe 0L // bystanders never match
    // replaying batch 2 (at-least-once delivery) rewrites its own keyed
    // subtree: no duplicate members, and a later probe sees each class
    // member exactly once — the quadratic cannot be resurrected by replay
    sink(classBatch(200L, 30), 2L)
    val idx = NearDup.loadBandIndex(spark, dir)
    idx.docs.filter(col("doc_id") < 1000L).count() shouldBe 90L // 3x30
    NearDup.matchAgainstBandIndex(
        Seq((9999L, cls)).toDF("doc_id", "sh"), idx)
      .count() shouldBe 90L // one row per live class member, exactly
  }

  test("crash recovery: kill after docs write but before commit marker — " +
      "index serves pre-crash state, checkpoint restart converges") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.NearDup
    val shA = (0 until 20).map(i => s"alpha$i")
    val shB = (0 until 20).map(i => s"beta$i")
    val dir = tmpDir("graft_bandidx_crash").toString
    NearDup.saveBandIndex(Seq((100L, shA)).toDF("doc_id", "sh"), dir)
    val outDir = tmpDir("graft_crash_out").toString
    val ckpt = tmpDir("graft_crash_ckpt").toString

    // run 1's sink dies in the EXACT kill window the scaladoc claims is
    // safe: batch 0's banded AND docs parquet are fully written, but the
    // process is gone before the docs/_SUCCESS commit marker lands
    // (parquet writes the marker at job commit, so deleting it after the
    // write IS that interleaving). The throw aborts the micro-batch, so
    // the checkpoint never records batch 0 as committed.
    var killed = false
    def sink(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      if (batchId == 0L && !killed) {
        killed = true
        NearDup.appendToBandIndexKeyed(
          batch.select(col("doc_id"), col("sh")), spark, dir, "0")
        val marker = new java.io.File(s"$dir/appends/0/docs/_SUCCESS")
        assert(marker.isFile)
        assert(marker.delete())
        throw new RuntimeException("kill between docs write and marker")
      } else nearDupMaintainingSink(dir, s"$outDir/data")(batch, batchId)

    val input = MemoryStream[ShDoc]
    def start() = input.toDF().writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    input.addData(ShDoc(10, ts(1), shB))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()

    // torn append is INVISIBLE: the artifact serves its pre-crash state —
    // doc 10 absent from the docs half AND from candidate generation
    val torn = NearDup.loadBandIndex(spark, dir)
    torn.docs.collect().map(_.getLong(0)).toSet shouldBe Set(100L)
    matchRowsOf(NearDup.matchAgainstBandIndex(
      Seq((30L, shB)).toDF("doc_id", "sh"), torn)) shouldBe Set.empty

    // run 2: SAME checkpoint — the engine re-delivers batch 0 (it never
    // committed); the keyed overwrite rewrites the torn subtree and the
    // artifact converges to exactly the once-delivered state
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val idx = NearDup.loadBandIndex(spark, dir)
    idx.docs.collect().map(_.getLong(0)).toSet shouldBe Set(100L, 10L)
    idx.docs.count() shouldBe 2 // replay rewrote, not double-appended
    matchRowsOf(NearDup.matchAgainstBandIndex(
      Seq((30L, shB)).toDF("doc_id", "sh"), idx)) shouldBe Set((30L, 10L, 1.0))
    // the replayed batch's own match output landed (empty: doc 10 probed
    // the pre-crash corpus {100}, no near-dup there)
    spark.read.parquet(s"$outDir/data/batch=0").count() shouldBe 0
  }

  test("bloom dedup sink: first-seen lands, dups drop within and across batches; replay identical") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.BloomGate
    val dir = tmpDir("graft_bloomidx_stream").toString
    // empty-start artifact, sized for what the stream will absorb
    BloomGate.save(dir, Seq.empty[(Long, String, String)]
      .toDF("doc_id", "key", "v"), "doc_id", "key", expectedItems = 100)
    val outDir = tmpDir("graft_bloom_out").toString
    val input = MemoryStream[BDoc]
    val q = input.toDF().writeStream
      .foreachBatch(bloomDedupSink(dir, s"$outDir/data", "doc_id", "key", "job") _)
      .option("checkpointLocation", s"${tmpDir("graft_bloom_ckpt")}")
      .start()
    // batch 0: k1 twice (intra-batch dup — min doc_id wins), k2 once
    input.addData(BDoc(5, "k1", "late"), BDoc(1, "k1", "first"),
      BDoc(2, "k2", "x"))
    q.processAllAvailable()
    // batch 1: k1 again (cross-batch dup, only the maintained artifact
    // can know) + brand-new k3
    input.addData(BDoc(7, "k1", "dup"), BDoc(8, "k3", "new"))
    q.processAllAvailable()
    q.stop()

    def sinkRows() = spark.read.parquet(s"$outDir/data")
      .select(col("doc_id"), col("key"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    sinkRows() shouldBe Set((1L, "k1", "first"), (2L, "k2", "x"),
      (8L, "k3", "new"))
    BloomGate.load(spark, dir).keys.count() shouldBe 3

    // at-least-once replay of batch 1 (its append already committed):
    // the probe excludes the batch's own subtree, so output and artifact
    // are byte-identical — no dup rows, no double-counted keys
    bloomDedupSink(dir, s"$outDir/data", "doc_id", "key", "job")(
      Seq(BDoc(7, "k1", "dup"), BDoc(8, "k3", "new")).toDF(), 1L)
    sinkRows() shouldBe Set((1L, "k1", "first"), (2L, "k2", "x"),
      (8L, "k3", "new"))
    BloomGate.load(spark, dir).keys.count() shouldBe 3

    // a later batch sees stream-ingested keys as dups
    bloomDedupSink(dir, s"$outDir/data", "doc_id", "key", "job")(
      Seq(BDoc(9, "k3", "x2"), BDoc(10, "k4", "y")).toDF(), 2L)
    spark.read.parquet(s"$outDir/data/batch=2")
      .collect().map(_.getLong(0)).toSet shouldBe Set(10L)
    BloomGate.load(spark, dir).keys.count() shouldBe 4

    // a DIFFERENT job feeding the same artifact restarts batch ids at 0;
    // its distinct jobKey means batch 0 does NOT exclude this job's
    // batch-0 subtree — stream-ingested k1 is correctly a dup for it
    val outDir2 = tmpDir("graft_bloom_out2").toString
    bloomDedupSink(dir, s"$outDir2/data", "doc_id", "key", "job2")(
      Seq(BDoc(13, "k1", "again"), BDoc(14, "k6", "new")).toDF(), 0L)
    spark.read.parquet(s"$outDir2/data/batch=0")
      .collect().map(_.getLong(0)).toSet shouldBe Set(14L)
    BloomGate.load(spark, dir).keys.count() shouldBe 5

    // crash window the scaladoc claims safe: filter merged but keys
    // subtree uncommitted (filter-FIRST order) — over-containment only:
    // the key probes maybe, the confirm side doesn't have it, row is new
    BloomGate.appendKeyed(spark, dir,
      Seq(BDoc(11, "k5", "z")).toDF(), "doc_id", "key", "crash")
    val marker = new java.io.File(s"$dir/appends/crash/keys/_SUCCESS")
    assert(marker.isFile && marker.delete())
    BloomGate.load(spark, dir).keys.count() shouldBe 5 // torn = invisible
    BloomGate.newRowsAgainstLoaded(
      Seq(BDoc(12, "k5", "z2")).toDF(), "key", spark, dir)
      .collect().map(_.getLong(0)).toSet shouldBe Set(12L)
  }

  test("span dedup sink: cross-batch window match, replay identical, " +
      "df cap holds, torn append invisible") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.NearDup
    val dir = tmpDir("graft_spanidx_stream").toString
    // empty-start artifact at a compact window width for the test corpus
    NearDup.saveSpanIndex(Seq.empty[SDoc].toDF(), dir, spanTokens = 5)
    val outDir = tmpDir("graft_span_out").toString
    val run = (1 to 8).map(i => s"w$i").mkString(" ") // 8-token shared run
    val noise = (n: Int) => (1 to 8).map(i => s"n$n$i").mkString(" ")
    val input = MemoryStream[SDoc]
    val q = input.toDF().writeStream
      .foreachBatch(spanDedupSink(dir, s"$outDir/data", "job") _)
      .option("checkpointLocation", s"${tmpDir("graft_span_ckpt")}")
      .start()
    // batch 0: doc 1 carries the run, doc 2 is noise — nothing to match
    // yet (the index starts empty), but both docs' keys append
    input.addData(SDoc(1, s"alpha beta $run tail one"), SDoc(2, noise(2)))
    q.processAllAvailable()
    // batch 1: doc 3 shares the run with (batch-0) doc 1 — the
    // cross-batch match only a MAINTAINED index can surface
    input.addData(SDoc(3, s"other lead $run coda"), SDoc(4, noise(4)))
    q.processAllAvailable()
    q.stop()

    def matches(batch: Int) = spark.read
      .parquet(s"$outDir/data/batch=$batch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    matches(0) shouldBe empty
    matches(1) shouldBe Set((3L, 1L))
    // n_shared counts the distinct shared 5-token windows of an 8-token
    // run: 8 - 5 + 1 = 4
    spark.read.parquet(s"$outDir/data/batch=1")
      .collect().map(_.getLong(2)).toSeq shouldBe Seq(4L)

    // at-least-once replay of batch 1 (append already committed): the
    // probe excludes the batch's own subtree → identical output, and the
    // re-append overwrites its own subtree (no double keys)
    val preCount = NearDup.loadSpanIndex(spark, dir)._1.count()
    spanDedupSink(dir, s"$outDir/data", "job")(
      Seq(SDoc(3, s"other lead $run coda"), SDoc(4, noise(4))).toDF(), 1L)
    matches(1) shouldBe Set((3L, 1L))
    NearDup.loadSpanIndex(spark, dir)._1.count() shouldBe preCount

    // batch 2: doc 5 shares the run → matches BOTH earlier carriers
    spanDedupSink(dir, s"$outDir/data", "job")(
      Seq(SDoc(5, s"x y $run z")).toDF(), 2L)
    matches(2) shouldBe Set((5L, 1L), (5L, 3L))

    // df cap: the run's windows are now held by 3 standing docs — a
    // probe with maxDf=2 treats them as boilerplate and forms no pairs
    NearDup.matchAgainstSpanIndex(
        Seq(SDoc(9, s"p q $run r")).toDF(), spark, dir, maxDf = 2)
      .count() shouldBe 0L
    NearDup.matchAgainstSpanIndex(
        Seq(SDoc(9, s"p q $run r")).toDF(), spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((9L, 1L), (9L, 3L), (9L, 5L))

    // torn append (keys written, _SUCCESS gone) is invisible to load
    NearDup.appendToSpanIndexKeyed(
      Seq(SDoc(6, noise(6))).toDF(), spark, dir, "crash")
    val marker = new java.io.File(s"$dir/appends/crash/wins/_SUCCESS")
    assert(marker.isFile && marker.delete())
    NearDup.loadSpanIndex(spark, dir)._1
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 3L, 4L, 5L)

    // jobKey collision guard (the BloomGate.appendKeyed rule): replaying
    // the SAME batch under an existing key is idempotent, but a
    // DIFFERENT batch under a committed key refuses loudly instead of
    // silently dropping the earlier job's docs from the index
    NearDup.appendToSpanIndexKeyed(
      Seq(SDoc(5, s"x y $run z")).toDF(), spark, dir, "job-2") // replay: ok
    an[IllegalStateException] should be thrownBy
      NearDup.appendToSpanIndexKeyed(
        Seq(SDoc(77, noise(7))).toDF(), spark, dir, "job-2")

    // takedown: tombstoning doc 1 removes it from every later probe
    graft.operators.Tombstones.deleteIds(dir, Seq(1L).toDF("id"))
    NearDup.matchAgainstSpanIndex(
        Seq(SDoc(9, s"p q $run r")).toDF(), spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((9L, 3L), (9L, 5L))
    // compaction folds the keyed appends into a fresh base, drops the
    // tombstoned doc physically, and probes identically
    val dest = tmpDir("graft_spanidx_compact").toString + "/idx"
    NearDup.compactSpanIndex(spark, dir, dest)
    graft.operators.ArtifactPaths.exists(dest) shouldBe true
    new java.io.File(s"$dest/appends").isDirectory shouldBe false
    NearDup.loadSpanIndex(spark, dest)._1
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet shouldBe Set(2L, 3L, 4L, 5L)
    NearDup.matchAgainstSpanIndex(
        Seq(SDoc(9, s"p q $run r")).toDF(), spark, dest)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((9L, 3L), (9L, 5L))
  }

  test("semantic dedup sink: cross-batch pair via streamed floats, " +
      "replay identical, jobKey collision guard") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.VectorFunctions.normSq
    import graft.operators.SemDedup
    def vec(cluster: Int, salt: Long): Seq[Float] = {
      val v = Array.fill(8)(0.01f * ((salt % 7) + 1))
      v(cluster * 2) = 1.0f
      v(cluster * 2 + 1) = 0.1f * ((salt % 5) + 1)
      v.toSeq
    }
    def vdf(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding"),
          normSq(col("embedding")).as("n2"))
    // model statistics train on a representative sample; the standing
    // assignment starts EMPTY — the stream populates it
    val trainSet = vdf((0L until 40L).map(i => (i, vec((i % 4).toInt, i))): _*)
    val dir = tmpDir("graft_semdedup_stream").toString + "/idx"
    SemDedup.saveModel(dir, trainSet, k = 4)
    val emptyFloats = vdf()
    val outDir = tmpDir("graft_semdedup_out").toString
    val input = MemoryStream[EVec]
    val q = input.toDF()
      .withColumn("n2", normSq(col("embedding")))
      .writeStream
      .foreachBatch(semDedupSink(dir, s"$outDir/data", "job", emptyFloats, threshold = 0.9) _)
      .option("checkpointLocation", s"${tmpDir("graft_semdedup_ckpt")}")
      .start()
    // batch 0: two unrelated vectors — nothing standing yet, no pairs
    input.addData(EVec(101, vec(2, 6)), EVec(102, Seq.fill(8)(0.35f)))
    q.processAllAvailable()
    // batch 1: 201 duplicates batch-0's 102 — the pair is only findable
    // because batch 0's FLOATS persisted in the artifact (exact verify
    // re-attaches them from storedFloats, not from any caller table)
    input.addData(EVec(201, Seq.fill(8)(0.35f)))
    q.processAllAvailable()
    q.stop()
    def matches(b: Int) = spark.read.parquet(s"$outDir/data/batch=$b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    matches(0) shouldBe empty
    matches(1) shouldBe Set((102L, 201L))

    // at-least-once replay of batch 1 (append committed): identical
    // output, standing row count unchanged (own subtree excluded, then
    // overwritten with the same rows)
    val pre = SemDedup.load(spark, dir).assign.count()
    semDedupSink(dir, s"$outDir/data", "job", emptyFloats, threshold = 0.9)(
      vdf((201L, Seq.fill(8)(0.35f))), 1L)
    matches(1) shouldBe Set((102L, 201L))
    SemDedup.load(spark, dir).assign.count() shouldBe pre

    // a DIFFERENT batch under a committed key refuses loudly
    an[IllegalStateException] should be thrownBy
      SemDedup.appendBatchKeyed(spark, dir, vdf((999L, vec(1, 3))),
        emptyFloats, 0.9, "job-1")
  }

  test("streaming ANN retrieval: per-batch top-k equals the batch probe; deletes apply next batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{PqIndex, Tombstones}
    import graft.functions.VectorFunctions.normSq
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      .localCheckpoint()
    val books = PqIndex.train(spark, e, dim = 64, m = 8, k = 16)
    val dir = tmpDir("graft_pq_stream").toString
    PqIndex.save(dir, books, PqIndex.encode(e, books))

    val qRows = e.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"), col("n2")).collect()
      .map(r => QVec(r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    val outDir = tmpDir("graft_ann_stream_out").toString
    val input = MemoryStream[QVec]
    val q = input.toDF().writeStream
      .foreachBatch(nearAnnSink(dir, e, s"$outDir/data") _)
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()
    input.addData(qRows.take(2): _*)
    q.processAllAvailable()
    // artifact mutates BETWEEN batches: delete one known neighbor — the
    // per-batch reload must pick it up without restarting the job
    val batch1 = spark.read.parquet(s"$outDir/data/batch=0")
    val victim = batch1.filter(col("rn") === 1)
      .select(col("nid")).collect()(0).getLong(0)
    Tombstones.deleteIds(dir, Seq(victim).toDF("id"))
    input.addData(qRows.drop(2): _*)
    q.processAllAvailable()
    q.stop()

    // batch 0 equals the batch-path probe over the full index
    val idx = PqIndex.load(spark, dir) // note: loads WITH the tombstone now
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val qDf = (ids: Seq[QVec]) => ids.toDF("qid", "qv", "qn2")
    // batch 1 ran after the delete: equals the batch probe against the
    // tombstoned index, and never returns the victim
    val got1 = rows(spark.read.parquet(s"$outDir/data/batch=1")
      .orderBy(col("qid"), col("rn")))
    val want1 = rows(PqIndex.topKFrom(qDf(qRows.drop(2).toSeq), idx.codes, e,
      idx.books, k = 5, pool = 25).orderBy(col("qid"), col("rn")))
    got1 shouldBe want1
    got1.map(_._3) should not contain victim
  }

  private def nearAnnSink(dir: String, corpus: org.apache.spark.sql.DataFrame,
      out: String)(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
    annTopKSink(dir, corpus, out, k = 5, pool = 25)(b, id)

  test("IVF-PQ-routed streaming ANN sink equals the batch IVF probe; recall vs flat clears the floor") {
    val sp = spark; import sp.implicits._
    import graft.operators.{IvfIndex, PqIndex}
    import graft.functions.VectorFunctions.normSq
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), normSq(col("embedding")).as("n2"))
      .localCheckpoint()
    // an IVF-PQ artifact (cells + centroids persisted): the r19 sink
    // routing — a micro-batch ADC-scans only nProbe cells' codes
    val cents = IvfIndex.centroids(spark, e, 16)
    val books = PqIndex.train(spark, e, dim = 64, m = 8, k = 16)
    val dir = tmpDir("graft_ivfpq_stream").toString
    PqIndex.save(dir, books,
      PqIndex.encode(IvfIndex.assign(e, cents), books), Some(cents))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("n2").as("qn2"))
      .localCheckpoint()
    val out = tmpDir("graft_ivfpq_stream_out").toString
    annTopKSink(dir, e, out, k = 5, pool = 25, nProbe = 6)(queries, 0L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val got = rows(spark.read.parquet(s"$out/batch=0")
      .orderBy(col("qid"), col("rn")))
    // the sink IS the batch IVF-PQ probe over the loaded artifact
    val idx = PqIndex.load(spark, dir)
    idx.cents should not be empty
    val want = rows(PqIndex.topKIvfFrom(queries, idx.codes, e, idx.books,
      idx.cents.get, k = 5, pool = 25, nProbe = 6).orderBy(col("qid"), col("rn")))
    got shouldBe want
    // recall-parity vs the flat ADC scan the sink used to run: nProbe=6
    // of 16 cells keeps well above the random floor (PqIndexSpec floor)
    val flat = rows(PqIndex.topKFrom(queries, idx.codes, e, idx.books,
      k = 5, pool = 25))
    val flatTop = flat.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val ivfTop = got.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    ivfTop.keySet shouldBe flatTop.keySet
    val recall = ivfTop.keysIterator.map(q =>
      (ivfTop(q) & flatTop(q)).size.toDouble / flatTop(q).size).sum / ivfTop.size
    recall should be >= 0.2
  }

  test("stream-static join enriches from a broadcast dimension") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((10L, "GOLD"), (20L, "SILVER")).toDF("cust_id", "tier")
    val input = MemoryStream[Ev]
    val out = enrich(input.toDF(), dim, "user_id", "cust_id")
      .select(col("event_id"), col("tier"))
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(1, ts(1), 10, "a", 0), Ev(2, ts(2), 30, "a", 0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT event_id, tier FROM enriched ORDER BY event_id").collect()
    rows.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq shouldBe Seq(
      (1L, Some("GOLD")), (2L, None))
  }

  test("task-status fold as a stream: COMPLETED / PARTIALLY_FAILED emitted when all items land") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ItemUpdate]
    val out = taskStatusStream(input.toDS(), timeoutMs = 0) // timers off: they
    // schedule continuous empty micro-batches, nondeterministic under test
    val q = out.toDF().writeStream.format("memory").queryName("taskstatus")
      .outputMode(OutputMode.Append()).start()
    input.addData(
      ItemUpdate("t1", 0, 2, "COMPLETED"),
      ItemUpdate("t2", 0, 2, "COMPLETED"))
    q.processAllAvailable()
    // t1 not yet complete → nothing emitted for it
    spark.sql("SELECT count(*) FROM taskstatus").collect()(0).getLong(0) shouldBe 0L
    input.addData(
      ItemUpdate("t1", 1, 2, "COMPLETED"),
      ItemUpdate("t2", 1, 2, "FAILED"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT requestId, completed, failed, status FROM taskstatus ORDER BY requestId").collect()
    rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq shouldBe Seq(
      ("t1", 2, 0, "COMPLETED"), ("t2", 1, 1, "PARTIALLY_FAILED"))
  }

  test("complete output mode re-emits the full aggregate each batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // complete mode: no watermark needed, full result table each trigger
    val out = input.toDF().groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val q = out.writeStream.format("memory").queryName("complete_agg")
      .outputMode(OutputMode.Complete()).start()
    input.addData(Ev(1, ts(1), 10, "a", 0), Ev(2, ts(2), 10, "b", 0))
    q.processAllAvailable()
    spark.sql("SELECT * FROM complete_agg ORDER BY event_type").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("a", 1L), ("b", 1L))
    input.addData(Ev(3, ts(3), 10, "a", 0))
    q.processAllAvailable()
    q.stop()
    spark.sql("SELECT * FROM complete_agg ORDER BY event_type").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("a", 2L), ("b", 1L))
  }

  test("tasks beyond 64 items fold correctly — the paged-mask state has " +
      "no item bound (r12 task 8, r17 paged lift)") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ItemUpdate]
    val out = taskStatusStream(input.toDS(), timeoutMs = 0)
    val q = out.toDF().writeStream.format("memory").queryName("big_task")
      .outputMode(OutputMode.Append()).start()
    // 100 items across two micro-batches, one failure — the old bitmask
    // state rejected anything past 64 items outright
    input.addData((0 until 60).map(i => ItemUpdate("big", i, 100, "COMPLETED")): _*)
    q.processAllAvailable()
    spark.sql("SELECT count(*) FROM big_task").collect()(0).getLong(0) shouldBe 0L
    input.addData((60 until 100).map(i =>
      ItemUpdate("big", i, 100, if (i == 99) "FAILED" else "COMPLETED")): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT requestId, completed, failed, nItems, status FROM big_task").collect()
    rows.length shouldBe 1
    (rows(0).getString(0), rows(0).getInt(1), rows(0).getInt(2),
      rows(0).getInt(3), rows(0).getString(4)) shouldBe
      ("big", 99, 1, 100, "PARTIALLY_FAILED")
  }

  test("mask-region duplicates are absorbed and a FAILED-then-COMPLETED " +
      "retry resolves to COMPLETED (r13 ADVICE: distinct item states)") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ItemUpdate]
    val out = taskStatusStream(input.toDS(), timeoutMs = 0)
    val q = out.toDF().writeStream.format("memory").queryName("retry_task")
      .outputMode(OutputMode.Append()).start()
    // item 0 fails then succeeds on retry; item 1 is redelivered twice —
    // neither may double-count or fold the 3-item task early
    input.addData(
      ItemUpdate("t", 0, 3, "FAILED"),
      ItemUpdate("t", 1, 3, "COMPLETED"),
      ItemUpdate("t", 1, 3, "COMPLETED"))
    q.processAllAvailable()
    spark.sql("SELECT count(*) FROM retry_task").collect()(0).getLong(0) shouldBe 0L
    input.addData(
      ItemUpdate("t", 0, 3, "COMPLETED"), // the retry
      ItemUpdate("t", 2, 3, "COMPLETED"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT requestId, completed, failed, nItems, status FROM retry_task").collect()
    rows.length shouldBe 1
    (rows(0).getString(0), rows(0).getInt(1), rows(0).getInt(2),
      rows(0).getInt(3), rows(0).getString(4)) shouldBe
      ("t", 3, 0, 3, "COMPLETED")
  }

  test("items past 64 dedup by IDENTITY: duplicates absorb and a " +
      "cross-batch FAILED-then-COMPLETED retry on item 90 of a 100-item " +
      "task resolves to COMPLETED (r17: the paged mask ends the r13 " +
      "hybrid's 64-item exact window)") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ItemUpdate]
    val out = taskStatusStream(input.toDS(), timeoutMs = 0)
    val q = out.toDF().writeStream.format("memory").queryName("paged_task")
      .outputMode(OutputMode.Append()).start()
    // batch 1: items 0..89 complete, item 90 FAILS, item 95 is delivered
    // twice — under the old counts fallback the duplicate would have
    // folded the task one update early with an inflated count
    input.addData((0 until 90).map(i => ItemUpdate("p", i, 100, "COMPLETED")) ++
      Seq(ItemUpdate("p", 90, 100, "FAILED"),
        ItemUpdate("p", 95, 100, "COMPLETED"),
        ItemUpdate("p", 95, 100, "COMPLETED")): _*)
    q.processAllAvailable()
    // 92 distinct items seen < 100: must NOT fold yet
    spark.sql("SELECT count(*) FROM paged_task").collect()(0).getLong(0) shouldBe 0L
    // batch 2: the cross-batch RETRY of item 90 plus the rest — item 90
    // must resolve by item identity (completed wins), not by clamp
    input.addData(ItemUpdate("p", 90, 100, "COMPLETED") +:
      ((91 until 95) ++ (96 until 100)).map(i =>
        ItemUpdate("p", i, 100, "COMPLETED")): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT requestId, completed, failed, nItems, status FROM paged_task").collect()
    rows.length shouldBe 1
    (rows(0).getString(0), rows(0).getInt(1), rows(0).getInt(2),
      rows(0).getInt(3), rows(0).getString(4)) shouldBe
      ("p", 100, 0, 100, "COMPLETED")
  }

  test("malformed item updates reject the task explicitly; tombstone swallows stragglers") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ItemUpdate]
    val out = taskStatusStream(input.toDS(), timeoutMs = 0)
    val q = out.toDF().writeStream.format("memory").queryName("malformed")
      .outputMode(OutputMode.Append()).start()
    input.addData(ItemUpdate("bad", 5, 3, "COMPLETED")) // itemIdx >= nItems
    q.processAllAvailable()
    input.addData(ItemUpdate("bad", 0, 3, "COMPLETED")) // tombstoned: no re-emit
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT requestId, status FROM malformed").collect()
    rows.length shouldBe 1
    rows(0).getString(1) shouldBe "FAILED"
  }

  test("quality-scoring sink: micro-batch scores equal the batch scorer " +
      "and a retrain committed between triggers serves the next batch " +
      "(r13 task 8)") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{lit, lower}
    import graft.functions.QualityClassifier
    import graft.operators.QualityTrainer
    def doc(vocab: String, salt: Int): String =
      (0 until 12).map(k => s"$vocab${(salt * 7 + k * 3) % 20}").mkString(" ")
    val train = ((0 until 40).map(i => (i.toLong, doc("alpha", i), 1)) ++
      (0 until 40).map(i => (1000L + i, doc("zeta", i), 0)))
      .toDF("doc_id", "text", "y")
    val wdir = java.nio.file.Files.createTempDirectory("graft_qsink")
      .toString + "/weights"
    val out = java.nio.file.Files.createTempDirectory("graft_qsink_out").toString
    val (w1, b1) = QualityTrainer.train(train, "text", "y", iters = 4)
    QualityTrainer.save(spark, wdir, w1, b1, 4, QualityTrainer.DefaultLr)
    def want(rows: Seq[(Long, String)], w: Array[Long], bS: Long) =
      rows.toDF("doc_id", "text")
        .withColumn("gl", QualityClassifier.ngramLogit(lower(col("text")), w))
        .select(col("doc_id"), col("gl.logit").as("logit"),
          QualityTrainer.keeps(col("gl.n_grams"), col("gl.logit"), bS).as("keep"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSeq.sortBy(_._1)
    def got(batchId: Long) =
      spark.read.parquet(s"$out/data/batch=$batchId")
        .select("doc_id", "logit", "keep")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSeq.sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(StreamingOps.qualityScoreSink(wdir, s"$out/data") _)
      .outputMode(OutputMode.Append()).start()
    val docs = Seq((1L, doc("alpha", 3)), (2L, doc("zeta", 5)))
    input.addData(docs: _*)
    q.processAllAvailable()
    // the streamed batch scores exactly like the batch inference path
    got(0) shouldBe want(docs, w1, b1)
    // retrain on the FLIPPED teacher and commit between triggers: the
    // next micro-batch must serve the new weights (per-batch reload) —
    // same docs, opposite keep decisions
    val (w2, b2) = QualityTrainer.train(
      train.withColumn("y", lit(1) - col("y")), "text", "y", iters = 4)
    QualityTrainer.save(spark, wdir, w2, b2, 4, QualityTrainer.DefaultLr)
    input.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    got(1) shouldBe want(docs, w2, b2)
    got(1).map(_._3) should not be got(0).map(_._3)
  }

  test("foreachBatch writes the task-status ledger to parquet") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ledger = java.nio.file.Files.createTempDirectory("ledger").toString + "/data"
    val input = MemoryStream[ItemUpdate]
    val out = taskStatusStream(input.toDS(), timeoutMs = 0)
    val q = out.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(ledger)
      }
      .outputMode(OutputMode.Append())
      .start()
    input.addData(
      ItemUpdate("t1", 0, 1, "COMPLETED"),
      ItemUpdate("t2", 0, 1, "FAILED"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(ledger)
      .orderBy("requestId").collect()
      .map(r => (r.getString(0), r.getString(4)))
    rows.toSeq shouldBe Seq(("t1", "COMPLETED"), ("t2", "FAILED"))
  }

  test("foreachBatch CDC apply maintains a latest-wins snapshot across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("cdc").toString
    // v0 snapshot: five keys
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0))
      .toDF("k", "status", "amount").write.parquet(s"$base/v0")

    // versioned snapshot dirs: overwrite-in-place would read and write
    // the same files in one job; writing v{n+1} from v{n} is the
    // manifest/snapshot pattern every table format uses
    var version = 0
    val input = MemoryStream[(Long, String, Double)]
    val q = input.toDS().toDF("k", "status", "amount").writeStream
      .foreachBatch { (delta: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!delta.isEmpty) {
          val snap = spark.read.parquet(s"$base/v$version")
          StreamingOps.applyDelta(snap, delta, "k")
            .write.parquet(s"$base/v${version + 1}")
          version += 1
        }
      }
      .outputMode(OutputMode.Append())
      .start()
    input.addData((1L, "UPD", 11.0), (99L, "NEW", 99.0)) // update + insert
    q.processAllAvailable()
    input.addData((99L, "UPD2", 98.0)) // second batch updates the insert
    q.processAllAvailable()
    q.stop()

    version shouldBe 2
    val fin = spark.read.parquet(s"$base/v$version")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    fin shouldBe Seq(
      (1L, "UPD", 11.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0), (99L, "UPD2", 98.0))
  }

  test("foreachBatch idempotent sink: replaying a batchId does not duplicate output") {
    // StreamingOps.idempotentParquetSink through a REAL streaming query,
    // then the at-least-once replay simulated by re-invoking the sink
    // with the batchId the query already committed.
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("idem").toString
    val sink = StreamingOps.idempotentParquetSink(base) _
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("k", "v").writeStream
      .foreachBatch(sink)
      .outputMode(OutputMode.Append())
      .start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    q.stop()
    val batchDirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    batchDirs should have size 1
    val committed = batchDirs.head.stripPrefix("batch=").toLong
    spark.read.parquet(s"$base/${batchDirs.head}").count() shouldBe 2
    // replay the same batch (what a failure-restart delivers)
    sink(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), committed)
    spark.read.parquet(s"$base/${batchDirs.head}")
      .count() shouldBe 2 // not 4 — replay overwrote, never appended
  }

  test("applyDelta versionCol collapses multi-change deltas latest-wins") {
    val sp = spark; import sp.implicits._
    // a real CDC batch: insert + update of key 1 in ONE trigger; without
    // the collapse both rows would survive into the snapshot
    val snap = Seq((1L, "a", 10.0, 0L), (3L, "c", 30.0, 0L))
      .toDF("k", "status", "amount", "version")
    val delta = Seq((1L, "INS", 1.0, 1L), (1L, "UPD", 2.0, 2L),
      (2L, "NEW", 5.0, 1L))
      .toDF("k", "status", "amount", "version")
    val out = StreamingOps.applyDelta(snap, delta, "k", Some("version"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (1L, "UPD", 2.0, 2L), (2L, "NEW", 5.0, 1L), (3L, "c", 30.0, 0L))
  }

  test("decontaminateSink: stream hits == batch probe of the same docs; replay idempotent") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.NearDup
    // eval set: two docs with distinct unigram token sets
    val evalA = (0 until 20).map(i => s"ea$i")
    val evalB = (0 until 20).map(i => s"eb$i")
    val dir = tmpDir("graft_decontam_idx").toString
    NearDup.saveBandIndex(
      Seq((1000L, evalA), (2000L, evalB)).toDF("doc_id", "sh"), dir)
    // training candidates: a paraphrase-leak of evalA (same token set
    // minus one), a leak of evalB, and a clean doc
    val train = Seq(
      (10L, evalA.tail),
      (11L, evalB),
      (12L, (0 until 20).map(i => s"clean$i")))
    val out = tmpDir("graft_decontam_out").toString
    val sink = StreamingOps.decontaminateSink(dir, out)
    val input = MemoryStream[ShDoc]
    val q = input.toDF().select(col("doc_id"), col("sh")).writeStream
      .foreachBatch(sink)
      .outputMode(OutputMode.Append())
      .start()
    input.addData(train.map { case (id, sh) => ShDoc(id, ts(1), sh) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = matchRowsOf(spark.read.parquet(s"$out/batch=0"))
    // the contract: per-batch stream rows == the batch probe of the same
    // docs against the same loaded artifact (the sink IS the batch kernel)
    val batchProbe = matchRowsOf(NearDup.matchAgainstBandIndex(
      train.toDF("doc_id", "sh"), NearDup.loadBandIndex(spark, dir),
      threshold = 0.5))
    streamed shouldBe batchProbe
    streamed.map(m => (m._1, m._2)) shouldBe Set((10L, 1000L), (11L, 2000L))
    // at-least-once replay of the same batchId overwrites, never appends
    sink(train.toDF("doc_id", "sh"), 0L)
    matchRowsOf(spark.read.parquet(s"$out/batch=0")) shouldBe streamed
  }

  test("imageDedupSink: stream hits == batch probe of the same images; replay idempotent") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    def png(seed: Long, retouch: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var s = seed
      for (y <- 0 until 32; x <- 0 until 32) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = ((s >>> 33) & 0xFF).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      if (retouch) img.setRGB(7, 1, ~img.getRGB(7, 1) & 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val corpus = (0 until 6).map(i =>
      Multimodal.MediaRow(i.toLong, "image", png(i / 2, retouch = false),
        32, 32, 0))
    val dir = tmpDir("graft_imgdedup_idx").toString
    Multimodal.savePhashIndex(sp.createDataset(corpus), dir)
    // ingest: a retouched copy of base 0, an exact copy of base 1, clean
    val batch = Seq(
      Multimodal.MediaRow(100L, "image", png(0, retouch = true), 32, 32, 0),
      Multimodal.MediaRow(101L, "image", png(1, retouch = false), 32, 32, 0),
      Multimodal.MediaRow(102L, "image", png(99, retouch = false), 32, 32, 0))
    val hashed = Multimodal.hashMedia(sp.createDataset(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val out = tmpDir("graft_imgdedup_out").toString
    val sink = StreamingOps.imageDedupSink(dir, out)
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("media_id", "ph").writeStream
      .foreachBatch(sink)
      .outputMode(OutputMode.Append())
      .start()
    input.addData(hashed: _*)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = rows(spark.read.parquet(s"$out/batch=0"))
    // the contract: stream rows == the batch probe of the same images
    // against the same artifact (the sink IS the batch kernel)
    streamed shouldBe rows(Multimodal.matchAgainstPhashIndex(
      sp.createDataset(batch), sp, dir))
    streamed.map(m => (m._1, m._2)) shouldBe
      Set((100L, 0L), (100L, 1L), (101L, 2L), (101L, 3L))
    // at-least-once replay of the same batchId overwrites, never appends
    sink(hashed.toDF("media_id", "ph"), 0L)
    rows(spark.read.parquet(s"$out/batch=0")) shouldBe streamed
  }

  test("StreamMain op=window replays the events fixture: its timestamp[us] " +
      "ts (read as TIMESTAMP_NTZ) feeds the watermark") {
    import org.apache.spark.sql.functions.{count, lit, max, window}
    val events = s"$sfDir/events.parquet"
    val out = tmpDir("graft_stream_window").toString + "/out"
    StreamMain.main(Array(events, out, "files=1")) // stops its session
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("w_start"), col("w_end"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1),
          r.getString(2), r.getLong(3))).toSet
    val streamed = rows(spark.read.parquet(s"$out/data"))
    // the closed windows: end at or before the final watermark (max event
    // time minus the 10-minute delay)
    val ev = spark.read.parquet(events)
      .withColumn("ts", col("ts").cast("timestamp"))
    val watermark = new Timestamp(
      ev.agg(max(col("ts"))).head().getTimestamp(0).getTime - 10 * 60 * 1000)
    val closed = ev.groupBy(window(col("ts"), "10 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("w.end") <= lit(watermark))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("n"))
    streamed should not be empty
    streamed shouldBe rows(closed)
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
