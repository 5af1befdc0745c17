package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Temporal
import graft.sources.Tables
import graft.streaming.{EventsStream, ScdStream, SessionStream}

/** Structured Streaming pipeline (I4): replay equality with batch, and
  * watermark late-data dropping across micro-batches.
  */
class StreamingSpec extends SparkTestBase {

  test("streaming tumbling counts (AvailableNow replay) equal the batch result") {
    val inDir = tempDir("graft_stream_in")
    Files.copy(Path.of(s"$sf/events.parquet"), inDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = EventsStream.tumblingCounts(spark, inDir.toString, watermark = None)
      .writeStream.format("memory").queryName("tumble_replay")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    val got = spark.table("tumble_replay")
    val expected = Temporal.streamTumble(spark, sf)
      .select(col("window_start"), col("event_type"), col("n_events"))
    assert(got.count() === expected.count())
    assert(got.except(expected).count() === 0)
    assert(expected.except(got).count() === 0)
  }

  test("flatMapGroupsWithState sessionization equals batch session_window (closed sessions)") {
    val inDir = tempDir("graft_stream_sess")
    Files.copy(Path.of(s"$sf/events.parquet"), inDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = SessionStream.sessions(spark, inDir.toString)
      .writeStream.format("memory").queryName("sess_replay")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    val streamed = spark.table("sess_replay")

    // batch truth, with each session's END (= last event + gap) so the
    // not-yet-closeable complement is precisely characterizable
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts_utc"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Dec.outDec(
          sum(graft.functions.Dec.dec2(col("value"))), 18, 2).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("total_value"))

    // Compare as collected Scala sets, NOT with a DataFrame join/except
    // against `batch`: Catalyst's PushDownLeftSemiAntiJoin treats
    // session_window.start as an ordinary grouping column and pushes a
    // semi/anti join below the session aggregation — but session starts
    // mutate while sessions MERGE, so the pushed-down plan anti-joins
    // per-EVENT pre-merge fragments and returns wrong rows (observed:
    // 53 "missing" sessions vs the true 1). Collecting first keeps the
    // comparison outside the optimizer's reach.
    val batchRows = batch.collect().map { r =>
      (r.getLong(0), r.getTimestamp(1)) ->
        ((r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    }.toMap
    val streamedRows = streamed.collect().map { r =>
      (r.getLong(0), r.getTimestamp(1)) -> ((r.getLong(2), r.getDouble(3)))
    }.toMap

    // 1. every emitted session is EXACTLY a batch session (key, count,
    //    and the cent-exact total all agree)
    assert(streamedRows.nonEmpty)
    streamedRows.foreach { case (key, (n, total)) =>
      val b = batchRows.get(key)
      assert(b.isDefined, s"streamed session $key not in batch result")
      assert(b.get._2 === n && b.get._3 === total,
        s"session $key differs: streamed ($n, $total) vs batch ${b.get}")
    }

    // 2. the only batch sessions missing from the stream are those the
    //    final watermark could not close (end >= max event time - delay)
    val finalWm = java.sql.Timestamp.from(
      Tables.events(spark, sf).agg(max(col("ts_utc")))
        .collect()(0).getTimestamp(0).toInstant
        .minus(java.time.Duration.ofMinutes(10)))
    val missing = batchRows.keySet -- streamedRows.keySet
    val wrongly = missing.filter(k => batchRows(k)._1.before(finalWm))
    assert(wrongly.isEmpty,
      s"sessions the watermark passed must have been emitted: $wrongly")
    // and open tails exist at all (the test exercises both close paths)
    assert(missing.nonEmpty && missing.size < batchRows.size)
  }

  test("sessionization handles cross-batch out-of-order events like batch session_window") {
    val spark2 = spark
    import spark2.implicits._
    val inDir = tempDir("graft_stream_ooo")
    val base = 1704067200000000000L // 2024-01-01 00:00:00 UTC in ns
    val minNs = 60L * 1000000000L
    val now = System.currentTimeMillis()

    def writeFile(name: String, rows: Seq[(Long, Long, Long)], mtimeMs: Long): Unit = {
      val tmp = tempDir(s"graft_ooo_$name")
      rows.toDF("event_id", "user_id", "ts")
        .select(col("event_id"), col("ts"), col("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, inDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(inDir.resolve(name), FileTime.fromMillis(mtimeMs))
    }

    // Batch 1: user 1 at 01:00 and at 05:00 — two open sessions.
    writeFile("a.parquet",
      Seq((1L, 1L, base + 60 * minNs), (2L, 1L, base + 300 * minNs)), now - 90000)
    // Batch 2 (watermark enforcement lags one batch, so these land):
    //  - 00:45, BEFORE the 01:00 session's start but within gap → must
    //    extend the session start BACKWARD (the case a single-open-
    //    session state machine gets wrong: it would merge 00:45 into
    //    the LATEST session and keep its 05:00 start);
    //  - 03:00, more than gap from both open sessions → its own session;
    //  - user 2 at 07:00 advances the final watermark to 06:50.
    writeFile("b.parquet",
      Seq((3L, 1L, base + 45 * minNs), (4L, 1L, base + 180 * minNs),
        (5L, 2L, base + 420 * minNs)), now - 45000)

    val q = SessionStream.sessions(spark, inDir.toString)
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")

    val got = spark.table("sess_ooo").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.getEpochSecond,
        r.getLong(2), r.getDouble(3))).toSet
    val b = 1704067200L
    // batch session_window truth: [00:45–01:00] n=2, [03:00] n=1,
    // [05:00] n=1; user 2's 07:00 session is beyond the final watermark
    // (06:50 < 07:30) and must stay open (absent).
    assert(got === Set(
      (1L, b + 45 * 60, 2L, 2.0),
      (1L, b + 180 * 60, 1L, 1.0),
      (1L, b + 300 * 60, 1L, 1.0)),
      s"out-of-order merge must match batch session_window, got $got")
  }

  test("stream-stream interval join (purchase←signup) equals the batch join") {
    val inDir = tempDir("graft_stream_ssj")
    Files.copy(Path.of(s"$sf/events.parquet"), inDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = EventsStream.purchaseAttribution(spark, inDir.toString)
      .writeStream.format("memory").queryName("ssj_replay")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    val streamed = spark.table("ssj_replay")

    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_utc").as("purchase_ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts_utc").as("signup_ts"))
    val batch = p.join(s,
      col("user_id") === col("s_user") &&
        col("signup_ts") <= col("purchase_ts") &&
        col("signup_ts") >= col("purchase_ts") - expr("INTERVAL 7 DAYS"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"), col("signup_ts"))

    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("stream-stream LEFT OUTER interval join: inner matches exact, closed unmatched null-padded") {
    val inDir = tempDir("graft_stream_ssjl")
    Files.copy(Path.of(s"$sf/events.parquet"), inDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = EventsStream.purchaseAttributionLeft(spark, inDir.toString)
      .writeStream.format("memory").queryName("ssjl_replay")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    val streamed = spark.table("ssjl_replay")

    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_utc").as("purchase_ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts_utc").as("signup_ts"))
    val joinCond = col("user_id") === col("s_user") &&
      col("signup_ts") <= col("purchase_ts") &&
      col("signup_ts") >= col("purchase_ts") - expr("INTERVAL 7 DAYS")

    // matched rows are identical to the inner join (emitted eagerly)
    val batchInner = p.join(s, joinCond)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"), col("signup_ts"))
    val streamedInner = streamed.filter(col("signup_ts").isNotNull)
    assert(streamedInner.count() === batchInner.count())
    assert(streamedInner.except(batchInner).count() === 0)
    assert(batchInner.except(streamedInner).count() === 0)

    // null-padded rows: exactly the unmatched purchases whose join
    // window the final watermark has CLOSED (wm > p_ts ⇒ no future
    // signup can satisfy s_ts <= p_ts); later unmatched purchases are
    // still in state when the replay ends, so they must NOT appear.
    val wm = ev.agg(max(col("ts_utc"))).collect()(0).getTimestamp(0).toInstant
      .minusSeconds(600)
    val expectedNulls = p.join(s, joinCond, "left_anti")
      .filter(col("purchase_ts") < lit(java.sql.Timestamp.from(wm)))
      .select(col("purchase_id"))
    val streamedNulls = streamed.filter(col("signup_ts").isNull)
      .filter(col("purchase_ts") < lit(java.sql.Timestamp.from(wm)))
      .select(col("purchase_id"))
    assert(expectedNulls.count() > 0, "test needs unattributed purchases")
    assert(streamedNulls.except(expectedNulls).count() === 0)
    assert(expectedNulls.except(streamedNulls).count() === 0)
  }

  test("dropDuplicatesWithinWatermark dedups re-synced events with bounded state") {
    val spark2 = spark
    import spark2.implicits._
    val inDir = tempDir("graft_stream_dedup")
    val base = 1704067200000000000L // 2024-01-01 00:00:00 UTC in ns
    val hour = 3600L * 1000000000L
    val now = System.currentTimeMillis()

    def writeFile(name: String, rows: Seq[(Long, Long)], mtimeMs: Long): Unit = {
      val tmp = tempDir(s"graft_dd_$name")
      rows.toDF("event_id", "ts")
        .select(col("event_id"), col("ts"), lit(1L).as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, inDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(inDir.resolve(name), FileTime.fromMillis(mtimeMs))
    }

    // batch 1: three events; batch 2: id=3 re-synced at its ORIGINAL ts
    // (within watermark → must dedup) + a new on-time event; batch 3
    // advances event time; batch 4: id=3 again with a NEW ts, arriving
    // AFTER its state was evicted (ts 10h + 10min delay < the enforced
    // watermark — which, per the pinned one-batch lag, is batch 2's
    // 10:50 by the time batch 4 runs) → lands again, pinning that dedup
    // state is watermark-BOUNDED, not global.
    writeFile("a.parquet", Seq((1L, base), (2L, base + hour), (3L, base + 10 * hour)), now - 120000)
    writeFile("b.parquet", Seq((3L, base + 10 * hour), (8L, base + 11 * hour)), now - 90000)
    writeFile("c.parquet", Seq((9L, base + 12 * hour)), now - 60000)
    writeFile("d.parquet", Seq((3L, base + 13 * hour), (10L, base + 13 * hour)), now - 30000)

    val q = graft.streaming.EventsStream.dedupedEvents(spark, inDir.toString)
      .writeStream.format("memory").queryName("dedup_replay")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")

    val ids = spark.table("dedup_replay").groupBy("event_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids(1L) === 1 && ids(2L) === 1 && ids(8L) === 1 &&
      ids(9L) === 1 && ids(10L) === 1)
    assert(ids(3L) === 2,
      "id 3: original + post-eviction re-arrival; the in-watermark duplicate dropped")
    // state eviction really happened: fewer state rows than distinct ids seen
    val lastState = q.recentProgress.last.stateOperators.head
    assert(lastState.numRowsTotal < 6, s"state must be watermark-bounded, got ${lastState.numRowsTotal}")
  }

  test("foreachBatch upserts windowed counts into a JDBC reporting table") {
    val spark2 = spark
    import spark2.implicits._
    System.setProperty("derby.system.home",
      tempDir("graft_derby_stream").toString)
    val url = "jdbc:derby:memory:graftstream;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE counts (window_start TIMESTAMP, event_type VARCHAR(32), " +
        "n_events BIGINT, PRIMARY KEY (window_start, event_type))")
    conn.close()

    val inDir = tempDir("graft_stream_jdbc")
    val base = 1704067200000000000L // 2024-01-01 00:00:00 UTC in ns
    val hour = 3600L * 1000000000L
    val now = System.currentTimeMillis()
    def writeFile(name: String, rows: Seq[(Long, Long)], mtimeMs: Long): Unit = {
      val tmp = tempDir(s"graft_jdbc_$name")
      rows.toDF("event_id", "ts")
        .select(col("event_id"), col("ts"), lit(1L).as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, inDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(inDir.resolve(name), FileTime.fromMillis(mtimeMs))
    }
    // batch 1: two hour-0 events → INSERT (00:00, 2); batch 2: one more
    // hour-0 event (must UPDATE that row to 3) and one hour-1 event
    // (fresh INSERT). Final table = the batch-truth counts.
    writeFile("a.parquet", Seq((1L, base), (2L, base + 1)), now - 60000)
    writeFile("b.parquet", Seq((3L, base + 2), (4L, base + hour)), now - 30000)

    val q = EventsStream.tumblingCounts(spark, inDir.toString, watermark = None)
      .writeStream.outputMode("update")
      .foreachBatch(EventsStream.upsertBatchToJdbc(url, "counts") _)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    assert(q.recentProgress.count(_.numInputRows > 0) === 2,
      "two micro-batches must have processed rows")

    val table = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "counts")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
      .collect().map(r => (r.getTimestamp(0).toInstant.getEpochSecond,
        r.getString(1), r.getLong(2))).toSet
    val b = 1704067200L
    assert(table === Set((b, "click", 3L), (b + 3600, "click", 1L)),
      s"upsert must leave the batch-truth counts, got $table")
  }

  test("transformWithState running totals equal the batch aggregate (RocksDB store)") {
    val inDir = tempDir("graft_stream_tws")
    Files.copy(Path.of(s"$sf/events.parquet"), inDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      val q = graft.streaming.UserTotalsStream.totals(spark, inDir.toString)
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish in 2 min")
      // update mode with one batch: last emission per user = final total
      val streamed = spark.table("tws_totals").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = Tables.events(spark, sf)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.Dec.dec2(col("value")) * 100).cast("long").as("cents"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed === batch,
        s"running totals must equal the batch aggregate; diff keys: ${
          (streamed.keySet ++ batch.keySet).filter(k =>
            streamed.get(k) != batch.get(k)).take(5)}")
    } finally prevProvider match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("restart from checkpoint resumes offsets and dedup state (no reprocess, no dup)") {
    val spark2 = spark
    import spark2.implicits._
    val inDir = tempDir("graft_stream_ckpt_in")
    val ckpt = tempDir("graft_stream_ckpt").toString
    val outDir = tempDir("graft_stream_ckpt_out").toString
    val base = 1704067200000000000L // 2024-01-01 00:00:00 UTC in ns
    val hour = 3600L * 1000000000L
    def writeFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = tempDir(s"graft_ck_$name")
      rows.toDF("event_id", "ts")
        .select(col("event_id"), col("ts"), lit(1L).as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, inDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = EventsStream.dedupedEvents(spark, inDir.toString)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    }
    // run 1: three events land
    writeFile("a.parquet", Seq((1L, base), (2L, base + hour), (3L, base + 10 * hour)))
    run()
    // run 2, SAME checkpoint: id 3 re-syncs at its original ts (dedup
    // state must survive the restart → dropped) plus one new event; the
    // already-committed file must not be reprocessed (ids 1/2 stay single)
    writeFile("b.parquet", Seq((3L, base + 10 * hour), (4L, base + 11 * hour)))
    run()
    val ids = spark.read.parquet(outDir).groupBy("event_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"restart must resume offsets and state exactly-once, got $ids")
  }

  test("late rows beyond the watermark are dropped between micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    val inDir = tempDir("graft_stream_late")
    val base = 1704067200000000000L // 2024-01-01 00:00:00 UTC in ns

    def writeFile(name: String, rows: Seq[(Long, Long)], mtimeMs: Long): Unit = {
      val tmp = tempDir(s"graft_one_$name")
      rows.toDF("event_id", "ts")
        .select(col("event_id"), col("ts"), lit(1L).as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = inDir.resolve(name)
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
    }

    val hour = 3600L * 1000000000L
    val now = System.currentTimeMillis()
    // Batch 1: events up to hour 10 → watermark advances to 10h - 10min.
    writeFile("a.parquet",
      Seq((1L, base), (2L, base + hour), (3L, base + 10 * hour)), now - 90000)
    // Batch 2: a late hour-0 event. Empirically (Spark 4.1) the late
    // filter uses the watermark in effect BEFORE the previous batch
    // committed, so this one still lands — watermark enforcement lags
    // one batch.
    writeFile("b.parquet",
      Seq((4L, base + 1L), (5L, base + 11 * hour)), now - 60000)
    // Batch 3: another late hour-0 event — by now the 09:50 watermark is
    // enforced and this row MUST be dropped.
    writeFile("c.parquet",
      Seq((6L, base + 2L), (7L, base + 12 * hour)), now - 30000)

    val q = EventsStream.tumblingCounts(spark, inDir.toString,
        watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("tumble_late")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")

    assert(q.recentProgress.count(_.numInputRows > 0) === 3,
      "three micro-batches (one per file) must have processed rows")
    // watermark advanced to batch-1 max (10:00) - 10 min at some point
    assert(q.recentProgress.exists(p =>
      Option(p.eventTime).exists(e => "2024-01-01T09:50:00.000Z" == e.get("watermark"))),
      "watermark must advance to 09:50")
    // Behavioral late-drop check (update-mode sink records every updated
    // window per batch): batch 2's late row still lands (one-batch lag,
    // see above) → (00:00, 2) is expected; batch 3's late row MUST be
    // dropped → (00:00, 3) must never appear. On-time rows all land.
    val sunk = spark.table("tumble_late")
      .select(col("window_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(!sunk.contains(("2024-01-01 00:00:00", 3L)),
      s"late hour-0 row in batch 3 must be dropped, sink=$sunk")
    assert(sunk.contains(("2024-01-01 11:00:00", 1L)) &&
      sunk.contains(("2024-01-01 12:00:00", 1L)),
      s"on-time rows must be aggregated, sink=$sunk")
  }

  test("curation ops compose into a stream unchanged: splitAssign + quality gate on streaming docs") {
    // The library's map-side curation surface (split assignment,
    // quality filtering, token counting) is stateless Catalyst — the
    // SAME GraftOps calls must run on a readStream source with no
    // rewrite, which is how a 100 TB ingest pipeline curates documents
    // on arrival instead of in a nightly batch. Replay the corpus as a
    // stream and check the per-(split, lang) survivor counts equal the
    // batch run of the identical plan fragment.
    val inDir = tempDir("graft_stream_docs")
    Files.copy(Path.of(s"$sf/documents.parquet"),
      inDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = Tables.documents(spark, sf)
    def curate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.api.GraftOps.splitAssign(df, "doc_id", "split",
          Seq("train" -> 0.8, "val" -> 0.1))
        .filter(size(graft.api.GraftOps.tokens(col("text"))) >= 50)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
    val streamed = curate(
      spark.readStream.schema(batchDocs.schema).parquet(inDir.toString))
    val q = streamed.writeStream.format("memory").queryName("curate_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    val got = spark.table("curate_stream")
    val expected = curate(batchDocs)
    assert(got.count() === expected.count())
    assert(got.except(expected).count() === 0)
    assert(expected.except(got).count() === 0)
  }

  test("streaming SCD2 change feed equals the batch version rows (finalized prefix)") {
    val inDir = tempDir("graft_stream_scd")
    Files.copy(Path.of(s"$sf/events.parquet"), inDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = ScdStream.versions(spark, inDir.toString, watermark = "10 minutes")
      .writeStream.format("memory").queryName("scd_replay")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 2 min")
    val streamed = spark.table("scd_replay").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3))).toSet

    // batch truth: the version rows of Etl.scd2 (valid_to is derived
    // from the NEXT change, so the change set alone determines it)
    val batch = graft.operators.Etl.scd2(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3))).toSet

    // final watermark = max event time - 10 min (ms-truncated); only
    // versions strictly below it are finalizable
    val maxMs = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts_utc")))).collect()(0).getLong(0) / 1000L
    val wmMs = maxMs - 10L * 60 * 1000

    assert(streamed.nonEmpty, "no change rows emitted")
    // 1. everything emitted is a true batch version row
    val phantom = streamed -- batch
    assert(phantom.isEmpty, s"streamed rows not in batch scd2: ${phantom.take(3)}")
    // 2. every batch version finalizable under the final watermark was
    //    emitted (strict ms margin: the stream finalizes ts < wm in µs)
    val due = batch.filter(_._4.getTime < wmMs - 1)
    val missing = due -- streamed
    assert(missing.isEmpty,
      s"${missing.size} finalizable versions not emitted: ${missing.take(3)}")
    // 3. the complement is precisely the not-yet-finalizable tail
    assert((streamed -- due).forall(_._4.getTime >= wmMs - 1))
  }

  test("ingestion-order guard: inverted mtime pickup drops on-time rows; audit catches, stamp repairs") {
    // The r15 StreamProbe finding encoded as a reproducible case:
    // FileStreamSource orders pickup by mtime, so a directory whose
    // mtimes contradict event order (one-job writes stamp every part
    // the same mtime; here we force the full inversion) delivers the
    // max-event-time file FIRST, races the watermark to end-of-stream,
    // and declares genuinely on-time rows late.
    val spark2 = spark
    import spark2.implicits._
    val inDir = tempDir("graft_stream_order")
    val base = 1704067200000000000L // 2024-01-01 00:00:00 UTC in ns
    val hour = 3600L * 1000000000L

    def writeFile(name: String, rows: Seq[(Long, Long)], mtimeMs: Long): Unit = {
      val tmp = tempDir(s"graft_one_$name")
      rows.toDF("event_id", "ts")
        .select(col("event_id"), col("ts"), lit(1L).as("user_id"),
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, inDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(inDir.resolve(name), FileTime.fromMillis(mtimeMs))
    }

    val now = System.currentTimeMillis()
    // mtimes INVERTED vs event time: the hour-10/11 file arrives first.
    writeFile("late_range.parquet",
      Seq((1L, base + 10 * hour), (2L, base + 11 * hour)), now - 90000)
    writeFile("mid_range.parquet",
      Seq((3L, base + 2 * hour), (4L, base + 3 * hour)), now - 60000)
    writeFile("early_range.parquet",
      Seq((5L, base), (6L, base + hour)), now - 30000)

    // 1. The audit sees the inversion WITHOUT running a stream, and the
    //    guard refuses to start one.
    val audit = EventsStream.auditArrivalOrder(spark, inDir.toString, "10 minutes")
    assert(audit.inversions >= 1, s"audit must flag the inverted order: $audit")
    assert(audit.worstCaseLateRows === 4L,
      s"mid+early files (4 rows) sit wholly below the raced watermark: $audit")
    val ex = intercept[IllegalStateException] {
      EventsStream.requireMonotoneArrival(spark, inDir.toString, "10 minutes")
    }
    assert(ex.getMessage.contains("stampArrivalOrder"))

    // 2. The real stream reproduces exactly what the audit predicted:
    //    watermark enforcement lags one batch (see the late-rows test),
    //    so the third-picked file — early_range, the MOST on-time data —
    //    is dropped by the watermark the first file raced ahead.
    def droppedBy(queryName: String, ckptSuffix: String): Long = {
      val q = EventsStream.tumblingCounts(spark, inDir.toString,
          watermark = Some("10 minutes"))
        .writeStream.format("memory").queryName(queryName)
        .option("checkpointLocation", s"$inDir/ckpt_$ckptSuffix")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish in 2 min")
      q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
    }
    assert(droppedBy("order_trap", "trap") === 2L,
      "early_range's 2 on-time rows must be spuriously dropped under inverted pickup")

    // 3. stampArrivalOrder repairs the directory: audit clean, guard
    //    passes, a fresh run drops nothing.
    EventsStream.stampArrivalOrder(spark, inDir.toString)
    val clean = EventsStream.requireMonotoneArrival(spark, inDir.toString, "10 minutes")
    assert(clean.inversions === 0 && clean.mtimeTies === 0 &&
      clean.worstCaseLateRows === 0L, s"post-stamp audit must be clean: $clean")
    assert(droppedBy("order_fixed", "fixed") === 0L,
      "event-time-ordered pickup must drop nothing")
  }
}
