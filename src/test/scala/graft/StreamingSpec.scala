package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class UpEv(ts: Timestamp, user_id: Long, event_id: Long, event_type: String, value: Double)

/** Drives the streaming twins through MemoryStream and asserts the
  * streaming output equals the batch run of the SAME plan builder —
  * the unified-API guarantee SURVEY §2 s1 relies on. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(ts("2024-01-15 10:01:00"), 1, "click", 1.0),
    Ev(ts("2024-01-15 10:07:00"), 2, "view", 2.0),
    Ev(ts("2024-01-15 10:16:00"), 1, "click", 3.0),
    Ev(ts("2024-01-15 10:31:00"), 3, "click", 4.0),
    Ev(ts("2024-01-15 10:44:00"), 2, "view", 5.0),
    Ev(ts("2024-01-15 10:46:00"), 2, "purchase", 99.0), // filtered out
    Ev(ts("2024-01-15 11:05:00"), 1, "view", 6.0))

  test("windowedCounts: streaming (append + watermark) equals the batch twin") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = EventStream.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      input.addData(events)
      query.processAllAvailable()
      // two far-future sentinels push the watermark past every real window
      // (watermark advances at batch end, emission happens a batch later)
      input.addData(Ev(ts("2024-01-16 00:00:00"), 9, "click", 0.0))
      query.processAllAvailable()
      input.addData(Ev(ts("2024-01-17 00:00:00"), 9, "click", 0.0))
      query.processAllAvailable()

      val got = spark.table("win_out")
        .filter(col("window_start") < ts("2024-01-16 00:00:00"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val expect = EventStream.windowedCounts(events.toDF())
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == expect)
      assert(expect.contains((ts("2024-01-15 10:00:00"), "click", 1L, 1.0)))
      assert(expect.contains((ts("2024-01-15 10:30:00"), "view", 1L, 5.0)))
      assert(!expect.exists(_._2 == "purchase"))
    } finally query.stop()
  }

  test("dedupWithinWatermark drops later duplicates of (user, type, hour)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = EventStream.dedupWithinWatermark(input.toDF())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    val batch1 = Seq(
      Ev(ts("2024-01-15 10:01:00"), 1, "click", 1.0),
      Ev(ts("2024-01-15 10:09:00"), 1, "click", 2.0), // dup: same user/type/hour
      Ev(ts("2024-01-15 10:03:00"), 2, "view", 3.0))
    val batch2 = Seq(
      Ev(ts("2024-01-15 10:20:00"), 1, "click", 4.0), // still a dup
      Ev(ts("2024-01-15 11:02:00"), 1, "click", 5.0)) // new hour bucket
    try {
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()

      val got = spark.table("dedup_out")
        .select("user_id", "event_type", "hour_bucket").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      assert(got.length == 3)
      assert(got.toSet == Set(
        (1L, "click", ts("2024-01-15 10:00:00")),
        (2L, "view", ts("2024-01-15 10:00:00")),
        (1L, "click", ts("2024-01-15 11:00:00"))))
      // streaming == batch twin on the deterministic projection (the key
      // set — what the s4 gate entry checks; the identical builder cannot
      // run on batch, so the twin is asserted here instead) — the twin
      // reads the SAME batches the stream was fed, by construction
      val batchKeys = EventStream.dedupKeySet((batch1 ++ batch2).toDF())
        .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
      assert(batchKeys == got.toSet, "streaming dedup keys must equal the batch twin")
    } finally query.stop()
  }

  test("sessionize: streaming session_window (append + watermark) equals the batch twin") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = graft.operators.Temporal.sessionize(
        input.toDF().withWatermark("ts", "1 hour"),
        "user_id", "ts", "30 minutes", "value")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      input.addData(events)
      query.processAllAvailable()
      // sentinels push the watermark past every real session (advance at
      // batch end, emission a batch later)
      input.addData(Ev(ts("2024-01-16 00:00:00"), 9, "click", 0.0))
      query.processAllAvailable()
      input.addData(Ev(ts("2024-01-17 00:00:00"), 9, "click", 0.0))
      query.processAllAvailable()

      def tup(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
        .toSet
      val got = tup(spark.table("sess_out")
        .filter(col("session_start") < ts("2024-01-16 00:00:00")).collect())
      val expect = tup(graft.operators.Temporal.sessionize(
        events.toDF(), "user_id", "ts", "30 minutes", "value").collect())
      assert(got == expect)
      // user 1's 10:01 and 10:16 merge (15 min), 11:05 is a new session (49 min)
      assert(expect.contains((1L, ts("2024-01-15 10:01:00"), ts("2024-01-15 10:46:00"), 2L, 4.0)))
      assert(expect.contains((1L, ts("2024-01-15 11:05:00"), ts("2024-01-15 11:35:00"), 1L, 6.0)))
    } finally query.stop()
  }

  test("attributionJoin: stream-stream interval join equals batch rangeJoin") {
    implicit val ctx = spark.sqlContext
    val evs = Seq(
      UpEv(ts("2024-01-15 10:30:00"), 1, 200, "click", 1.0), // 30 min after p1 -> match
      UpEv(ts("2024-01-15 11:59:00"), 1, 201, "view", 2.0), // 1h59 after p1 -> match
      UpEv(ts("2024-01-15 12:00:00"), 1, 202, "view", 3.0), // exactly 2h -> OUT (half-open)
      UpEv(ts("2024-01-15 09:59:00"), 1, 203, "click", 4.0), // before p1 -> out
      UpEv(ts("2024-01-15 10:30:00"), 2, 204, "click", 5.0)) // user 2: within p2's window
    val purch = Seq(
      Ev(ts("2024-01-15 10:00:00"), 1, "purchase", 42.0), // p1
      Ev(ts("2024-01-15 10:15:00"), 2, "purchase", 7.0)) // p2
    val evIn = MemoryStream[UpEv]
    val pIn = MemoryStream[Ev]
    val query = EventStream.attributionJoin(evIn.toDF(), pIn.toDF())
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      pIn.addData(purch)
      evIn.addData(evs)
      query.processAllAvailable()
      def tup(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getTimestamp(4), r.getDouble(5))).toSet
      val got = tup(spark.table("attr_out").collect())
      // batch twin 1: the same builder on batch inputs (plain inequality join)
      val batch = tup(EventStream.attributionJoin(evs.toDF(), purch.toDF()).collect())
      // batch twin 2: the bucketed rangeJoin (j2's engine form)
      val viaRange = graft.operators.Temporal.rangeJoin(
          evs.toDF(), "ts",
          purch.toDF().select(col("user_id"), col("ts").as("purchase_ts"),
            (col("ts") + expr("INTERVAL 2 HOURS")).as("win_end"), col("value").as("purchase_value")),
          "purchase_ts", "win_end", Seq("user_id"), binSeconds = 3600L)
        .select("event_id", "purchase_ts", "purchase_value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(got == batch)
      assert(got == viaRange)
      assert(got == Set(
        (200L, ts("2024-01-15 10:00:00"), 42.0),
        (201L, ts("2024-01-15 10:00:00"), 42.0),
        (204L, ts("2024-01-15 10:15:00"), 7.0)))
    } finally query.stop()
  }

  test("runningUpsert: state merges across triggers and equals the batch twin") {
    implicit val ctx = spark.sqlContext
    val batch1 = Seq(
      UpEv(ts("2024-01-15 10:00:00"), 1, 100, "click", 1.0),
      UpEv(ts("2024-01-15 11:00:00"), 1, 101, "view", 2.0),
      UpEv(ts("2024-01-15 10:30:00"), 2, 102, "click", 3.0))
    val batch2 = Seq(
      UpEv(ts("2024-01-15 09:00:00"), 1, 103, "signup", 9.0), // late: extends first_seen, NOT latest
      UpEv(ts("2024-01-15 12:00:00"), 2, 104, "purchase", 4.0))
    val input = MemoryStream[UpEv]
    val query = EventStream.runningUpsert(input.toDF())
      .writeStream.format("memory").queryName("upsert_out").outputMode("update").start()
    try {
      input.addData(batch1)
      query.processAllAvailable()
      input.addData(batch2)
      query.processAllAvailable()
      val rows = spark.table("upsert_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
      // trigger 1: both keys emitted; trigger 2: both keys updated
      assert(rows.sorted.toSeq == Seq(
        (1L, ts("2024-01-15 09:00:00"), ts("2024-01-15 11:00:00"), "view", 2.0),
        (1L, ts("2024-01-15 10:00:00"), ts("2024-01-15 11:00:00"), "view", 2.0),
        (2L, ts("2024-01-15 10:30:00"), ts("2024-01-15 10:30:00"), "click", 3.0),
        (2L, ts("2024-01-15 10:30:00"), ts("2024-01-15 12:00:00"), "purchase", 4.0)).sorted)
      // final streaming state == batch twin over the union of all events
      // (the most-merged row per key: widest seen-range)
      val finalState = rows.groupBy(_._1).map { case (_, rs) =>
        rs.maxBy(r => (r._3.getTime, -r._2.getTime))
      }.toSet
      val batchTwin = EventStream.runningUpsert((batch1 ++ batch2).toDF()).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
        .toSet
      assert(finalState == batchTwin)
    } finally query.stop()
  }

  test("cdcState: tombstones persist across triggers; late ops lose; snapshot == applyCdc") {
    implicit val ctx = spark.sqlContext
    val b1 = Seq(
      UpEv(ts("2024-01-15 10:00:00"), 1, 100, "click", 1.0),
      UpEv(ts("2024-01-15 10:00:00"), 2, 101, "view", 2.0))
    val b2 = Seq(
      UpEv(ts("2024-01-15 12:00:00"), 1, 102, "error", 0.0), // delete key 1
      UpEv(ts("2024-01-15 09:00:00"), 2, 103, "error", 0.0), // LATE delete: loses to 10:00 upsert
      UpEv(ts("2024-01-15 10:00:00"), 3, 104, "error", 0.0)) // delete a never-seen key
    val b3 = Seq(
      UpEv(ts("2024-01-15 11:00:00"), 1, 105, "click", 5.0), // late upsert: tombstone wins
      UpEv(ts("2024-01-15 13:00:00"), 3, 106, "click", 6.0)) // newer upsert: revives key 3
    val input = MemoryStream[UpEv]
    val query = EventStream.cdcState(input.toDF())
      .writeStream.format("memory").queryName("cdc_out").outputMode("update").start()
    try {
      Seq(b1, b2, b3).foreach { b => input.addData(b); query.processAllAvailable() }
      val rows = spark.table("cdc_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
      // state is monotone in ts (ties only between identical re-emissions),
      // so each key's final state is its max-ts emission
      val finalState = rows.groupBy(_._1).map { case (_, rs) =>
        rs.maxBy(_._2.getTime) }.toSet
      assert(finalState == Set(
        (1L, ts("2024-01-15 12:00:00"), "error", 0.0), // deleted; late click lost
        (2L, ts("2024-01-15 10:00:00"), "view", 2.0),  // late delete lost
        (3L, ts("2024-01-15 13:00:00"), "click", 6.0))) // revived
      // same builder on batch == final streaming state (one code path)
      val batchState = EventStream.cdcState((b1 ++ b2 ++ b3).toDF()).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3))).toSet
      assert(batchState == finalState)
      // live snapshot (tombstones filtered) == Upsert.applyCdc of the union
      val snap = finalState.filter(_._3 != "error").map(t => (t._1, t._4, t._2))
      val applied = graft.operators.Upsert.applyCdc((b1 ++ b2 ++ b3).toDF(),
          "user_id", "ts", "event_id", "event_type", "error", Seq("value"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2))).toSet
      assert(applied == snap)
    } finally query.stop()
  }

  test("foreachBatch bucketed publish: per-trigger state equals the batch upsert so far") {
    implicit val ctx = spark.sqlContext
    val payload = Seq("event_type", "value")
    val scratch = java.nio.file.Files.createTempDirectory("s5spec").toString
    val current = new java.util.concurrent.atomic.AtomicReference[Option[String]](None)
    val input = MemoryStream[UpEv]
    // the s5 sink: each micro-batch folds into the bucketed state-version
    // chain via Sink.mergeStateVersion (which itself throws if the
    // bucketed base would re-shuffle — so this test also gates the plan)
    val query = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val delta = graft.operators.Upsert.latestState(
          batch, "user_id", "ts", "event_id", payload)
        graft.sources.Sink.mergeStateVersion(spark, delta, current.get(),
          s"s5spec_v$id", "user_id", payload, 4, s"$scratch/v$id")
        current.set(Some(s"s5spec_v$id"))
      }.start()
    val batch1 = Seq(
      UpEv(ts("2024-01-15 10:00:00"), 1, 1, "click", 1.0),
      UpEv(ts("2024-01-15 10:05:00"), 1, 2, "view", 2.0),
      UpEv(ts("2024-01-15 10:01:00"), 2, 3, "click", 3.0))
    val batch2 = Seq(
      UpEv(ts("2024-01-15 11:00:00"), 1, 4, "purchase", 9.0), // delta wins
      // LATE arrival: older than user 2's stored latest. EXCLUDED-wins
      // (the reference's ON CONFLICT DO UPDATE) means the newest ARRIVAL
      // takes the payload — the fold is only one-shot-equivalent for
      // time-ordered batches (the s5 catalog fixture; gate-checked there)
      UpEv(ts("2024-01-15 09:00:00"), 2, 5, "view", 4.0),
      UpEv(ts("2024-01-15 11:30:00"), 3, 6, "view", 5.0)) // new key
    try {
      // parity target: the BATCH daily-merge fold (what a scheduler would
      // run day by day) — the streaming sink must match it trigger for
      // trigger, late arrivals included
      var daily: Option[org.apache.spark.sql.DataFrame] = None
      for (b <- Seq(batch1, batch2)) {
        input.addData(b)
        query.processAllAvailable()
        val delta = graft.operators.Upsert.latestState(
          b.toDF(), "user_id", "ts", "event_id", payload)
        daily = Some(daily.fold(delta)(p =>
          graft.operators.Upsert.merge(p, delta, "user_id", payload)))
        val got = spark.table(current.get().get).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
            r.getString(3), r.getDouble(4))).toSet
        val expect = daily.get.collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
            r.getString(3), r.getDouble(4))).toSet
        assert(got == expect, "streaming state must equal the batch daily-merge fold")
      }
      val finalState = spark.table(current.get().get).collect()
        .map(r => (r.getLong(0), r.getString(3), r.getDouble(4))).toSet
      assert(finalState == Set(
        (1L, "purchase", 9.0), // newest event wins
        (2L, "view", 4.0), // EXCLUDED-wins: late ARRIVAL took the payload
        (3L, "view", 5.0)))
    } finally query.stop()
  }

  test("streaming IVF ingest: store matches the batch build after every trigger") {
    import graft.operators.Ann
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(53)
    val anchorOf = (i: Int) => Seq.tabulate(6)(j =>
      if (j == 2 * (i % 3) || j == 2 * (i % 3) + 1) 1.0f else 0.0f)
    val all = Seq.tabulate(48) { i =>
      (i.toLong, anchorOf(i).map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val emb = all.toDF("vec_id", "embedding")
    val cent = Ann.sampleCentroids(emb, 3)
    val dir = java.nio.file.Files.createTempDirectory("s6spec").toString
    val path = s"$dir/store"
    // batch-built base: the first half of the corpus
    val (baseRows, streamRows) = all.partition(_._1 < 24)
    graft.sources.Sink.writePartitioned(
      Ann.assignCells(baseRows.toDF("vec_id", "embedding"), cent), path, Seq("cell"))
    val input = MemoryStream[(Long, Seq[Float])]
    val query = graft.streaming.VectorStream.appendStream(
      input.toDF().toDF("vec_id", "embedding"), cent, path, s"$dir/ckpt")
    val queries = baseRows.take(4).toDF("vec_id", "embedding")
    val schema = "vec_id BIGINT, embedding ARRAY<FLOAT>, cell BIGINT"
    try {
      var ingested = baseRows
      for (trigger <- streamRows.grouped(8)) {
        input.addData(trigger.map(t => (t._1, t._2)))
        query.processAllAvailable()
        ingested = ingested ++ trigger
        // search over the streamed store == the same search over a
        // one-shot batch corpus of everything ingested so far
        val store = spark.read.schema(schema).parquet(path)
        val got = Ann.ivfTopKAssigned(queries, store, cent, 2, 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
        val expect = Ann.ivfTopK(queries, ingested.toDF("vec_id", "embedding"), cent, 2, 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
        assert(got == expect, s"post-trigger store search diverged (${trigger.map(_._1)})")
      }
      // lifecycle closure: the small files the triggers accumulated are
      // exactly what w7's size-budgeted compaction exists for — compact
      // the STREAMED store and the search must not move
      val before = Ann.ivfTopKAssigned(queries,
          spark.read.schema(schema).parquet(path), cent, 2, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      graft.sources.Sink.compactPartitioned(
        spark.read.schema(schema).parquet(path), s"$dir/compacted", "cell", "vec_id", 1000L)
      val after = Ann.ivfTopKAssigned(queries,
          spark.read.schema(schema).parquet(s"$dir/compacted"), cent, 2, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(after == before, "compaction must change file counts, never answers")
    } finally query.stop()
  }

  test("streaming deletes: per-trigger MOR overlay hides exactly the keys deleted so far") {
    import graft.sources.Sink
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("s10spec").toString
    val (store, dvRoot) = (s"$dir/store", s"$dir/dv")
    // 120 rows over 4 buckets (bucket = id % 4)
    val rows = spark.range(0, 120).selectExpr("id", "id % 4 AS bucket",
      "CAST(id AS DOUBLE) * 2.0 AS v")
    Sink.writePartitioned(rows, store, Seq("bucket"))
    val schema = "id BIGINT, v DOUBLE, bucket BIGINT"
    val input = MemoryStream[Long]
    val query = graft.streaming.DeleteStream.deleteStream(
      input.toDF().toDF("id").selectExpr("id", "id % 4 AS bucket"),
      schema, store, dvRoot, "bucket", "id", s"$dir/ckpt")
    val dvSchema = "__file STRING, __pos BIGINT, bucket BIGINT"
    try {
      var deleted = Set.empty[Long]
      for (trigger <- Seq(Seq(1L, 5L, 9L), Seq(2L, 50L), Seq(99L, 107L, 3L))) {
        input.addData(trigger)
        query.processAllAvailable()
        deleted = deleted ++ trigger
        val mor = Sink.readMergeOnRead(
          Sink.readWithPosition(spark, schema, store),
          spark.read.schema(dvSchema).parquet(dvRoot))
        val visible = mor.select("id").collect().map(_.getLong(0)).toSet
        assert(visible == (0L until 120L).toSet -- deleted,
          s"post-trigger overlay diverged after deleting $deleted")
      }
      // data files never rewritten: every store file predates the stream
      val nFiles = spark.read.schema(schema).parquet(store)
        .select(input_file_name()).distinct().count()
      assert(nFiles > 0)
    } finally query.stop()
  }

  test("streaming drift: per-trigger folded histogram equals the batch drift so far") {
    import graft.operators.Checks
    implicit val ctx = spark.sqlContext
    val scratch = java.nio.file.Files.createTempDirectory("s7spec").toString
    val stateSchema = "event_type STRING, _bin BIGINT, _cb BIGINT"
    // frozen baseline (window A): two types, distinct histogram shapes
    val baseline = Seq(
      Ev(ts("2024-01-10 09:00:00"), 1, "click", 5.0),
      Ev(ts("2024-01-10 09:01:00"), 2, "click", 15.0),
      Ev(ts("2024-01-10 09:02:00"), 3, "click", 15.0),
      Ev(ts("2024-01-10 09:03:00"), 1, "view", 25.0)).toDF()
    val aHist = Checks.histogram(baseline, "event_type", "value", 10.0, "_ca")
    val input = MemoryStream[Ev]
    val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
    val query = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStream.histogramFoldBatch(
          "event_type", "value", 10.0, stateSchema, scratch)(batch, id)
        lastId.set(id)
      }.start()
    def driftVsState(): Set[(String, Long, Long, Double, Long)] = {
      val bHist = spark.read.schema(stateSchema)
        .parquet(s"$scratch/v${lastId.get() + 1}")
      val cells = aHist.join(bHist, Seq("event_type", "_bin"), "full_outer")
        .select(col("event_type"), col("_bin"),
          coalesce(col("_ca"), lit(0L)).as("_ca"),
          coalesce(col("_cb"), lit(0L)).as("_cb"))
      Checks.driftFromCells(cells, "event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .toSet
    }
    val trig1 = Seq(
      Ev(ts("2024-01-20 09:00:00"), 1, "click", 5.0),
      Ev(ts("2024-01-20 09:01:00"), 2, "click", 35.0)) // drifted bin
    val trig2 = Seq(
      Ev(ts("2024-01-21 09:00:00"), 3, "click", 15.0),
      Ev(ts("2024-01-21 09:01:00"), 1, "view", 25.0), // view: same shape
      Ev(ts("2024-01-21 09:02:00"), 2, "view", 25.0))
    try {
      var seen = Seq.empty[Ev]
      for (t <- Seq(trig1, trig2)) {
        input.addData(t)
        query.processAllAvailable()
        seen = seen ++ t
        // parity target: the one-shot batch drift over (baseline ∪ seen)
        val batchDrift = Checks.distributionDrift(
          baseline.unionAll(seen.toDF()), "event_type", "value",
          col("ts") >= lit("2024-01-16").cast("timestamp"), 10.0)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
          .toSet
        assert(driftVsState() == batchDrift,
          "folded streaming drift must equal the one-shot batch drift so far")
      }
      // "view" kept its shape → zero drift; "click" moved mass → positive
      val fin = driftVsState().map(t => t._1 -> t._4).toMap
      assert(fin("view") == 0.0)
      assert(fin("click") > 0.0)
    } finally query.stop()
  }

  test("streaming attribution: journeys emit at conversions and equal the batch twin so far; late rows throw") {
    import graft.operators.Temporal
    implicit val ctx = spark.sqlContext
    // day-sliced journeys: user 1 converts on day 2 (touches e1,e2) and
    // day 4 (its touch arrives in a LATER trigger than the first journey);
    // user 2's touch never converts (stays pending, never emitted)
    val all = Seq(
      UpEv(ts("2024-01-01 10:00:00"), 1, 1, "view", 0.0),
      UpEv(ts("2024-01-01 11:00:00"), 1, 2, "click", 0.0),
      UpEv(ts("2024-01-02 09:00:00"), 1, 3, "purchase", 0.0),
      UpEv(ts("2024-01-03 09:00:00"), 1, 4, "view", 0.0),
      UpEv(ts("2024-01-04 09:00:00"), 1, 5, "purchase", 0.0),
      UpEv(ts("2024-01-01 12:00:00"), 2, 6, "view", 0.0))
    def attr(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.EventStream.attributionState(
        df, Seq("view", "click"), "purchase", 7L * 86400L * 1000000L)
    val input = MemoryStream[UpEv]
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getInt(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7), r.getLong(8))
    val query = attr(input.toDF()).writeStream
      .format("memory").queryName("attr_state_out").outputMode("append").start()
    try {
      def seen() = spark.table("attr_state_out").collect().map(key).toSet
      var fed = Seq.empty[UpEv]
      for (days <- Seq(Seq(1, 2), Seq(3), Seq(4))) {
        val t = all.filter(e => days.exists(d => e.ts.toString.startsWith(f"2024-01-0$d")))
        input.addData(t)
        query.processAllAvailable()
        fed = fed ++ t
        // accumulated emissions == the batch operator over data-so-far
        val batchNow = Temporal.multiTouchAttribution(fed.toDF(),
          "user_id", "ts", "event_id", "event_type",
          Seq("view", "click"), "purchase", "7 DAYS")
          .collect().map(key).toSet
        assert(seen() == batchNow,
          s"days $days: streamed journeys must equal the batch twin so far")
      }
      assert(seen().size == 3) // e1,e2 -> conv day 2; day-3 view -> conv day 4
    } finally query.stop()
    // late-data fence: a touch at-or-before a consumed conversion THROWS
    val input2 = MemoryStream[UpEv]
    val q2 = attr(input2.toDF()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.count() // a no-op body would skip the batch plan entirely
        ()
      }.start()
    try {
      input2.addData(Seq(UpEv(ts("2024-01-02 09:00:00"), 1, 3, "purchase", 0.0)))
      q2.processAllAvailable()
      input2.addData(Seq(UpEv(ts("2024-01-01 10:00:00"), 1, 1, "view", 0.0)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getCause != null)
    } finally q2.stop()
  }

  test("streaming attribution EmitLateMarked: late touch dead-letters, journeys unaffected") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UpEv]
    val query = graft.streaming.EventStream.attributionState(
        input.toDF(), Seq("view", "click"), "purchase",
        7L * 86400L * 1000000L, onLate = graft.streaming.EventStream.EmitLateMarked)
      .writeStream.format("memory").queryName("attr_late_out")
      .outputMode("append").start()
    try {
      def snap() = spark.table("attr_late_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getInt(4), r.getLong(8))).toSet
      input.addData(Seq(
        UpEv(ts("2024-01-01 10:00:00"), 1, 1, "view", 0.0),
        UpEv(ts("2024-01-02 09:00:00"), 1, 2, "purchase", 0.0)))
      query.processAllAvailable()
      val journey = snap()
      assert(journey == Set((1L, 2L, 1L, "view", 1, 1000000L)))
      // a touch BEHIND the consumed conversion arrives late: the stream
      // survives, the row surfaces with the dead-letter marker
      // (conv_id/touch_rank -1, zero credit), and history is untouched
      input.addData(Seq(UpEv(ts("2024-01-01 11:00:00"), 1, 9, "click", 0.0)))
      query.processAllAvailable()
      assert(snap() -- journey == Set((1L, -1L, 9L, "click", -1, 0L)),
        "late touch must dead-letter marked")
      // the NEXT real journey is unaffected by the dead-lettered touch
      input.addData(Seq(
        UpEv(ts("2024-01-03 09:00:00"), 1, 4, "view", 0.0),
        UpEv(ts("2024-01-04 09:00:00"), 1, 5, "purchase", 0.0)))
      query.processAllAvailable()
      assert(snap().contains((1L, 5L, 4L, "view", 1, 1000000L)),
        "post-late journey must attribute exactly its own touches")
    } finally query.stop()
  }

  test("embedding-drift fold: per-trigger cells equal the fused batch monitor so far") {
    import graft.operators.Checks
    implicit val ctx = spark.sqlContext
    val scratch = java.nio.file.Files.createTempDirectory("s18spec").toString
    // ref and cur draw the SAME per-dim multiset (deterministic formula
    // over row index), so unplanted dims cancel exactly; the "current"
    // slices add a +0.4 shift on dims 0-1 (the encoder-upgrade shape)
    def vec(i: Int, shift: Float) = Seq.tabulate(4)(j =>
      ((i * 7 + j * 3) % 10) * 0.1f + (if (j < 2) shift else 0.0f))
    val ref = (0 until 12).map(vec(_, 0.0f))
    val refCells = Checks.embeddingCells(
      ref.toDF("embedding"), "embedding", "_sr", "n_ref")
    val input = MemoryStream[Seq[Float]]
    val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
    val query = input.toDF().toDF("embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.VectorStream.embeddingCellsFoldBatch(scratch)(batch, id)
        lastId.set(id)
      }.start()
    def verdictVsState(): Seq[(Int, Long, Long, Double, Double, Double, Boolean)] = {
      val curCells = spark.read
        .schema(graft.streaming.VectorStream.cellsStateSchema)
        .parquet(s"$scratch/v${lastId.get() + 1}")
      val cells = refCells.join(curCells, Seq("dim"), "full_outer")
        .select(col("dim"), col("_sr"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          col("_sc"), coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      Checks.embeddingDriftFromCells(cells, 0.2).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSeq.sortBy(_._1)
    }
    val cur = (0 until 12).map(vec(_, 0.4f))
    val triggers = Seq(cur.slice(0, 5), cur.slice(5, 8), cur.slice(8, 12))
    try {
      var seen = Seq.empty[Seq[Float]]
      for (t <- triggers) {
        input.addData(t)
        query.processAllAvailable()
        seen = seen ++ t
        // parity target: q7's one-shot fused monitor over (ref ∪ seen)
        val fused = Checks.embeddingDrift(
          ref.map(v => (false, v)).union(seen.map(v => (true, v)))
            .toDF("c", "embedding"),
          col("c"), "embedding", 0.2).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSeq.sortBy(_._1)
        assert(verdictVsState() == fused,
          "folded streaming drift verdict must equal the fused batch monitor so far")
      }
      // the planted dims (0-1) fire, the untouched dims (2-3) do not
      val flags = verdictVsState().map(t => t._1 -> t._7).toMap
      assert(flags(0) && flags(1) && !flags(2) && !flags(3))
    } finally query.stop()
  }

  test("quality fold: cross-trigger duplicate caught; folded summary equals the batch gate") {
    import graft.operators.Checks
    implicit val ctx = spark.sqlContext
    val scratch = java.nio.file.Files.createTempDirectory("s20spec").toString
    // trigger 1: event 10 null-types; user 5 appears once (clean so far)
    // trigger 2: user 5 appears AGAIN -> the uniqueness violation only a
    // keyed fold can see (each trigger alone is duplicate-free)
    val t1 = Seq(
      UpEv(ts("2024-01-01 10:00:00"), 5, 10, null, 1.0),
      UpEv(ts("2024-01-01 11:00:00"), 6, 11, "click", 2.0))
    val t2 = Seq(
      UpEv(ts("2024-01-02 10:00:00"), 5, 12, "view", 3.0),
      UpEv(ts("2024-01-02 11:00:00"), 7, 13, "bogus", 4.0)) // outside domain
    val input = MemoryStream[UpEv]
    val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
    val query = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStream.qualityFoldBatch(
          Seq("event_id", "user_id"), Seq("event_type"),
          Seq("event_type" -> Seq("click", "view")), Nil, scratch)(batch, id)
        lastId.set(id)
      }.start()
    def served() = EventStream.qualityServe(
      spark, scratch, lastId.get() + 1, Seq("event_id", "user_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    try {
      input.addData(t1)
      query.processAllAvailable()
      assert(served()(("unique", "user_id")) == 0L)
      input.addData(t2)
      query.processAllAvailable()
      val got = served()
      assert(got(("unique", "user_id")) == 1L, "cross-trigger dup must surface")
      assert(got(("unique", "event_id")) == 0L)
      assert(got(("not_null", "event_type")) == 1L)
      assert(got(("accepted_values", "event_type")) == 1L)
      // folded summary == the batch gate over everything
      val batch = Checks.violations((t1 ++ t2).toDF(),
        unique = Seq("event_id", "user_id"), notNull = Seq("event_type"),
        acceptedValues = Seq("event_type" -> Seq("click", "view")))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch)
    } finally query.stop()
  }

  test("manifest publish: per-trigger chain state equals the batch fold; retry skips a committed version") {
    implicit val ctx = spark.sqlContext
    import graft.sources.ManifestStore
    val payload = Seq("event_type", "value")
    val root = java.nio.file.Files.createTempDirectory("s9spec").toString + "/chain"
    val schema = "user_id BIGINT, first_seen TIMESTAMP, last_seen TIMESTAMP, " +
      "event_type STRING, value DOUBLE, bucket BIGINT"
    val input = MemoryStream[UpEv]
    val query = input.toDF().writeStream
      .foreachBatch(EventStream.manifestPublishBatch(root, 4, schema) _)
      .start()
    val batch1 = Seq(
      UpEv(ts("2024-01-15 10:00:00"), 1, 1, "click", 1.0),
      UpEv(ts("2024-01-15 10:05:00"), 1, 2, "view", 2.0),
      UpEv(ts("2024-01-15 10:01:00"), 2, 3, "click", 3.0))
    val batch2 = Seq(
      UpEv(ts("2024-01-15 11:00:00"), 1, 4, "purchase", 9.0), // delta wins
      UpEv(ts("2024-01-15 11:30:00"), 3, 6, "view", 5.0)) // new key
    try {
      var daily: Option[org.apache.spark.sql.DataFrame] = None
      for (b <- Seq(batch1, batch2)) {
        input.addData(b)
        query.processAllAvailable()
        val delta = graft.operators.Upsert.latestState(
          b.toDF(), "user_id", "ts", "event_id", payload)
        daily = Some(daily.fold(delta)(p =>
          graft.operators.Upsert.merge(p, delta, "user_id", payload)))
        val head = ManifestStore.listVersions(spark, root).last
        val got = ManifestStore.readVersion(spark, root, head, schema)
          .select("user_id", "first_seen", "last_seen", "event_type", "value")
          .collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
            r.getString(3), r.getDouble(4))).toSet
        val expect = daily.get.collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
            r.getString(3), r.getDouble(4))).toSet
        assert(got == expect,
          "the chain's head must equal the batch daily-merge fold")
      }
      // earlier versions remain readable through later publishes
      assert(ManifestStore.listVersions(spark, root) == Seq("v00000", "v00001"))
      assert(ManifestStore.readVersion(spark, root, "v00000", schema).count() == 2)
      // a RETRY of a committed batch id must be a no-op, not a re-publish
      val before = ManifestStore.readManifest(spark, root, "v00001")
      EventStream.manifestPublishBatch(root, 4, schema)(batch2.toDF(), 1L)
      assert(ManifestStore.readManifest(spark, root, "v00001") == before)
      assert(ManifestStore.listVersions(spark, root) == Seq("v00000", "v00001"))
      // a publish prepared against a stale head must throw (CAS check)
      val e = intercept[IllegalArgumentException] {
        ManifestStore.publishDelta(spark,
          graft.operators.Upsert.latestState(batch2.toDF(), "user_id", "ts",
            "event_id", payload).withColumn("bucket", lit(0L)),
          root, "v00000", "v00002", "bucket", "user_id", payload, schema)
      }
      assert(e.getMessage.contains("stale publish"))
    } finally query.stop()
  }

  test("WAP publish: poisoned trigger quarantined with zero residue; corrected retry promoted; committed retry no-op") {
    implicit val ctx = spark.sqlContext
    import graft.sources.ManifestStore
    import graft.streaming.EventStream
    val root = java.nio.file.Files.createTempDirectory("s11spec").toString + "/chain"
    val schema = "user_id BIGINT, first_seen TIMESTAMP, last_seen TIMESTAMP, " +
      "event_type STRING, value DOUBLE, bucket BIGINT"
    val accepted = Seq("click", "view", "purchase")
    val input = MemoryStream[UpEv]
    val query = input.toDF().writeStream
      .foreachBatch(EventStream.wapPublishBatch(root, 4, schema, accepted) _)
      .start()
    val good1 = Seq(
      UpEv(ts("2024-01-15 10:00:00"), 1, 1, "click", 1.0),
      UpEv(ts("2024-01-15 10:05:00"), 2, 2, "view", 2.0),
      UpEv(ts("2024-01-15 10:06:00"), 3, 3, "view", 3.0))
    val poisoned = Seq(
      UpEv(ts("2024-01-15 11:00:00"), 1, 4, "__corrupt__", 9.0),
      UpEv(ts("2024-01-15 11:30:00"), 4, 5, "view", 5.0))
    val corrected = Seq(
      UpEv(ts("2024-01-15 11:00:00"), 1, 4, "purchase", 9.0),
      UpEv(ts("2024-01-15 11:30:00"), 4, 5, "view", 5.0))
    try {
      input.addData(good1)
      query.processAllAvailable()
      assert(ManifestStore.branchHead(spark, root, "main").contains("v00000"))
      val m0 = ManifestStore.readManifest(spark, root, "v00000").toSet
      input.addData(poisoned)
      query.processAllAvailable()
      // quarantined: main unmoved, the staged version expired, the
      // audit ref dropped, disk holds exactly the reachable set
      assert(ManifestStore.branchHead(spark, root, "main").contains("v00000"))
      assert(ManifestStore.branchHead(spark, root, "audit").isEmpty)
      assert(ManifestStore.listVersions(spark, root) == Seq("v00000"))
      assert(ManifestStore.listDataFiles(spark, root) == m0,
        "a rejected trigger must leave zero file residue")
      // main still serves the last good state through the failure
      assert(ManifestStore.readVersion(spark, root, "v00000", schema)
        .count() == 3)
      input.addData(corrected)
      query.processAllAvailable()
      assert(ManifestStore.branchHead(spark, root, "main").contains("v00002"))
      val head = ManifestStore.readVersion(spark, root, "v00002", schema)
        .select("user_id", "event_type", "value").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      assert(head == Map(1L -> (("purchase", 9.0)), 2L -> (("view", 2.0)),
        3L -> (("view", 3.0)), 4L -> (("view", 5.0))))
      // a retry of a COMMITTED trigger id is a no-op
      val before = ManifestStore.readManifest(spark, root, "v00002")
      EventStream.wapPublishBatch(root, 4, schema, accepted)(
        corrected.toDF(), 2L)
      assert(ManifestStore.readManifest(spark, root, "v00002") == before)
      assert(ManifestStore.listVersions(spark, root) == Seq("v00000", "v00002"))
    } finally query.stop()
  }

  test("streaming funnel: per-trigger state equals the batch fold over data-so-far") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.EventStream
    import graft.operators.Temporal
    val steps = Seq("click", "view", "purchase")
    val input = MemoryStream[UpEv]
    val states = scala.collection.mutable.Map.empty[Long, Int]
    val query = EventStream.runningFunnel(input.toDF(), steps)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => states(r.getLong(0)) = r.getInt(1))
      }.start()
    // trigger 1: user 1 clicks+views; user 2 views first (stalls at 0)
    val t1 = Seq(
      UpEv(ts("2024-01-15 10:00:00"), 1, 1, "click", 1.0),
      UpEv(ts("2024-01-15 10:05:00"), 1, 2, "view", 1.0),
      UpEv(ts("2024-01-15 10:01:00"), 2, 3, "view", 1.0))
    // trigger 2: user 1 completes; user 2 revives (click then view);
    // user 3 enters and leaps steps out of order (purchase first — stalls)
    val t2 = Seq(
      UpEv(ts("2024-01-15 11:00:00"), 1, 4, "purchase", 1.0),
      UpEv(ts("2024-01-15 11:01:00"), 2, 5, "click", 1.0),
      UpEv(ts("2024-01-15 11:02:00"), 2, 6, "view", 1.0),
      UpEv(ts("2024-01-15 11:03:00"), 3, 7, "purchase", 1.0))
    try {
      var seen = Seq.empty[UpEv]
      for (t <- Seq(t1, t2)) {
        input.addData(t)
        query.processAllAvailable()
        seen = seen ++ t
        // parity: accumulated streaming state == the one-shot batch fold
        val batch = Temporal.funnel(seen.toDF(), "user_id", "ts",
          "event_id", "event_type", steps)
          .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
        val live = (1 to steps.length).map(i =>
          i -> states.values.count(_ >= i).toLong).toMap
        assert(live == batch,
          s"streaming funnel reach $live must equal batch $batch")
      }
      assert(states(1L) == 3 && states(2L) == 2 && states(3L) == 0)
    } finally query.stop()
  }

  test("daily HLL sketches: per-trigger served estimates equal the batch fold over data-so-far") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = EventStream.dailySketches(input.toDF())
      .writeStream.format("memory").queryName("sk_out")
      .outputMode("complete").start()
    try {
      // users repeat across days AND across triggers: the register-max
      // state must dedup both axes exactly like a one-shot batch fold
      val triggers = Seq(
        Seq(Ev(ts("2024-01-01 10:00:00"), 1, "click", 0.0),
          Ev(ts("2024-01-01 11:00:00"), 2, "click", 0.0),
          Ev(ts("2024-01-01 12:00:00"), 1, "view", 0.0)),
        Seq(Ev(ts("2024-01-02 10:00:00"), 1, "click", 0.0), // repeat user, new day
          Ev(ts("2024-01-02 11:00:00"), 3, "click", 0.0),
          Ev(ts("2024-01-02 12:00:00"), 2, "view", 0.0)),
        Seq(Ev(ts("2024-01-01 13:00:00"), 2, "click", 0.0), // late event, old day
          Ev(ts("2024-01-03 10:00:00"), 4, "view", 0.0)))
      var seen = Seq.empty[Ev]
      def served(df: org.apache.spark.sql.DataFrame) =
        EventStream.serveDistinct(df)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      triggers.foreach { t =>
        input.addData(t)
        query.processAllAvailable()
        seen = seen ++ t
        val live = served(spark.table("sk_out"))
        val batch = served(EventStream.dailySketches(seen.toDF()))
        assert(live == batch,
          s"trigger-sliced sketch state $live must serve the batch fold $batch")
        // at this cardinality the HLL estimate is exact — pin it
        val exact = seen.groupBy(_.event_type).map { case (ty, es) =>
          ty -> es.map(_.user_id).distinct.size.toLong }
        assert(live == exact)
      }
      // state is day-grain rows, not event rows
      assert(spark.table("sk_out").count() ==
        seen.map(e => (e.event_type, e.ts.toLocalDateTime.toLocalDate)).distinct.size)
    } finally query.stop()
  }

  test("streaming index ingest: folded dictionary + search match batch after every trigger") {
    import graft.operators.Retrieval
    implicit val ctx = spark.sqlContext
    val docsAll = Seq(
      1L -> "spark shuffles data across the cluster for joins",
      2L -> "broadcast joins avoid the shuffle for small tables",
      3L -> "parquet scans push filters down to the reader",
      4L -> "the shuffle is the bottleneck for big joins",
      5L -> "streaming state lives in the state store",
      6L -> "dictionaries fold one version at a time")
    val root = java.nio.file.Files.createTempDirectory("s13spec").toString + "/idx"
    val input = MemoryStream[(Long, String)]
    var version = -1
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        version += 1
        Retrieval.indexBatchAppend(root,
          batch.select(col("doc_id"), split(col("text"), " ").as("w")),
          "doc_id", "w", version)
        ()
      }
      .start()
    val qt = Seq(100L -> "shuffle", 100L -> "joins").toDF("query_id", "term")
    try {
      var seen = Seq.empty[(Long, String)]
      for (trigger <- docsAll.grouped(2)) {
        input.addData(trigger)
        query.processAllAvailable()
        seen = seen ++ trigger
        val soFar = seen.toDF("doc_id", "text")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        // folded dictionary == from-scratch docFreq over everything so far
        val gotDf = spark.read.schema("term STRING, df BIGINT")
          .parquet(s"$root/summary/v$version/df")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val wantDf = Retrieval.docFreq(Retrieval.buildPostings(soFar, "doc_id", "w"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(gotDf == wantDf, s"dictionary fold drifted at v$version")
        // search over the store == the one-shot batch search on data so far
        val got = Retrieval.searchFromStore(spark, root, version, qt, k = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val st = soFar.agg(count(lit(1)), sum(size(col("w")).cast("long"))).head
        val want = Retrieval.bm25TopK(
            Retrieval.buildPostings(soFar, "doc_id", "w"), qt,
            st.getLong(0), st.getLong(1), k = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == want, s"post-trigger search diverged at v$version")
      }
    } finally query.stop()
  }

  test("streaming gap-fill: per-trigger emission equals the batch fold; fills cross trigger boundaries") {
    implicit val ctx = spark.sqlContext
    // (user, day, value, n): user 1 has a 2-day hole INSIDE trigger 2's
    // arrival and a 3-day hole ACROSS the trigger boundary; user 2 is a
    // single observation (no fills ever)
    val t1 = Seq((1L, "2024-02-01", 5.0, 2L), (2L, "2024-02-03", 7.0, 1L))
    val t2 = Seq((1L, "2024-02-05", 9.0, 1L), (1L, "2024-02-08", 4.0, 3L))
    val input = MemoryStream[(Long, String, Double, Long)]
    val query = EventStream.gapFillDaily(
        input.toDF().toDF("user_id", "day", "day_value", "n_events"))
      .writeStream.format("memory").queryName("gf_out").outputMode("append").start()
    try {
      def snap() = spark.table("gf_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
          r.getBoolean(4), r.getLong(5))).toSet
      def batchOn(rows: Seq[(Long, String, Double, Long)]) =
        EventStream.gapFillDaily(
            rows.toDF("user_id", "day", "day_value", "n_events"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
            r.getBoolean(4), r.getLong(5))).toSet
      input.addData(t1: _*)
      query.processAllAvailable()
      assert(snap() == batchOn(t1))
      input.addData(t2: _*)
      query.processAllAvailable()
      val got = snap()
      assert(got == batchOn(t1 ++ t2), "accumulated stream != batch fold")
      // the cross-boundary fills carry trigger-1 state: days 2-4 hold
      // 5.0 with staleness 1..3, emitted only when day 5 arrived
      assert(got((1L, "2024-02-02", 5.0, 0L, false, 1L)))
      assert(got((1L, "2024-02-04", 5.0, 0L, false, 3L)))
      // in-trigger hole: days 6-7 carry 9.0
      assert(got((1L, "2024-02-07", 9.0, 0L, false, 2L)))
      // single-observation user never fills
      assert(got.count(_._1 == 2L) == 1)
      // LATE-DAY FENCE (s19's loud-not-lossy discipline): a day
      // at-or-before the stored lastDay arriving in a LATER trigger
      // would silently lose its n_events/day_value if dropped — the
      // contract is to FAIL the query so the caller fixes the trigger
      // slicing. The grid emitted so far must be final (no re-emission
      // with conflicting values before the failure surfaces).
      val before = snap()
      input.addData((1L, "2024-02-03", 99.0, 5L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      def rootOf(t: Throwable): Throwable =
        if (t.getCause == null || t.getCause == t) t else rootOf(t.getCause)
      val root = rootOf(ex)
      assert(root.isInstanceOf[IllegalStateException] &&
        root.getMessage.contains("gapFillDaily") &&
        root.getMessage.contains("2024-02-03"),
        s"expected the late-day fence, got: $root")
      assert(snap() == before,
        "late day re-emitted or mutated already-final grid rows")
    } finally query.stop()
  }

  test("streaming gap-fill EmitLateMarked: late day dead-letters in-band, stream survives") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double, Long)]
    val query = EventStream.gapFillDaily(
        input.toDF().toDF("user_id", "day", "day_value", "n_events"),
        EventStream.EmitLateMarked)
      .writeStream.format("memory").queryName("gf_late").outputMode("append").start()
    try {
      def snap() = spark.table("gf_late").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
          r.getBoolean(4), r.getLong(5))).toSet
      input.addData((1L, "2024-02-01", 5.0, 2L), (1L, "2024-02-04", 7.0, 1L))
      query.processAllAvailable()
      val grid = snap()
      assert(grid((1L, "2024-02-02", 5.0, 0L, false, 1L)) &&
        grid((1L, "2024-02-04", 7.0, 1L, true, 0L)))
      // a day 3 behind the frontier (and a frontier duplicate) arrive
      // late: the stream does NOT wedge, the grid stays final, and both
      // rows surface with full values, observed = false (a consumer
      // filtering the flag alone never ingests a late row's stale
      // day_value) and days_since_obs <= -1 — the in-band dead-letter
      // channel (grid rows are always >= 0)
      input.addData((1L, "2024-02-01", 99.0, 5L), (1L, "2024-02-04", 88.0, 6L))
      query.processAllAvailable()
      val got = snap()
      assert(got -- grid == Set(
        (1L, "2024-02-01", 99.0, 5L, false, -4L),
        (1L, "2024-02-04", 88.0, 6L, false, -1L)),
        s"late rows must dead-letter marked, got ${got -- grid}")
      // state untouched by the late rows: the grid resumes off the
      // ORIGINAL frontier value, not the late arrival's
      input.addData((1L, "2024-02-06", 3.0, 1L))
      query.processAllAvailable()
      assert(snap()((1L, "2024-02-05", 7.0, 0L, false, 1L)),
        "fill after a late arrival must carry the frontier's value")
    } finally query.stop()
  }

  test("streaming BPE dictionary: per-trigger fold == batch counts; merges batch-identical") {
    import graft.operators.Tokenizer
    implicit val ctx = spark.sqlContext
    val docsAll = Seq(
      Seq("low", "low", "lower", "x9"),
      Seq("lowest", "newest"),
      Seq("newest", "wider", "newest"),
      Seq("new", "lowest"))
    val root = java.nio.file.Files.createTempDirectory("s21spec").toString + "/bpe"
    val input = MemoryStream[Seq[String]]
    var version = -1
    val query = input.toDF().toDF("w")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        version += 1
        EventStream.bpeDictFoldBatch(root)(batch, version)
        ()
      }
      .start()
    try {
      var seen = Seq.empty[Seq[String]]
      for (trigger <- docsAll.grouped(2)) {
        input.addData(trigger: _*)
        query.processAllAvailable()
        seen = seen ++ trigger
        // folded dictionary == from-scratch word counts over data so far
        val got = spark.read.schema("word STRING, cnt BIGINT")
          .parquet(s"$root/dict_v${version + 1}")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = Tokenizer.wordCounts(seen.toDF("w"), "w")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == want, s"dictionary fold drifted at v${version + 1}")
      }
      // training from the folded state == the one-shot batch trainer
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSet
      val fromState = rows(Tokenizer.trainBpeFromCounts(
        spark.read.schema("word STRING, cnt BIGINT")
          .parquet(s"$root/dict_v${version + 1}"), 100, 3, 5))
      val fromBatch = rows(Tokenizer.trainBpe(
        docsAll.toDF("w"), "w", 100, 3, 5))
      assert(fromState == fromBatch, "folded-state merges diverged from batch")
    } finally query.stop()
  }

  test("streaming url frontier: min/sum fold == batch aggregate; first_trigger sticks") {
    implicit val ctx = spark.sqlContext
    // (curl, domain) rows: u1 appears in triggers 0+1+2, u2 in 1+2,
    // u3 only in 2 — first_trigger must be the FIRST sighting, counts
    // the corpus total, regardless of slicing
    val triggers = Seq(
      Seq(("https://a.com/x", "a.com"), ("https://a.com/x", "a.com")),
      Seq(("https://a.com/x", "a.com"), ("https://b.com/y", "b.com")),
      Seq(("https://a.com/x", "a.com"), ("https://b.com/y", "b.com"),
        ("https://c.com/z", "c.com")))
    val dir = java.nio.file.Files.createTempDirectory("s22spec").toString
    val root = dir + "/fr"
    val input = MemoryStream[(String, String)]
    // every action the triggers run, by name: the bucket set must come
    // from the contribution's own job, never from a collect. Registered
    // before the query starts: the stream runs its batches in a clone of
    // the session, which copies the listeners the session has then.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(qe.analyzed match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.toString.endsWith("/marker") => "marker"
          case _ => funcName
        })
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.add(funcName)
    }
    spark.listenerManager.register(listener)
    var version = -1
    val query = input.toDF().toDF("curl", "domain")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        version += 1
        EventStream.urlFrontierFoldBatch(root)(batch, version)
        ()
      }
      .start()
    try {
      import graft.streaming.FrontierState
      import graft.sources.ManifestStore
      def state(after: Int) = FrontierState.read(spark, root, after.toLong,
          EventStream.frontierStateSchema)
        .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
      try {
        triggers.foreach { t => input.addData(t: _*); query.processAllAvailable() }
        // listener events arrive in order: once this marker write is seen,
        // every trigger action before it has been recorded
        spark.range(1).toDF("marker").write.mode("overwrite").parquet(s"$dir/marker")
        eventually(timeout(30.seconds)) { assert(actions.contains("marker")) }
      } finally spark.listenerManager.unregister(listener)
      assert(!actions.contains("collect"),
        s"a trigger must take its bucket set from its cut, not collect it: $actions")
      assert(state(0) == Set(("https://a.com/x", 2L, 0L)))
      assert(state(2) == Set(
        ("https://a.com/x", 4L, 0L),   // seen every trigger; first stays 0
        ("https://b.com/y", 2L, 1L),
        ("https://c.com/z", 1L, 2L)),
        "frontier fold must keep first sighting and total occurrences")
      // BUCKET-DELTA property: a trigger rewrites only the buckets its
      // own urls hash into — every v0 file whose bucket trigger 1 did
      // not touch must be referenced UNCHANGED by v1's manifest
      val t1Buckets = Set("https://a.com/x", "https://b.com/y").map(u =>
        s"bucket=${spark.range(1).select(FrontierState.bucketOf(lit(u), 16))
          .head.getLong(0)}/")
      val m0 = ManifestStore.readManifest(spark, root, "v00000").toSet
      val m1 = ManifestStore.readManifest(spark, root, "v00001").toSet
      val untouched = m0.filterNot(f => t1Buckets.exists(f.startsWith))
      assert(untouched.subsetOf(m1),
        "files of buckets a trigger does not touch must carry by reference")
      assert((m1 -- m0).forall(f => t1Buckets.exists(f.startsWith)),
        "a trigger's new files must all lie under its own urls' buckets")
    } finally query.stop()
  }

  test("streaming sessionization: boundary-spanning sessions fold to the batch answer") {
    implicit val ctx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // u1's first session SPANS triggers 0->1 (10:00, 10:20 | 10:40 —
    // every hop <= 30 min) then opens a new one in trigger 2; u2 closes
    // inside 0 and re-opens in 1; u3 first appears in 2
    val triggers = Seq(
      Seq((1L, t("2024-01-15 10:00:00"), 1.5), (1L, t("2024-01-15 10:20:00"), 2.0),
        (2L, t("2024-01-15 09:00:00"), 3.0)),
      Seq((1L, t("2024-01-15 10:40:00"), 0.5), (2L, t("2024-01-15 11:00:00"), 1.0)),
      Seq((1L, t("2024-01-15 13:00:00"), 4.0), (3L, t("2024-01-15 13:30:00"), 2.5)))
    val root = java.nio.file.Files.createTempDirectory("s25spec").toString + "/sess"
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    var trig = -1
    val query = input.toDF().toDF("user_id", "ts", "value")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        trig += 1
        EventStream.sessionFoldBatch(root, 30)(batch, trig.toLong)
        ()
      }
      .start()
    try {
      triggers.foreach { tr => input.addData(tr: _*); query.processAllAvailable() }
      val sch = EventStream.sessionStateSchema
      val ledger = (0 until 3)
        .map(i => spark.read.schema(sch).parquet(s"$root/ledger_b$i"))
        .reduce(_ unionAll _)
      val open = spark.read.schema(sch).parquet(s"$root/state_v3")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4))
      val served = ledger.unionAll(open).select(
        col("user_id"), col("session_start"),
        (col("last_ts") + expr("INTERVAL 30 MINUTES")).as("session_end"),
        col("n_events"), col("v").cast("double").as("total_value"))
        .collect().map(key).toSet
      val batchAnswer = graft.operators.Temporal.sessionize(
        triggers.flatten.toDF("user_id", "ts", "value"),
        "user_id", "ts", "30 minutes", "value")
        .collect().map(key).toSet
      assert(served == batchAnswer,
        s"fold must land on the batch sessionize:\nstream=$served\nbatch=$batchAnswer")
      // the spanning session is ONE row with the exact cross-trigger sum
      assert(served.contains((1L, t("2024-01-15 10:00:00"),
        t("2024-01-15 11:10:00"), 3L, 4.0)))
      // and it CLOSED in trigger 2 (when 13:00 arrived past the gap),
      // not before — per-trigger ledger placement is part of the contract
      val b2 = spark.read.schema(sch).parquet(s"$root/ledger_b2")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(b2.contains((1L, t("2024-01-15 10:00:00"))))
    } finally query.stop()
  }

  test("streaming crawl intake: frontier dedup, gates, and versioned publish per trigger") {
    implicit val ctx = spark.sqlContext
    val markers = Seq("en" -> Seq("the", "and"), "de" -> Seq("der", "und"))
    val stops = Seq("the", "and", "on")
    // the t2 formula's (1-punct) term measures the NON-alnum share, so
    // clean short texts score ~0.3 (enGood 0.2968, enJunk 0.2436): the
    // gate threshold sits between them
    val minQ = 0.27
    val enGood = "the quick brown fox jumps over the lazy dog and the cat"
    val enJunk = "zzzz !!!! zzzz !!!!" // quality 0.2436 < 0.27: gate must drop
    val deText = "der hund und der mann gehen" // en markers 0: gate must drop
    // (doc_id, text, curl, domain); url A is RE-fetched in trigger 1 —
    // the frontier must drop the refetch and keep accumulating n_total
    val triggers = Seq(
      Seq((1L, enGood, "https://a.com/1", "a.com"),
        (2L, enJunk, "https://a.com/2", "a.com")),
      Seq((3L, enGood, "https://a.com/1", "a.com"), // seen curl: dropped
        (4L, enGood, "https://b.com/4", "b.com")),
      Seq((5L, deText, "https://b.com/5", "b.com"), // non-en: dropped
        (6L, enGood, "https://c.com/6", "c.com")))
    val dir = java.nio.file.Files.createTempDirectory("p8spec").toString
    val streamRoot = s"$dir/stream"
    val batchRoot = s"$dir/batch"
    def bodyFor(root: String) = EventStream.crawlIntakeBatch(
      s"$root/state", s"$root/corpus", 4, markers, stops, minQ) _
    val input = MemoryStream[(Long, String, String, String)]
    var trig = -1
    val query = input.toDF().toDF("doc_id", "text", "curl", "domain")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        trig += 1
        bodyFor(streamRoot)(batch, trig.toLong)
        ()
      }
      .start()
    try {
      import graft.sources.ManifestStore
      def corpusAt(root: String, v: String) = ManifestStore
        .readVersion(spark, s"$root/corpus", v, EventStream.crawlCorpusSchema)
        .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(5))).toSet
      triggers.zipWithIndex.foreach { case (t, i) =>
        input.addData(t: _*)
        query.processAllAvailable()
        // PER-TRIGGER parity: the same slices applied as plain batches
        // must land on byte-identical versions (the shared-body rule)
        bodyFor(batchRoot)(t.toDF("doc_id", "text", "curl", "domain"), i.toLong)
        val v = f"v$i%05d"
        assert(corpusAt(streamRoot, v) == corpusAt(batchRoot, v),
          s"trigger $i: streamed publish must equal the batch-slice publish")
      }
      // only the en-good NEW urls survive: 1 (t0), 4 (t1), 6 (t2);
      // every earlier version stays readable with its own row count
      assert(corpusAt(streamRoot, "v00000").map(_._1) == Set(1L))
      assert(corpusAt(streamRoot, "v00001").map(_._1) == Set(1L, 4L))
      assert(corpusAt(streamRoot, "v00002").map(_._1) == Set(1L, 4L, 6L))
      // frontier: A seen twice (docs 1+3), first winner doc 1 sticks
      val state = graft.streaming.FrontierState.read(
          spark, s"$streamRoot/state/seen", 2L, EventStream.crawlFrontierSchema)
        .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
      assert(state("https://a.com/1") == ((1L, 2L)),
        "refetched url must keep its first winner and accumulate n_total")
      assert(state.keySet.size == 5)
    } finally query.stop()
  }

  test("streaming corpus admission: per-trigger near-dup vs store equals the batch slices") {
    implicit val ctx = spark.sqlContext
    val stops = Seq("the", "and", "on")
    val minQ = 0.27 // between enGood 0.2968 and enJunk 0.2436 (the p8 fixture)
    val good = "the quick brown fox jumps over the lazy dog and the cat"
    val stored = good + " original corpus document kept"
    val junk = "zzzz !!!! zzzz !!!!"
    val dir = java.nio.file.Files.createTempDirectory("s26spec").toString
    Seq((100L, "a.com", "https://a.com/s1", stored),
      (101L, "b.com", "https://b.com/s2",
        "some other stored document with the usual words and structure"))
      .toDF("doc_id", "domain", "curl", "t")
      .write.parquet(s"$dir/store")
    // the store's persisted band index, written once at store build
    graft.operators.Dedup.minhashSignature(
      spark.read.parquet(s"$dir/store").select(col("doc_id").as("id"), col("t")),
      "id", "t", shingleN = 3, k = 16)
      .write.parquet(s"$dir/store_sig")
    // trigger fixture: every admission gate exercised —
    //   doc 2: store-seen curl (frontier drops), doc 3: trigger-seen
    //   curl (cross-trigger frontier drops), doc 4: EXACT content of
    //   stored doc 100 under a fresh url (near-dup gate drops — J=1,
    //   so every band matches and the candidate pair is guaranteed),
    //   doc 5: novel but junk (quality gate drops), docs 1/6: admitted
    val triggers = Seq(
      Seq((1L, "a.com", "https://a.com/1", good),
        (2L, "a.com", "https://a.com/s1", good)),
      Seq((3L, "a.com", "https://a.com/1", good),
        (4L, "b.com", "https://b.com/4", stored)),
      Seq((5L, "b.com", "https://b.com/5", junk),
        (6L, "c.com", "https://c.com/6", good)))
    def bodyFor(root: String) = EventStream.corpusAdmissionBatch(
      root, s"$dir/store", s"$dir/store_sig", 3, 16, 4, 0.8, 1000, stops, minQ) _
    val input = MemoryStream[(Long, String, String, String)]
    var trig = -1
    val query = input.toDF().toDF("doc_id", "domain", "curl", "t")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        trig += 1
        bodyFor(s"$dir/stream")(batch, trig.toLong)
        ()
      }
      .start()
    try {
      val ledgerSchema = EventStream.admissionLedgerSchema
      def ledgerAt(root: String, i: Int) = spark.read.schema(ledgerSchema)
        .parquet(s"$root/ledger/trig=$i")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      triggers.zipWithIndex.foreach { case (t, i) =>
        input.addData(t: _*)
        query.processAllAvailable()
        // PER-TRIGGER parity: the same slices applied as plain batches
        // must land on identical ledgers (the shared-body rule)
        bodyFor(s"$dir/batch")(t.toDF("doc_id", "domain", "curl", "t"), i.toLong)
        assert(ledgerAt(s"$dir/stream", i) == ledgerAt(s"$dir/batch", i),
          s"trigger $i: streamed ledger must equal the batch-slice ledger")
      }
      // the cross-trigger funnel: hand-computed per-domain sums
      val served = spark.read.schema(ledgerSchema + ", trig INT")
        .parquet(s"$dir/stream/ledger")
        .groupBy("domain")
        .agg(sum("n_new").as("nn"), sum("n_fresh").as("nf"),
          sum("n_novel").as("nv"), sum("n_admitted").as("na"),
          sum("n_tokens").as("nt"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(served == Map(
        "a.com" -> ((3L, 1L, 1L, 1L, 12L)),
        "b.com" -> ((2L, 2L, 1L, 0L, 0L)),
        "c.com" -> ((1L, 1L, 1L, 1L, 12L))),
        s"funnel must show each gate dropping exactly its target: $served")
    } finally query.stop()
  }

  test("streaming corpus admission stages lineage cuts: no cached relation in the ledger plan, staged RDDs released, either medium") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val stops = Seq("the", "and", "on")
    val good = "the quick brown fox jumps over the lazy dog and the cat"
    val stored = good + " original corpus document kept"
    val junk = "zzzz !!!! zzzz !!!!"
    val dir = java.nio.file.Files.createTempDirectory("s26cuts").toString
    Seq((100L, "a.com", "https://a.com/s1", stored),
      (101L, "b.com", "https://b.com/s2",
        "some other stored document with the usual words and structure"))
      .toDF("doc_id", "domain", "curl", "t")
      .write.parquet(s"$dir/store")
    graft.operators.Dedup.minhashSignature(
      spark.read.parquet(s"$dir/store").select(col("doc_id").as("id"), col("t")),
      "id", "t", shingleN = 3, k = 16)
      .write.parquet(s"$dir/store_sig")
    // s26's gates plus a curl fetched twice inside one slice (doc 3 wins
    // the winner window; doc 4, junk, must not) and a doc with no
    // registered domain, whose ledger row counts only its arrival (the
    // later funnel levels never matched a null domain)
    val triggers = Seq(
      Seq((1L, "a.com", "https://a.com/1", good),
        (2L, "a.com", "https://a.com/s1", good),
        (3L, "a.com", "https://a.com/3", good),
        (4L, "a.com", "https://a.com/3", junk),
        (5L, null, "https://localhost/5", good)),
      Seq((6L, "a.com", "https://a.com/1", good),
        (7L, "b.com", "https://b.com/7", stored),
        (8L, "a.com", "https://a.com/3", good)))
    val expected = Seq(
      Set(("a.com", 4L, 2L, 2L, 2L, 24L), (null, 1L, 0L, 0L, 0L, 0L)),
      Set(("a.com", 2L, 0L, 0L, 0L, 0L), ("b.com", 1L, 1L, 0L, 0L, 0L)))
    val sc = spark.sparkContext
    def persistedIds = sc.getPersistentRDDs.keySet.toSet
    val before = persistedIds
    // the caller's own staging: a frame persisted before the trigger
    val input = triggers.zipWithIndex
      .flatMap { case (t, i) => t.map { case (d, dm, u, x) => (d, dm, u, x, i) } }
      .toDF("doc_id", "domain", "curl", "t", "trig").persist()
    input.count()
    val callerIds = persistedIds -- before
    assert(callerIds.nonEmpty)
    def run(root: String): Seq[Set[(String, Long, Long, Long, Long, Long)]] =
      triggers.indices.map { i =>
        EventStream.corpusAdmissionBatch(root, s"$dir/store", s"$dir/store_sig",
          3, 16, 4, 0.8, 1000, stops, 0.27)(
          input.filter(col("trig") === i).drop("trig"), i.toLong)
        spark.read.schema(EventStream.admissionLedgerSchema)
          .parquet(s"$root/ledger/trig=$i")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      }
    // the final plan of each ledger write
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.toString.contains("/ledger/trig=") =>
            plans.add(qe.executedPlan.toString)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val local = run(s"$dir/local")
      assert(local == expected, s"ledgers: $local")
      eventually(timeout(30.seconds)) { assert(plans.size == triggers.size) }
      plans.forEach { p =>
        assert(!p.contains("InMemoryRelation") && !p.contains("TableCacheQueryStage"),
          s"a staged intermediate planned as a cached relation:\n$p")
        assert(p.contains("Scan ExistingRDD"), s"no lineage-cut leaf:\n$p")
      }
      val after = persistedIds
      assert(callerIds.subsetOf(after), "the caller's persisted frame must survive the trigger")
      assert((after -- before -- callerIds).isEmpty,
        s"RDDs the trigger staged must be released: ${after -- before -- callerIds}")
      // the reliable medium stages the same frames: identical ledgers
      spark.conf.set("spark.graft.checkpointDir",
        java.nio.file.Files.createTempDirectory("s26ckpt").toString)
      try assert(run(s"$dir/reliable") == local)
      finally spark.conf.unset("spark.graft.checkpointDir")
      assert((persistedIds -- before -- callerIds).isEmpty)
    } finally {
      spark.listenerManager.unregister(listener)
      input.unpersist()
    }
  }

  test("streaming corpus admission takes its bucket sets from its cuts: no collect job, same ledgers") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val good = "the quick brown fox jumps over the lazy dog and the cat"
    val stored = good + " original corpus document kept"
    val dir = java.nio.file.Files.createTempDirectory("s26buckets").toString
    Seq((100L, "a.com", "https://a.com/s1", stored))
      .toDF("doc_id", "domain", "curl", "t").write.parquet(s"$dir/store")
    graft.operators.Dedup.minhashSignature(
      spark.read.parquet(s"$dir/store").select(col("doc_id").as("id"), col("t")),
      "id", "t", shingleN = 3, k = 16)
      .write.parquet(s"$dir/store_sig")
    // trigger 1 re-fetches a curl trigger 0 saw (its bucket is read but
    // not rewritten) and brings one new curl
    val triggers = Seq(
      Seq((1L, "a.com", "https://a.com/1", good), (2L, "a.com", "https://a.com/s1", good),
        (3L, "b.com", "https://b.com/3", stored)),
      Seq((4L, "a.com", "https://a.com/1", good), (5L, "c.com", "https://c.com/5", good)))
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(qe.analyzed match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.toString.endsWith("/marker") => "marker"
          case _ => funcName
        })
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.add(funcName)
    }
    spark.listenerManager.register(listener)
    try {
      triggers.zipWithIndex.foreach { case (t, i) =>
        EventStream.corpusAdmissionBatch(s"$dir/state", s"$dir/store", s"$dir/store_sig",
          3, 16, 4, 0.8, 1000, Seq("the", "and", "on"), 0.27)(
          t.toDF("doc_id", "domain", "curl", "t"), i.toLong)
      }
      // listener events arrive in order: once this marker is seen, every
      // trigger action before it has been recorded
      spark.range(1).toDF("marker").write.mode("overwrite").parquet(s"$dir/marker")
      eventually(timeout(30.seconds)) { assert(actions.contains("marker")) }
    } finally spark.listenerManager.unregister(listener)
    assert(!actions.contains("collect"),
      s"a trigger must take its bucket sets from its cuts, not collect them: $actions")
    def ledger(i: Int) = spark.read.schema(EventStream.admissionLedgerSchema)
      .parquet(s"$dir/state/ledger/trig=$i")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(ledger(0) == Set(("a.com", 2L, 1L, 1L, 1L, 12L), ("b.com", 1L, 1L, 0L, 0L, 0L)))
    assert(ledger(1) == Set(("a.com", 1L, 0L, 0L, 0L, 0L), ("c.com", 1L, 1L, 1L, 1L, 12L)))
    // the seen set holds exactly the distinct curls, each in its own bucket
    val seen = EventStream.admissionSeenSchema
    val v1 = graft.streaming.FrontierState.read(spark, s"$dir/state/seen", 1, seen)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val buckets = spark.createDataFrame(v1.keys.toSeq.map(Tuple1(_))).toDF("curl")
      .select(col("curl"), graft.streaming.FrontierState.bucketOf(col("curl"), 16))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v1 == buckets && v1.keySet == Set("https://a.com/1", "https://a.com/s1",
      "https://b.com/3", "https://c.com/5"))
  }

  test("streaming growth accounting: day-sliced fold == batch ledger; frontier crosses triggers") {
    import graft.operators.Temporal
    implicit val ctx = spark.sqlContext
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day 10:00:00")
    // u1 active d1,d2 (trigger 1) then d4 (trigger 2): the d4 RESURRECTED
    // classification needs trigger 1's frontier; u2 churns inside t1's
    // horizon; u3 is born in trigger 2
    val t1 = Seq((1L, ts(1)), (1L, ts(2)), (2L, ts(1)))
    val t2 = Seq((1L, ts(4)), (3L, ts(4)), (3L, ts(5)))
    val root = java.nio.file.Files.createTempDirectory("s23spec").toString + "/gr"
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    var version = -1
    val query = input.toDF().toDF("user_id", "ts")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        version += 1
        EventStream.growthFoldBatch(root)(batch, version)
        ()
      }
      .start()
    try {
      def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      def served() = Temporal.growthLedgerFinish(
        spark.read.schema("day DATE, n_active BIGINT, n_new BIGINT, " +
            "n_retained BIGINT, n_resurrected BIGINT")
          .parquet(s"$root/ledger_v${version + 1}"))
        .collect().map(key).toSet
      var fed = Seq.empty[(Long, java.sql.Timestamp)]
      for (t <- Seq(t1, t2)) {
        input.addData(t: _*)
        query.processAllAvailable()
        fed = fed ++ t
        val batchNow = Temporal.growthAccounting(
            fed.toDF("user_id", "ts"), "user_id", "ts")
          .collect().map(key).toSet
        assert(served() == batchNow,
          s"after trigger ${version + 1} the folded ledger must equal the batch twin")
      }
      // the cross-trigger classification: d4 carries u1 as RESURRECTED
      // (frontier d2 from trigger 1) and u3 as NEW
      assert(served().contains(("2024-03-04", 2L, 1L, 0L, 1L, 0L, 2L)))
    } finally query.stop()
  }

  test("versioned fold state: version 0 is empty; a replayed trigger rewrites the identical version") {
    val root = java.nio.file.Files.createTempDirectory("replay").toString
    val (vol, gr) = (s"$root/vol", s"$root/gr")
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    // day-aligned triggers, as growth's fence requires
    val triggers = Seq(
      Seq((1L, "click", day(1)), (2L, "view", day(1)), (1L, "click", day(2))),
      Seq((1L, "click", day(3)), (3L, "view", day(4)), (3L, "view", day(4))),
      Seq((2L, "click", day(5)), (3L, "click", day(6))))
    def run(i: Int): Unit = {
      val batch = triggers(i).toDF("user_id", "event_type", "ts")
      EventStream.volumeFoldBatch(vol)(batch, i.toLong)
      EventStream.growthFoldBatch(gr)(batch, i.toLong)
    }
    val states = Seq(EventStream.volumeState -> vol,
      EventStream.growthState -> gr, EventStream.growthLedger -> gr)
    def rows(v: Long) = states.map { case (st, dir) =>
      st.read(spark, dir, v).collect().map(_.toString).sorted.toSeq }
    def files(v: Long) = states.map { case (st, dir) =>
      new java.io.File(new java.net.URI("file://" + st.path(dir, v)))
        .listFiles().map(f => f.getName -> f.lastModified()).toSet }
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    assert(rows(0).forall(_.isEmpty), "version 0 is the empty frame")
    (0 until 3).foreach(run)
    states.foreach { case (st, dir) =>
      assert(shape(st.read(spark, dir, 0)) == shape(spark.read.parquet(st.path(dir, 1))),
        s"${st.prefix}: version 0 must carry the written versions' schema")
    }
    val (v2, v3, v3files) = (rows(2), rows(3), files(3))
    assert(v2.forall(_.nonEmpty) && v3.forall(_.nonEmpty))
    run(1) // replay: growth's day fence must not throw
    assert(rows(2) == v2, "the replayed trigger must rewrite the identical version")
    assert(rows(3) == v3 && files(3) == v3files, "a later version must stay untouched")
  }

  test("streaming volume monitor: non-day-aligned fold == batch verdict; outage flagged") {
    import graft.operators.Checks
    implicit val ctx = spark.sqlContext
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d $h%02d:30:00")
    // 9 events/day for days 1-7, day 8 collapses to 2 (a 78% drop the
    // 50% rule must flag); ids interleave so the %3 trigger slicing
    // gives every trigger a thinned copy of EVERY day — no single
    // trigger can see the outage, only the cross-trigger fold
    var id = -1L
    val events = (1 to 8).flatMap { day =>
      val n = if (day == 8) 2 else 9
      (0 until n).map { k => id += 1; ("click", ts(day, 1 + k), id) }
    }
    val root = java.nio.file.Files.createTempDirectory("s27spec").toString + "/vol"
    val input = MemoryStream[(String, java.sql.Timestamp, Long)]
    var trig = -1
    val query = input.toDF().toDF("event_type", "ts", "event_id")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        trig += 1
        EventStream.volumeFoldBatch(root)(batch, trig.toLong)
        ()
      }
      .start()
    try {
      (0 until 3).foreach { i =>
        input.addData(events.filter(_._3 % 3 == i): _*)
        query.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      val served = Checks.volumeAnomalyFromDaily(
        spark.read.schema(EventStream.volumeStateSchema)
          .parquet(s"$root/daily_v3"), "event_type", 7, 50)
        .collect().map(key).toSet
      val batchAnswer = Checks.volumeAnomaly(
        events.toDF("event_type", "ts", "event_id"), "event_type", "ts", 7, 50)
        .collect().map(key).toSet
      assert(served == batchAnswer,
        s"folded daily counts must serve the batch verdict:\n$served\n$batchAnswer")
      assert(served.contains(("click", "2024-03-08", 2L, 7L, true)),
        "the cross-trigger outage day must be flagged from the fold")
      assert(served.filter(_._5).map(_._2) == Set("2024-03-08"),
        "no normal day may be flagged")
    } finally query.stop()
  }

  test("streaming classifier maintenance: retrain from folded deltas == batch; new labels flip a weight") {
    import graft.operators.Classifier
    implicit val ctx = spark.sqlContext
    // 5-col feature rows, x1 the only informative feature (x0 bias off
    // so the flip is clean): triggers 0+1 carry only positive labels
    // (w1 trains positive); trigger 2 floods three strong negative
    // rows — the union-trained model must flip w1's sign, which only a
    // fold that actually absorbs the new labeled rows can see
    val t0 = Seq((1L, 0L, 10L, 0L, 0L, 0L, 1L), (2L, 0L, 8L, 0L, 0L, 0L, 1L))
    val t1 = Seq((3L, 0L, 5L, 0L, 0L, 0L, 1L))
    val t2 = Seq((4L, 0L, 50L, 0L, 0L, 0L, 0L), (5L, 0L, 60L, 0L, 0L, 0L, 0L),
      (6L, 0L, 55L, 0L, 0L, 0L, 0L))
    val cols = Classifier.featCols
    val names = Seq("doc_id") ++ cols ++ Seq("y")
    val root = java.nio.file.Files.createTempDirectory("s28spec").toString + "/cls"
    val input = MemoryStream[(Long, Long, Long, Long, Long, Long, Long)]
    var trig = -1
    val query = input.toDF().toDF(names: _*)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        trig += 1
        EventStream.classifierFoldBatch(root)(batch, trig.toLong)
        ()
      }
      .start()
    try {
      def trainState() = Classifier.trainPerceptron(
        spark.read.schema(EventStream.classifierLabSchema + ", trig INT")
          .parquet(s"$root/lab"), cols, "y", 12).toSeq
      var fed = Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
      val after = Seq(t0, t1, t2).map { t =>
        input.addData(t: _*)
        query.processAllAvailable()
        fed = fed ++ t
        val ws = trainState()
        // PER-TRIGGER parity: the state-trained model equals the batch
        // trainer on everything fed so far (the shared-body rule)
        assert(ws == Classifier.trainPerceptron(
          fed.toDF(names: _*), cols, "y", 12).toSeq,
          s"after trigger ${fed.size}: state-trained weights diverged")
        ws
      }
      assert(after(1)(1) > 0L && after(2)(1) < 0L,
        s"trigger 2's negative labels must flip w1: ${after(1)(1)} -> ${after(2)(1)}")
    } finally query.stop()
  }

  test("mid-stream compaction: search parity holds across the compaction boundary") {
    import graft.operators.Retrieval
    implicit val ctx = spark.sqlContext
    val docsAll = Seq(
      1L -> "spark shuffles data across the cluster for joins",
      2L -> "broadcast joins avoid the shuffle for small tables",
      3L -> "parquet scans push filters down to the reader",
      4L -> "the shuffle is the bottleneck for big joins",
      5L -> "streaming state lives in the state store",
      6L -> "dictionaries fold one version at a time",
      7L -> "compaction folds segments into range files",
      8L -> "residual segments ride the batch filter")
    val root = java.nio.file.Files.createTempDirectory("s14spec").toString + "/idx"
    val compactAfter = 1 // fold batches 0..1 while batches 2..3 still arrive
    val input = MemoryStream[(Long, String)]
    var version = -1
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        version += 1
        Retrieval.indexBatchAppend(root,
          batch.select(col("doc_id"), split(col("text"), " ").as("w")),
          "doc_id", "w", version)
        if (version == compactAfter) {
          val dest = Retrieval.compactSegments(spark, root,
            targetRowsPerFile = 20L, through = compactAfter)
          Retrieval.assertDisjointFileRanges(
            spark.read.schema("term STRING, doc_id BIGINT, dl BIGINT, tf BIGINT")
              .parquet(dest), "term")
        }
        ()
      }
      .start()
    val qt = Seq(100L -> "shuffle", 100L -> "segments").toDF("query_id", "term")
    try {
      var seen = Seq.empty[(Long, String)]
      for (trigger <- docsAll.grouped(2)) {
        input.addData(trigger)
        query.processAllAvailable()
        seen = seen ++ trigger
        val soFar = seen.toDF("doc_id", "text")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val got =
          (if (version >= compactAfter)
             Retrieval.searchCompactedStore(spark, root, compactAfter, version, qt, k = 3)
           else Retrieval.searchFromStore(spark, root, version, qt, k = 3))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val st = soFar.agg(count(lit(1)), sum(size(col("w")).cast("long"))).head
        val want = Retrieval.bm25TopK(
            Retrieval.buildPostings(soFar, "doc_id", "w"), qt,
            st.getLong(0), st.getLong(1), k = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == want, s"search diverged at v$version (compacted through $compactAfter)")
      }
    } finally query.stop()
  }

  test("collocation fold: per-trigger dictionary equals the batch counts so far") {
    import graft.operators.Curate
    implicit val ctx = spark.sqlContext
    val scratch = java.nio.file.Files.createTempDirectory("s17spec").toString
    val input = MemoryStream[String]
    val lastId = new java.util.concurrent.atomic.AtomicLong(-1L)
    def toToks(df: org.apache.spark.sql.DataFrame) =
      df.select(split(col("value"), " ").as("ws"))
    val query = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStream.collocFoldBatch(scratch)(toToks(batch), id)
        lastId.set(id)
      }.start()
    val trig1 = Seq("spark shuffle join", "spark shuffle")
    val trig2 = Seq("shuffle join spark shuffle", "join spark")
    try {
      var seen = Seq.empty[String]
      for (t <- Seq(trig1, trig2)) {
        input.addData(t: _*)
        query.processAllAvailable()
        seen = seen ++ t
        val toksSoFar = toToks(seen.toDF("value"))
        val uniWant = Curate.unigramCounts(toksSoFar, "ws")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val biWant = Curate.bigramCounts(toksSoFar, "ws")
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val uniGot = spark.read.schema("w STRING, c1 BIGINT")
          .parquet(s"$scratch/uni_v${lastId.get() + 1}")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val biGot = spark.read.schema("w1 STRING, w2 STRING, n_xy BIGINT")
          .parquet(s"$scratch/bi_v${lastId.get() + 1}")
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(uniGot == uniWant && biGot == biWant,
          "folded dictionary != batch counts over data-so-far")
      }
      // spot the fold arithmetic: "spark shuffle" bigram appears 3x total
      val bi = spark.read.schema("w1 STRING, w2 STRING, n_xy BIGINT")
        .parquet(s"$scratch/bi_v2")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(bi(("spark", "shuffle")) == 3L)
    } finally query.stop()
  }

  test("cooccurMembership: late event evicts a larger id; final state equals the batch fold") {
    implicit val ctx = spark.sqlContext
    val cap = 3
    // one cell (click @ 10h): trigger 1 fills it to capacity {4,7,9};
    // trigger 2's late user 2 must EVICT 9 (min-k is not append-final).
    // a second cell (view @ 10h) stays under capacity.
    val batch1 = Seq(
      Ev(ts("2024-01-15 10:01:00"), 7, "click", 1.0),
      Ev(ts("2024-01-15 10:02:00"), 4, "click", 1.0),
      Ev(ts("2024-01-15 10:03:00"), 9, "click", 1.0),
      Ev(ts("2024-01-15 10:04:00"), 5, "view", 1.0))
    val batch2 = Seq(
      Ev(ts("2024-01-15 10:30:00"), 2, "click", 1.0),
      Ev(ts("2024-01-15 10:31:00"), 4, "click", 1.0), // duplicate: no-op
      Ev(ts("2024-01-15 10:32:00"), 6, "view", 1.0))
    val input = MemoryStream[Ev]
    val query = EventStream.cooccurMembership(input.toDF(), cap)
      .writeStream.format("memory").queryName("cooccur_out")
      .outputMode("update").start()
    try {
      input.addData(batch1)
      query.processAllAvailable()
      val t1 = spark.table("cooccur_out").collect()
        .map(r => (r.getString(0), r.getSeq[Long](2))).toMap
      assert(t1("click") == Seq(4L, 7L, 9L) && t1("view") == Seq(5L))
      input.addData(batch2)
      query.processAllAvailable()
      // last emission per cell across all triggers
      val fin = spark.table("cooccur_out").collect()
        .map(r => (r.getString(0), r.getSeq[Long](2)))
        .zipWithIndex.groupBy(_._1._1).map { case (k, rs) => k -> rs.maxBy(_._2)._1._2 }
      assert(fin("click") == Seq(2L, 4L, 7L) && fin("view") == Seq(5L, 6L))
      // == the batch fold over everything (one code path)
      val batchTwin = EventStream.cooccurMembership((batch1 ++ batch2).toDF(), cap)
        .collect().map(r => (r.getString(0), r.getSeq[Long](2))).toMap
      assert(fin == batchTwin)
    } finally query.stop()
  }

  test("streaming correlation: per-trigger moment fold == batch matrix at every trigger") {
    import graft.operators.Profile
    implicit val ctx = spark.sqlContext
    val cols = Seq("x", "y")
    val rowsAll = Seq(
      (1.0, 2.5), (2.0, 4.0), (3.0, 5.25), (4.0, 9.0), (5.0, 10.5), (6.0, 11.0))
    val root = java.nio.file.Files.createTempDirectory("s24spec").toString + "/corr"
    val input = MemoryStream[(Double, Double)]
    var version = -1
    val query = input.toDF().toDF("x", "y")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        version += 1
        EventStream.correlationFoldBatch(root, cols, "decimal(12,4)")(batch, version)
        ()
      }
      .start()
    try {
      var seen = Seq.empty[(Double, Double)]
      val momSchema = Profile.correlationMoments(
        rowsAll.toDF("x", "y").limit(0), cols, "decimal(12,4)").schema
      for (trigger <- rowsAll.grouped(2)) {
        input.addData(trigger: _*)
        query.processAllAvailable()
        seen = seen ++ trigger
        // finished correlation from the folded state == the one-shot
        // batch matrix over the data so far, bitwise
        val fromState = Profile.correlationFromMoments(
            spark.read.schema(momSchema).parquet(s"$root/mom_v${version + 1}"), cols)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDouble(3))).toSet
        val fromBatch = Profile.correlationMatrix(
            seen.toDF("x", "y"), cols, "decimal(12,4)")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDouble(3))).toSet
        assert(fromState == fromBatch, s"moment fold drifted at v${version + 1}")
      }
    } finally query.stop()
  }
}
