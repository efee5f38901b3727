package graft

import java.sql.Timestamp

import graft.operators.EventOps.Event
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A document on a stream — fixture type for the incremental LLM
  * pipeline tests (top-level so Spark can derive its encoder). */
case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)

/** Incremental Structured Streaming semantics that have no batch
  * oracle: watermark-driven emission, late-data drops, streaming
  * dedup, arbitrary stateful processing (SURVEY.md §2h, §5.5). */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private var nextId = 0L
  private def ev(t: String, user: Long = 1L, typ: String = "click",
      value: Double = 1.0): Event = {
    nextId += 1
    Event(nextId, Timestamp.valueOf(t), user, typ, value)
  }

  test("tumbling window with watermark: late rows are dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.startToMemory(
      StreamOps.tumblingCounts(input.toDF()), "tumbling_test")
    try {
      input.addData(ev("2024-01-01 10:05:00"), ev("2024-01-01 10:15:00"))
      q.processAllAvailable()
      // advance event time far past the 10:00 window + watermark
      input.addData(ev("2024-01-01 12:30:00"))
      q.processAllAvailable()
      // this row is behind the 12:20 watermark → must be dropped
      input.addData(ev("2024-01-01 10:20:00"))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 15:00:00"))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select(col("n")).collect().map(_.getLong(0))
      // the finalized 10:00 window must count 2 events, not 3
      assert(rows.contains(2L), s"expected finalized window n=2 in ${rows.toSeq}")
      assert(!rows.contains(3L), "late row leaked into a finalized window")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes replayed record ids") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.startToMemory(
      StreamOps.dedupWithinWatermark(input.toDF()), "dedup_test")
    try {
      val e1 = ev("2024-01-01 10:00:00")
      input.addData(e1, e1.copy(value = 99.0), ev("2024-01-01 10:01:00"))
      q.processAllAvailable()
      val got = spark.table("dedup_test").select("event_id").collect()
        .map(_.getLong(0)).sorted
      assert(got.toSeq == got.toSeq.distinct, "duplicate event_id in output")
      assert(got.length == 2, s"expected 2 unique events, got ${got.length}")
    } finally q.stop()
  }

  test("session windows split on gap >= 30 minutes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.startToMemory(
      StreamOps.sessionCounts(input.toDF()), "session_test")
    try {
      input.addData(
        ev("2024-01-01 10:00:00"), ev("2024-01-01 10:10:00"),
        ev("2024-01-01 11:00:00")) // 50-min gap → new session
      q.processAllAvailable()
      input.addData(ev("2024-01-02 09:00:00")) // advance watermark, flush
      q.processAllAvailable()
      val ns = spark.table("session_test").select("n").collect().map(_.getLong(0)).sorted
      assert(ns.toSeq.containsSlice(Seq(1L, 2L)),
        s"expected sessions of 2 and 1 events, got ${ns.toSeq}")
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user state across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.startToMemory(
      StreamOps.statefulUserStats(input.toDS()).toDF(), "stateful_test")
    try {
      input.addData(ev("2024-01-01 10:00:00", user = 7, value = 1.5),
        ev("2024-01-01 10:01:00", user = 7, value = 2.25))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 10:02:00", user = 7, value = 0.25))
      q.processAllAvailable()
      val latest = spark.table("stateful_test")
        .filter(col("user_id") === 7)
        .orderBy(col("n_events").desc).collect()(0)
      assert(latest.getLong(1) == 3L)
      assert(latest.getLong(2) == 400L) // cents: 150 + 225 + 25
    } finally q.stop()
  }

  test("transformWithState: ValueState accumulates across batches (RocksDB)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = StreamOps.runningTotals(input.toDS()).toDF("user_id", "n", "cents")
      .writeStream.format("memory").queryName("tws_test")
      .outputMode("update").start()
    try {
      input.addData(ev("2024-01-01 10:00:00", user = 9, value = 1.0),
        ev("2024-01-01 10:01:00", user = 9, value = 2.5))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 10:02:00", user = 9, value = 0.5))
      q.processAllAvailable()
      val latest = spark.table("tws_test").filter(col("user_id") === 9)
        .orderBy(col("n").desc).collect()(0)
      assert(latest.getLong(1) == 3L)
      assert(latest.getLong(2) == 400L)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState: state schema evolution across a checkpointed " +
      "restart (avro encoding)") {
    // VERDICT r10 #6: the streaming analog of lake schema evolution.
    // Run V1 (state = (n, cents)) against a checkpoint, stop, restart
    // the SAME checkpoint as V2 (state adds Option[Long] maxCents).
    // The V1 state must decode under V2's schema (added field = None)
    // and totals must CONTINUE — not reset, not re-derive.
    withRocksDb {
      val encKey = "spark.sql.streaming.stateStore.encodingFormat"
      val prevEnc = spark.conf.getOption(encKey)
      spark.conf.set(encKey, "avro")
      try {
        import spark.implicits._
        implicit val ctx = spark.sqlContext
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_tws_evo_ck").toString
        // memory sink refuses checkpoint recovery; foreachBatch (the
        // recoverable sink) collects into queues instead
        val v1Rows = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, Long, Long)]()
        val v2Rows = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, Long, Long, Long)]()
        val in1 = MemoryStream[Event]
        val q1 = StreamOps.evolvingTotals(in1.toDS())
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[
              (Long, Long, Long)], _: Long) =>
            b.collect().foreach(v1Rows.add); ()
          }
          .option("checkpointLocation", ckpt)
          .outputMode("update").start()
        try {
          in1.addData(ev("2024-01-01 10:00:00", user = 21, value = 1.5),
            ev("2024-01-01 10:01:00", user = 21, value = 2.25))
          q1.processAllAvailable()
          import scala.jdk.CollectionConverters._
          val v1 = v1Rows.asScala.filter(_._1 == 21L).maxBy(_._2)
          assert(v1 == ((21L, 2L, 375L)), s"v1 state wrong: $v1")
        } finally q1.stop()

        // restart from the same checkpoint with the EVOLVED processor
        // (same MemoryStream instance, so the checkpointed offsets
        // resolve; only the not-yet-committed data replays)
        val q2 = StreamOps.evolvingTotalsV2(in1.toDS())
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[
              (Long, Long, Long, Long)], _: Long) =>
            b.collect().foreach(v2Rows.add); ()
          }
          .option("checkpointLocation", ckpt)
          .outputMode("update").start()
        try {
          in1.addData(ev("2024-01-01 10:02:00", user = 21, value = 0.25))
          q2.processAllAvailable()
          import scala.jdk.CollectionConverters._
          val v2 = v2Rows.asScala.filter(_._1 == 21L).maxBy(_._2)
          // totals CONTINUED from V1 state (3 events, 400 cents); the
          // added field tracks only post-evolution events (max = 25)
          assert(v2._2 == 3L, s"state lost across schema evolution: $v2")
          assert(v2._3 == 400L, s"cents diverged across evolution: $v2")
          assert(v2._4 == 25L, s"evolved field wrong: $v2")
        } finally q2.stop()
      } finally prevEnc match {
        case Some(v) => spark.conf.set(encKey, v)
        case None => spark.conf.unset(encKey)
      }
    }
  }

  test("transformWithState: event-time timers close sessions and clear state") {
    withRocksDb {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[Event]
      val q = StreamOps.sessionCloseCounts(input.toDS()).toDF("user_id", "n")
        .writeStream.format("memory").queryName("timer_test")
        .outputMode("append").start()
      try {
        input.addData(ev("2024-01-01 10:00:00", user = 5),
          ev("2024-01-01 10:10:00", user = 5))
        q.processAllAvailable()
        // nothing closed yet: watermark has not passed 10:10 + 30min
        assert(spark.table("timer_test").count() == 0)
        // advance the watermark past the session close time → timer fires
        input.addData(ev("2024-01-01 12:00:00", user = 99))
        q.processAllAvailable()
        val closed = spark.table("timer_test").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(closed == Set((5L, 2L)), s"expected session (5,2), got $closed")
        // state was CLEARED on expiry: a new user-5 event starts at 1
        input.addData(ev("2024-01-01 13:00:00", user = 5))
        input.addData(ev("2024-01-01 15:00:00", user = 98))
        q.processAllAvailable()
        val after = spark.table("timer_test").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(after.contains((5L, 1L)),
          s"session state not evicted on timer expiry: $after")
        assert(!after.contains((5L, 3L)), s"stale state leaked: $after")
      } finally q.stop()
    }
  }

  test("transformWithState: state TTL evicts idle keys") {
    withRocksDb {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[Event]
      val q = StreamOps
        .runningTotalsWithTtl(input.toDS(), java.time.Duration.ofSeconds(1))
        .toDF("user_id", "n", "cents")
        .writeStream.format("memory").queryName("ttl_test")
        .outputMode("update").start()
      // ProcessingTime mode schedules continuous no-data batches to
      // evaluate TTL, so processAllAvailable never quiesces — poll the
      // sink with a deadline instead.
      def waitForRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (spark.table("ttl_test").filter(col("user_id") === 11).count() < n) {
          if (System.nanoTime() > deadline)
            fail(s"timed out waiting for $n output rows")
          Thread.sleep(200)
        }
      }
      try {
        input.addData(ev("2024-01-01 10:00:00", user = 11, value = 1.0))
        waitForRows(1)
        Thread.sleep(2500) // let the 1s TTL lapse in processing time
        input.addData(ev("2024-01-01 10:05:00", user = 11, value = 1.0))
        waitForRows(2)
        val ns = spark.table("ttl_test").filter(col("user_id") === 11)
          .select("n").collect().map(_.getLong(0)).toSeq
        assert(ns.sorted == Seq(1L, 1L),
          s"expected totals to restart after TTL eviction, got $ns")
      } finally q.stop()
    }
  }

  test("streaming LLM pipeline: dedup within watermark + quality gate") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = StreamOps.streamingDocPipeline(input.toDF())
      .writeStream.format("memory").queryName("docpipe_test")
      .outputMode("append").start()
    try {
      val good = "the cat sat on my mat"
      input.addData(
        StreamDoc(1, Timestamp.valueOf("2024-01-01 10:00:00"), good),
        StreamDoc(2, Timestamp.valueOf("2024-01-01 10:01:00"), good), // exact dup
        StreamDoc(3, Timestamp.valueOf("2024-01-01 10:02:00"), "hi"), // too short
        StreamDoc(4, Timestamp.valueOf("2024-01-01 10:03:00"), "the the a a")) // stopword spam
      q.processAllAvailable()
      val ids = spark.table("docpipe_test").select("doc_id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L),
        s"expected only doc 1 to survive dedup+quality, got $ids")
      // a genuinely new good doc in a later batch still flows through
      input.addData(StreamDoc(5, Timestamp.valueOf("2024-01-01 10:04:00"),
        "a fresh document with plenty of unique content here"))
      q.processAllAvailable()
      val ids2 = spark.table("docpipe_test").select("doc_id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(ids2 == Seq(1L, 5L), s"expected docs 1 and 5, got $ids2")
    } finally q.stop()
  }

  test("streaming banded near-dup: in-window near pair found, far docs not") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = StreamOps.streamingNearDupPairs(input.toDF())
      .writeStream.format("memory").queryName("neardup_stream_test")
      .outputMode("append").start()
    try {
      val base = (1 to 40).map(i => s"tok$i").mkString(" ")
      val near = (1 to 39).map(i => s"tok$i").mkString(" ")
      val far = (100 to 140).map(i => s"tok$i").mkString(" ")
      input.addData(
        StreamDoc(1, Timestamp.valueOf("2024-01-01 10:00:00"), base),
        StreamDoc(2, Timestamp.valueOf("2024-01-01 10:01:00"), near),
        StreamDoc(3, Timestamp.valueOf("2024-01-01 10:02:00"), far))
      q.processAllAvailable()
      // advance the watermark so joined+deduped results flush
      input.addData(StreamDoc(9, Timestamp.valueOf("2024-01-01 12:00:00"),
        (200 to 240).map(i => s"z$i").mkString(" ")))
      q.processAllAvailable()
      input.addData(StreamDoc(10, Timestamp.valueOf("2024-01-01 14:00:00"),
        (300 to 340).map(i => s"y$i").mkString(" ")))
      q.processAllAvailable()
      val pairs = spark.table("neardup_stream_test")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)),
        s"expected exactly the in-window near pair (1,2), got $pairs")
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replayed batch leaves no duplicates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_idem_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idem_ckpt").toString
    val input = MemoryStream[Event]
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // run 1: fail AFTER the batch-0 files are written but BEFORE the
    // checkpoint commit — the classic partial-failure window
    val q1 = StreamOps.startIdempotentParquet(input.toDF(), out, ckpt,
      beforeCommit = _ =>
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash between write and commit"))
    input.addData(ev("2024-01-01 10:00:00", user = 1),
      ev("2024-01-01 10:01:00", user = 2))
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    // run 2: restart from the checkpoint — batch 0 is REPLAYED into the
    // same deterministic path; then a new batch arrives
    val q2 = StreamOps.startIdempotentParquet(input.toDF(), out, ckpt)
    try {
      q2.processAllAvailable()
      input.addData(ev("2024-01-01 10:02:00", user = 3))
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
      val ids = rows.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == ids.distinct, s"replay duplicated rows: $ids")
      assert(rows.count() == 3,
        s"expected 3 rows across replayed+new batches, got ${rows.count()}")
    } finally q2.stop()
  }

  test("compacting lake sink: maintenance crash between compact-write " +
      "and manifest commit loses and duplicates nothing") {
    import graft.streaming.LakeSink
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_lake_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lake_ckpt").toString
    val input = MemoryStream[Event]
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // run 1: three ingest batches land; batch 3 triggers compaction and
    // dies AFTER seg_c3 is fully written, BEFORE the manifest commit
    val q1 = LakeSink.startCompactingIngest(input.toDF(), out, ckpt,
      compactEvery = 4, targetFiles = 2,
      beforeMaintenanceCommit = _ =>
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash before manifest commit"))
    val batches = (0 until 4).map(i =>
      Seq(ev(f"2024-01-01 10:0$i:00", user = i.toLong),
        ev(f"2024-01-01 10:0$i:30", user = i.toLong)))
    try {
      batches.take(3).foreach { b => input.addData(b: _*); q1.processAllAvailable() }
      input.addData(batches(3): _*)
      intercept[Exception] { q1.processAllAvailable() }
    } finally q1.stop()
    // crash window: readers must still see EXACTLY the committed rows —
    // the fully-written seg_c3 is invisible (no manifest references it)
    val mid = LakeSink.readManifest(out)
    assert(mid.segs.forall(_.startsWith("seg_b")),
      s"uncommitted compaction leaked into the manifest: ${mid.segs}")
    val midIds = LakeSink.readTable(spark, out)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(midIds == midIds.distinct, s"duplicates in crash window: $midIds")
    // batch 3's INGEST committed to the manifest before the maintenance
    // crash (segments become reader-visible at ingest-commit, not at
    // the streaming checkpoint) — all 8 rows visible, each exactly once
    assert(midIds.size == 8,
      s"expected all 8 ingested rows exactly once in the crash window, got $midIds")
    // run 2: restart from the checkpoint — batch 3 replays in full
    // (ingest + compaction), and the manifest swap completes
    val q2 = LakeSink.startCompactingIngest(input.toDF(), out, ckpt,
      compactEvery = 4, targetFiles = 2)
    try {
      q2.processAllAvailable()
      val m = LakeSink.readManifest(out)
      assert(m.segs.exists(_.startsWith("seg_c")),
        s"compaction did not complete after replay: ${m.segs}")
      assert(m.segs.count(_.startsWith("seg_b")) == 0,
        s"compacted b-segments still live: ${m.segs}")
      val ids = LakeSink.readTable(spark, out)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == ids.distinct, s"replayed maintenance duplicated rows: $ids")
      assert(ids.size == 8, s"expected all 8 ingested rows, got $ids")
      // the observable point of maintenance: many small segments → one
      // segment with targetFiles files
      val cseg = m.segs.find(_.startsWith("seg_c")).get
      assert(LakeSink.segmentFileCount(out, cseg) == 2,
        "compacted segment not at target file count")
      // a later batch after compaction keeps ingesting normally
      input.addData(ev("2024-01-01 10:09:00", user = 9))
      q2.processAllAvailable()
      assert(LakeSink.readTable(spark, out).count() == 9)
    } finally q2.stop()
  }

  test("compacting lake sink: a replayed batch rewrites no live " +
      "segment, so a deletion vector placed on it stays valid") {
    import graft.streaming.LakeSink
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_lake_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lake_ckpt").toString
    def parquetFiles(seg: String): Seq[String] =
      new java.io.File(s"$out/$seg").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted.toSeq
    val input = MemoryStream[Event]
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    // run 1: batch 3's ingest commits, its compaction dies before the
    // manifest commit — the streaming checkpoint never records batch 3
    val q1 = LakeSink.startCompactingIngest(input.toDF(), out, ckpt,
      compactEvery = 4, targetFiles = 2,
      beforeMaintenanceCommit = _ =>
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash before manifest commit"))
    val batches = (0 until 4).map(i =>
      Seq(ev(f"2024-01-01 10:0$i:00", user = i.toLong),
        ev(f"2024-01-01 10:0$i:30", user = i.toLong)))
    try {
      batches.take(3).foreach { b => input.addData(b: _*); q1.processAllAvailable() }
      input.addData(batches(3): _*)
      intercept[Exception] { q1.processAllAvailable() }
    } finally q1.stop()
    // between crash and restart, a merge-on-read DELETE puts a DV on
    // one row of the live seg_b3 (the DV keys that segment's files)
    val victim = batches(3).head.event_id
    val b3Files = parquetFiles("seg_b3")
    LakeSink.deleteWhere(spark, out, col("event_id") === victim,
      dvMaxFraction = 0.5)
    assert(LakeSink.readManifest(out).dv.keySet === Set("seg_b3"))
    // run 2: batch 3 replays; its compaction sees seg_b3 as it was
    val atCompaction = new java.util.concurrent.atomic.AtomicReference[Seq[String]]
    val q2 = LakeSink.startCompactingIngest(input.toDF(), out, ckpt,
      compactEvery = 4, targetFiles = 2,
      beforeMaintenanceCommit = _ => atCompaction.set(parquetFiles("seg_b3")))
    try {
      q2.processAllAvailable()
      val m = LakeSink.readManifest(out)
      assert(m.segs.forall(_.startsWith("seg_c")) && m.dv.isEmpty,
        s"compaction did not complete after replay: ${m.segs}")
      val ids = LakeSink.readTable(spark, out)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(!ids.contains(victim), s"deleted row $victim came back: $ids")
      assert(ids.size === 7 && ids === ids.distinct, s"$ids")
      assert(atCompaction.get === b3Files,
        "the replayed batch rewrote a live segment's files")
    } finally q2.stop()
  }

  test("lake time travel + vacuum: retained versions read exactly, " +
      "orphans and stale history go away") {
    import graft.streaming.LakeSink
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_lake3").toString
    def seg(name: String, ids: Long*): Unit =
      ids.map(i => (i, s"x$i")).toDF("event_id", "x")
        .write.mode("overwrite").parquet(s"$out/$name")
    // v1: two small segments; v2: +1 segment; v3: compaction swap
    seg("seg_b0", 1, 2); seg("seg_b1", 3)
    assert(LakeSink.commitManifest(out, 1, 0, Seq("seg_b0")))
    assert(LakeSink.commitManifest(out, 2, 1, Seq("seg_b0", "seg_b1")))
    seg("seg_c1", 1, 2, 3)
    assert(LakeSink.commitManifest(out, 3, 1, Seq("seg_c1")))
    // an orphan from a crashed replay: on disk, in no manifest
    seg("seg_b9", 99)
    // time travel before vacuum: every version reads its own world
    assert(LakeSink.readTableAsOf(spark, out, 1).count() == 2)
    assert(LakeSink.readTableAsOf(spark, out, 2).count() == 3)
    assert(LakeSink.readTableAsOf(spark, out, 3).count() == 3)
    // vacuum retaining v2+v3: seg_b9 (orphan) dies, seg_b0/b1 survive
    // (v2 still references them), v1 manifest is dropped
    val (segsGone, versGone) = LakeSink.vacuum(out, retainVersions = 2)
    assert(segsGone == 1 && versGone == 1, s"($segsGone, $versGone)")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "seg_b9")))
    // the retention contract: both retained versions still read exactly
    assert(LakeSink.readTableAsOf(spark, out, 2)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(LakeSink.readTableAsOf(spark, out, 3).count() == 3)
    intercept[IllegalArgumentException] {
      LakeSink.readTableAsOf(spark, out, 1)
    }
    // vacuum to the live version only: b-segments die with v2
    val (g2, v2) = LakeSink.vacuum(out, retainVersions = 1)
    assert(g2 == 2 && v2 == 1, s"($g2, $v2)")
    assert(LakeSink.readTable(spark, out).count() == 3)
  }

  test("commitManifest is a true compare-and-set: a commit at an " +
      "already-committed version returns false and does not clobber") {
    import graft.streaming.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_lake4").toString
    assert(LakeSink.commitManifest(out, 1, 0, Seq("seg_b0")))
    // the replay/lost-race case: same version, DIFFERENT content —
    // must be rejected, not silently replace the winner (rename(2)
    // would replace; link(2) fails with EEXIST)
    assert(!LakeSink.commitManifest(out, 1, 7, Seq("seg_evil")))
    val m = LakeSink.readManifest(out)
    assert(m.version == 1 && m.maxB == 0 && m.segs == Seq("seg_b0"),
      s"losing commit clobbered the manifest: $m")
    // no .inprogress temp litter left behind by the failed commit
    val litter = java.nio.file.Files.list(
        java.nio.file.Paths.get(out, "_manifest")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (litter.hasNext) names += litter.next().getFileName.toString
    assert(names.forall(!_.endsWith(".inprogress")), names.mkString(","))
    assert(LakeSink.commitManifest(out, 2, 1, Seq("seg_b0", "seg_b1")))
    assert(LakeSink.readManifest(out).version == 2)
  }

  test("compacting lake sink: replay after maintenance commit does not " +
      "resurrect compacted rows") {
    import graft.streaming.LakeSink
    import spark.implicits._
    // simulate the OTHER crash window directly against the manifest
    // protocol: batch 3 replays after its compaction already committed
    // (checkpoint died before committing) — maxb must reject the re-add
    val out = java.nio.file.Files.createTempDirectory("graft_lake2").toString
    assert(LakeSink.commitManifest(out, 1, 3, Seq("seg_c3")))
    Seq((1L, "a")).toDF("event_id", "x")
      .write.mode("overwrite").parquet(s"$out/seg_c3")
    // replayed ingest of batch 2: segment rewritten on disk, then the
    // commit loop must skip the manifest add (2 <= maxb=3) and drop it
    Seq((2L, "b")).toDF("event_id", "x")
      .write.mode("overwrite").parquet(s"$out/seg_b2")
    val m = LakeSink.readManifest(out)
    val shouldAdd = !m.segs.contains("seg_b2") && 2L > m.maxB
    assert(!shouldAdd, "replayed pre-compaction batch must not re-enter the manifest")
    assert(LakeSink.readTable(spark, out).count() == 1)
  }

  test("compacting lake sink: every version time-travels until vacuum " +
      "removes the compacted inputs") {
    import graft.streaming.LakeSink
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_lake_tt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lake_ckpt").toString
    val input = MemoryStream[Event]
    val q = LakeSink.startCompactingIngest(input.toDF(), out, ckpt,
      compactEvery = 4, targetFiles = 2)
    val batches = (0 until 16).map(i =>
      Seq(ev(f"2024-01-02 10:$i%02d:00", user = i.toLong),
        ev(f"2024-01-02 10:$i%02d:30", user = i.toLong)))
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val ids = batches.flatten.map(_.event_id)
    // one ingest commit per batch, one compaction commit after every
    // fourth: 20 versions, each a prefix of the ingested rows
    val rowsAt = (0 until 16).flatMap { b =>
      val n = 2 * (b + 1)
      if (b % 4 == 3) Seq(n, n) else Seq(n)
    }
    assert(LakeSink.readManifest(out).version === 20L)
    rowsAt.zipWithIndex.foreach { case (n, i) =>
      val got = LakeSink.readTableAsOf(spark, out, i + 1L)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === ids.take(n).sorted, s"v${i + 1}")
    }
    // vacuum to the tip: the compacted b-segments go, the tip still reads
    LakeSink.vacuum(out, retainVersions = 1)
    val left = new java.io.File(out).list().filter(_.startsWith("seg_b"))
    assert(left.isEmpty, left.mkString(", "))
    assert(LakeSink.readTable(spark, out)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq ===
      ids.sorted)
  }

  test("streaming ANN serve: each query batch probes the persisted IVF " +
      "index and matches brute force exactly") {
    import graft.llm.SimilarityApi
    import graft.streaming.StreamOps
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // 4 well-separated clusters on an 8-dim sphere: member j of cluster
    // c = normalize(e_c + 0.05·j·e_{(c+4)}) — every query's true top-k
    // lives inside its own cluster, so nProbe=2 of 4 loses nothing
    def unit(c: Int, j: Int): Seq[Float] = {
      val v = Array.fill(8)(0.0)
      v(c) = 1.0; v(c + 4) = 0.05 * j
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val corpus = (for (c <- 0 until 4; j <- 0 until 10)
      yield ((c * 10 + j).toLong, unit(c, j))).toDF("vec_id", "embedding")
    val cents = (0 until 4).map(c => (c.toLong, unit(c, 0)))
      .toDF("c_id", "c_emb")
    val tag = "graft_ivfserve_" + graft.Scratch.runTag("spec")
    val (cbTab, asgTab) = SimilarityApi.writeIvfIndex(
      corpus, cents, "vec_id", "embedding", tag, graft.Scratch.tmpPathRaw)
    val out = java.nio.file.Files.createTempDirectory("graft_serve_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_serve_ck").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.startIvfServe(
      input.toDF().toDF("q_id", "q_emb"), cbTab, asgTab,
      "vec_id", "embedding", k = 3, nProbe = 2, out, ckpt)
    try {
      input.addData((100L, unit(0, 3)), (101L, unit(2, 7)))
      q.processAllAvailable()
      input.addData((102L, unit(3, 1)))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rows) =>
          qid -> rows.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq }
      // independent brute force in plain Scala over the full corpus
      val corp = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      def brute(qv: Seq[Float]): Seq[Long] =
        corp.map { case (id, v) =>
          (id, v.zip(qv).map { case (a, b) => a.toDouble * b.toDouble }.sum) }
          .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
      val queries = Map(100L -> unit(0, 3), 101L -> unit(2, 7), 102L -> unit(3, 1))
      queries.foreach { case (qid, qv) =>
        assert(got(qid) == brute(qv),
          s"query $qid: ivf serve ${got(qid)} != brute ${brute(qv)}")
      }
      // both batches landed idempotent, partitioned by batch id
      assert(new java.io.File(s"$out/batch=0").exists)
      assert(new java.io.File(s"$out/batch=1").exists)
    } finally q.stop()
  }

  test("file streaming source: new files are picked up incrementally") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_filesrc").toString
    val batch1 = Seq(ev("2024-01-01 10:00:00"), ev("2024-01-01 10:30:00"))
    batch1.toDS().write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(batch1.toDS().schema)
      .parquet(dir)
    val q = stream.writeStream.format("memory").queryName("filesrc_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("filesrc_test").count() == 2)
      Seq(ev("2024-01-01 11:00:00")).toDS().write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("filesrc_test").count() == 3)
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window purchases") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.streamStreamEnrich(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      clicks.addData(ev("2024-01-01 10:00:00", user = 1, typ = "click"))
      purchases.addData(
        ev("2024-01-01 10:30:00", user = 1, typ = "purchase", value = 5.0), // in window
        ev("2024-01-01 12:00:00", user = 1, typ = "purchase", value = 9.0)) // outside
      q.processAllAvailable()
      val got = spark.table("ss_join_test").collect()
      assert(got.length == 1, s"expected 1 join row, got ${got.length}")
      assert(got(0).getAs[Double]("value") == 5.0)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: null row only after watermark proves the band empty") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.streamStreamLeftOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ss_left_test")
      .outputMode("append").start()
    try {
      // user 1's click gets a purchase in-band; user 2's never does
      val c1 = ev("2024-01-01 10:00:00", user = 1, typ = "click")
      val c2 = ev("2024-01-01 10:00:00", user = 2, typ = "click")
      clicks.addData(c1, c2)
      purchases.addData(
        ev("2024-01-01 10:30:00", user = 1, typ = "purchase", value = 5.0))
      q.processAllAvailable()
      val early = spark.table("ss_left_test").collect()
      // the unmatched click must NOT have emitted a null row yet: the
      // watermark has not passed 11:00 (click_ts + 1h band), so a
      // purchase could still arrive
      assert(!early.exists(_.isNullAt(3)),
        s"null row emitted before watermark allowed it: ${early.mkString(";")}")
      // advance BOTH watermarks far past the band (+10 min delay)
      clicks.addData(ev("2024-01-01 13:00:00", user = 9, typ = "click"))
      purchases.addData(ev("2024-01-01 13:00:00", user = 9, typ = "purchase"))
      q.processAllAvailable()
      val rows = spark.table("ss_left_test")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // user 1 matched; user 2's click now emitted with NULL purchase
      val u1Click = c1.event_id
      val u2Click = c2.event_id
      assert(rows.exists(r => r._1 == u2Click && r._2 == -1L),
        s"unmatched click never emitted its null row: $rows")
      assert(rows.exists(r => r._1 == u1Click && r._2 != -1L),
        s"matched click lost: $rows")
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from a broadcast dimension") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("cust_id", "tier")
    val input = MemoryStream[Event]
    val q = StreamOps.streamStaticEnrich(input.toDF(), dim, "cust_id")
      .writeStream.format("memory").queryName("ss_static_test")
      .outputMode("append").start()
    try {
      input.addData(
        ev("2024-01-01 10:00:00", user = 1),
        ev("2024-01-01 10:01:00", user = 2),
        ev("2024-01-01 10:02:00", user = 3)) // no dim row -> dropped (inner)
      q.processAllAvailable()
      val rows = spark.table("ss_static_test")
        .select("user_id", "tier").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(rows == Set(1L -> "GOLD", 2L -> "SILVER"), rows.toString)
      // a second batch joins the SAME static snapshot — no state decay
      input.addData(ev("2024-01-01 10:30:00", user = 2))
      q.processAllAvailable()
      assert(spark.table("ss_static_test").count() == 3)
    } finally q.stop()
  }

  test("checkpoint recovery: stateful query resumes from its state store") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val input = MemoryStream[Event]
    def start() = // file sink: supports exactly-once recovery from checkpoint
      StreamOps.statefulUserStats(input.toDS()).toDF()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    val q1 = start()
    try {
      input.addData(ev("2024-01-01 10:00:00", user = 3, value = 1.0),
        ev("2024-01-01 10:01:00", user = 3, value = 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint — the Kinesis sequence-number
    // recovery analog: state (n=2, 300 cents) must survive
    val q2 = start()
    try {
      input.addData(ev("2024-01-01 10:02:00", user = 3, value = 0.5))
      q2.processAllAvailable()
      val latest = spark.read.parquet(out).filter(col("user_id") === 3)
        .orderBy(col("n_events").desc).collect()(0)
      assert(latest.getLong(1) == 3L, s"state lost across restart: $latest")
      assert(latest.getLong(2) == 350L)
    } finally q2.stop()
  }

  test("Trigger.AvailableNow backfills all existing files then stops") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val events = Seq(ev("2024-01-01 10:00:00"), ev("2024-01-01 11:00:00"),
      ev("2024-01-01 12:00:00"))
    events.toDS().write.mode("append").parquet(dir)
    val q = spark.readStream.schema(events.toDS().schema).parquet(dir)
      .groupBy("user_id").count()
      .writeStream.format("memory").queryName("avnow_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    val n = spark.table("avnow_test").agg(sum("count")).collect()(0).getLong(0)
    assert(n == 3)
  }

  test("update mode emits revised window counts as data arrives") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("update_test")
      .outputMode("update").start()
    try {
      input.addData(ev("2024-01-01 10:05:00"))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 10:15:00"))
      q.processAllAvailable()
      // update mode re-emits the 10:00 window with the revised count
      val ns = spark.table("update_test").select("n").collect().map(_.getLong(0))
      assert(ns.contains(1L) && ns.contains(2L),
        s"expected successive revisions 1 then 2, got ${ns.toSeq}")
    } finally q.stop()
  }

  test("complete mode re-emits the whole result table per batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = input.toDF().groupBy("event_type").count()
      .writeStream.format("memory").queryName("complete_test")
      .outputMode("complete").start()
    try {
      input.addData(ev("2024-01-01 10:00:00", typ = "click"))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 10:01:00", typ = "view"))
      q.processAllAvailable()
      val rows = spark.table("complete_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      // complete mode: table reflects the FULL current state
      assert(rows == Map("click" -> 1L, "view" -> 1L))
    } finally q.stop()
  }

  test("batch and stream runs of the tumbling pipeline agree on bounded input") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val events = Seq(
      ev("2024-01-01 10:05:00"), ev("2024-01-01 10:25:00"),
      ev("2024-01-01 11:05:00"), ev("2024-01-01 23:55:00"))
    // batch execution of the same transformation
    val batch = StreamOps.tumblingCounts(events.toDF())
      .select("win_start", "n").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val input = MemoryStream[Event]
    val q = StreamOps.startToMemory(
      StreamOps.tumblingCounts(input.toDF()), "parity_test")
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData(ev("2024-01-03 00:00:00")) // flush every window
      q.processAllAvailable()
      val streamed = spark.table("parity_test")
        .select("win_start", "n").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      // every window the stream emitted must match the batch result
      streamed.foreach { case (w, n) =>
        if (batch.contains(w)) assert(batch(w) == n, s"window $w: batch=${batch(w)} stream=$n")
      }
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming ledger ingest: cross-batch dups caught, append-back works") {
    import spark.implicits._
    import graft.Scratch.tmpPathRaw
    import graft.llm.DedupApi
    implicit val ctx = spark.sqlContext
    val tag = "graft_ledger_stream_test"
    Seq(tag + "_dig", tag + "_fp", tag + "_set", tag + "_batch_dig")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val prior = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    val (dig, fp, set) = DedupApi.writeLedger(prior, "id", "text", tag, tmpPathRaw)
    val outDir = java.nio.file.Files.createTempDirectory("graft_li_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_li_ck").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.startLedgerIngest(
      input.toDS().toDF("id", "text"), "id", "text",
      dig, fp, set, tag, tmpPathRaw, outDir, ckpt)
    try {
      input.addData((10L, "brand new document with plenty of fresh tokens inside"))
      q.processAllAvailable()
      input.addData(
        // exact copy of doc 10 — ingested in the PREVIOUS batch: only
        // the ledger append-back (not any join state) can catch it
        (20L, "brand new document with plenty of fresh tokens inside"),
        // near copy (last token dropped) of the PRIOR-SNAPSHOT doc 1
        (21L, "alpha beta gamma delta epsilon zeta eta"),
        (22L, "entirely unrelated words appearing nowhere else in any corpus"))
      q.processAllAvailable()
      val got = spark.read.parquet(outDir)
        .select("batch", "id", "status", "matched_prior").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got == Seq(
        (0, 10L, "new", -1L),
        (1, 20L, "dup_exact", 10L),
        (1, 21L, "dup_near", 1L),
        (1, 22L, "new", -1L)))
    } finally q.stop()
  }

  test("end-to-end kinesis envelope pipeline: encode → file stream → decode → " +
      "watermarked window agg → idempotent sink, surviving a mid-commit kill") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft_e2e").toString
    val stage = s"$base/envelope"; Files.createDirectories(Paths.get(stage))
    val out = s"$base/out"; val ckpt = s"$base/ckpt"

    // -- producer side: batch-encode the events table into the Kinesis
    // put_record envelope (partition_key, sequence_number, base64 data),
    // event time riding inside the payload as exact epoch micros
    val envelope = Tables.events(spark, sfDir).select(
      col("user_id").as("partition_key"),
      col("event_id").as("sequence_number"),
      base64(to_json(struct(
        unix_micros(col("ts")).as("ts_us"),
        get_json_object(col("props"), "$.k").cast("int").as("k")))
        .cast("binary")).as("data"),
      col("ts"))
    // a far-future flush record: pushes the watermark past every real
    // window so append mode finalizes them all (the consumer-loop
    // equivalent of a heartbeat record)
    val flush = spark.sql(
      """SELECT -1L AS partition_key, 999999L AS sequence_number,
           base64(CAST(to_json(struct(
             unix_micros(TIMESTAMP '2024-03-01 00:00:00') AS ts_us,
             0 AS k)) AS BINARY)) AS data""")

    // three "shards" arriving over time, as single parquet files
    def shard(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$stage/$name.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val cut1 = "2024-01-11"; val cut2 = "2024-01-21"
    shard(envelope.filter(col("ts") < lit(cut1)).drop("ts"), "f1")
    shard(envelope.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2))
      .drop("ts"), "f2")

    // -- consumer side: file-source stream (the Kinesis source seam; the
    // checkpoint is the sequence-number store) → decode → windowed agg
    def startPipeline(beforeCommit: Long => Unit = _ => ()) = {
      val stream = spark.readStream
        .schema("partition_key LONG, sequence_number LONG, data STRING")
        .option("maxFilesPerTrigger", "1") // one shard per micro-batch
        .parquet(stage)
      val payload = unbase64(col("data")).cast("string")
      val decoded = stream.select(
        timestamp_micros(get_json_object(payload, "$.ts_us").cast("long"))
          .as("ts"),
        get_json_object(payload, "$.k").cast("int").as("k"))
      val agg = decoded.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .select(unix_timestamp(col("w.start")).as("win_epoch"),
          col("n"), col("sum_k"))
      StreamOps.startIdempotentParquet(agg, out, ckpt, beforeCommit)
    }

    // run 1: KILLED after batch-0 files are written but before the
    // checkpoint commit — the classic partial-failure window
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = startPipeline(beforeCommit = _ =>
      if (!crashed.getAndSet(true))
        throw new RuntimeException("injected kill between write and commit"))
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()

    // run 2: restart from the checkpoint — batch 0 replays into the same
    // deterministic path (overwrite, no duplicates), then f2 processes
    val q2 = startPipeline()
    try q2.processAllAvailable() finally q2.stop()

    // the third shard (+ flush record) arrives while the consumer is down
    shard(envelope.filter(col("ts") >= lit(cut2)).drop("ts").unionAll(flush), "f3")

    // run 3: restart again — only f3 is new (sequence-number recovery);
    // the flush record finalizes every real window
    val q3 = startPipeline()
    try q3.processAllAvailable() finally q3.stop()

    // -- verdict: the union of all idempotent batch outputs must equal
    // the BATCH answer over the same envelope files, exactly once
    val got = spark.read.parquet(out)
      .filter(col("win_epoch") < lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime / 1000))
      .select("win_epoch", "n", "sum_k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).distinct.length == got.length,
      s"a window was emitted twice across the kill/restart: ${got.toSeq.sortBy(_._1)}")

    val payloadB = unbase64(col("data")).cast("string")
    val expected = spark.read.parquet(stage)
      .filter(col("partition_key") =!= -1L)
      .select(
        timestamp_micros(get_json_object(payloadB, "$.ts_us").cast("long")).as("ts"),
        get_json_object(payloadB, "$.k").cast("int").as("k"))
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      .select(unix_timestamp(col("w.start")).as("win_epoch"), col("n"), col("sum_k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == expected.toSet,
      s"streamed result != batch result over the same envelope: " +
        s"missing=${expected.toSet -- got.toSet} extra=${got.toSet -- expected.toSet}")
    assert(got.length >= 25, s"expected ~30 daily windows, got ${got.length}")
  }

  test("stream-static join enriches events with the dimension table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // The canonical Kinesis enrichment: an unbounded stream joined to a
    // bounded dim. No watermark needed — the static side never grows,
    // so the join holds no stream state.
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("user_id", "segment")
    val input = MemoryStream[Event]
    val q = StreamOps.startToMemory(
      input.toDF().join(dim, Seq("user_id")), "static_join_test")
    try {
      input.addData(
        ev("2024-01-01 10:00:00", user = 1),
        ev("2024-01-01 10:01:00", user = 2), // no dim row → dropped (inner)
        ev("2024-01-01 10:02:00", user = 3))
      q.processAllAvailable()
      val got = spark.table("static_join_test")
        .select("user_id", "segment").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(got.toSeq == Seq((1L, "gold"), (3L, "silver")))
    } finally q.stop()
  }

  test("DSv2 kinesis-file source: rate-limited micro-batches, per-shard " +
      "order, exactly-once restart from checkpoint") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.sources.KinesisFixture
    import org.apache.spark.sql.{Dataset, Row}
    val base = Files.createTempDirectory("graft_dsv2").toString
    val dir = s"$base/stream"; val ckpt = s"$base/ckpt"
    KinesisFixture.writeEnvelopeFixture(spark, sfDir, dir, nShards = 2)
    val total = graft.Tables.events(spark, sfDir).count()

    // (batchId, shard, seq) in encounter order — collect() preserves
    // partition order and the source plans one partition per shard slice
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def start() = spark.readStream.format("graft-kinesis-file")
      .option("maxRecordsPerShardPerBatch", 100)
      .load(dir)
      .writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        b.select("shard", "sequence_number").collect()
          .foreach(r => seen.add((id, r.getString(0), r.getLong(1))))
      }
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val rows1 = seen.asScala.toSeq
    assert(rows1.size == total, s"${rows1.size} != $total")
    // admission control: no batch exceeds the per-shard cap, and the
    // backlog drained as SEVERAL micro-batches, not one
    val perBatchShard = rows1.groupBy(t => (t._1, t._2)).view.mapValues(_.size)
    assert(perBatchShard.values.max <= 100, s"cap broken: $perBatchShard")
    assert(rows1.map(_._1).distinct.size >= 3,
      s"expected >=3 micro-batches, got ${rows1.map(_._1).distinct.size}")
    // Kinesis ordering contract: within a shard within a batch,
    // sequence numbers arrive ascending
    rows1.groupBy(t => (t._1, t._2)).foreach { case (k, rs) =>
      val seqs = rs.map(_._3)
      assert(seqs == seqs.sorted, s"out-of-order shard slice at $k")
    }
    // exactly-once within the run
    assert(rows1.map(t => (t._2, t._3)).distinct.size == rows1.size)

    // the producer keeps writing: a NEW file with higher sequence
    // numbers; restart from the checkpoint must emit ONLY these
    Files.write(Paths.get(dir, "late-arrivals.txt"), Seq(
      "shard-0\t9000000\t7\tZGF0YQ==",
      "shard-1\t9000001\t8\tZGF0YQ==",
      "shard-0\t9000002\t7\tZGF0YQ==").mkString("\n").getBytes("UTF-8"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows2 = seen.asScala.toSeq
    assert(rows2.size == total + 3,
      s"restart replayed or lost records: ${rows2.size} != ${total + 3}")
    assert(rows2.map(t => (t._2, t._3)).distinct.size == rows2.size,
      "duplicate (shard, seq) after restart")
  }

  test("DSv2 kinesis-file resharding: a shard file split and a true " +
      "shard split both preserve exactly-once aggregates across restarts") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_reshard").toString
    val dir = s"$base/stream"; Files.createDirectories(Paths.get(dir))
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def line(shard: String, seq: Long): String = s"$shard\t$seq\t1\tZGF0YQ=="
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
    def run(): Unit = {
      val q = StreamOps.startIdempotentParquet(
        spark.readStream.format("graft-kinesis-file")
          .option("maxRecordsPerShardPerBatch", 16).load(dir),
        out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }

    // phase 1: one parent shard, one file, seqs 0..59
    write("shard-A.txt", (0L until 60L).map(line("shard-A", _)))
    run()

    // phase 2: the FILE layout changes under the checkpoint — the
    // parent's records are re-split across two files (plus 20 new
    // seqs). Offsets track (shard → seq), not file positions, so the
    // already-consumed 0..59 must NOT replay.
    Files.delete(Paths.get(dir, "shard-A.txt"))
    write("shard-A-part1.txt", (0L until 30L).map(line("shard-A", _)))
    write("shard-A-part2.txt", (30L until 80L).map(line("shard-A", _)))
    run()

    // phase 3: a TRUE Kinesis-style split — the parent goes quiet and
    // two NEW child shards receive the new traffic. Children are
    // unknown to the checkpoint → consumed from their beginning.
    write("shard-A1.txt", (0L until 10L).map(line("shard-A1", _)))
    write("shard-A2.txt", (0L until 15L).map(line("shard-A2", _)))
    run()

    // the streamed accumulation must equal a from-scratch batch read of
    // the final resharded layout — no loss, no replay, per shard
    val streamed = spark.read.parquet(out)
      .groupBy("shard").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val control = spark.read.format("graft-kinesis-file").load(dir)
      .groupBy("shard").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(streamed == control, s"$streamed != $control")
    assert(streamed == Seq(("shard-A", 80L), ("shard-A1", 10L), ("shard-A2", 15L)))
    // exactly-once at record granularity, not just counts
    val distinct = spark.read.parquet(out)
      .select("shard", "sequence_number").distinct().count()
    assert(distinct == 105L, s"dup or lost records: $distinct != 105")
  }
}
