package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Protocol tests for the r10 lake additions: manifest SEGMENT STATS
  * with file skipping, stats-pruned DML, the CHANGE FEED, and CDC
  * apply through `mergeInto` in `foreachBatch`. What must hold:
  *
  *  - per-segment min/max recorded at commit prune a range read to
  *    exactly the overlapping segments; segments without stats are
  *    always scanned (advisory-bounds contract);
  *  - `deleteWhere(pruneHint)` plans the touched-set from the manifest
  *    — disjoint segments survive by reference with ZERO Spark jobs,
  *    and the answer is identical to the unhinted delete;
  *  - `mergeInto` auto-prunes by the source's key range when the key
  *    has stats — no per-segment probe jobs outside the range;
  *  - stats follow every rewrite (delete, merge, compaction) so
  *    skipping keeps working after DML;
  *  - `changesBetween` returns exactly the appended segments of an
  *    append-only window and REFUSES a window containing a
  *    copy-on-write rewrite;
  *  - CDC apply (per-batch key-dedupe + MERGE) converges to
  *    latest-row-per-key across micro-batches.
  */
class LakeStatsSpec extends AnyFunSuite with SparkFixture {

  /** 3 time-ordered segments: tse ranges [0,9], [10,19], [20,29] —
    * the layout a time-ordered micro-batch ingest produces. Stats on
    * `tse` unless `statsFor` excludes the segment. */
  private def buildTimeLake(statsFor: Int => Boolean = _ => true): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_stats_spec").toString
    import spark.implicits._
    (0 to 2).foreach { i =>
      val rows = (0 to 9).map(j => (i * 10L + j, i * 100L + j))
      val df = rows.toDF("tse", "v")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      val st =
        if (statsFor(i))
          m.stats + (s"seg_b$i" -> LakeSink.segmentStats(
            spark.read.parquet(s"$dir/seg_b$i"), Seq("tse")))
        else m.stats
      require(LakeSink.commitManifest(dir, m.version + 1, i.toLong,
        m.segs :+ s"seg_b$i", m.schemaV, m.schemaJson, st))
    }
    dir
  }

  /** Input records read by Spark tasks during `body`. Since r15's
    * batched DML planner, every verb runs a CONSTANT number of jobs
    * regardless of pruning (one grouped planning job + one staged
    * write per storage class) — what stats pruning saves is ROWS
    * SCANNED, so the pruning specs pin records read, not job count.
    * Listener delivery is async: poll until stable. */
  private def recordsReadIn(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          acc.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1L
      var cur = acc.get()
      var polls = 0
      while ((cur != last || polls < 3) && polls < 50) {
        last = cur; Thread.sleep(100)
        cur = acc.get(); polls += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Spark jobs launched by `body` (run in a fresh job group; the
    * status store is fed asynchronously, so poll until stable). */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "graft-jobs-" + java.util.UUID.randomUUID().toString
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    var last = -1
    var cur = sc.statusTracker.getJobIdsForGroup(group).length
    var polls = 0
    while (cur != last && polls < 50) {
      last = cur; Thread.sleep(100)
      cur = sc.statusTracker.getJobIdsForGroup(group).length
      polls += 1
    }
    cur
  }

  test("stats-pruned read scans exactly the overlapping segments") {
    val dir = buildTimeLake()
    val (sel, scanned, total) =
      LakeSink.readTableWhere(spark, dir, "tse", 12L, 15L)
    assert(total === 3)
    assert(scanned === Seq("seg_b1"))
    assert(sel.agg(count(lit(1)), sum("v")).head() ===
      org.apache.spark.sql.Row(4L, (102L to 105L).sum))

    // straddling probe: two segments
    val (_, scanned2, _) = LakeSink.readTableWhere(spark, dir, "tse", 8L, 12L)
    assert(scanned2 === Seq("seg_b0", "seg_b1"))

    // fully outside: zero segments, empty frame with the table schema
    val (empty, scanned3, _) =
      LakeSink.readTableWhere(spark, dir, "tse", 100L, 200L)
    assert(scanned3.isEmpty)
    assert(empty.columns.toSeq === Seq("tse", "v"))
    assert(empty.count() === 0L)
  }

  test("a segment without stats is always scanned (advisory bounds)") {
    val dir = buildTimeLake(statsFor = i => i != 1)
    val (_, scanned, _) = LakeSink.readTableWhere(spark, dir, "tse", 0L, 5L)
    // seg_b0 overlaps; seg_b1 has no stats so it cannot be skipped;
    // seg_b2's recorded range is disjoint.
    assert(scanned === Seq("seg_b0", "seg_b1"))
  }

  test("deleteWhere pruneHint: zero scans on disjoint segments, same answer") {
    val hinted = buildTimeLake()
    // stats-less twin: no manifest bounds, so nothing can be skipped
    val unhinted = buildTimeLake(statsFor = _ => false)
    val cond = col("tse") >= 12L && col("tse") <= 15L

    val jHint = recordsReadIn {
      val (_, rewritten, dropped, deleted) = LakeSink.deleteWhere(
        spark, hinted, cond, pruneHint = Some(("tse", 12L, 15L)))
      assert(rewritten === 1 && dropped === 0 && deleted === 4L)
    }
    val jFull = recordsReadIn {
      val (_, rewritten, dropped, deleted) =
        LakeSink.deleteWhere(spark, unhinted, cond)
      assert(rewritten === 1 && dropped === 0 && deleted === 4L)
    }
    // The stats-less delete's planning pass scans every segment; the
    // hinted one reads only the overlapping segment's rows.
    assert(jHint < jFull,
      s"expected fewer records read with pruneHint ($jHint) than " +
        s"without ($jFull)")

    val a = LakeSink.readTable(spark, hinted).orderBy("tse", "v").collect()
    val b = LakeSink.readTable(spark, unhinted).orderBy("tse", "v").collect()
    assert(a.toSeq === b.toSeq)

    // Stats followed the rewrite: the new segment's recorded range is
    // the kept rows' [10,19] minus the deleted middle — still [10,19]
    // bounds-wise at the edges (10,11 and 16..19 survive).
    val m = LakeSink.readManifest(hinted)
    val rewrittenSeg = m.segs.find(_.startsWith("seg_d")).get
    assert(m.stats(rewrittenSeg)("tse") === LakeSink.LongStat(10L, 19L, 0L))
    // untouched segments kept their stats entries
    assert(m.stats("seg_b0")("tse") === LakeSink.LongStat(0L, 9L, 0L))
    assert(m.stats("seg_b2")("tse") === LakeSink.LongStat(20L, 29L, 0L))
    // pruning still works post-DML
    val (_, scannedAfter, _) =
      LakeSink.readTableWhere(spark, hinted, "tse", 0L, 5L)
    assert(scannedAfter === Seq("seg_b0"))
  }

  test("inferPruneHint extracts sound conjunct bounds only") {
    val t = Seq("tse")
    val sch = new org.apache.spark.sql.types.StructType()
      .add("tse", org.apache.spark.sql.types.LongType)
      .add("v", org.apache.spark.sql.types.LongType)
    assert(LakeSink.inferPruneHint(spark, sch,
      col("tse") >= 10L && col("tse") < 20L, t) === Some(("tse", 10L, 19L)))
    assert(LakeSink.inferPruneHint(spark, sch,
      expr("12 <= tse AND 15 >= tse"), t) === Some(("tse", 12L, 15L)))
    assert(LakeSink.inferPruneHint(spark, sch,
      expr("tse BETWEEN 12 AND 15 AND v <> 3"), t) === Some(("tse", 12L, 15L)))
    assert(LakeSink.inferPruneHint(spark, sch,
      col("tse") === 7L && col("v") > 1L, t) === Some(("tse", 7L, 7L)))
    assert(LakeSink.inferPruneHint(spark, sch,
      col("tse") > 5L, t) === Some(("tse", 6L, Long.MaxValue)))
    // unsound shapes contribute nothing: disjunction, untracked
    // column, arithmetic over the column
    assert(LakeSink.inferPruneHint(spark, sch,
      col("tse") === 7L || col("tse") === 9L, t) === None)
    assert(LakeSink.inferPruneHint(spark, sch, col("v") > 3L, t) === None)
    assert(LakeSink.inferPruneHint(spark, sch, (col("tse") + 1L) > 3L, t) === None)
  }

  test("predicate-derived pruning: SQL DELETE auto-plans from manifest stats") {
    import graft.streaming.LakeCatalog
    val statsLake = buildTimeLake()
    val plainLake = buildTimeLake(statsFor = _ => false)
    LakeCatalog.register("stats_auto_t", statsLake)
    LakeCatalog.register("plain_auto_t", plainLake)
    val jStats = recordsReadIn {
      spark.sql(
        "DELETE FROM stats_auto_t WHERE tse BETWEEN 12 AND 15").collect()
    }
    val jPlain = recordsReadIn {
      spark.sql(
        "DELETE FROM plain_auto_t WHERE tse BETWEEN 12 AND 15").collect()
    }
    assert(jStats < jPlain,
      s"SQL DELETE should auto-prune from stats " +
        s"($jStats vs $jPlain records read)")
    val a = LakeSink.readTable(spark, statsLake).orderBy("tse").collect()
    val b = LakeSink.readTable(spark, plainLake).orderBy("tse").collect()
    assert(a.toSeq === b.toSeq)
    assert(a.length === 26)
  }

  test("mergeInto auto-prunes by source key range via manifest stats") {
    import spark.implicits._
    val statsLake = buildTimeLake()
    val plainLake = buildTimeLake(statsFor = _ => false)
    // source keys 12..13 — entirely inside seg_b1's recorded range
    def src: DataFrame =
      Seq((12L, 9912L), (13L, 9913L)).toDF("tse", "v")

    val segsBefore = LakeSink.readManifest(statsLake).segs.toSet
    val jStats = recordsReadIn {
      val (_, rewritten, updated, inserted) =
        LakeSink.mergeInto(spark, statsLake, src, Seq("tse"))
      assert(rewritten === 1 && updated === 2L && inserted === 0L)
    }
    val jPlain = recordsReadIn {
      val (_, rewritten, updated, inserted) =
        LakeSink.mergeInto(spark, plainLake, src, Seq("tse"))
      assert(rewritten === 1 && updated === 2L && inserted === 0L)
    }
    assert(jStats < jPlain,
      s"expected stats lake to probe fewer segments " +
        s"($jStats vs $jPlain records read)")

    val a = LakeSink.readTable(spark, statsLake).orderBy("tse").collect()
    val b = LakeSink.readTable(spark, plainLake).orderBy("tse").collect()
    assert(a.toSeq === b.toSeq)
    assert(a.count(_.getLong(1) >= 9900L) === 2)

    // untouched segments survived by reference with stats intact
    val m = LakeSink.readManifest(statsLake)
    assert(m.segs.contains("seg_b0") && m.segs.contains("seg_b2"))
    assert(m.stats("seg_b0")("tse") === LakeSink.LongStat(0L, 9L, 0L))
    // the rewritten segment carries recomputed stats
    val mseg = m.segs.filterNot(segsBefore) match {
      case Seq(only) => only
      case added => fail(s"expected one rewritten segment, got $added")
    }
    assert(m.stats(mseg)("tse") === LakeSink.LongStat(10L, 19L, 0L))
  }

  test("txn guard: replayed merges and appends are exactly-once") {
    import spark.implicits._
    val dir = buildTimeLake(statsFor = _ => false)
    def src(v: Long): DataFrame = Seq((12L, v)).toDF("tse", "v")

    val (v1, rw1, u1, _) =
      LakeSink.mergeInto(spark, dir, src(9001L), Seq("tse"),
        txn = Some(("fold", 1L)))
    assert(rw1 === 1 && u1 === 1L)
    // crash replay of the same (app, batchId): MUST be a no-op
    val (v2, rw2, u2, i2) =
      LakeSink.mergeInto(spark, dir, src(8888L), Seq("tse"),
        txn = Some(("fold", 1L)))
    assert(v2 === v1 && rw2 === 0 && u2 === 0L && i2 === 0L)
    assert(LakeSink.readTable(spark, dir)
      .filter(col("tse") === 12L).head().getLong(1) === 9001L)
    // the NEXT batch applies; an older batchId is also skipped
    val (v3, rw3, _, _) = LakeSink.mergeInto(spark, dir, src(9002L),
      Seq("tse"), txn = Some(("fold", 2L)))
    assert(v3 === v1 + 1 && rw3 === 1)
    val (v4, _, _, _) = LakeSink.mergeInto(spark, dir, src(7777L),
      Seq("tse"), txn = Some(("fold", 1L)))
    assert(v4 === v3)
    // independent writer identities do not interfere
    val (v5, rw5, u5, _) = LakeSink.mergeInto(spark, dir, src(9003L),
      Seq("tse"), txn = Some(("other", 1L)))
    assert(v5 === v3 + 1 && rw5 === 1 && u5 === 1L)

    // append path: same guard
    val a1 = LakeSink.appendSegment(spark, dir,
      Seq((100L, 1L)).toDF("tse", "v"), "seg_t1",
      txn = Some(("ing", 7L)))
    val a2 = LakeSink.appendSegment(spark, dir,
      Seq((101L, 2L)).toDF("tse", "v"), "seg_t2",
      txn = Some(("ing", 7L)))
    assert(a2 === a1, "replayed append committed a second segment")
    assert(!LakeSink.readManifest(dir).segs.contains("seg_t2"))
    // the guard survives unrelated DML commits in between
    LakeSink.deleteWhere(spark, dir, col("tse") === 0L)
    val a3 = LakeSink.appendSegment(spark, dir,
      Seq((102L, 3L)).toDF("tse", "v"), "seg_t3",
      txn = Some(("ing", 6L)))
    assert(!LakeSink.readManifest(dir).segs.contains("seg_t3"))
    assert(a3 === LakeSink.readManifest(dir).version)
  }

  test("compaction recomputes stats for the compacted segment") {
    val dir = buildTimeLake()
    val (v, nIn) = LakeSink.compact(spark, dir, targetFiles = 1,
      clusterBy = Seq("tse"))
    assert(nIn === 3)
    val m = LakeSink.readManifest(dir)
    assert(m.version === v && m.segs.size === 1)
    assert(m.stats(m.segs.head)("tse") === LakeSink.LongStat(0L, 29L, 0L))
    val (_, scanned, total) =
      LakeSink.readTableWhere(spark, dir, "tse", 5L, 6L)
    assert(total === 1 && scanned.size === 1)
  }

  test("changesBetween: appended segments only; refuses DML windows") {
    val dir = buildTimeLake()
    // window v1 → v3 added seg_b1 and seg_b2
    val delta = LakeSink.changesBetween(spark, dir, 1L, 3L)
    assert(delta.agg(min("tse"), max("tse"), count(lit(1))).head() ===
      org.apache.spark.sql.Row(10L, 29L, 20L))
    // from the beginning: everything
    assert(LakeSink.changesBetween(spark, dir, 0L, 3L).count() === 30L)
    // empty window
    assert(LakeSink.changesBetween(spark, dir, 3L, 3L).count() === 0L)

    // DML rewrites seg_b1 → the v1..v4 window is no longer append-only
    LakeSink.deleteWhere(spark, dir, col("tse") === 12L)
    val ex = intercept[IllegalArgumentException] {
      LakeSink.changesBetween(spark, dir, 1L, 4L)
    }
    assert(ex.getMessage.contains("not append-only"))
    // the documented fallback still works: snapshot diff via time travel
    val before = LakeSink.readTableAsOf(spark, dir, 3L)
    val after = LakeSink.readTableAsOf(spark, dir, 4L)
    assert(before.count() - after.count() === 1L)
  }

  test("CDC apply: per-batch dedupe + merge converges to latest per key") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_cdc_spec").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_lake_cdc_ckpt").toString

    // change records: (key, seq, value) — seq is the CDC ordering
    val in = MemoryStream[(Long, Long, Long)]
    val w = Window.partitionBy("k").orderBy(col("seq").desc)
    val q = in.toDF().toDF("k", "seq", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        // MERGE requires a key-unique source: keep each key's latest
        // change within the batch.
        val latest = batch.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1).drop("rk")
        if (!latest.isEmpty) {
          if (LakeSink.readManifest(dir).segs.isEmpty) {
            latest.write.mode("overwrite").parquet(s"$dir/seg_b0")
            require(LakeSink.commitManifest(dir, 1L, 0L, Seq("seg_b0")))
          } else {
            LakeSink.mergeInto(latest.sparkSession, dir, latest, Seq("k"))
          }
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((1L, 1L, 100L), (2L, 1L, 200L), (1L, 2L, 101L))
      q.processAllAvailable()
      in.addData((2L, 3L, 201L), (3L, 4L, 300L))
      q.processAllAvailable()
      in.addData((1L, 5L, 102L))
      q.processAllAvailable()
    } finally q.stop()

    val fin = LakeSink.readTable(spark, dir)
      .orderBy("k").select("k", "seq", "v").collect().toSeq
    assert(fin === Seq(
      org.apache.spark.sql.Row(1L, 5L, 102L),
      org.apache.spark.sql.Row(2L, 3L, 201L),
      org.apache.spark.sql.Row(3L, 4L, 300L)))
  }

  // ---- string + null-count stats (r11) -------------------------------

  /** 3 segments bucketed by event-type alphabet range — the layout a
    * type-partitioned ingest produces: seg0 {alpha}, seg1 {echo,
    * mike}, seg2 {sierra, victor}. Stats on the STRING column and on
    * the nullable note column (note is NULL everywhere except seg1). */
  private def buildTypeLake(withStats: Boolean = true): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_strstats_spec").toString
    import spark.implicits._
    val buckets = Seq(
      Seq("alpha"), Seq("echo", "mike"), Seq("sierra", "victor"))
    buckets.zipWithIndex.foreach { case (types, i) =>
      val rows = types.zipWithIndex.flatMap { case (t, j) =>
        (0 to 4).map(k =>
          (i * 100L + j * 10L + k, t,
            if (i == 1) s"n$k" else null.asInstanceOf[String]))
      }
      val df = rows.toDF("id", "event_type", "note")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir, m.version + 1, i.toLong,
        m.segs :+ s"seg_b$i", m.schemaV, m.schemaJson,
        if (!withStats) m.stats
        else m.stats + (s"seg_b$i" -> LakeSink.segmentStats(
          spark.read.parquet(s"$dir/seg_b$i"),
          Seq("event_type", "note")))))
    }
    dir
  }

  test("string stats: recorded bounds + null counts, point read prunes") {
    val dir = buildTypeLake()
    val m = LakeSink.readManifest(dir)
    assert(m.stats("seg_b1")("event_type") ===
      LakeSink.StrStat("echo", "mike", 0L))
    assert(m.stats("seg_b1")("note") === LakeSink.StrStat("n0", "n4", 0L))
    // all-NULL note in seg0/seg2: no min/max entry (advisory bounds)
    assert(!m.stats("seg_b0").contains("note"))
    // a point read on 'echo' scans ONLY the covering segment
    val (df, scanned, total) =
      LakeSink.readTableWhereEq(spark, dir, "event_type", "echo")
    assert(total === 3 && scanned === Seq("seg_b1"))
    assert(df.count() === 5L)
    // a value outside every range scans nothing
    val (none, scanned0, _) =
      LakeSink.readTableWhereEq(spark, dir, "event_type", "zulu")
    assert(scanned0.isEmpty && none.count() === 0L)
  }

  test("string-predicate DELETE prunes by string stats: fewer jobs than stats-less twin") {
    val dir = buildTypeLake()
    val statless = buildTypeLake(withStats = false)
    val cond = col("event_type") === "echo"
    val jStats = recordsReadIn {
      val (v, rewritten, dropped, deleted) =
        LakeSink.deleteWhere(spark, dir, cond)
      assert(v === 4L && rewritten === 1 && dropped === 0 && deleted === 5L)
    }
    val jFull = recordsReadIn {
      val (_, rewritten, dropped, deleted) =
        LakeSink.deleteWhere(spark, statless, cond)
      assert(rewritten === 1 && dropped === 0 && deleted === 5L)
    }
    // the stats lake never scans the two string-disjoint segments'
    // rows (the pre-r11 engine had no string stats and scanned all 3)
    assert(jStats < jFull,
      s"expected fewer records read with string stats ($jStats) than " +
        s"without ($jFull)")
    val m = LakeSink.readManifest(dir)
    assert(m.segs.contains("seg_b0") && m.segs.contains("seg_b2"),
      "disjoint segments survive by reference")
    val a = LakeSink.readTable(spark, dir).orderBy("id").collect()
    val b = LakeSink.readTable(spark, statless).orderBy("id").collect()
    assert(a.toSeq === b.toSeq, "pruned and unpruned deletes must agree")
  }

  test("IS NULL predicate prunes segments with zero recorded nulls") {
    val dir = buildTypeLake()
    val statless = buildTypeLake(withStats = false)
    // note IS NULL: seg1 records nulls=0 for note → pruned; seg0/seg2
    // record NO note min/max (all-NULL column) → must scan, and match
    val jStats = recordsReadIn {
      val (_, _, dropped, deleted) =
        LakeSink.deleteWhere(spark, dir, col("note").isNull)
      assert(dropped === 2 && deleted === 15L)
    }
    val jFull = recordsReadIn {
      val (_, _, dropped, deleted) =
        LakeSink.deleteWhere(spark, statless, col("note").isNull)
      assert(dropped === 2 && deleted === 15L)
    }
    assert(jStats < jFull,
      s"expected the zero-null segment skipped " +
        s"($jStats vs $jFull records read)")
    assert(LakeSink.readTable(spark, dir).count() === 10L) // seg1 only
  }

  test("stats-proven FULL MATCH: segment-aligned retention delete is " +
      "metadata-only — zero Spark jobs, no partition spec") {
    // schema RECORDED (createTable) so planning is manifest-only; a
    // schema-less lake pays one footer read for the schema instead
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_fullmatch").toString
    import spark.implicits._
    LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tse",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType))))
    (0 to 2).foreach { i =>
      val rows = (0 to 9).map(j => (i * 10L + j, i * 100L + j))
      val df = rows.toDF("tse", "v")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b$i")
      val m = LakeSink.readManifest(dir)
      require(LakeSink.commitManifest(dir, m.version + 1, i.toLong,
        m.segs :+ s"seg_b$i", m.schemaV, m.schemaJson,
        m.stats + (s"seg_b$i" -> LakeSink.segmentStats(
          spark.read.parquet(s"$dir/seg_b$i"), Seq("tse")))))
    }
    // cutoff 20 = exact boundary: seg0 [0,9] and seg1 [10,19] provably
    // FULL-match (hi < 20, nulls = 0), seg2 [20,29] provably disjoint
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir,
        org.apache.spark.sql.functions.col("tse") < 20L)
    }
    assert(jobs === 0,
      s"segment-aligned retention must plan from stats alone ($jobs jobs)")
    val (_, rewritten, droppedN, deleted) = res
    assert(rewritten === 0)
    assert(droppedN === 2)
    assert(deleted === 20L) // footer-counted, no scan
    assert(LakeSink.readTable(spark, dir).count() === 10L)
    // a MID-segment cutoff scans exactly the straddling segment
    val dir2 = buildTimeLake()
    val (_, rw2, dp2, del2) = LakeSink.deleteWhere(spark, dir2,
      org.apache.spark.sql.functions.col("tse") < 15L)
    assert(rw2 === 1 && dp2 === 1 && del2 === 15L)
    // a stats-LESS segment is never full-match-dropped (advisory rule)
    val dir3 = buildTimeLake(statsFor = _ != 0)
    val (_, rw3, dp3, del3) = LakeSink.deleteWhere(spark, dir3,
      org.apache.spark.sql.functions.col("tse") < 20L)
    assert(del3 === 20L)
    assert(dp3 === 2) // seg0 dropped after a scan proved full match
    assert(rw3 === 0)
  }

  test("stats-proven full match under cdc records the dropped segment " +
      "as change data") {
    val dir = buildTimeLake()
    val v0 = LakeSink.readManifest(dir).version
    val (v1, _, dropped, _) = LakeSink.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.col("tse") < 10L, cdc = true)
    assert(dropped === 1)
    val feed = LakeSink.changesCdcBetween(spark, dir, v0, v1)
    assert(feed.filter(feed("_change_type") === "delete").count() === 10L)
  }
}
