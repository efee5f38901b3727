package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PARTITION SPEC (r12): a declared partition column + per-segment
  * partition VALUES in the manifest (Hive/Delta partition-column /
  * Iceberg partition-spec analog). What must hold:
  *
  *  - [[LakeSink.appendPartitioned]] writes ONE segment per distinct
  *    value in ONE Spark write job, records (column, value, rows) per
  *    segment plus an exact stats entry (lo == hi), and the table
  *    reads back exactly the input;
  *  - retention DML (`DELETE WHERE day < cutoff`) drops covered
  *    segments with ZERO Spark jobs — decided on the manifest alone —
  *    and reports exact deleted counts; uncovered partitions are
  *    skipped with zero jobs too;
  *  - the decider takes ARBITRARY single-column expressions (pmod),
  *    not just ranges;
  *  - the NULL partition follows SQL semantics (never matches a
  *    comparison → never dropped, also never scanned);
  *  - cdc=true partition drops feed the change feed through the dead
  *    segment's own files (`cdcdrop=`) at zero DML-time IO, and
  *    vacuum retains those files with the version;
  *  - rewrites inherit the partition fact when they provably keep it
  *    (delete keeps a subset; update and MERGE keep every non-deleted
  *    row unless they assign a partition column — a star MERGE assigns
  *    them all), with the live row count, so later retention stays
  *    metadata-only and exact;
  *  - partition EVOLUTION: changing the spec re-targets future
  *    appends; old segments keep deciding under their own column;
  *  - compaction carries the spec, resets per-segment values, and
  *    re-keys the spec through the colmap re-baseline.
  */
class LakePartitionSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Partitioned lake over (day BIGINT, user STRING, cents BIGINT):
    * days 1..4, 6 rows per day, cents = day*100 + i. */
  private def buildLake(withNullDay: Boolean = false): String = {
    val dir = tmp("graft_part_lake")
    import spark.implicits._
    LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType))),
      partitionBy = Some("day"))
    val rows = for (d <- 1 to 4; i <- 0 until 6)
      yield (d.toLong, s"u${i % 3}", d * 100L + i)
    val df = rows.toDF("day", "user", "cents")
    val all = if (withNullDay)
      df.unionByName(Seq((Option.empty[Long], "un", 9L))
        .toDF("day", "user", "cents"))
    else df
    val (v, nSegs) = LakeSink.appendPartitioned(spark, dir, all)
    assert(v === 2L)
    assert(nSegs === (if (withNullDay) 5 else 4))
    dir
  }

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

  test("appendPartitioned: one segment per value, exact facts + stats, " +
      "round trip") {
    val dir = buildLake()
    val m = LakeSink.readManifest(dir)
    assert(m.partSpec === Some("day"))
    assert(m.segs.size === 4)
    assert(m.parts.size === 4)
    val byVal = m.parts.values.map(p => p.value.get.toLong -> p.rows).toMap
    assert(byVal === Map(1L -> 6L, 2L -> 6L, 3L -> 6L, 4L -> 6L))
    assert(m.parts.values.forall(_.col == "day"))
    // exact stats entry per segment (lo == hi == value, nulls = 0)
    m.parts.foreach { case (seg, pv) =>
      val st = m.stats(seg)("day").asInstanceOf[LakeSink.LongStat]
      assert(st.lo === pv.value.get.toLong)
      assert(st.hi === pv.value.get.toLong)
      assert(st.nulls === 0L)
    }
    // the table reads back exactly the input (partition column intact)
    val got = LakeSink.readTable(spark, dir)
    assert(got.count() === 24L)
    assert(got.agg(sum("cents")).head.getLong(0) ===
      (for (d <- 1 to 4; i <- 0 until 6) yield d * 100L + i).sum)
    assert(got.filter(col("day") === 3L).count() === 6L)
  }

  test("retention DELETE over covered partitions: ZERO Spark jobs, " +
      "exact counts, uncovered partitions skipped") {
    val dir = buildLake()
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir, col("day") < 3L)
    }
    assert(jobs === 0, s"retention delete must plan from the manifest " +
      s"alone, launched $jobs jobs")
    val (_, rewritten, dropped, deleted) = res
    assert(rewritten === 0)
    assert(dropped === 2)
    assert(deleted === 12L)
    val left = LakeSink.readTable(spark, dir)
    assert(left.count() === 12L)
    assert(left.agg(min("day")).head.getLong(0) === 3L)
    // the old version still time-travels to the pre-delete rows
    val m = LakeSink.readManifest(dir)
    assert(LakeSink.readTableAsOf(spark, dir, m.version - 1)
      .count() === 24L)
  }

  test("arbitrary single-column expression (pmod) decided per " +
      "partition with zero jobs") {
    val dir = buildLake()
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir, pmod(col("day"), lit(2)) === 0L)
    }
    assert(jobs === 0)
    assert(res._3 === 2) // days 2 and 4 dropped
    assert(res._4 === 12L)
    assert(LakeSink.readTable(spark, dir)
      .select(collect_set("day")).head.getSeq[Long](0).sorted === Seq(1L, 3L))
  }

  test("NULL partition: never matches a comparison — kept, and with " +
      "zero jobs") {
    val dir = buildLake(withNullDay = true)
    val m0 = LakeSink.readManifest(dir)
    assert(m0.parts.values.count(_.value.isEmpty) === 1)
    // the NULL-partition segment records no stats entry for `day`
    val nullSeg = m0.parts.collectFirst {
      case (s, pv) if pv.value.isEmpty => s }.get
    assert(!m0.stats.get(nullSeg).exists(_.contains("day")))
    val jobs = jobsIn {
      LakeSink.deleteWhere(spark, dir, col("day") <= 4L)
    }
    assert(jobs === 0)
    val left = LakeSink.readTable(spark, dir)
    assert(left.count() === 1L)
    assert(left.head.isNullAt(0))
    // IS NULL does cover the NULL partition — also zero jobs
    val jobs2 = jobsIn {
      val (_, _, dropped, deleted) =
        LakeSink.deleteWhere(spark, dir, col("day").isNull)
      assert(dropped === 1)
      assert(deleted === 1L)
    }
    assert(jobs2 === 0)
    assert(LakeSink.readManifest(dir).segs.isEmpty)
  }

  test("predicate referencing other columns falls back to the scan " +
      "path and stays correct") {
    val dir = buildLake()
    val (_, rewritten, dropped, deleted) = LakeSink.deleteWhere(spark, dir,
      col("day") === 2L && col("user") === "u0")
    assert(deleted === 2L)
    assert(dropped === 0)
    assert(rewritten === 1) // only day=2's segment touched (stats prune)
    assert(LakeSink.readTable(spark, dir).count() === 22L)
  }

  test("cdc partition drop: zero DML-time IO, the feed reads the dead " +
      "segment's files as deletes; vacuum retains them with the version") {
    val dir = buildLake()
    val m0 = LakeSink.readManifest(dir)
    var v1 = 0L
    val jobs = jobsIn {
      v1 = LakeSink.deleteWhere(spark, dir, col("day") === 1L,
        cdc = true)._1
    }
    assert(jobs === 0)
    val feed = LakeSink.changesCdcBetween(spark, dir, m0.version, v1)
    assert(feed.count() === 6L)
    assert(feed.select(collect_set("_change_type")).head
      .getSeq[String](0) === Seq("delete"))
    assert(feed.agg(sum("cents")).head.getLong(0) ===
      (0 until 6).map(100L + _).sum)
    // vacuum to the horizon that still includes the drop version:
    // the dead segment's files must survive for the feed
    LakeSink.appendSegment(spark, dir,
      spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row],
        LakeSink.readTable(spark, dir).schema), "seg_pad")
    LakeSink.vacuum(dir, retainVersions = 3)
    val feed2 = LakeSink.changesCdcBetween(spark, dir, m0.version, v1)
    assert(feed2.count() === 6L)
  }

  test("delete-rewrite inherits the partition fact: a later covered " +
      "retention delete is still metadata-only") {
    val dir = buildLake()
    // partial delete inside day=2 (scan path, rewrites that segment)
    val (_, rewritten, _, deleted) = LakeSink.deleteWhere(spark, dir,
      col("day") === 2L && col("cents") === 200L)
    assert(rewritten === 1 && deleted === 1L)
    val m = LakeSink.readManifest(dir)
    val inherited = m.parts.filter(_._2.value.contains("2"))
    assert(inherited.size === 1)
    assert(inherited.head._2.rows === 5L)
    // now retention-delete days <= 2 — must be zero jobs again
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir, col("day") <= 2L)
    }
    assert(jobs === 0)
    assert(res._3 === 2)
    assert(res._4 === 11L) // 6 + 5
    assert(LakeSink.readTable(spark, dir).count() === 12L)
  }

  test("update keeps the partition fact unless it assigns the " +
      "partition column") {
    val dir = buildLake()
    LakeSink.updateWhere(spark, dir,
      col("day") === 3L && col("cents") === 300L,
      Map("cents" -> lit(999L)))
    val m1 = LakeSink.readManifest(dir)
    assert(m1.parts.values.count(_.value.contains("3")) === 1)
    // an update assigning `day` forfeits the fact (value no longer
    // provably uniform)
    LakeSink.updateWhere(spark, dir,
      col("day") === 4L && col("cents") === 400L,
      Map("day" -> lit(5L)))
    val m2 = LakeSink.readManifest(dir)
    assert(!m2.parts.values.exists(_.value.contains("4")))
    // still correct everywhere
    assert(LakeSink.readTable(spark, dir)
      .filter(col("day") === 5L).count() === 1L)
  }

  test("copy-on-write update of a DV'd partition segment records the " +
      "live row count in its fact") {
    val dir = buildLake()
    // merge-on-read delete of 1 of day 3's 6 rows: the segment keeps
    // its files and its fact (rows = 6) plus a one-row DV
    LakeSink.deleteWhere(spark, dir,
      col("day") === 3L && col("cents") === 300L, dvMaxFraction = 0.5)
    assert(LakeSink.readManifest(dir).dv.size === 1)
    // every live row of day 3 matches: a copy-on-write rewrite that
    // makes the DV physical — the fact must follow the 5 live rows
    val (_, rewritten, updated) = LakeSink.updateWhere(spark, dir,
      col("day") === 3L, Map("cents" -> (col("cents") + 1000L)))
    assert(rewritten === 1 && updated === 5L)
    val m = LakeSink.readManifest(dir)
    val day3 = m.parts.filter(_._2.value.contains("3"))
    assert(day3.size === 1)
    val (seg, pv) = day3.head
    assert(pv.rows === 5L)
    assert(m.segRows.get(seg) === Some(5L))
    assert(m.dv.isEmpty)
    // the metadata-only retention delete reports the live rows
    val (_, _, dropped, deleted) =
      LakeSink.deleteWhere(spark, dir, col("day") === 3L)
    assert(dropped === 1 && deleted === 5L)
    assert(LakeSink.readTable(spark, dir).count() === 18L)
  }

  test("MERGE rewrites keep the partition fact unless they assign a " +
      "fact column; a star MERGE forfeits it") {
    import LakeSink.MergeClause.{Delete, Update}
    import spark.implicits._
    val dir = buildLake()
    def factOf(day: Long): Option[(String, LakeSink.PartVal)] =
      LakeSink.readManifest(dir).parts
        .find(_._2.value.contains(day.toString))
    // a clause MERGE whose SET skips `day`: day 2's rewrite keeps the
    // fact with all 6 rows
    val (_, rw1, upd1, _, _) = LakeSink.mergeClauses(spark, dir,
      Seq((200L, "zz")).toDF("cents", "user"), Seq("cents"),
      matched = Seq(Update(None, Some(Seq("user" -> "s.user")))))
    assert(rw1 === 1 && upd1 === 1L)
    val (seg2, pv2) = factOf(2L).getOrElse(fail("day 2 lost its fact"))
    assert(pv2.rows === 6L)
    assert(LakeSink.readManifest(dir).segRows.get(seg2) === Some(6L))
    // a delete-firing rewrite keeps the fact with the live count
    val (_, rw2, _, del2, _) = LakeSink.mergeClauses(spark, dir,
      Seq(300L, 301L).toDF("cents"), Seq("cents"),
      matched = Seq(Delete(None)))
    assert(rw2 === 1 && del2 === 2L)
    val (seg3, pv3) = factOf(3L).getOrElse(fail("day 3 lost its fact"))
    assert(pv3.rows === 4L)
    assert(LakeSink.readManifest(dir).segRows.get(seg3) === Some(4L))
    // both facts decide a retention delete on the manifest alone
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir, col("day") >= 2L &&
        col("day") <= 3L)
    }
    assert(jobs === 0)
    assert(res._3 === 2 && res._4 === 10L)
    // a star MERGE (UPDATE SET *) assigns every column, `day` included
    val (_, rw3, upd3, _) = LakeSink.mergeInto(spark, dir,
      Seq((4L, "zz", 400L)).toDF("day", "user", "cents"), Seq("cents"))
    assert(rw3 === 1 && upd3 === 1L)
    assert(factOf(4L).isEmpty)
    assert(LakeSink.readTable(spark, dir).count() === 12L)
    assert(LakeSink.readTable(spark, dir)
      .filter(col("user") === "zz").count() === 1L)
  }

  test("partition evolution: future appends split by the new column; " +
      "old segments decide under their own") {
    val dir = buildLake()
    import spark.implicits._
    LakeSink.evolvePartitionSpec(spark, dir, "user")
    val (_, n) = LakeSink.appendPartitioned(spark, dir,
      Seq((9L, "alice", 7L), (9L, "bob", 8L)).toDF("day", "user", "cents"))
    assert(n === 2)
    val m = LakeSink.readManifest(dir)
    assert(m.partSpec === Some("user"))
    assert(m.parts.values.count(_.col == "user") === 2)
    assert(m.parts.values.count(_.col == "day") === 4)
    // a day-covered delete still metadata-drops the day segments and
    // SKIPS the user-partitioned ones (day is not their column)...
    // except it must scan them, since their fact cannot decide `day`.
    val (_, rewritten, dropped, deleted) =
      LakeSink.deleteWhere(spark, dir, col("day") <= 1L)
    assert(dropped === 1)
    assert(deleted === 6L)
    assert(rewritten === 0) // user-segments scanned but match nothing
    // and a user-covered delete metadata-drops the user segment
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir, col("user") === "alice")
    }
    assert(res._3 === 1 && res._4 === 1L)
    // the day-segments must be scanned for user (no covering fact),
    // so jobs > 0 is fine here; correctness is the assertion
    assert(LakeSink.readTable(spark, dir).count() === 19L)
  }

  test("compaction carries the spec, resets per-segment values") {
    val dir = buildLake()
    LakeSink.compact(spark, dir)
    val m = LakeSink.readManifest(dir)
    assert(m.partSpec === Some("day"))
    assert(m.parts.isEmpty)
    // post-compaction retention delete falls back to the scan path —
    // correct, just not metadata-only
    val (_, _, _, deleted) =
      LakeSink.deleteWhere(spark, dir, col("day") < 2L)
    assert(deleted === 6L)
    assert(LakeSink.readTable(spark, dir).count() === 18L)
  }

  test("compactPartitions: one segment per value, facts survive, " +
      "retention stays metadata-only afterwards") {
    val dir = buildLake()
    import spark.implicits._
    // second partitioned batch → 2 segments per day
    val more = (for (d <- 1 to 4; i <- 0 until 3)
      yield (d.toLong, "w", d * 1000L + i)).toDF("day", "user", "cents")
    LakeSink.appendPartitioned(spark, dir, more)
    assert(LakeSink.readManifest(dir).segs.size === 8)
    val before = LakeSink.readTable(spark, dir)
      .agg(count(lit(1)), sum("cents")).head()
    val (_, nGroups) = LakeSink.compactPartitions(spark, dir)
    assert(nGroups === 4)
    val m = LakeSink.readManifest(dir)
    assert(m.segs.size === 4)
    assert(m.parts.size === 4)
    assert(m.parts.values.map(p => p.value.get.toLong -> p.rows).toMap ===
      Map(1L -> 9L, 2L -> 9L, 3L -> 9L, 4L -> 9L))
    val after = LakeSink.readTable(spark, dir)
      .agg(count(lit(1)), sum("cents")).head()
    assert(after === before)
    // facts survived the rewrite: retention is STILL zero jobs
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir, col("day") < 3L)
    }
    assert(jobs === 0)
    assert(res._3 === 2 && res._4 === 18L)
  }

  test("SQL surface: INSERT honors the partition spec; SHOW PARTITIONS " +
      "and OPTIMIZE PER PARTITION run from text") {
    import graft.streaming.LakeCatalog
    val dir = buildLake()
    val tbl = "graft_part_sql_" +
      java.lang.Long.toHexString(System.nanoTime())
    LakeCatalog.register(tbl, dir)
    try {
      // INSERT routes through appendPartitioned: new facts appear
      spark.sql(s"INSERT INTO $tbl VALUES " +
        "(CAST(1 AS BIGINT), 'sql', CAST(7 AS BIGINT)), " +
        "(CAST(9 AS BIGINT), 'sql', CAST(8 AS BIGINT))").collect()
      val m = LakeSink.readManifest(dir)
      assert(m.parts.size === 6) // 4 ingest + day=1 again + new day=9
      assert(m.parts.values.count(_.value.contains("9")) === 1)
      val shown = spark.sql(s"SHOW PARTITIONS $tbl")
        .orderBy("value").collect()
      assert(shown.length === 5) // days 1,2,3,4,9 — all facts, no bare segs
      assert(shown.map(r => (r.getString(1), r.getLong(3))).toMap ===
        Map("1" -> 7L, "2" -> 6L, "3" -> 6L, "4" -> 6L, "9" -> 1L))
      val r = spark.sql(s"OPTIMIZE $tbl PER PARTITION").collect().head
      assert(r.getInt(1) === 1) // only day=1 had 2 segments
      assert(LakeSink.readManifest(dir).segs.size === 5)
      assert(LakeSink.readTable(spark, dir).count() === 26L)
    } finally LakeCatalog.unregister(tbl)
  }

  test("renaming the partition column keeps retention metadata-only " +
      "(facts follow the physical id)") {
    val dir = buildLake()
    LakeSink.evolveRenameColumn(spark, dir, "day", "event_day")
    var res: (Long, Int, Int, Long) = null
    val jobs = jobsIn {
      res = LakeSink.deleteWhere(spark, dir, col("event_day") < 3L)
    }
    assert(jobs === 0)
    assert(res._3 === 2 && res._4 === 12L)
    assert(LakeSink.readTable(spark, dir)
      .agg(min("event_day")).head.getLong(0) === 3L)
    // and partitioned appends still work under the new logical name
    import spark.implicits._
    LakeSink.appendPartitioned(spark, dir,
      Seq((7L, "r", 1L)).toDF("event_day", "user", "cents"))
    assert(LakeSink.readManifest(dir).parts.values
      .exists(_.value.contains("7")))
  }

  test("string partition column round-trips escaped values") {
    val dir = tmp("graft_part_str")
    import spark.implicits._
    LakeSink.createTable(dir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType))),
      partitionBy = Some("grp"))
    val (_, nSegs) = LakeSink.appendPartitioned(spark, dir,
      Seq(("a b", 1L), ("a b", 2L), ("x:y/z", 3L), ("plain", 4L))
        .toDF("grp", "n"))
    assert(nSegs === 3)
    val m = LakeSink.readManifest(dir)
    assert(m.parts.values.map(_.value.get).toSet ===
      Set("a b", "x:y/z", "plain"))
    val jobs = jobsIn {
      val (_, _, dropped, deleted) =
        LakeSink.deleteWhere(spark, dir, col("grp") === "x:y/z")
      assert(dropped === 1 && deleted === 1L)
    }
    assert(jobs === 0)
    assert(LakeSink.readTable(spark, dir).agg(sum("n")).head.getLong(0)
      === 7L)
  }
}
