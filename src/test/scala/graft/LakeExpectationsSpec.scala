package graft

import graft.streaming.{LakeCatalog, LakeSink}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table-level EXPECTATIONS (data contracts in the manifest). What
  * must hold:
  *
  *  - registration is a metadata-only commit; unparsable or
  *    column-absent predicates are rejected AT REGISTRATION;
  *  - appendSegment enforces every registered expectation with
  *    CHECK-constraint fail-loud semantics (per-check violation
  *    counts in the error), and SQL `INSERT INTO` rides the same
  *    path;
  *  - the contract SURVIVES unrelated protocol commits (DML,
  *    compaction) — it lives in the manifest, not in pipeline code;
  *  - splitByExpectations quarantines FALSE and NULL rows (a NULL
  *    check result is not a pass).
  */
class LakeExpectationsSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def buildLake(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_expect_spec").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/seg_b0")
    require(LakeSink.commitManifest(dir, 1L, 0L, Seq("seg_b0")))
    dir
  }

  test("registration is metadata-only and validates the predicate") {
    val dir = buildLake()
    val v = LakeSink.addExpectation(spark, dir, "v_cap", "v <= 100")
    val m = LakeSink.readManifest(dir)
    assert(m.version === v && m.segs === Seq("seg_b0"))
    assert(m.expects === Map("v_cap" -> "v <= 100"))

    intercept[Exception] { // absent column
      LakeSink.addExpectation(spark, dir, "bad_col", "nope > 0")
    }
    intercept[Exception] { // unparsable
      LakeSink.addExpectation(spark, dir, "bad_sql", "v >=")
    }
    intercept[IllegalArgumentException] { // duplicate name
      LakeSink.addExpectation(spark, dir, "v_cap", "v <= 5")
    }
    assert(LakeSink.readManifest(dir).expects.size === 1)
  }

  test("appendSegment enforces the contract fail-loud; SQL INSERT too") {
    val dir = buildLake()
    LakeSink.addExpectation(spark, dir, "v_cap", "v <= 100")
    LakeSink.addExpectation(spark, dir, "k_positive", "k > 0")

    // clean append passes
    LakeSink.appendSegment(spark, dir,
      Seq((3L, 30L)).toDF("k", "v"), "seg_b1")
    assert(LakeSink.readTable(spark, dir).count() === 3L)

    // violating append fails with the expectation name and count
    val e = intercept[IllegalArgumentException] {
      LakeSink.appendSegment(spark, dir,
        Seq((4L, 500L), (5L, 600L), (-1L, 1L)).toDF("k", "v"), "seg_b2")
    }
    assert(e.getMessage.contains("v_cap (2 rows)"))
    assert(e.getMessage.contains("k_positive (1 rows)"))
    // nothing committed, no phantom segment
    assert(LakeSink.readManifest(dir).segs.size === 2)
    assert(LakeSink.readTable(spark, dir).count() === 3L)

    // the SQL surface rides the same path
    LakeCatalog.register("expect_sql_t", dir)
    val se = intercept[Exception] {
      spark.sql("INSERT INTO expect_sql_t SELECT 9, 999").collect()
    }
    assert(se.getMessage.contains("violates expectation"))
    assert(spark.sql("SELECT count(*) FROM expect_sql_t")
      .head.getLong(0) === 3L)
    spark.sql("INSERT INTO expect_sql_t SELECT 9, 99").collect()
    assert(spark.sql("SELECT count(*) FROM expect_sql_t")
      .head.getLong(0) === 4L)
  }

  test("the contract survives DML and compaction commits") {
    val dir = buildLake()
    LakeSink.addExpectation(spark, dir, "v_cap", "v <= 100")
    LakeSink.appendSegment(spark, dir,
      Seq((3L, 30L)).toDF("k", "v"), "seg_b1")
    LakeSink.deleteWhere(spark, dir, col("k") === 1L)
    LakeSink.updateWhere(spark, dir, col("k") === 2L,
      Map("v" -> lit(21L)))
    LakeSink.compact(spark, dir, targetFiles = 1)
    assert(LakeSink.readManifest(dir).expects ===
      Map("v_cap" -> "v <= 100"))
    val e = intercept[IllegalArgumentException] {
      LakeSink.appendSegment(spark, dir,
        Seq((6L, 101L)).toDF("k", "v"), "seg_b9")
    }
    assert(e.getMessage.contains("v_cap"))
  }

  test("the compacting ingest enforces expectations per batch; its " +
      "compaction does not re-validate older segments") {
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files
      .createTempDirectory("graft_lake_expect_ingest").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_lake_expect_ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = LakeSink.startCompactingIngest(input.toDF().toDF("k", "v"),
      out, ckpt, compactEvery = 4, targetFiles = 1)
    try {
      // batches 0-2 land before the contract exists; batch 0 holds a
      // row the contract will reject
      Seq(Seq((1L, -5L), (2L, 20L)), Seq((3L, 30L)), Seq((4L, 40L)))
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      LakeSink.addExpectation(spark, out, "v_pos", "v >= 0")
      // batch 3 passes; its compaction moves the old -5 row unchecked
      input.addData((5L, 50L))
      q.processAllAvailable()
      val m = LakeSink.readManifest(out)
      assert(m.segs === Seq("seg_c3"), s"compaction did not commit: ${m.segs}")
      assert(LakeSink.readTable(spark, out).select("k", "v").as[(Long, Long)]
        .collect().sorted.toSeq ===
        Seq((1L, -5L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L)))
      // batch 4 violates: the query fails, nothing commits, no dir left
      input.addData((6L, 60L), (7L, -7L))
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("v_pos (1 rows)"))),
        s"refusal does not name the check: $e")
      assert(LakeSink.readManifest(out).version === m.version)
      assert(!new java.io.File(s"$out/seg_b4").exists(),
        "a refused batch left its segment directory behind")
    } finally q.stop()
  }

  test("splitByExpectations quarantines FALSE and NULL rows") {
    val dir = buildLake()
    LakeSink.addExpectation(spark, dir, "v_cap", "v <= 100")
    val batch = Seq(
      (3L, Some(50L)),   // passes
      (4L, Some(500L)),  // FALSE
      (5L, None)         // NULL check result — not a pass
    ).toDF("k", "v")
    val (pass, quar) = LakeSink.splitByExpectations(spark, dir, batch)
    assert(pass.select("k").collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(quar.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(4L, 5L))
    // a lake without expectations passes everything through
    val plain = buildLake()
    val (p2, q2) = LakeSink.splitByExpectations(spark, plain, batch)
    assert(p2.count() === 3L && q2.count() === 0L)
  }

  // --- r12: expectations gate UPDATE / MERGE post-images ------------

  test("UPDATE enforces expectations on the post-image of matching rows") {
    val dir = buildLake()
    LakeSink.addExpectation(spark, dir, "v_cap", "v <= 100")
    val v0 = LakeSink.readManifest(dir).version
    // violating assignment refused LOUD, nothing committed
    val e = intercept[IllegalArgumentException] {
      LakeSink.updateWhere(spark, dir, col("k") === 1L,
        Map("v" -> lit(500L)))
    }
    assert(e.getMessage.contains("v_cap"))
    assert(LakeSink.readManifest(dir).version === v0)
    assert(LakeSink.readTable(spark, dir).agg(sum("v")).head.getLong(0)
      === 30L)
    // a passing post-image commits (only WRITTEN values are judged —
    // NOT VALID registration semantics)
    LakeSink.updateWhere(spark, dir, col("k") === 1L, Map("v" -> lit(90L)))
    assert(LakeSink.readTable(spark, dir).filter(col("k") === 1L)
      .head.getLong(1) === 90L)
  }

  test("MERGE (star and clause forms) enforces expectations on written rows") {
    import LakeSink.MergeClause.{Delete, Insert, Update}
    val dir = buildLake()
    LakeSink.addExpectation(spark, dir, "v_cap", "v <= 100")
    val v0 = LakeSink.readManifest(dir).version
    // star merge: every source row is written (update or insert) — a
    // violating source row refuses the whole statement
    val badSrc = Seq((2L, 999L), (9L, 5L)).toDF("k", "v")
    val e1 = intercept[IllegalArgumentException] {
      LakeSink.mergeInto(spark, dir, badSrc, Seq("k"))
    }
    assert(e1.getMessage.contains("v_cap"))
    assert(LakeSink.readManifest(dir).version === v0)
    // clause merge: a conditional UPDATE whose post-image violates
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.mergeClauses(spark, dir,
        Seq((2L, 1L)).toDF("k", "v"), Seq("k"),
        matched = Seq(Update(None, Some(Seq("v" -> "t.v + 200")))))
    }
    assert(e2.getMessage.contains("v_cap"))
    // clause merge: an INSERT with violating values
    val e3 = intercept[IllegalArgumentException] {
      LakeSink.mergeClauses(spark, dir,
        Seq((9L, 999L)).toDF("k", "v"), Seq("k"),
        notMatched = Seq(Insert(None, None)))
    }
    assert(e3.getMessage.contains("v_cap"))
    assert(LakeSink.readManifest(dir).version === v0)
    // DELETE clauses are exempt (they write no values); passing
    // updates/inserts land
    LakeSink.mergeClauses(spark, dir,
      Seq((1L, 0L), (9L, 95L)).toDF("k", "v"), Seq("k"),
      matched = Seq(Delete(None)),
      notMatched = Seq(Insert(None, None)))
    assert(LakeSink.readTable(spark, dir).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 9L))
  }
}
