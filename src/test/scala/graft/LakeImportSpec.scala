package graft

import graft.streaming.LakeSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Zero-copy IMPORT + DESCRIBE DETAIL (r12). What must hold:
  *
  *  - [[LakeSink.importParquetDir]] adopts a plain parquet dir by hard
  *    links: reads equal, inodes shared (no data copied), stats
  *    computed in-pass enable pruning, schema recorded;
  *  - import into an existing lake appends; a schema mismatch and an
  *    active column mapping refuse loudly;
  *  - the SOURCE stays plain parquet and immutable: lake DML after the
  *    import never changes the foreign directory's content;
  *  - [[LakeSink.tableDetail]] answers version/segments/rows from
  *    METADATA alone — zero Spark jobs — and subtracts
  *    deletion-vector debt from the live row count.
  */
class LakeImportSpec extends AnyFunSuite with SparkFixture {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def inodes(dir: String): Map[String, Object] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(base)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString ->
        java.nio.file.Files.readAttributes(p,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
      .toMap
    finally s.close()
  }

  private def writeForeign(): (String, Seq[(Long, Long)]) = {
    import spark.implicits._
    val dir = tmp("graft_import_foreign") + "/t"
    val rows = (0 until 20).map(i => (i.toLong, (i % 3).toLong))
    rows.toDF("id", "flag").repartition(2)
      .write.mode("overwrite").parquet(dir)
    (dir, rows)
  }

  test("import links (not copies) a foreign dir; stats prune; reads equal") {
    val (plain, rows) = writeForeign()
    val lake = tmp("graft_import_lake1") + "/l"
    val (v, files, n) =
      LakeSink.importParquetDir(spark, plain, lake, Seq("id"))
    assert(v === 1L && files >= 1 && n === rows.size.toLong)
    assert(LakeSink.readTable(spark, lake).select("id", "flag")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === rows.sorted)
    // hard links: every lake parquet file is an inode the source owns
    val src = inodes(plain).values.toSet
    inodes(lake).foreach { case (_, key) => assert(src.contains(key)) }
    // stats landed → a disjoint-range DML prunes with zero rewrites
    val m = LakeSink.readManifest(lake)
    assert(m.stats.values.exists(_.contains("id")))
  }

  test("append import, schema refusal, colmap refusal") {
    val (plain, rows) = writeForeign()
    val lake = tmp("graft_import_lake2") + "/l"
    LakeSink.importParquetDir(spark, plain, lake)
    val (plain2, _) = writeForeign()
    val (v2, _, _) = LakeSink.importParquetDir(spark, plain2, lake)
    assert(v2 === 2L)
    assert(LakeSink.readTable(spark, lake).count() === 2L * rows.size)
    // schema mismatch refuses
    import spark.implicits._
    val bad = tmp("graft_import_bad") + "/t"
    Seq((1L, "x")).toDF("id", "name").write.parquet(bad)
    val e = intercept[IllegalArgumentException] {
      LakeSink.importParquetDir(spark, bad, lake)
    }
    assert(e.getMessage.contains("does not match"))
    // active column mapping refuses
    LakeSink.evolveRenameColumn(spark, lake, "flag", "tag")
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.importParquetDir(spark, plain, lake)
    }
    assert(e2.getMessage.contains("column mapping"))
  }

  test("the foreign source is never modified by later lake DML") {
    val (plain, rows) = writeForeign()
    val lake = tmp("graft_import_lake3") + "/l"
    LakeSink.importParquetDir(spark, plain, lake)
    val before = inodes(plain)
    LakeSink.deleteWhere(spark, lake, col("flag") === 1L)
    LakeSink.vacuum(lake, retainVersions = 1)
    // lake diverged; the plain dir reads its original rows from its
    // original inodes
    assert(spark.read.parquet(plain).count() === rows.size.toLong)
    assert(inodes(plain) === before)
    assert(LakeSink.readTable(spark, lake).count()
      === rows.count(_._2 != 1L).toLong)
  }

  test("DESCRIBE DETAIL: metadata-only, DV-aware row count") {
    val (plain, rows) = writeForeign()
    val lake = tmp("graft_import_lake4") + "/l"
    LakeSink.importParquetDir(spark, plain, lake)
    // DV point delete: 2 rows hidden, no rewrite
    val (_, rw, _, nDel) = LakeSink.deleteWhere(spark, lake,
      col("id") < 2L, dvMaxFraction = 0.5)
    assert(rw === 0 && nDel === 2L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // drain the async listener bus before and after: the delete's own
    // queued job events must not count, and a late delivery must not
    // let the count read low
    org.apache.spark.graft.ListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val det = LakeSink.tableDetail(spark, lake)
      val r = det.select("version", "num_segments", "num_rows",
        "num_dv_segments", "dv_rows").head()
      org.apache.spark.graft.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      assert(r.getLong(0) === 2L)
      assert(r.getLong(1) === 1L)
      assert(r.getLong(2) === rows.size.toLong - 2L)
      assert(r.getLong(3) === 1L && r.getLong(4) === 2L)
      // the head() over a 1-row local relation may cost one trivial
      // job depending on plan; the FOOTER/manifest reads must not —
      // allow at most the collect itself
      assert(jobs.get <= 1,
        s"DESCRIBE DETAIL ran ${jobs.get} jobs — it must not scan data")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("SQL DESCRIBE DETAIL on a registered lake") {
    import graft.streaming.LakeCatalog
    val (plain, rows) = writeForeign()
    val lake = tmp("graft_import_lake5") + "/l"
    LakeSink.importParquetDir(spark, plain, lake)
    val tbl = "graft_detail_" + System.nanoTime()
    LakeCatalog.register(tbl, lake)
    try {
      val r = spark.sql(s"DESCRIBE DETAIL $tbl")
        .select("num_rows", "partition_col").head()
      assert(r.getLong(0) === rows.size.toLong)
      assert(r.isNullAt(1))
    } finally LakeCatalog.unregister(tbl)
  }
}
