package graft

import graft.functions.ParamLiteral
import graft.functions.ParamLiteral.param
import graft.streaming.{LakeCatalog, LakeSink}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** [[ParamLiteral]]: per-call constants read from generated code's
  * `references` instead of being inlined into its source. What must hold:
  *
  *  - a predicate with its comparison constants lifted returns exactly
  *    the plain-literal rows, at type boundaries and under both codegen
  *    and interpreted evaluation;
  *  - parameters with different values are never `semanticEquals`, so
  *    plan reuse (exchange reuse, the cache manager) cannot merge them;
  *  - a second same-shape call with different constants compiles no
  *    classes, for the range read and for SQL UPDATE/DELETE.
  */
class ParamLiteralSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Fewest classes any one of `calls` compiled. The metric is process-
    * wide, so a class another thread compiles during one call cannot
    * fail the check as long as some call of the shape compiles none. */
  private def fewestCompiles(calls: (() => Any)*): Long =
    calls.map(c => compiles(c())).min

  private def lifted(df: DataFrame, sql: String): Column =
    ParamLiteral.liftComparisons(df.filter(expr(sql)).queryExecution.analyzed
      .collectFirst { case f: Filter => f.condition }.get)
      .getOrElse(fail(s"nothing lifted in `$sql`"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("lifted predicates return the plain-literal rows at type boundaries") {
    val dir = tmp("graft_param_bounds")
    Seq((Long.MinValue, Int.MinValue, "2024-01-01", "2024-01-01 00:00:00"),
      (-1L, -1, "2024-01-02", "2024-01-01 00:00:01"),
      (0L, 0, "2024-02-29", "2024-06-30 12:00:00"),
      (1L, 1, "2024-03-01", "2024-12-31 23:59:59"),
      (Long.MaxValue, Int.MaxValue, "2025-01-01", "2025-01-01 00:00:00"))
      .toDF("l", "i", "ds", "tss")
      .select(col("l"), col("i"), to_date(col("ds")).as("d"),
        to_timestamp(col("tss")).as("ts"))
      .write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val conds = Seq(
      "l = -9223372036854775808L", "l <= -9223372036854775808L",
      "l > -9223372036854775808L", "l >= 9223372036854775807L",
      "l < 9223372036854775807L", "l <=> 9223372036854775807L",
      "l BETWEEN -1 AND 1",                       // INT bounds, BIGINT column
      "l = 1 OR l IN (0, 9223372036854775807L)",  // the IN list stays literal
      "i BETWEEN -2147483648 AND 0", "i > 2147483646L",
      "pmod(l, 10) = 9 AND l <> 0",
      "d >= DATE'2024-02-29'", "d BETWEEN DATE'2024-01-02' AND DATE'2024-03-01'",
      "d = '2024-01-01'",                         // string cast to DATE
      "ts < TIMESTAMP'2024-01-01 00:00:01'",
      "ts BETWEEN TIMESTAMP'2024-06-30 12:00:00' AND TIMESTAMP'2025-01-01 00:00:00'")
    def check(): Unit = conds.foreach { sql =>
      val p = df.filter(lifted(df, sql))
      assert(p.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[ParamLiteral])), s"`$sql` not lifted")
      assert(rows(p) === rows(df.filter(expr(sql))), s"`$sql`")
    }
    check()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check()
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("constants outside comparisons stay literals; nothing to lift is None") {
    val df = Seq((1L, 2.5)).toDF("l", "x")
    def analyzed(sql: String) = df.filter(expr(sql)).queryExecution.analyzed
      .collectFirst { case f: Filter => f.condition }.get
    // round's scale must stay foldable; the compared 3.0 is a DOUBLE
    assert(ParamLiteral.liftComparisons(analyzed("round(x, 0) = 3.0")).isEmpty)
    assert(ParamLiteral.liftComparisons(analyzed("l = l")).isEmpty)
    val p = df.filter(lifted(df, "round(x, 0) = 3.0 AND l = 1"))
    assert(rows(p) === Seq("[1,2.5]"))
  }

  test("parameters with different values are never semanticEquals") {
    val a = ParamLiteral(5L, LongType)
    assert(!a.semanticEquals(ParamLiteral(6L, LongType)))
    assert(a.semanticEquals(ParamLiteral(5L, LongType)))
    val base = spark.range(100).toDF("l")
    val five = base.filter(col("l") >= param(5L))
    val six = base.filter(col("l") >= param(6L))
    assert(!five.queryExecution.optimizedPlan.sameResult(
      six.queryExecution.optimizedPlan))
    five.cache().count()
    try {
      def cached(df: DataFrame) = df.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }.nonEmpty
      assert(!cached(six), "a different parameter value reused the cache")
      assert(cached(base.filter(col("l") >= param(5L))))
      assert(six.count() === 94L)
    } finally five.unpersist(blocking = true)
  }

  /** 4 segments of 100 rows, stats on `id`: segment s holds ids
    * [100s, 100s + 99], so each probe below opens exactly one. */
  private def buildLake(name: String): String = {
    val dir = tmp(s"graft_param_$name")
    (0 until 4).foreach { s =>
      val rs = (0 until 100).map { j =>
        val id = s * 100L + j
        (id, s"t${id % 5}", id * 3L)
      }
      if (s == 0) LakeSink.createTable(dir, rs.toDF("id", "event_type", "vc").schema)
      LakeSink.appendSegment(spark, dir, rs.toDF("id", "event_type", "vc"),
        f"seg_p$s%02d")
    }
    LakeSink.analyzeTable(spark, dir, Seq("id"))
    LakeCatalog.register(name, dir)
    dir
  }

  test("a second same-shape readTableWhere compiles nothing") {
    val dir = buildLake("param_reads")
    def window(lo: Long, hi: Long) = () => {
      val (df, scanned, _) = LakeSink.readTableWhere(spark, dir, "id", lo, hi)
      assert(scanned === Seq(f"seg_p${lo / 100}%02d"))
      val n = df.groupBy("event_type").agg(count(lit(1)), sum("vc")).collect()
        .map(_.getLong(1)).sum
      assert(n === hi - lo + 1)
    }
    window(10, 60)()
    assert(fewestCompiles(window(210, 260), window(310, 360)) === 0L)
  }

  test("a second same-shape SQL UPDATE / DELETE compiles nothing") {
    val dir = buildLake("param_dml")
    def update(lo: Long) = () => {
      val r = spark.sql(s"UPDATE param_dml SET vc = vc + 7 " +
        s"WHERE id BETWEEN $lo AND ${lo + 10}").collect().head
      assert(r.getLong(2) === 11L)
    }
    update(10)()
    assert(fewestCompiles(update(110), update(210)) === 0L)
    // after the updates vc = 3 id + 7 on ids 10..20, 110..120, 210..220
    def delete(lo: Long, m: Int) = () => {
      val expected = (lo to lo + 50).count(id => Math.floorMod(id * 3L, 10L) == m)
      val r = spark.sql(s"DELETE FROM param_dml WHERE id BETWEEN $lo AND " +
        s"${lo + 50} AND pmod(vc, 10) = $m").collect().head
      assert(r.getLong(3) === expected.toLong)
    }
    delete(30, 3)()
    assert(fewestCompiles(delete(130, 4), delete(330, 5)) === 0L)
    assert(LakeSink.readTable(spark, dir).count() === 400L - 3 * 5L)
  }
}
