package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

/** Read-only analytics: oracle-backed queries from `SparkEntry.queries`,
  * stratified over the relational/SQL, analytic, event and LLM text and
  * vector operators. It touches neither the Kinesis source nor any lake
  * verb, so it is the workload that must not move when those change.
  *
  * The tables are generated at sf 0.05 from a fixed data seed, so every
  * result has a recorded digest; the run seed only shuffles the order of
  * each whole pass. One cycle = one pass over every query. */
final class QueryMix(spark: SparkSession, seed: Long, work: File,
    perturb: Boolean, digestFile: String) extends Workload {
  val name = "query_mix"

  private val dataDir = new File(work, "data").getPath
  private val expected: Map[String, String] =
    if (!Files.isRegularFile(Paths.get(digestFile))) Map.empty
    else Files.readAllLines(Paths.get(digestFile)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(f => f(0) -> f(2)).toMap

  def setup(): Unit =
    DataGen.writeTables(spark, dataDir, QueryMix.Scale, QueryMix.DataSeed)

  def cycle(c: Int): Iterator[Op] =
    new scala.util.Random(seed * 31L + c).shuffle(QueryMix.Queries).iterator.map { q =>
      Op(q, "SparkEntry.queries", primary = true, read = true, () => {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dataDir)
        val t1 = System.nanoTime()
        val rows = df.collect()
        Current.add("query.build_ms", (t1 - t0) / 1e6)
        Current.add("query.action_ms", (System.nanoTime() - t1) / 1e6)
        () => {
          val shown = if (perturb && perturbed(c) && q == QueryMix.Queries.head) rows.drop(1) else rows
          val d = QueryMix.digest(shown)
          Gate.check(expected.get(q).contains(d), s"$q: digest $d of ${shown.length} " +
            s"rows, recorded ${expected.getOrElse(q, "none")}")
        }
      })
    }

  def endGates(): Seq[(String, Option[String])] = Nil

  def close(): Unit = ()
}

object QueryMix {
  val Scale = 0.05
  val DataSeed = 42L

  /** The mix, stratified by operator family. */
  val Queries: Seq[String] = Seq(
    // operators.Relational / SqlSurface
    "join_semi", "agg_having", "set_intersect", "sql_tpch_q3", "sql_tpch_q6",
    "sql_tpch_q13", "sql_tpch_q21", "subquery_exists",
    // operators.Analytic
    "win_rank", "win_lag_lead", "topk_per_group", "agg_mode",
    // operators.EventOps
    "agg_pivot", "funnel_conversion", "cohort_retention", "agg_arg_minmax",
    // llm.TextOps / VectorOps
    "llm_token_count", "llm_dedup_exact", "llm_quality_score", "llm_cosine_topk")

  /** Order-sensitive digest of a result: every query in the mix ends in a
    * total ORDER BY. Doubles are rendered to 12 significant digits. */
  def digest(rows: Array[Row]): String = {
    def one(v: Any): String = v match {
      case null => "NULL"
      case d: Double => java.math.BigDecimal.valueOf(d)
        .round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString
      case f: Float => one(f.toDouble)
      case r: Row => r.toSeq.map(one).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(one).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => one(k) + "->" + one(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case t: java.sql.Timestamp => t.toInstant.toString
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((one(r) + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(x => f"$x%02x").mkString.take(16)
  }

  /** Runs each query twice on freshly generated tables and writes
    * `name<TAB>rows<TAB>digest` lines, dropping a query whose two results
    * differ. `names` (default: the mix) lets a candidate list be timed
    * when choosing the mix. */
  def record(spark: SparkSession, work: File, out: String, names: Seq[String]): Unit = {
    val dir = new File(work, "data").getPath
    DataGen.writeTables(spark, dir, Scale, DataSeed)
    val lines = names.flatMap { q =>
      def once(): (Array[Row], Double) = {
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(q)(spark, dir).collect()
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      try {
        val (a, _) = once(); val (b, secs) = once()
        val (da, db) = (digest(a), digest(b))
        require(da == db, s"$q is not deterministic: $da vs $db")
        System.err.println(f"[record] $q%-28s ${a.length}%7d rows $secs%7.3f s")
        Some(s"$q\t${a.length}\t$da")
      } catch {
        case e: Exception =>
          System.err.println(s"[record] $q failed: ${e.getMessage.take(200)}")
          None
      }
    }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
