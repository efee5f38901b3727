package graftbench

import java.io.File

import scala.collection.mutable

import graft.streaming.{LakeCatalog, LakeSink}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A CDC-apply cycle on the lake protocol, issued as SQL text against a
  * registered merge-on-read table so `graft.plans` dispatch is on the
  * path. Each cycle runs a star MERGE (→ `mergeInto`) over 1% of the
  * keys plus fresh inserts, a clause MERGE with a conditional DELETE
  * (→ `mergeClauses`), one UPDATE and one DELETE, each followed by a
  * stats-pruned read, then two more reads, and ends with `compact` (preceded by `purgeDv` when
  * merge-on-read is on), so every cycle starts from the same table shape. Inserts and deletes balance, so the
  * table size stays stationary. Every receipt and read is compared with
  * an in-memory model, and the whole table with it at the end. */
final class LakeUpsert(spark: SparkSession, seed: Long, work: File,
    perturb: Boolean, mor: Boolean) extends Workload {
  val name = "lake_upsert"

  private val Rows = 20000L // the sf0.02 events table
  private val Segments = 8
  private val StarKeys = 200 // 1% of the table
  private val Inserts = 20
  private val ClauseKeys = 20
  private val DmlRange = 200 // ids an UPDATE or DELETE predicate spans
  private val ReadRange = 1000 // ids a range read spans
  // Merge-on-read is opt-in (`mor`): with deletion vectors on, a DML
  // whose matches lie in post-image segments that an earlier MoR DML
  // wrote in one job (they share parquet file names) also deletes rows
  // of the sibling segments — the table-equals-model gate fails. The
  // default cycle is copy-on-write until the engine keys DVs uniquely.
  private val DvMaxFraction = if (mor) 0.5 else 0.0
  private val dir = new File(work, "lake").getPath
  private val files = new LakeFiles(dir)

  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("event_type", StringType), StructField("vc", LongType)))

  // the model: live rows plus an index for uniform key draws
  private val model = mutable.HashMap.empty[Long, (String, Long)]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  private var nextKey = Rows

  private def put(k: Long, v: (String, Long)): Unit = {
    if (!model.contains(k)) { pos(k) = keys.size; keys += k }
    model(k) = v
  }
  private def remove(k: Long): Unit = if (model.remove(k).isDefined) {
    val i = pos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; pos(last) = i }
  }
  private def draw(r: scala.util.Random, n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += keys(r.nextInt(keys.size))
    s.toSeq
  }

  def setup(): Unit = {
    val ev = DataGen.events(spark, Rows, 1500, seed).select(col("event_id"),
      col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
    ev.collect().foreach(r => put(r.getLong(0), (r.getString(1), r.getLong(2))))
    LakeSink.createTable(dir, schema)
    val per = Rows / Segments
    (0 until Segments).foreach { i =>
      LakeSink.appendSegment(spark, dir,
        ev.filter(col("event_id") >= i * per && col("event_id") < (i + 1) * per),
        s"seg_s$i")
    }
    LakeSink.analyzeTable(spark, dir, Seq("event_id", "event_type"))
    LakeCatalog.register("ups", dir, dvMaxFraction = DvMaxFraction)
  }

  private def view(name: String, rows: Seq[Row], st: StructType): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), st)
      .createOrReplaceTempView(name)

  /** A write verb issued as SQL; `expect` is the receipt the model
    * predicts, compared with what the engine returned. */
  private def write(kind: String, layer: String, sql: String,
      expect: Seq[Long], receiptCols: Seq[Int], rewrittenCol: Int): Op =
    Op(kind, layer, primary = true, read = false, () => {
      val got = spark.sql(sql).collect()
      () => {
        Gate.check(got.length == 1, s"$kind returned ${got.length} receipt rows")
        val r = got.head
        val seen = receiptCols.map(i => r.getAs[Number](i).longValue())
        Gate.check(seen == expect, s"$kind receipt $seen, model expects $expect")
        traceWrite(r.getAs[Number](rewrittenCol).longValue())
      }
    })

  private def traceWrite(rewritten: Long): Unit = if (Current.traced) {
    val m = Current.time("lake.manifest_read_ms")(LakeSink.readManifest(dir))
    Current.add("lake.commits", (m.version - files.lastVersion).toDouble)
    files.lastVersion = m.version
    Current.add("lake.segments_rewritten", rewritten.toDouble)
    Current.add("lake.bytes_written", files.newBytes().toDouble)
  }

  private def maintenance(kind: String, body: () => (Long, Int)): Op =
    Op(kind, s"LakeSink.$kind", primary = true, read = false, () => {
      val (_, n) = body()
      () => {
        if (kind == "purgeDv")
          Gate.check(LakeSink.readManifest(dir).dv.isEmpty, "purgeDv left deletion vectors")
        traceWrite(n.toLong)
      }
    })

  /** (rows, sum vc, sum event_id) over model rows matching `p`. */
  private def agg(p: (Long, String, Long) => Boolean): (Long, Long, Long) = {
    var n = 0L; var v = 0L; var k = 0L
    model.foreach { case (id, (t, vc)) => if (p(id, t, vc)) { n += 1; v += vc; k += id } }
    (n, v, k)
  }

  private var cycleNo = 0
  private var readsInCycle = 0
  private def read(kind: String, fetch: () => (org.apache.spark.sql.DataFrame, Seq[String], Int),
      expect: (Long, Long, Long)): Op =
    Op(kind, s"LakeSink.${if (kind == "read_eq") "readTableWhereEq" else "readTableWhere"}",
      primary = false, read = true, () => {
        val (df, scanned, total) = fetch()
        val r = df.agg(count(lit(1)), coalesce(sum("vc"), lit(0L)),
          coalesce(sum("event_id"), lit(0L))).head()
        () => {
          readsInCycle += 1
          val bad = perturb && perturbed(cycleNo) && readsInCycle == 1
          val got = (r.getLong(0) + (if (bad) 1 else 0),
            r.getLong(1), r.getLong(2))
          Gate.check(got == expect, s"$kind (rows, sum vc, sum id) $got, model $expect")
          if (Current.traced) {
            Current.add("lake.read_segments_scanned", scanned.size.toDouble)
            Current.add("lake.read_segments_total", total.toDouble)
            Current.add("lake.read_files_scanned",
              scanned.map(LakeSink.segmentFileCount(dir, _)).sum.toDouble)
          }
        }
      })

  private def dml(r: scala.util.Random): Seq[() => Op] = Seq(
    () => {
      val upd = draw(r, StarKeys)
      val ins = (0 until Inserts).map(i => nextKey + i)
      nextKey += Inserts
      val rows = (upd ++ ins).map(k =>
        Row(k, DataGen.EventTypes(r.nextInt(5)), r.nextInt(56022).toLong))
      rows.foreach(x => put(x.getLong(0), (x.getString(1), x.getLong(2))))
      view("src_star", rows, schema)
      write("merge_star", "plans.sql→LakeSink.mergeInto",
        "MERGE INTO ups t USING src_star s ON t.event_id = s.event_id " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        Seq(upd.size.toLong, ins.size.toLong), Seq(2, 3), 1)
    },
    () => {
      val hit = draw(r, 2 * ClauseKeys)
      val (del, upd) = hit.splitAt(ClauseKeys)
      val ins = (0 until ClauseKeys).map(i => nextKey + i)
      nextKey += ClauseKeys
      def row(k: Long, op: String) =
        Row(k, DataGen.EventTypes(r.nextInt(5)), r.nextInt(56022).toLong, op)
      val rows = del.map(row(_, "D")) ++ upd.map(row(_, "U")) ++ ins.map(row(_, "I"))
      rows.foreach { x =>
        val k = x.getLong(0)
        x.getString(3) match {
          case "D" => remove(k)
          case "U" => put(k, (model(k)._1, x.getLong(2)))
          case _ => put(k, (x.getString(1), x.getLong(2)))
        }
      }
      view("src_clause", rows, schema.add("op", StringType))
      write("merge_clause", "plans.sql→LakeSink.mergeClauses",
        "MERGE INTO ups t USING src_clause s ON t.event_id = s.event_id " +
          "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET vc = s.vc " +
          "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (event_id, event_type, vc) " +
          "VALUES (s.event_id, s.event_type, s.vc)",
        Seq(upd.size.toLong, del.size.toLong, ins.size.toLong), Seq(2, 3, 4), 1)
    },
    () => {
      val lo = r.nextInt((Rows - DmlRange).toInt).toLong
      val hi = lo + DmlRange - 1
      val t = DataGen.EventTypes(r.nextInt(5))
      val hit = model.collect { case (k, (tt, _)) if k >= lo && k <= hi && tt == t => k }
      hit.foreach(k => put(k, (t, model(k)._2 + 7)))
      write("update", "plans.sql→LakeSink.updateWhere",
        s"UPDATE ups SET vc = vc + 7 WHERE event_id BETWEEN $lo AND $hi " +
          s"AND event_type = '$t'", Seq(hit.size.toLong), Seq(2), 1)
    },
    () => {
      val lo = r.nextInt((Rows - DmlRange).toInt).toLong
      val hi = lo + DmlRange - 1
      val m = r.nextInt(10)
      val hit = model.collect { case (k, (_, vc)) if k >= lo && k <= hi &&
        Math.floorMod(vc, 10L) == m => k }.toSeq
      hit.foreach(remove)
      write("delete", "plans.sql→LakeSink.deleteWhere",
        s"DELETE FROM ups WHERE event_id BETWEEN $lo AND $hi AND pmod(vc, 10) = $m",
        Seq(hit.size.toLong), Seq(3), 1)
    })

  /** A read after each write, then two more: 6 reads per cycle. */
  private def reads(r: scala.util.Random): Seq[() => Op] = Seq(
    () => {
      val lo = nextKey - 2 * (Inserts + ClauseKeys)
      read("read_range", () => LakeSink.readTableWhere(spark, dir, "event_id", lo, nextKey),
        agg((k, _, _) => k >= lo))
    },
    () => eqRead(r), () => rangeRead(r), () => rangeRead(r), () => eqRead(r),
    () => rangeRead(r))

  private def eqRead(r: scala.util.Random): Op = {
    val t = DataGen.EventTypes(r.nextInt(5))
    read("read_eq", () => LakeSink.readTableWhereEq(spark, dir, "event_type", t),
      agg((_, tt, _) => tt == t))
  }

  private def rangeRead(r: scala.util.Random): Op = {
    val lo = r.nextInt((Rows - ReadRange).toInt).toLong
    val hi = lo + ReadRange - 1
    read("read_range", () => LakeSink.readTableWhere(spark, dir, "event_id", lo, hi),
      agg((k, _, _) => k >= lo && k <= hi))
  }

  def cycle(c: Int): Iterator[Op] = {
    val r = new scala.util.Random(seed * 7919L + c)
    cycleNo = c; readsInCycle = 0
    val purge =
      if (mor) Seq(() => maintenance("purgeDv", () => LakeSink.purgeDv(spark, dir))) else Nil
    val (w, rd) = (dml(r), reads(r))
    (w.zip(rd.take(w.size)).flatMap { case (x, y) => Seq(x, y) } ++ rd.drop(w.size) ++
      purge ++ Seq(
      () => maintenance("compact", () => LakeSink.compact(spark, dir, targetFiles = 2))))
      .iterator.map(_())
  }

  private var liveRows = 0L

  def endGates(): Seq[(String, Option[String])] = {
    val got = LakeSink.readTable(spark, dir).select("event_id", "event_type", "vc")
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2)))
    liveRows = got.length
    val table = got.toMap
    val seen = if (perturb) table - table.keys.head else table
    val missing = model.keys.count(k => !seen.get(k).contains(model(k)))
    Seq(
      "lake_upsert.no_duplicate_keys" -> Option.when(table.size != got.length)(
        s"${got.length - table.size} duplicate keys in the table"),
      "lake_upsert.table_equals_model" -> Option.when(seen.size != model.size || missing > 0)(
        s"table has ${seen.size} rows, model ${model.size}; $missing model rows differ"))
  }

  override def beginTrace(): Unit = files.reset()

  override def endFacts(): Map[String, Double] = LakeFiles.facts(dir, liveRows)

  def close(): Unit = LakeCatalog.unregister("ups")
}
