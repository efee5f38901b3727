package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import graft.sources.KinesisFixture
import graft.streaming.LakeSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The paper's consumer loop: a producer appends Kinesis envelope records
  * to a 4-shard stream with a deep history, the `graft-kinesis-file`
  * micro-batch source admits them, and `LakeSink.startCompactingIngest`
  * commits them to a lake; a dashboard then reads the step's event-time
  * window back through the stats-pruned reader.
  *
  * Cycle c = one step: append `StepRecords` records (Zipf-skewed keys, so
  * shards are skewed) as a new file and wait for the commit (op `step`,
  * the primary op), then read that step's window grouped by event type
  * and compare it with the producer's aggregates (op `read`). A run adds
  * a few percent to the history, so per-trigger cost stays stationary. */
final class KinesisTail(spark: SparkSession, seed: Long, work: File,
    traced: Boolean, perturb: Boolean) extends Workload {
  val name = "kinesis_tail"

  private val Shards = 4
  private val History = 10000L // the sf0.01 events table
  private val Users = 1500
  private val StepRecords = 50
  private val MaxPerShardPerBatch = 1500L
  private val HistoryStartUs = 1704067200000000L
  private val StepUs = 60L * 1000000L
  private val StepsStartUs = HistoryStartUs + 31L * 86400L * 1000000L

  private val envDir = new File(work, "envelope").getPath
  private val lakeDir = new File(work, "lake").getPath
  private var query: StreamingQuery = _

  // producer-side model
  private val tip = mutable.Map.empty[String, Long]
  private var produced = 0L
  private var consumed = 0L
  private var lastBatch = -1L
  private val files = new LakeFiles(lakeDir)

  private val zipfCdf: Array[Double] = {
    val w = (1 to Users).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def setup(): Unit = {
    val dataDir = new File(work, "data").getPath
    DataGen.events(spark, History, Users, seed)
      .write.parquet(s"$dataDir/events.parquet")
    KinesisFixture.writeEnvelopeFixture(spark, dataDir, envDir, Shards)
    Log.phase("envelope written")
    spark.read.parquet(s"$dataDir/events.parquet")
      .groupBy((col("user_id") % Shards).as("s")).agg(max("event_id"))
      .collect().foreach(r => tip(s"shard-${r.getLong(0)}") = r.getLong(1))
    produced = History
    val format =
      if (traced) classOf[TracedKinesisProvider].getName else "graft-kinesis-file"
    val decoded = spark.readStream.format(format)
      .option("maxRecordsPerShardPerBatch", MaxPerShardPerBatch)
      .load(envDir)
      .select(col("shard"), col("sequence_number"),
        from_json(unbase64(col("data")).cast("string"),
          KinesisFixture.payloadSchema).as("p"))
      .select(col("shard"), col("sequence_number"), col("p.ts_us").as("ts_us"),
        col("p.event_type").as("event_type"), col("p.cents").as("cents"))
    query = LakeSink.startCompactingIngest(decoded, lakeDir,
      new File(work, "checkpoints/kinesis").getPath, statsCols = Seq("ts_us"))
    query.processAllAvailable() // drains the history in capped batches
    noteConsumed()
  }

  private def noteConsumed(): Unit =
    query.recentProgress.filter(_.batchId > lastBatch).foreach { p =>
      consumed += p.numInputRows; lastBatch = p.batchId
    }

  private def zipfUser(r: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(Users - 1, if (i >= 0) i else -i - 1)
  }

  private final case class Rec(shard: String, seq: Long, user: Int,
      tsUs: Long, eventType: String, cents: Long)

  def cycle(c: Int): Iterator[Op] = {
    val r = new scala.util.Random(seed * 1000003L + c)
    val lo = StepsStartUs + c * StepUs
    val hi = lo + StepUs - 1
    val recs = (0 until StepRecords).map { j =>
      val u = zipfUser(r)
      Rec(s"shard-${u % Shards}", History + c.toLong * StepRecords + j, u,
        lo + j * (StepUs / StepRecords), DataGen.EventTypes(r.nextInt(5)),
        r.nextInt(56022).toLong)
    }
    val expected = recs.groupBy(_.eventType).map { case (t, rs) =>
      t -> (rs.size.toLong, rs.map(_.cents).sum) }

    val step = Op("step", "sources+stream+lake.ingest", primary = true, read = false,
      () => {
        append(c, recs)
        val lag = produced - consumed
        query.processAllAvailable()
        () => {
          Gate.check(query.exception.isEmpty, s"stream failed: ${query.exception}")
          noteConsumed()
          if (Current.traced) {
            Current.add("sources.lag_records", lag.toDouble)
            val m = Current.time("lake.manifest_read_ms")(LakeSink.readManifest(lakeDir))
            Current.add("lake.commits", (m.version - files.lastVersion).toDouble)
            files.lastVersion = m.version
            Current.add("lake.bytes_written", files.newBytes().toDouble)
          }
        }
      })

    val read = Op("read", "lake.readTableWhere", primary = false, read = true,
      () => {
        val (df, scanned, total) = LakeSink.readTableWhere(spark, lakeDir, "ts_us", lo, hi)
        val rows = df.groupBy("event_type").agg(count(lit(1)), sum("cents")).collect()
        () => {
          val got = rows.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
          val seen = if (perturb && perturbed(c)) got.map { case (t, (n, s)) => t -> (n + 1, s) }
            else got
          Gate.check(seen == expected,
            s"step $c window [$lo,$hi]: read $seen, producer wrote $expected")
          if (Current.traced) {
            Current.add("lake.read_segments_scanned", scanned.size.toDouble)
            Current.add("lake.read_segments_total", total.toDouble)
            Current.add("lake.read_files_scanned",
              scanned.map(LakeSink.segmentFileCount(lakeDir, _)).sum.toDouble)
          }
        }
      })
    Iterator(step, read)
  }

  /** Producer: one new envelope file per step, published by an atomic
    * rename so the source never sees a partial file. */
  private def append(c: Int, recs: Seq[Rec]): Unit = {
    val enc = java.util.Base64.getEncoder
    val body = recs.map { x =>
      val json = s"""{"ts_us":${x.tsUs},"event_type":"${x.eventType}","cents":${x.cents}}"""
      s"${x.shard}\t${x.seq}\t${x.user}\t" +
        enc.encodeToString(json.getBytes(StandardCharsets.UTF_8))
    }.mkString("", "\n", "\n")
    val tmp = new File(envDir, f"step-$c%06d.tmp").toPath
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, new File(envDir, f"step-$c%06d.txt").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    recs.foreach(x => tip(x.shard) = math.max(tip.getOrElse(x.shard, -1L), x.seq))
    produced += recs.size
  }

  private var liveRows = 0L

  def endGates(): Seq[(String, Option[String])] = {
    query.processAllAvailable()
    val rows = LakeSink.readTable(spark, lakeDir)
      .groupBy("shard").agg(count(lit(1)).as("n"),
        countDistinct("sequence_number").as("d"), max("sequence_number").as("tip"))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    val n = rows.values.map(_._1).sum + (if (perturb) 1 else 0)
    val distinct = rows.values.map(_._2).sum
    val tips = rows.map { case (s, v) => s -> v._3 }
    liveRows = n
    Seq(
      "kinesis_tail.no_loss" -> Option.when(distinct != produced)(
        s"lake holds $distinct distinct (shard, sequence_number), producer wrote $produced"),
      "kinesis_tail.no_duplicates" -> Option.when(n != distinct)(
        s"lake holds $n rows for $distinct distinct (shard, sequence_number)"),
      "kinesis_tail.tip_equality" -> Option.when(tips != tip.toMap)(
        s"per-shard max sequence $tips, producer tips ${tip.toMap}"))
  }

  override def beginTrace(): Unit = files.reset()

  override def endFacts(): Map[String, Double] = LakeFiles.facts(lakeDir, liveRows)

  def close(): Unit = if (query != null) query.stop()
}
