package graft.sources

import graft.{QueryDef, Scratch, Tables}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Producer side of the `graft-kinesis-file` seam: batch-encode the
  * events table into the Kinesis put_record envelope (shard = hash of
  * the partition key, sequence number, base64 JSON payload), one
  * ordered text file per shard — the fixture
  * [[KinesisFileProvider]] replays shard-by-shard.
  *
  * The writer is distributed (repartition by shard + within-partition
  * sort, one writer task per shard — no driver collect), but targets a
  * LOCAL directory: it exists to manufacture test/bench fixtures in
  * local mode, not to be a production sink. require()s document the
  * envelope invariants the source depends on (non-negative sequence
  * numbers, tab-free fields).
  */
object KinesisFixture {

  /** Payload schema riding inside `data` (base64 JSON), exact-integer
    * fields only — SURVEY.md §5 determinism rules. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("ts_us", LongType),
    StructField("event_type", StringType),
    StructField("cents", LongType)))

  def writeEnvelopeFixture(s: SparkSession, sfDir: String, outDir: String,
      nShards: Int): Unit = {
    val d = new java.io.File(outDir)
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    val env = Tables.events(s, sfDir).select(
      concat(lit("shard-"), (col("user_id") % nShards).cast("string")).as("shard"),
      col("event_id").as("seq"),
      col("user_id").cast("string").as("pk"),
      // Spark's base64() is the RFC-2045 MIME codec: it inserts \r\n
      // every 76 chars, which would split an envelope line — strip the
      // chunking (unbase64 decodes unchunked input fine)
      regexp_replace(base64(to_json(struct(
        unix_micros(col("ts")).as("ts_us"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")))
        .cast("binary")), "[\\r\\n]", "").as("data"))
    env.repartition(nShards, col("shard")).sortWithinPartitions("shard", "seq")
      .foreachPartition { (it: Iterator[Row]) =>
        // Each shard file is written under a name the source does not
        // list and renamed into place once complete: a published
        // envelope file is immutable (see KinesisFileProvider).
        def tmpOf(shard: String) = new java.io.File(outDir, s"$shard.txt.tmp")
        var w: java.io.PrintWriter = null
        var cur: String = null
        def publish(): Unit = if (w != null) {
          w.close(); w = null
          java.nio.file.Files.move(tmpOf(cur).toPath,
            new java.io.File(outDir, s"$cur.txt").toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        try {
          it.foreach { r =>
            val shard = r.getString(0)
            val seq = r.getLong(1)
            require(seq >= 0, s"envelope sequence numbers must be >= 0, got $seq")
            require(!r.getString(3).exists(c => c == '\t' || c == '\n' || c == '\r'),
              s"envelope data must be line-safe base64 (seq $seq)")
            if (shard != cur) {
              publish()
              cur = shard
              w = new java.io.PrintWriter(tmpOf(shard), "UTF-8")
            }
            w.println(s"$shard\t$seq\t${r.getString(2)}\t${r.getString(3)}")
          }
          publish()
        } finally if (w != null) w.close()
      }
  }

  /** STREAMING SOURCE, oracle-checked: encode events into the envelope
    * fixture, read it back through the DSv2 `graft-kinesis-file`
    * source (BATCH_READ capability — the same scan/reader classes the
    * micro-batch path uses), decode the payload, and aggregate
    * per-shard per-type consumer totals. The DuckDB oracle computes
    * the identical totals straight from events.parquet, so a decode
    * slip, a dropped/duplicated record, or a shard-routing bug all
    * hash-mismatch. The restart/rate-limit/resharding semantics of the
    * micro-batch path are pinned by StreamingSpec. */
  private val sourceKinesisDsv2 = QueryDef(
    "source_kinesis_dsv2",
    (s, d) => {
      val dir = Scratch.tmpPath("graft_kinesis_env", d)
      writeEnvelopeFixture(s, d, dir, nShards = 4)
      s.read.format("graft-kinesis-file").load(dir)
        .select(col("shard"), col("sequence_number"),
          from_json(unbase64(col("data")).cast("string"), payloadSchema).as("p"))
        .groupBy(col("shard"), col("p.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("p.cents")).as("sum_cents"),
          max(col("sequence_number")).as("max_seq"),
          max(col("p.ts_us")).as("max_ts_us"))
        .orderBy("shard", "event_type")
    },
    Some("""SELECT 'shard-' || CAST(user_id % 4 AS VARCHAR) AS shard,
              event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
              CAST(max(event_id) AS BIGINT) AS max_seq,
              CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  val defs: Seq[QueryDef] = Seq(sourceKinesisDsv2)
}
