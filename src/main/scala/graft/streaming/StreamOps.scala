package graft.streaming

import graft.operators.EventOps.{statefulFold, Event, UserStats}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming pipelines (SURVEY.md §2h, §3).
  *
  * These are the SAME transformations the batch-oracle queries in
  * `graft.operators.EventOps` run — Structured Streaming's
  * batch/stream unification is the test seam: batch results are
  * DuckDB-verified, and StreamingSpec drives these incremental
  * versions through MemoryStream asserting watermark drops, late-data
  * handling and state evolution.
  *
  * Kinesis mapping (reference class): `spark.readStream` replaces the
  * get_shard_iterator/get_records consumer loop; `checkpointLocation`
  * replaces sequence-number checkpointing (exactly-once); shard ≈
  * partition; `withWatermark` bounds consumer lag-induced lateness.
  * No Kinesis connector jar ships in this container, so sources here
  * are MemoryStream/file — the pipeline code is source-agnostic.
  */
object StreamOps {

  /** Tumbling 1h event-time counts with a 10-minute watermark:
    * state for a window is evicted once the watermark passes its end —
    * bounded state at any throughput. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1h/30m windowed sums. */
  def slidingSums(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Gap-based 30-minute session windows per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sess_start"), col("user_id"), col("n"))

  /** At-least-once consumer dedup on the record id, state bounded by
    * the watermark (the Kinesis resharding/retry story). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Arbitrary per-user running state — the same fold as the
    * batch-oracle `stream_stateful` query, run incrementally. */
  def statefulUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    implicit val statsEnc = Encoders.product[UserStats]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(statefulFold)
  }

  /** Spark 4 transformWithState seam: per-user running (count, cents)
    * via an explicit ValueState — the successor API to
    * flatMapGroupsWithState, with typed state handles and TTL support.
    * Requires the RocksDB state store provider (bundled).
    *
    * `ttl` is the state's eviction policy: with `TTLConfig.NONE` the
    * totals live forever (the batch-parity demo); with a real duration
    * (and `TimeMode.ProcessingTime`) a key idle longer than the TTL is
    * evicted and its totals restart — the bounded-state guarantee a
    * 100 TB deployment needs for an unbounded key space (proven in
    * StreamingSpec "state TTL evicts idle keys"). */
  class RunningTotalsProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        ttl)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val (n0, c0) = if (totals.exists()) totals.get() else (0L, 0L)
      val (n, c) = rows.foldLeft((n0, c0)) { case ((an, ac), e) =>
        (an + 1, ac + math.round(e.value * 100))
      }
      totals.update((n, c))
      Iterator.single((userId, n, c))
    }
  }

  /** transformWithState pipeline over the event stream. */
  def runningTotals(events: Dataset[Event]): Dataset[(Long, Long, Long)] = {
    implicit val outEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** TTL variant: totals for a key idle longer than `ttl` are evicted
    * (TTL is processing-time based, hence `TimeMode.ProcessingTime`). */
  def runningTotalsWithTtl(
      events: Dataset[Event], ttl: java.time.Duration): Dataset[(Long, Long, Long)] = {
    implicit val outEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(TTLConfig(ttl)),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** STATE SCHEMA EVOLUTION pair (the streaming analog of the lake's
    * additive column evolution): V1 state carries (n, cents); V2 adds
    * an `Option[Long]` max-cents field. Under the AVRO state encoding
    * (`spark.sql.streaming.stateStore.encodingFormat=avro`, RocksDB
    * provider) a checkpointed V1 query RESTARTS as V2 in place:
    * existing state rows decode with the added field as None (Avro
    * add-field-with-null-default evolution), totals continue from the
    * V1 numbers, and the new field starts accumulating — no state
    * rebuild, no reprocessing of history. At 100 TB of state that is
    * the difference between a config change and a multi-day backfill.
    * Proven by restart in StreamingSpec ("state schema evolution"). */
  final case class TotalsV1(n: Long, cents: Long)
  final case class TotalsV2(n: Long, cents: Long, maxCents: Option[Long])

  class EvolvingTotalsProcessor
      extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    @transient private var totals: ValueState[TotalsV1] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[TotalsV1](
        "etotals", Encoders.product[TotalsV1], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val st0 = if (totals.exists()) totals.get() else TotalsV1(0L, 0L)
      val st = rows.foldLeft(st0) { (acc, e) =>
        TotalsV1(acc.n + 1, acc.cents + math.round(e.value * 100)) }
      totals.update(st)
      Iterator.single((userId, st.n, st.cents))
    }
  }

  /** The evolved processor: SAME state name ("etotals"), widened state
    * type. `maxCents` surfaces as -1 until the key sees its first
    * post-evolution event (None in state). */
  class EvolvingTotalsProcessorV2
      extends StatefulProcessor[Long, Event, (Long, Long, Long, Long)] {
    @transient private var totals: ValueState[TotalsV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[TotalsV2](
        "etotals", Encoders.product[TotalsV2], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val st0 = if (totals.exists()) totals.get()
        else TotalsV2(0L, 0L, None)
      val st = rows.foldLeft(st0) { (acc, e) =>
        val c = math.round(e.value * 100)
        TotalsV2(acc.n + 1, acc.cents + c,
          Some(math.max(acc.maxCents.getOrElse(Long.MinValue), c))) }
      totals.update(st)
      Iterator.single((userId, st.n, st.cents,
        st.maxCents.getOrElse(-1L)))
    }
  }

  def evolvingTotals(events: Dataset[Event]): Dataset[(Long, Long, Long)] = {
    implicit val outEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .transformWithState(new EvolvingTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  def evolvingTotalsV2(
      events: Dataset[Event]): Dataset[(Long, Long, Long, Long)] = {
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .transformWithState(new EvolvingTotalsProcessorV2,
        TimeMode.None(), OutputMode.Update())
  }

  /** Event-time session close-out via transformWithState TIMERS: each
    * input row re-arms a per-user timer at (last event ts + gap); when
    * the watermark passes it, `handleExpiredTimer` fires, the finished
    * session (user, n_events) is emitted and the state is CLEARED —
    * i.e. eviction is driven by event time, not by processing-time
    * TTL. This is the session_window semantics rebuilt on raw timers,
    * and the proof that the Spark-4 stateful API's timer surface works
    * end-to-end (StreamingSpec "event-time timers close sessions"). */
  class SessionCloseProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, (Long, Long)] {
    @transient private var sess: ValueState[(Long, Long)] = _ // (n, lastTsMs)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long)](
        "session",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val (n0, last0) = if (sess.exists()) sess.get() else (0L, 0L)
      var n = n0; var last = last0
      rows.foreach { e => n += 1; last = math.max(last, e.ts.getTime) }
      if (last0 > 0L) getHandle.deleteTimer(last0 + gapMs) // re-arm
      sess.update((n, last))
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val out =
        if (sess.exists()) Iterator.single((userId, sess.get()._1))
        else Iterator.empty
      sess.clear() // event-time eviction: nothing outlives its session
      out
    }
  }

  /** Timer-driven session counts (close a user's session once the
    * watermark passes last-event + gap). */
  def sessionCloseCounts(
      events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"): Dataset[(Long, Long)] = {
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc = Encoders.scalaLong
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Incremental LLM-data pipeline — the §2i batch ops composed with
    * §2h streaming primitives: watermarked document stream → exact
    * dedup on the content digest within the watermark (the streaming
    * twin of `llm_dedup_exact`: only the 16-byte md5 is state, bounded
    * by the watermark) → quality gate (same integer token stats as
    * `llm_quality_score`). Source-agnostic; at 100 TB this runs
    * unchanged on a Kinesis/Kafka reader. */
  def streamingDocPipeline(
      docs: DataFrame, minTokens: Long = 3, maxStopRatio: Double = 0.5): DataFrame =
    docs
      .withWatermark("ts", "10 minutes")
      .withColumn("content_md5", md5(col("text")))
      .dropDuplicatesWithinWatermark("content_md5")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        expr("CAST(size(filter(toks, t -> t = 'the' OR t = 'a')) AS BIGINT)"))
      .filter(col("n_tokens") >= minTokens &&
        col("n_stop").cast("double") / col("n_tokens") <= maxStopRatio)
      .drop("toks")

  /** Incremental NEAR-dup detection — the banded MinHash path run as a
    * stream: signature + band explode are stateless per-doc transforms
    * (same codegen expressions as the batch `llm_dedup_minhash`);
    * candidates come from a WATERMARKED STREAM-STREAM SELF-JOIN on
    * (band, band-hash) with a time constraint, so the join buffers
    * only one watermark-horizon of band keys — bounded state at any
    * throughput, the same banding economics as batch (collisions, not
    * all pairs). Exact-Jaccard verify on collided pairs, then
    * within-watermark pair dedup (a pair colliding in k bands emits
    * once). A doc can only pair with docs inside the watermark
    * horizon — that is the semantic price of streaming dedup, and
    * exactly how production incremental dedup is specified. */
  def streamingNearDupPairs(
      docs: DataFrame, numHashes: Int = 64, bands: Int = 8,
      threshold: Double = 0.5, horizon: String = "10 minutes"): DataFrame = {
    val rows = numHashes / bands
    // each join side is derived INDEPENDENTLY from the source (not a
    // shared sub-plan): Spark's streaming self-join planner cannot
    // handle two watermarks hanging off one deduplicated lineage
    def bandedSide(suffix: String): DataFrame = {
      val sh = graft.llm.DedupApi.withHashedShingles(
        graft.llm.DedupApi.withShingles(docs, "text"), "sh")
      sh.withColumn("__sig",
          graft.functions.TextHashFunctions.minhashSig(col("shs"), numHashes))
        .select(col("doc_id"), col("ts"), col("shs"),
          posexplode(expr(
            s"transform(sequence(0, ${bands - 1}), " +
              s"b -> xxhash64(slice(__sig, b * $rows + 1, $rows)))")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
        .withWatermark("ts", horizon)
        .select(col("doc_id").as("doc_" + suffix), col("ts").as("ts_" + suffix),
          col("shs").as("sh_" + suffix), col("band").as("band_" + suffix),
          col("bh").as("bh_" + suffix))
    }
    val a = bandedSide("a")
    val b = bandedSide("b")
    // NOTE the join condition carries `!=`, not `<`: Spark's streaming
    // state-watermark helper tries to derive bounds from every </> in
    // a stream-stream join condition and internal-errors on non-time
    // attributes; pair order is canonicalized AFTER the join with
    // least/greatest and collapsed by the within-watermark dedup.
    a.join(b,
        expr(s"""band_a = band_b AND bh_a = bh_b AND doc_a != doc_b AND
                 ts_b >= ts_a - INTERVAL $horizon AND
                 ts_b <= ts_a + INTERVAL $horizon"""))
      .withColumn("j", round(
        graft.llm.DedupApi.jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("j") >= threshold)
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"),
        col("j"), col("ts_a"))
      .dropDuplicatesWithinWatermark("lo", "hi")
      .select(col("lo").as("doc_a"), col("hi").as("doc_b"), col("j"))
  }

  /** Exactly-once file output WITHOUT sink transactions: each
    * micro-batch lands at a deterministic `batch=<id>` path with
    * mode=overwrite, so a batch replayed after a failure between the
    * write and the checkpoint commit overwrites its own partial output
    * instead of appending duplicates. `beforeCommit` is a test seam
    * for injecting exactly that failure. The layout doubles as a
    * partitioned table (`batch` becomes a discovered partition
    * column), so downstream readers get idempotent, replay-safe
    * output — the foreachBatch pattern a 100 TB deployment uses for
    * non-transactional stores. */
  def startIdempotentParquet(
      df: DataFrame, outDir: String, checkpointDir: String,
      beforeCommit: Long => Unit = _ => ()): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        beforeCommit(batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Streaming ingest against the PERSISTED dedup ledger — the
    * production composition of §2h streaming and the incremental-dedup
    * ledger: each micro-batch is deduped with
    * [[graft.llm.DedupApi.dedupAgainstLedger]] (exact digest
    * bucket-join → fingerprint candidates → exact-Jaccard verify), its
    * per-doc statuses land idempotently at `batch=<id>`, and accepted
    * docs' keys are appended back so LATER batches see them. Unlike
    * [[streamingNearDupPairs]] there is no watermark horizon: a dup of
    * a doc ingested a month ago is still caught, because the ledger —
    * not join state — carries history, and ledger lookups stay bounded
    * (bucketed joins) no matter how much history accumulates.
    * foreachBatch is the right seam: ledger joins are batch joins
    * against bucketed tables. Failure semantics: the status write is
    * idempotent (overwrite per batchId); the ledger append is
    * at-least-once on replay, which is harmless — duplicate ledger
    * keys cannot change a later verdict (the digest/candidate joins
    * collapse them through min/distinct). */
  def startLedgerIngest(
      docs: DataFrame, idCol: String, textCol: String,
      digTab: String, fpTab: String, setTab: String,
      tag: String, pathFor: String => String,
      outDir: String, checkpointDir: String,
      threshold: Double = 0.6): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val st = graft.llm.DedupApi.dedupAgainstLedger(
          batch.toDF(), idCol, textCol, digTab, fpTab, setTab,
          tag, pathFor, threshold).persist()
        try {
          st.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          graft.llm.DedupApi.appendToLedger(
            batch.toDF(), idCol, textCol, st, digTab, fpTab, setTab)
        } finally { st.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Stream-stream inner join with a time-interval condition: clicks
    * enriched with the purchase that follows within one hour, per
    * user. Both sides are watermarked so Spark can bound the join
    * state buffers — unbounded stream-stream joins are the classic
    * streaming OOM at scale; the interval + watermarks make state
    * eviction provable. */
  def streamStreamEnrich(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("c_user") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
  }

  /** Stream-stream LEFT OUTER interval join: like
    * [[streamStreamEnrich]] but unmatched clicks are NOT dropped —
    * they emit with NULL purchase columns once the watermark passes
    * the end of their match window, i.e. once the engine can PROVE no
    * purchase can still arrive. This is the semantics that makes
    * outer joins hard in streams: the null result is a statement
    * about the future, so it can only be emitted when event time has
    * provably moved past the band. State stays bounded by the same
    * watermark that licenses the null emission. */
  def streamStreamLeftOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("c_user") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
  }

  /** Stream-STATIC enrichment join: each micro-batch of events joins
    * a static (bounded) dimension — no watermark needed, because the
    * static side never grows and holds no state between batches; the
    * dimension broadcasts to every task, so the stream side never
    * shuffles. This is the Kinesis consumer's reference-data lookup
    * (user profile, device registry) done the Spark way: re-planned
    * per batch, so a refreshed dimension snapshot is picked up on
    * restart without touching the checkpoint. */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim(dimKey))

  /** Streaming ANN SERVING against the persisted IVF index — the
    * §2h × §2i composition an embedding-retrieval deployment runs: a
    * stream of query vectors (q_id, q_emb) is answered per micro-batch
    * by [[graft.llm.SimilarityApi.ivfTopKBatch]] over the
    * cluster-bucketed assignment table written once by
    * `writeIvfIndex`. foreachBatch is the right seam for the same
    * reason the ledger ingest uses it: the probe is a batch join
    * against bucketed index tables (re-planned per batch, so an index
    * rebuild is picked up on restart without touching the checkpoint),
    * and results land idempotently at `batch=<id>`. The corpus never
    * rescans — each batch touches only the nProbe clusters each query
    * ranks, exactly the persisted-index amortization the batch query
    * demonstrates, now paid per request batch. */
  def startIvfServe(
      queries: DataFrame, codebookTab: String, assignTab: String,
      idCol: String, embCol: String, k: Int, nProbe: Int,
      outDir: String, checkpointDir: String): StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.llm.SimilarityApi.ivfTopKBatch(
            spark.table(assignTab), spark.table(codebookTab),
            batch.toDF(), idCol, embCol, k, nProbe)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Streaming UPSERT ingestion into a lake table — the CDC-apply
    * sink a 100 TB deployment runs to keep a large keyed table
    * current from a change stream. Each micro-batch MERGEs into the
    * target (`WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *`)
    * through [[LakeSink.mergeInto]]; the `txn` guard rides the
    * same manifest CAS as the data, so a batch replayed after a crash
    * between the lake commit and the streaming checkpoint commit is a
    * structural no-op — exactly-once end to end, the same contract as
    * the medallion hops.
    *
    * `dvMaxFraction` is the write-amplification lever (r15, the
    * streaming face of the r14 merge-on-read machinery): at 0 every
    * touched segment is rewritten per trigger (copy-on-write — a
    * sparse update hitting S segments re-writes S segments every
    * batch); at 1.0 matched rows retire into O(matched) deletion
    * vectors and only the post-image rows append, so steady-state
    * ingestion writes O(changed rows) per trigger regardless of how
    * many segments the batch grazes. DV debt accumulates across
    * triggers and is paid off out-of-band by `REORG … APPLY (PURGE)`
    * when `DESCRIBE DETAIL`'s `dv_debt_ppm` says it is due.
    *
    * `onBatch` receives each batch's merge receipt
    * (batchId, segments rewritten, rows updated, rows inserted);
    * `afterCommit` runs after the lake commit but before the
    * checkpoint commit — the kill seam UpsertStreamSpec injects. */
  def startUpsertSink(
      updates: DataFrame, tableDir: String, keys: Seq[String],
      checkpointDir: String,
      appId: String = "graft-upsert",
      dvMaxFraction: Double = 0.0,
      onBatch: (Long, Int, Long, Long) => Unit = (_, _, _, _) => (),
      afterCommit: Long => Unit = _ => ()): StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val (_, rw, upd, ins) = LakeSink.mergeInto(
            batch.sparkSession, tableDir, batch.toDF(), keys,
            txn = Some((appId, batchId)),
            dvMaxFraction = dvMaxFraction)
          onBatch(batchId, rw, upd, ins)
        }
        afterCommit(batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Run any of the above to an in-memory sink for tests/demos. */
  def startToMemory(df: DataFrame, queryName: String,
      outputMode: OutputMode = OutputMode.Append): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
}
