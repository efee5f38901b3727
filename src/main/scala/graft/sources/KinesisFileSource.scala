package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-kinesis-file` — a DataSourceV2 MICRO-BATCH SOURCE that
  * replays Kinesis-style envelope fixtures shard-by-shard, exercising
  * the exact SPI seam a real Kinesis connector plugs into
  * (`MicroBatchStream`: offsets, partition planning, checkpoint
  * restart). No Kinesis jar ships in this container (SURVEY.md §0), so
  * the "stream" is a directory of text files; everything ABOVE the
  * byte-reading is the real consumer contract:
  *
  *  - record    = one line `shard \t sequence_number \t partition_key
  *    \t base64(data)`; shard identity lives IN the record, not in the
  *    file name, so the file layout can change (resharding) without
  *    touching consumer state.
  *  - shard     = unit of parallelism and ordering: one
  *    `InputPartition` per shard per micro-batch; the reader restores
  *    per-shard sequence order (Kinesis guarantees order within a
  *    shard, never across shards).
  *  - offset    = `{shard → highest consumed sequence_number}`,
  *    JSON-serialized through the DSv2 offset API — the exact
  *    checkpoint a KCL consumer keeps in its lease table. Restart
  *    resumes strictly after the committed sequence numbers; a shard
  *    unknown to the checkpoint starts from the beginning (a child of
  *    a split, or a brand-new shard).
  *  - admission = `maxRecordsPerShardPerBatch` caps how far each
  *    trigger advances per shard (the `get_records` Limit parameter),
  *    so a backlog drains as a sequence of bounded micro-batches.
  *
  * Scale honesty: a PRODUCTION connector maps one shard to one remote
  * byte-stream; this fixture source reads files. A published envelope
  * file MUST be immutable, the contract Spark's `FileStreamSource` also
  * assumes: a producer writes it under a name the source does not list
  * (one not ending in `.txt`) and renames it into place, as
  * [[KinesisFixture.writeEnvelopeFixture]] does. The stream keeps an
  * [[KinesisFileSource.EnvelopeIndex]] (per file: shard → sorted
  * sequence numbers), keyed by path, size and mtime, so a file
  * rewritten in place is still re-read when its size or mtime changes.
  * `latestOffset`, `reportLatestOffset` and `planInputPartitions` each
  * cost one directory listing plus the parse of files that are new or
  * changed since the previous call: an idle poll parses nothing, and a
  * trigger's admission work is O(new records), not O(history). The
  * index costs driver memory of 8 B per indexed record; `commit` drops
  * the sequence numbers at or below the committed offsets (keeping each
  * file's last one per shard), so it holds the uncommitted backlog plus
  * O(files × shards), not the whole history. Each shard slice carries
  * only the files that hold records of its range, and its reader parses
  * those whole files (read amplification O(file size / slice size)) and
  * sorts the slice in memory — acceptable for fixtures, stated here so
  * nobody mistakes the file-IO path for the scale design. The DSv2
  * surface above it (offsets, per-shard partitions, restart, rate
  * limit) IS the scale design.
  *
  * Also exposes BATCH_READ over the same files, so a fixture can be
  * read as a plain DataFrame and checked against the DuckDB oracle —
  * that is what upgrades the §2 streaming-source row from tests-only
  * to oracle-checked (`source_kinesis_dsv2`).
  */
class KinesisFileProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis-file"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisFileSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisFileTable(properties.asScala.toMap)
}

object KinesisFileSource {
  val schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("partition_key", StringType, nullable = false),
    StructField("data", StringType, nullable = false)))

  final case class Record(shard: String, seq: Long, pk: String, data: String)

  /** Parse one envelope line; malformed input fails loud — a consumer
    * that silently drops records is the worst Kinesis bug. */
  def parseLine(line: String): Record = {
    val f = line.split('\t')
    require(f.length == 4, s"malformed envelope line (${f.length} fields): " +
      line.take(120))
    Record(f(0), f(1).toLong, f(2), f(3))
  }

  def listFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"graft-kinesis-file path is not a directory: $dir")
    d.listFiles().filter(f => f.isFile && f.getName.endsWith(".txt"))
      .map(_.getPath).sorted.toSeq
  }

  def readAll(files: Seq[String]): Iterator[Record] =
    files.iterator.flatMap { p =>
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(p)).asScala.iterator
        .filter(_.nonEmpty).map(parseLine)
    }

  /** Index of the first element of sorted `a` greater than `v`. */
  private def firstAbove(a: Array[Long], v: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) > v) hi = mid else lo = mid + 1
    }
    lo
  }

  /** One envelope file's sequence numbers per shard, ascending, as of
    * the file's `size` and `mtime` when it was parsed. */
  final case class FileIndex(path: String, size: Long, mtime: Long,
      seqs: Map[String, Array[Long]]) {
    /** Whether the file holds a record of `shard` with from < seq <= to. */
    def holds(shard: String, from: Long, to: Long): Boolean =
      seqs.get(shard).exists { a =>
        val i = firstAbove(a, from); i < a.length && a(i) <= to }
  }

  private def indexFile(f: java.io.File): FileIndex = {
    // size and mtime first: a file replaced during the parse then
    // mismatches at the next refresh and is parsed again
    val (size, mtime) = (f.length, f.lastModified)
    val by = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuilder.ofLong]
    readAll(Seq(f.getPath)).foreach(r => by.getOrElseUpdate(r.shard,
      new scala.collection.mutable.ArrayBuilder.ofLong) += r.seq)
    FileIndex(f.getPath, size, mtime, by.map { case (shard, b) =>
      val a = b.result(); java.util.Arrays.sort(a); shard -> a }.toMap)
  }

  /** The [[FileIndex]]es of a stream directory, cached by path, size and
    * mtime. [[refresh]] lists the directory, parses only files that are
    * new or whose size or mtime changed, and drops files that are gone,
    * so a poll with no new data parses nothing. Sound because published
    * envelope files are immutable (see the provider's scaladoc); a
    * rewrite in place is still caught when it changes size or mtime. */
  final class EnvelopeIndex(dir: String) {
    private var byPath = Map.empty[String, FileIndex]
    private val parsed = new java.util.concurrent.atomic.AtomicLong()

    /** Files parsed since this index was created. */
    def filesParsed: Long = parsed.get

    def refresh(): Seq[FileIndex] = synchronized {
      val now = listFiles(dir).map { p =>
        val f = new java.io.File(p)
        byPath.get(p).filter(e => e.size == f.length && e.mtime == f.lastModified)
          .getOrElse { parsed.incrementAndGet(); indexFile(f) }
      }
      byPath = now.map(e => e.path -> e).toMap
      now
    }

    /** Drops, per file and shard, the sequence numbers at or below
      * `committed`, except the file's last one for the shard (the tip
      * [[availableOffsets]] reports). Admission and slices only ask
      * for records above the committed offsets, so nothing dropped is
      * asked for again. Entries are replaced, never mutated, so an
      * index a caller already holds stays intact. */
    def trim(committed: Map[String, Long]): Unit = synchronized {
      byPath = byPath.map { case (p, e) =>
        p -> e.copy(seqs = e.seqs.map { case (shard, a) =>
          val i = committed.get(shard).fold(0)(c => math.min(firstAbove(a, c), a.length - 1))
          shard -> (if (i == 0) a else java.util.Arrays.copyOfRange(a, i, a.length))
        })
      }
    }
  }

  /** Highest sequence number present per shard — the "tip" of each
    * shard, i.e. what `latestOffset` reports before rate capping. */
  def availableOffsets(index: Seq[FileIndex]): Map[String, Long] =
    index.flatMap(_.seqs.map { case (shard, a) => shard -> a.last })
      .groupMapReduce(_._1)(_._2)(math.max)

  /** Per-shard end offsets advancing at most `maxPerShard` RECORDS past
    * `base` — admission control by record count (the `get_records`
    * Limit semantic), not sequence arithmetic: shard-local sequence
    * numbers are sparse (e.g. a global id sharded by partition key),
    * so `base + N` would be wrong in both directions. A shard with
    * nothing new keeps its base offset. Cost O(new records): each file
    * contributes only the tail of its sorted sequence numbers. */
  def cappedOffsets(index: Seq[FileIndex], base: Map[String, Long],
      maxPerShard: Long): Map[String, Long] =
    index.flatMap(_.seqs.keys).distinct.map { shard =>
      val from = base.getOrElse(shard, Long.MinValue)
      val newSeqs = index.flatMap(_.seqs.get(shard))
        .flatMap(a => a.view.drop(firstAbove(a, from))).toArray.sorted
      val end =
        if (newSeqs.isEmpty) from
        else if (maxPerShard >= newSeqs.length) newSeqs.last
        else newSeqs(maxPerShard.toInt - 1)
      shard -> end
    }.toMap.filter(_._2 != Long.MinValue)

  /** One slice per shard with records in `(start, end]`, each carrying
    * only the files that hold records of its range. */
  def slices(index: Seq[FileIndex], start: Map[String, Long],
      end: Map[String, Long]): Array[InputPartition] =
    end.toSeq.sortBy(_._1).flatMap { case (shard, to) =>
      val from = start.getOrElse(shard, Long.MinValue)
      if (to > from) Some(ShardSlicePartition(shard,
        index.filter(_.holds(shard, from, to)).map(_.path), from, to))
      else None
    }.toArray
}

/** Offset = per-shard highest consumed sequence number. Case class so
  * the engine's offset equality (did anything new arrive?) is
  * structural. JSON keys sorted for a canonical, diffable form. */
final case class ShardOffsets(seqs: Map[String, Long]) extends Offset {
  override def json(): String =
    seqs.toSeq.sortBy(_._1)
      .map { case (s, n) => s""""$s":$n""" }
      .mkString("{", ",", "}")
}

object ShardOffsets {
  private val entry = """"([^"]+)"\s*:\s*(-?\d+)""".r
  def fromJson(json: String): ShardOffsets =
    ShardOffsets(entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}

class KinesisFileTable(properties: Map[String, String])
    extends Table with SupportsRead {
  private val dir = properties.getOrElse("path",
    sys.error("graft-kinesis-file requires a path"))
  override def name(): String = s"graft-kinesis-file:$dir"
  override def schema(): StructType = KinesisFileSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new KinesisFileScan(dir,
      Option(options.get("maxRecordsPerShardPerBatch")).map(_.toLong)
        .getOrElse(Long.MaxValue))
}

class KinesisFileScan(dir: String, maxPerShard: Long) extends Scan {
  override def readSchema(): StructType = KinesisFileSource.schema
  override def toBatch: Batch = new KinesisFileBatch(dir)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KinesisFileMicroBatchStream(dir, maxPerShard)
}

/** One micro-batch slice of one shard: records with
  * fromSeq < sequence_number <= toSeq, in sequence order, read from
  * `files`, the envelope files that hold records of that range. */
final case class ShardSlicePartition(shard: String, files: Seq[String],
    fromSeq: Long, toSeq: Long) extends InputPartition

/** No consumption state of its own: admission control receives the
  * start offset from the engine (`SupportsAdmissionControl.latestOffset(start,
  * limit)`), so the checkpoint is the single source of truth, which is
  * what makes restart and resharding correct for free. The one thing the
  * stream keeps is its [[KinesisFileSource.EnvelopeIndex]], a cache of
  * immutable file contents, so an idle poll costs a directory listing.
  * (A plain `MicroBatchStream.latestOffset()` MUST report everything
  * available: rate-capping it starves `processAllAvailable`, which
  * compares committed offsets against the capped report and concludes
  * the stream is caught up after one batch.) */
class KinesisFileMicroBatchStream(dir: String, maxPerShard: Long)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val index = new KinesisFileSource.EnvelopeIndex(dir)

  /** Envelope files this stream has parsed so far. */
  def filesParsed: Long = index.filesParsed

  override def initialOffset(): Offset = ShardOffsets(Map.empty)

  override def deserializeOffset(json: String): Offset =
    ShardOffsets.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerShard == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerShard)

  /** The engine's per-trigger admitted end: at most `limit` records
    * PER SHARD past `start` (the get_records Limit semantic). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val base = start.asInstanceOf[ShardOffsets].seqs
    val cap = limit match {
      case _: ReadAllAvailable => Long.MaxValue
      case m: ReadMaxRows => m.maxRows()
      case _ => maxPerShard
    }
    ShardOffsets(KinesisFileSource.cappedOffsets(index.refresh(), base, cap))
  }

  /** True tip of every shard, uncapped — what tells the engine (and
    * processAllAvailable) how far behind the admitted offset is. */
  override def reportLatestOffset(): Offset =
    ShardOffsets(KinesisFileSource.availableOffsets(index.refresh()))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl.latestOffset(start, limit) is used")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    KinesisFileSource.slices(index.refresh(),
      start.asInstanceOf[ShardOffsets].seqs, end.asInstanceOf[ShardOffsets].seqs)

  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisFileReaderFactory

  /** Files never truncate; only the index forgets what is committed. */
  override def commit(end: Offset): Unit =
    index.trim(end.asInstanceOf[ShardOffsets].seqs)
  override def stop(): Unit = ()
}

/** Batch read = every record, one partition per shard (full range),
  * planned from one index built for this plan. */
class KinesisFileBatch(dir: String) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val index = new KinesisFileSource.EnvelopeIndex(dir).refresh()
    KinesisFileSource.slices(index, Map.empty,
      KinesisFileSource.availableOffsets(index))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisFileReaderFactory
}

class KinesisFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ShardSlicePartition]
    new PartitionReader[InternalRow] {
      // restore per-shard sequence order across files: a resharded
      // fixture may spread one shard's records over several files
      private val it = KinesisFileSource.readAll(p.files)
        .filter(r => r.shard == p.shard && r.seq > p.fromSeq && r.seq <= p.toSeq)
        .toArray.sortBy(_.seq).iterator
      private var cur: KinesisFileSource.Record = _
      override def next(): Boolean = {
        if (it.hasNext) { cur = it.next(); true } else false
      }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(cur.shard), cur.seq,
        UTF8String.fromString(cur.pk), UTF8String.fromString(cur.data)))
      override def close(): Unit = ()
    }
  }
}
