package graftbench

import java.util
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.sources.{KinesisFileProvider, ShardSlicePartition}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Counters of the `graft.sources` layer, filled by [[TracedKinesisProvider]].
  * Driver calls and partition readers run in this JVM (local mode), so
  * plain process-wide counters see both. Inactive outside the traced
  * phase: the wrappers then only forward. */
object SourceProbe {
  @volatile var active = false
  private val counters = new util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val spanQ = new ConcurrentLinkedQueue[(String, Long, Long)]()

  def add(k: String, v: Long): Unit =
    if (active) counters.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  def snapshot(): Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.get }.toMap

  def drainSpans(): Seq[(String, Long, Long)] =
    Iterator.continually(spanQ.poll()).takeWhile(_ != null).toSeq

  /** Times `body` as source call `name`, also counting the bytes of the
    * envelope files a call of this kind parses. */
  def call[T](name: String, scannedBytes: => Long)(body: => T): T =
    if (!active) body
    else {
      val t0 = System.nanoTime(); val e0 = Probe.epochNs() / 1000L
      try body finally {
        add(name + "_ns", System.nanoTime() - t0)
        spanQ.add((name, e0, Probe.epochNs() / 1000L))
        add("bytes_scanned", scannedBytes)
      }
    }

  def envelopeBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".txt")).map(_.length).sum
}

/** A delegating `TableProvider` that forwards every call to the engine's
  * [[KinesisFileProvider]] and times the source's share of a trigger:
  * admission (`latestOffset`), tip reporting (`reportLatestOffset`),
  * partition planning and reader opening, plus records and bytes
  * admitted versus bytes scanned. */
class TracedKinesisProvider extends TableProvider {
  private val inner = new KinesisFileProvider
  override def inferSchema(o: CaseInsensitiveStringMap): StructType = inner.inferSchema(o)
  override def getTable(schema: StructType, p: Array[Transform],
      props: util.Map[String, String]): Table = {
    val t = inner.getTable(schema, p, props).asInstanceOf[Table with SupportsRead]
    new TracedTable(t, props.get("path"))
  }
}

private class TracedTable(t: Table with SupportsRead, dir: String)
    extends Table with SupportsRead {
  override def name(): String = t.name()
  override def schema(): StructType = t.schema()
  override def capabilities(): util.Set[TableCapability] = t.capabilities()
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val b = t.newScanBuilder(o)
    () => new TracedScan(b.build(), dir)
  }
}

private class TracedScan(s: Scan, dir: String) extends Scan {
  override def readSchema(): StructType = s.readSchema()
  override def toMicroBatchStream(ck: String): MicroBatchStream =
    new TracedStream(s.toMicroBatchStream(ck)
      .asInstanceOf[MicroBatchStream with SupportsAdmissionControl], dir)
}

private class TracedStream(in: MicroBatchStream with SupportsAdmissionControl,
    dir: String) extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = in.initialOffset()
  override def deserializeOffset(json: String): Offset = in.deserializeOffset(json)
  override def getDefaultReadLimit: ReadLimit = in.getDefaultReadLimit
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    SourceProbe.call("latest_offset", SourceProbe.envelopeBytes(dir))(
      in.latestOffset(start, limit))
  override def reportLatestOffset(): Offset =
    SourceProbe.call("report_latest", SourceProbe.envelopeBytes(dir))(
      in.reportLatestOffset())
  override def latestOffset(): Offset = in.latestOffset()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    SourceProbe.call("plan", 0L)(in.planInputPartitions(start, end))
  override def createReaderFactory(): PartitionReaderFactory =
    new TracedReaderFactory(in.createReaderFactory())
  override def commit(end: Offset): Unit = in.commit(end)
  override def stop(): Unit = in.stop()
}

private class TracedReaderFactory(f: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = p match {
      case s: ShardSlicePartition => s.files.map(new java.io.File(_).length).sum
      case _ => 0L
    }
    val r = SourceProbe.call("reader_open", files)(f.createReader(p))
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = {
        val row = r.get()
        // envelope line = four tab-separated fields and a newline
        SourceProbe.add("records_admitted", 1)
        SourceProbe.add("bytes_admitted", row.getUTF8String(0).numBytes +
          row.getLong(1).toString.length + row.getUTF8String(2).numBytes +
          row.getUTF8String(3).numBytes + 4L)
        row
      }
      override def close(): Unit = r.close()
    }
  }
}
