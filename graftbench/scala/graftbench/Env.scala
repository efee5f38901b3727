package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.LakeSink
import org.apache.spark.sql.SparkSession

/** The fixed session every run uses. Task slots are a constant below the
  * host's core count so the load-generator thread, the stream-execution
  * thread and GC keep a core; every path Spark writes is under the run's
  * private work directory. */
object Session {
  val Slots = 2
  val ShufflePartitions = 4

  def build(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Process-level probes read between operations. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** Wall clock in epoch nanoseconds (microsecond resolution on Linux);
    * comparable with the launcher's `time.time_ns()`. */
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** (collections, collection ms) summed over all collectors. */
  def gc(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(b => math.max(0L, b.getCollectionCount)).sum,
      bs.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  /** Peak resident set (VmHWM) in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("VmHWM missing from /proc/self/status"))
    finally src.close()
  }

  /** Heap in use after full collections — called outside any timing. */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
}

/** Set-up progress on stderr (the run's log), seconds since JVM start. */
object Log {
  def phase(what: String): Unit = System.err.println(
    f"[graftbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s $what")
}

/** A result that differs from the model. */
final class GateFailure(msg: String) extends RuntimeException(msg)

object Gate {
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new GateFailure(msg)
}

/** Minimal JSON rendering for the raw-sample file (no reflection). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Lake-directory accounting for the traced per-layer report. */
final class LakeFiles(dir: String) {
  var lastVersion: Long = 0L
  private var seen = Map.empty[String, Long]

  def reset(): Unit = {
    lastVersion = LakeSink.readManifest(dir).version
    seen = LakeFiles.list(dir)
  }

  /** Bytes of files that appeared since the previous call. */
  def newBytes(): Long = {
    val now = LakeFiles.list(dir)
    val added = now.collect { case (p, n) if !seen.contains(p) => n }.sum
    seen = now
    added
  }
}

object LakeFiles {
  def list(dir: String): Map[String, Long] = {
    val d = new File(dir).toPath
    if (!Files.exists(d)) Map.empty
    else {
      val it = Files.walk(d)
      try {
        it.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.size(p)).toMap
      } finally it.close()
    }
  }

  /** Live files, deletion-vector rows and on-disk bytes per live row. */
  def facts(dir: String, liveRows: Long): Map[String, Double] = {
    val m = LakeSink.readManifest(dir)
    Map(
      "lake.files_live" -> m.segs.map(LakeSink.segmentFileCount(dir, _)).sum.toDouble,
      "lake.dv_rows_live" -> m.dv.values.map(_.rows).sum.toDouble,
      "lake.bytes_per_row" -> list(dir).values.sum.toDouble /
        math.max(1L, liveRows))
  }
}
