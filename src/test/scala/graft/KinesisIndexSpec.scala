package graft

import java.nio.file.{Files, Paths}

import graft.sources.{KinesisFileMicroBatchStream, KinesisFileSource, ShardOffsets,
  ShardSlicePartition}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** The `graft-kinesis-file` stream's envelope index: per-call cost is a
  * directory listing plus the parse of new files. What must hold:
  *
  *  - an idle `latestOffset` / `reportLatestOffset` parses no file;
  *  - a new file is parsed once, however often the engine polls;
  *  - a file rewritten at a different size is re-indexed;
  *  - a deleted file drops out of the offsets;
  *  - a shard slice carries only the files holding records of its range;
  *  - `commit` drops committed sequence numbers from the index, and
  *    tips, admission and later slices stay as they were.
  */
class KinesisIndexSpec extends AnyFunSuite {

  private def line(shard: String, seq: Long): String = s"$shard\t$seq\t1\tZGF0YQ=="

  private def write(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  private def offsets(o: org.apache.spark.sql.connector.read.streaming.Offset) =
    o.asInstanceOf[ShardOffsets].seqs

  test("polls parse only new or changed files; deleted files drop out") {
    val dir = Files.createTempDirectory("graft_kinesis_index").toString
    write(dir, "a.txt", (0L until 10L).map(line("shard-0", _)))
    write(dir, "b.txt", (0L until 5L).map(line("shard-1", _)))
    val s = new KinesisFileMicroBatchStream(dir, 4L)
    val start = ShardOffsets(Map.empty)
    assert(offsets(s.latestOffset(start, ReadLimit.maxRows(4))) ===
      Map("shard-0" -> 3L, "shard-1" -> 3L))
    assert(s.filesParsed === 2L)
    // idle polls: nothing new, nothing parsed
    assert(offsets(s.reportLatestOffset()) === Map("shard-0" -> 9L, "shard-1" -> 4L))
    s.latestOffset(start, ReadLimit.maxRows(4))
    assert(offsets(s.reportLatestOffset()) === Map("shard-0" -> 9L, "shard-1" -> 4L))
    assert(s.filesParsed === 2L)

    // a new file is parsed once, however often it is polled
    write(dir, "c.txt", Seq(line("shard-0", 20L), line("shard-2", 1L)))
    assert(offsets(s.reportLatestOffset()) ===
      Map("shard-0" -> 20L, "shard-1" -> 4L, "shard-2" -> 1L))
    assert(offsets(s.latestOffset(ShardOffsets(Map("shard-0" -> 9L)),
      ReadLimit.allAvailable())) === Map("shard-0" -> 20L, "shard-1" -> 4L, "shard-2" -> 1L))
    assert(s.filesParsed === 3L)

    // a file rewritten at a different size is re-indexed
    write(dir, "b.txt", (0L until 8L).map(line("shard-1", _)))
    assert(offsets(s.reportLatestOffset())("shard-1") === 7L)
    assert(s.filesParsed === 4L)

    // a deleted file drops out of the offsets
    Files.delete(Paths.get(dir, "c.txt"))
    assert(offsets(s.reportLatestOffset()) === Map("shard-0" -> 9L, "shard-1" -> 7L))
    assert(s.filesParsed === 4L)
  }

  test("a shard slice carries only the files that hold its range") {
    val dir = Files.createTempDirectory("graft_kinesis_slices").toString
    write(dir, "h1.txt", (0L until 10L).flatMap(q => Seq(line("shard-0", q), line("shard-1", q))))
    write(dir, "h2.txt", (10L until 20L).map(line("shard-0", _)))
    write(dir, "step.txt", Seq(line("shard-0", 30L), line("shard-1", 30L)))
    val s = new KinesisFileMicroBatchStream(dir, Long.MaxValue)
    val parts = s.planInputPartitions(
      ShardOffsets(Map("shard-0" -> 19L, "shard-1" -> 9L)),
      ShardOffsets(Map("shard-0" -> 30L, "shard-1" -> 30L)))
      .map(_.asInstanceOf[ShardSlicePartition])
    assert(parts.map(p => p.shard -> p.files.map(Paths.get(_).getFileName.toString)).toSeq ===
      Seq("shard-0" -> Seq("step.txt"), "shard-1" -> Seq("step.txt")))
    val backfill = s.planInputPartitions(ShardOffsets(Map("shard-0" -> 5L)),
      ShardOffsets(Map("shard-0" -> 12L)))
      .map(_.asInstanceOf[ShardSlicePartition])
    assert(backfill.head.files.map(Paths.get(_).getFileName.toString) === Seq("h1.txt", "h2.txt"))
    assert(s.filesParsed === 3L)
  }

  test("commit forgets committed sequence numbers, keeping tips and later slices") {
    val dir = Files.createTempDirectory("graft_kinesis_trim").toString
    write(dir, "a.txt", (0L until 10L).map(line("shard-0", _)) ++
      (0L until 5L).map(line("shard-1", _)))
    val index = new KinesisFileSource.EnvelopeIndex(dir)
    index.refresh()
    index.trim(Map("shard-0" -> 6L, "shard-1" -> 9L))
    assert(index.refresh().head.seqs.map { case (k, a) => k -> a.toSeq } ===
      Map("shard-0" -> Seq(7L, 8L, 9L), "shard-1" -> Seq(4L)))
    assert(index.filesParsed === 1L)

    val s = new KinesisFileMicroBatchStream(dir, Long.MaxValue)
    val committed = ShardOffsets(Map("shard-0" -> 6L, "shard-1" -> 4L))
    s.reportLatestOffset()
    s.commit(committed)
    assert(offsets(s.reportLatestOffset()) === Map("shard-0" -> 9L, "shard-1" -> 4L))
    assert(offsets(s.latestOffset(committed, ReadLimit.maxRows(2))) ===
      Map("shard-0" -> 8L, "shard-1" -> 4L))
    val parts = s.planInputPartitions(committed,
      ShardOffsets(Map("shard-0" -> 9L, "shard-1" -> 4L)))
      .map(_.asInstanceOf[ShardSlicePartition]).toSeq
    assert(parts.map(p => (p.shard, p.fromSeq, p.toSeq)) === Seq(("shard-0", 6L, 9L)))
    assert(s.filesParsed === 1L)
  }
}
