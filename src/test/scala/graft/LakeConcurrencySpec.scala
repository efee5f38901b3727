package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier}
import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.LakeSink
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-writer tests for the manifest CAS
  * ([[LakeSink.commitManifest]] — hard-link fail-if-exists). What must
  * hold with two uncoordinated writers:
  *
  *  - a deliberate same-version collision admits EXACTLY ONE commit
  *    (the CAS contract; a rename-based "atomic" publish would let
  *    both "succeed" and silently lose one);
  *  - the loser re-reads and converges on retry;
  *  - under sustained contention every segment lands exactly once and
  *    the version advances exactly once per successful commit;
  *  - a reader polling mid-race only ever sees fully-committed states
  *    (every listed segment readable, never a partial manifest).
  */
class LakeConcurrencySpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def writeSeg(dir: String, seg: String, v: Long): Unit =
    Seq((seg, v)).toDF("seg", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$seg")

  test("same-version collision: exactly one CAS wins, loser converges on retry") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_race").toString
    writeSeg(dir, "seg_a", 1L)
    writeSeg(dir, "seg_b", 2L)
    // Both writers read the SAME manifest (v0) and race to commit v1.
    val barrier = new CyclicBarrier(2)
    val results = scala.collection.concurrent.TrieMap.empty[String, Boolean]
    val threads = Seq("seg_a", "seg_b").map { seg =>
      new Thread(() => {
        val m = LakeSink.readManifest(dir)
        barrier.await()
        results.put(seg, LakeSink.commitManifest(
          dir, m.version + 1, 0L, m.segs :+ seg))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.values.count(identity) === 1,
      "exactly one collision winner")
    // The loser's protocol move: re-read, re-commit at the new version.
    val loserSeg = if (results("seg_a")) "seg_b" else "seg_a"
    val m2 = LakeSink.readManifest(dir)
    assert(m2.version === 1L && m2.segs.size === 1)
    assert(LakeSink.commitManifest(dir, m2.version + 1, 0L,
      m2.segs :+ loserSeg), "retry at the advanced version succeeds")
    val m3 = LakeSink.readManifest(dir)
    assert(m3.version === 2L)
    assert(m3.segs.sorted === Seq("seg_a", "seg_b"))
    assert(LakeSink.readTable(spark, dir).count() === 2L)
  }

  test("sustained contention: every segment exactly once, reader never sees partial state") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_stress").toString
    val writers = 2
    val perWriter = 10
    val retries = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(writers)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val writerThreads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          start.await()
          (0 until perWriter).foreach { i =>
            val seg = s"seg_w${w}_$i"
            writeSeg(dir, seg, (w * perWriter + i).toLong)
            var committed = false
            while (!committed) {
              val m = LakeSink.readManifest(dir)
              committed = LakeSink.commitManifest(
                dir, m.version + 1, 0L, m.segs :+ seg)
              if (!committed) retries.incrementAndGet()
            }
          }
        } catch {
          case t: Throwable => failures.add(s"writer $w: $t")
        } finally done.countDown()
      })
    }
    val readerThread = new Thread(() => {
      try {
        start.await()
        while (done.getCount > 0) {
          val m = LakeSink.readManifest(dir)
          // Committed state must be complete: every listed segment has
          // its parquet on disk (manifest-after-data write order).
          m.segs.foreach { s =>
            if (!java.nio.file.Files.isDirectory(
                java.nio.file.Paths.get(dir, s)))
              failures.add(s"v${m.version} lists missing segment $s")
          }
          if (m.segs.distinct.size != m.segs.size)
            failures.add(s"v${m.version} lists a duplicate segment")
          Thread.sleep(2)
        }
      } catch { case t: Throwable => failures.add(s"reader: $t") }
    })
    (writerThreads :+ readerThread).foreach(_.start())
    start.countDown()
    writerThreads.foreach(_.join()); readerThread.join()

    assert(failures.isEmpty, failures.toArray.mkString("; "))
    val m = LakeSink.readManifest(dir)
    assert(m.segs.size === writers * perWriter)
    assert(m.segs.distinct.size === m.segs.size, "no segment listed twice")
    // one version bump per successful commit, no lost updates
    assert(m.version === (writers * perWriter).toLong)
    assert(LakeSink.readTable(spark, dir).count() ===
      (writers * perWriter).toLong)
    info(s"CAS retries under contention: ${retries.get()}")
  }

  // ---- optimistic-concurrency retry for DML (r11) --------------------
  // The three tests below pin the retry protocol the DML verbs now run
  // on a lost manifest CAS: commit-in-place when concurrent commits
  // only appended (WriteSerializable commute), full re-plan on a true
  // segment conflict, both-commit for racing disjoint writers — never
  // an abort on a plain race, never a lost update.

  private def vLake(segRows: (String, Range)*): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lake_dml_race").toString
    segRows.foreach { case (seg, r) =>
      r.map(_.toLong).toDF("v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$seg")
    }
    assert(LakeSink.commitManifest(dir, 1L, -1L, segRows.map(_._1)))
    dir
  }

  private def remaining(dir: String): Set[Long] =
    LakeSink.readTable(spark, dir).collect().map(_.getLong(0)).toSet

  test("concurrent disjoint-predicate deletes: BOTH commit, result equals serial order") {
    import org.apache.spark.sql.functions.col
    val dir = vLake("seg_a" -> (0 until 10), "seg_b" -> (10 until 20),
      "seg_c" -> (20 until 30))
    val barrier = new CyclicBarrier(2)
    val results = scala.collection.concurrent.TrieMap.empty[String, (Long, Int, Int, Long)]
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq(
      ("a", col("v") >= 0L && col("v") <= 4L),
      ("b", col("v") >= 10L && col("v") <= 14L)).map { case (tag, cond) =>
      new Thread(() => {
        try {
          barrier.await()
          results.put(tag, LakeSink.deleteWhere(spark, dir, cond))
        } catch { case t: Throwable => failures.add(s"$tag: $t") }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    // both committed (no abort), at distinct versions
    val versions = results.values.map(_._1).toSeq
    assert(versions.toSet.size === 2 && versions.forall(_ > 1L),
      s"both deletes must commit at distinct versions, got $results")
    assert(results("a")._4 === 5L && results("b")._4 === 5L)
    // final state = either serial order (they commute)
    assert(remaining(dir) === ((5 until 10) ++ (15 until 30)).map(_.toLong).toSet)
    assert(LakeSink.readManifest(dir).version === 3L)
  }

  test("lost CAS vs a concurrent APPEND: commit retried in place, no re-plan") {
    import org.apache.spark.sql.functions.col
    val dir = vLake("seg_a" -> (0 until 10))
    val attempts = new AtomicInteger(0)
    val (v, rewrittenN, _, deleted) = LakeSink.deleteWhere(
      spark, dir, col("v") < 5L,
      beforeCommit = () => {
        // first attempt only: an uncoordinated writer appends between
        // our planning and our commit — the commute case
        if (attempts.incrementAndGet() == 1)
          LakeSink.appendSegment(spark, dir,
            (100 until 110).map(_.toLong).toDF("v"), "seg_x")
      })
    assert(attempts.get() === 1,
      "append-only interference must be absorbed WITHOUT a re-plan " +
        "(the seam runs once per attempt)")
    assert(v === 3L, s"append v2 then retried delete v3, got v$v")
    assert(rewrittenN === 1 && deleted === 5L)
    // serial order "delete first, append second": both effects present
    assert(remaining(dir) === ((5 until 10) ++ (100 until 110)).map(_.toLong).toSet)
  }

  test("true conflict (overlapping deletes): loser re-plans, never a lost update") {
    import org.apache.spark.sql.functions.col
    val dir = vLake("seg_a" -> (0 until 10), "seg_b" -> (10 until 20))
    val attempts = new AtomicInteger(0)
    val (v, _, _, deleted) = LakeSink.deleteWhere(
      spark, dir, col("v") >= 3L && col("v") <= 12L,
      beforeCommit = () => {
        // first attempt only: a concurrent delete rewrites seg_a — a
        // segment OUR staged rewrite also read — before our commit
        if (attempts.incrementAndGet() == 1) {
          val (iv, _, _, idel) =
            LakeSink.deleteWhere(spark, dir, col("v") <= 4L)
          assert(iv === 2L && idel === 5L)
        }
      })
    assert(attempts.get() === 2,
      "a rewritten base segment must force exactly one full re-plan")
    assert(v === 3L)
    // re-planned execution sees the inner delete's result: serial order
    // "inner (0..4) then ours (3..12)" — we delete 5..12, 8 rows
    assert(deleted === 8L, s"re-planned delete must not double-count, got $deleted")
    assert(remaining(dir) === (13 until 20).map(_.toLong).toSet)
    // and no resurrection: the inner delete's rows stayed dead
  }

  // ---- the retry bound ------------------------------------------------
  // Every re-planning writer gives up after 8 straight losses and names
  // itself, the table and "consecutive" (tools/CrossProcessCasProbe
  // backs off on that word). One case per loss discipline.

  test("retry bound, plain CAS: a restore that loses every race stops after 8 attempts") {
    val dir = vLake("seg_a" -> (0 until 10))
    LakeSink.appendSegment(spark, dir,
      (10 until 20).map(_.toLong).toDF("v"), "seg_b")
    val attempts = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      LakeSink.restoreTable(spark, dir, 1L, beforeCommit = () => {
        // every attempt: an uncoordinated append takes the version
        // this restore is about to commit
        val n = attempts.incrementAndGet()
        LakeSink.appendSegment(spark, dir,
          Seq(100L + n).toDF("v"), s"seg_x$n")
      })
    }
    assert(attempts.get() === 8, "the bound is 8 attempts")
    val msg = String.valueOf(e.getMessage)
    assert(msg.contains(s"restore at $dir") && msg.contains("consecutive"),
      msg)
    // nothing of the restore landed: the 8 appends are the only commits
    assert(LakeSink.readManifest(dir).version === 10L)
    assert(remaining(dir) ===
      ((0 until 20) ++ (101 to 108)).map(_.toLong).toSet)
  }

  test("retry bound, true conflict: a delete whose base is rewritten every attempt stops after 8") {
    import org.apache.spark.sql.functions.col
    val dir = vLake("seg_a" -> (0 until 20))
    val attempts = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      LakeSink.deleteWhere(spark, dir, col("v") < 5L,
        beforeCommit = () => {
          // every attempt: a concurrent delete rewrites the one segment
          // this delete read — a true conflict, so a full re-plan
          val n = attempts.incrementAndGet()
          LakeSink.deleteWhere(spark, dir, col("v") === (20L - n))
        })
    }
    assert(attempts.get() === 8, "the bound is 8 attempts")
    val msg = String.valueOf(e.getMessage)
    assert(msg.contains(s"delete at $dir") && msg.contains("consecutive"),
      msg)
    // the outer delete never landed; each inner one did
    assert(remaining(dir) === (0 until 12).map(_.toLong).toSet)
  }
}
