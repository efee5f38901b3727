package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** One JVM of a benchmark run (launched by `run.py`, never by sbt).
  *
  * Modes:
  *  - `run` (default): session and workload setup (the measured set-up
  *    time ends here), one untimed warm cycle, then whole cycles of ops
  *    until the deadline; end gates; the raw samples go to `--out` as
  *    JSON. `--setup-only` stops when set-up is measured. With
  *    `--trace 1` every second cycle is traced, so the report can state
  *    the tracing overhead against the untraced cycles of the same JVM.
  *  - `record-digests`: writes the query_mix digest file (`--names a,b`
  *    records and times a candidate list instead of the mix).
  *  - `gen-data`: writes the query_mix tables at `--scale` to `--dir`,
  *    one parquet file each.
  *  - `train`: sets `--workloads` up and runs their warm cycle in one JVM;
  *    the build runs it once to record the JVM's class-data archive, so
  *    every benchmark JVM starts from the same pre-parsed classes.
  */
object Main {

  private def parse(argv: Array[String]): Map[String, String] = {
    val out = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
        out(k) = argv(i + 1); i += 2
      } else { out(k) = "true"; i += 1 }
    }
    out.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(a("work"))
    a.getOrElse("mode", "run") match {
      case "run" => run(a, work)
      case "record-digests" =>
        val spark = Session.build(work)
        try QueryMix.record(spark, work, a("out"),
          a.get("names").map(_.split(',').toSeq).getOrElse(QueryMix.Queries))
        finally spark.stop()
      case "train" =>
        val spark = Session.build(work)
        try a("workloads").split(',').foreach { n =>
          val wl = Workload(n, spark, 1L, new File(work, n), traced = n == "kinesis_tail",
            perturb = false, a.getOrElse("digests", ""))
          try {
            wl.setup()
            execCycle(wl, 1, Long.MaxValue, 0L, None, mutable.ArrayBuffer.empty)
          }
          finally wl.close()
        } finally spark.stop()
      case "gen-data" =>
        // one parquet file per table, the layout DuckDB oracles read
        val spark = Session.build(work)
        val tmp = new File(work, "gen")
        try {
          DataGen.writeTables(spark, tmp.getPath, a("scale").toDouble, QueryMix.DataSeed)
          Files.createDirectories(Paths.get(a("dir")))
          tmp.listFiles().foreach { t =>
            val one = new File(work, "one")
            spark.read.parquet(t.getPath).coalesce(1).write.mode("overwrite").parquet(one.getPath)
            val part = one.listFiles().filter(_.getName.endsWith(".parquet")).head
            Files.move(part.toPath, Paths.get(a("dir"), t.getName))
          }
        } finally spark.stop()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def run(a: Map[String, String], work: File): Unit = {
    val launchNs = a("launch-ns").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val seed = a("seed").toLong
    val spark = Session.build(work)
    Log.phase("session ready")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "slots" -> Session.Slots)
    val wl = Workload(a("workload"), spark, seed, work, traced,
      a.contains("perturb"), a.getOrElse("digests", ""), a.contains("mor"))
    try {
      wl.setup()
      out("setup_s") = (Probe.epochNs() - launchNs) / 1e9
      Log.phase("fixtures ready")
      if (a.contains("setup-only")) return
      val warm = new mutable.ArrayBuffer[OpRec]
      execCycle(wl, 1, Long.MaxValue, 0L, None, warm)
      warm.filter(_.error.nonEmpty).foreach(r =>
        throw new IllegalStateException(s"warm cycle op ${r.kind} failed: ${r.error.get}"))
      Log.phase("warm cycle done")

      val ops = mutable.ArrayBuffer.empty[OpRec]
      val tracer = if (traced) Some(new Tracer(spark)) else None
      val base = System.nanoTime()
      val deadline = (seconds * 1e9).toLong
      val cpu0 = Probe.cpuNs()
      val complete = mutable.ArrayBuffer.empty[Int]
      var c = Workload.FirstTimedCycle
      while (System.nanoTime() - base < deadline) {
        // a traced run traces every second cycle; the others are its
        // untraced baseline for the overhead figure
        val on = tracer.filter(_ => (c - Workload.FirstTimedCycle) % 2 == 1)
        on.foreach { t => wl.beginTrace(); t.resume() }
        if (execCycle(wl, c, deadline, base, on, ops)) complete += c
        on.foreach(_.pause())
        c += 1
      }
      tracer.foreach(_.finish())
      out("timed") = Map("cpu0" -> cpu0, "complete_cycles" -> complete)
      out("ops") = ops.map(_.toJson)

      val gates = wl.endGates()
      out("gates") = gates.map { case (n, e) => Map("name" -> n, "ok" -> e.isEmpty, "error" -> e) }
      if (traced) {
        out("end_facts") = wl.endFacts()
        out("spans") = tracer.get.spans.map(_.toJson)
      }
    } finally {
      try wl.close() finally {
        if (out.contains("ops")) {
          out("heap_live_mb") = Probe.heapLiveMb()
          out("rss_peak_mb") = Probe.rssPeakMb()
        }
        spark.stop()
      }
      if (out.contains("setup_s"))
        Files.write(Paths.get(a("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Runs cycle `c`'s ops in order while the clock is before `deadline`
    * (nanoseconds after `base`); true when the cycle ran to its end. An
    * op's error is recorded, not thrown: a failed op counts against the
    * run's attempts. */
  private def execCycle(wl: Workload, c: Int, deadline: Long, base: Long,
      tracer: Option[Tracer], ops: mutable.ArrayBuffer[OpRec]): Boolean = {
    val it = wl.cycle(c)
    while (it.hasNext && System.nanoTime() - base < deadline) {
      val op = it.next()
      val rec = new OpRec(ops.size, op.kind, op.layer, c, op.primary, op.read,
        tracer.isDefined)
      Current.rec = rec
      tracer.foreach(_.opStart(rec))
      rec.cpu0 = Probe.cpuNs()
      rec.t0 = System.nanoTime() - base
      val check =
        try Some(op.run())
        catch { case e: Throwable => rec.error = Some(describe(e)); None }
      rec.t1 = System.nanoTime() - base
      rec.cpu1 = Probe.cpuNs()
      tracer.foreach(_.opEnd(rec, op.layer))
      check.foreach(ch => try ch() catch { case e: Throwable => rec.error = Some(describe(e)) })
      Current.rec = null
      ops += rec
    }
    !it.hasNext
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400)
}
