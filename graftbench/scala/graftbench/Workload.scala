package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a cycle. `run` performs the engine call — the part
  * that is timed — and returns the check that compares its output with
  * the workload's model; the check runs after the clock stops and throws
  * [[GateFailure]] on a mismatch. `layer` names the layer call the op
  * makes, for the span tree. */
final case class Op(kind: String, layer: String, primary: Boolean,
    read: Boolean, run: () => (() => Unit))

/** What a workload gives the run loop. Cycle `c`'s operations are a
  * pure function of (seed, c) and of the model state the earlier ops
  * left, so the sequence is fixed by the seed; cycle 1 is the untimed
  * warm cycle. Ops are produced lazily: an op's inputs are drawn, and its
  * effect applied to the model, only when the loop takes it, so a run
  * that stops at its deadline leaves the model equal to what ran. */
trait Workload {
  def name: String
  /** The cycle whose output `--perturb` corrupts: the first timed one. */
  final def perturbed(c: Int): Boolean = c == Workload.FirstTimedCycle
  /** Fixtures and any state the first cycle needs. */
  def setup(): Unit
  def cycle(c: Int): Iterator[Op]
  /** Gates applied once after the timed phase: (name, failure). */
  def endGates(): Seq[(String, Option[String])]
  /** Resets the workload's own per-layer baselines as tracing begins. */
  def beginTrace(): Unit = ()
  /** Run-end facts for the per-layer report (traced runs only). */
  def endFacts(): Map[String, Double] = Map.empty
  def close(): Unit
}

object Workload {
  val FirstTimedCycle = 2
  def apply(name: String, spark: SparkSession, seed: Long, work: File,
      traced: Boolean, perturb: Boolean, digestFile: String,
      mor: Boolean = false): Workload = name match {
    case "kinesis_tail" => new KinesisTail(spark, seed, work, traced, perturb)
    case "lake_upsert" => new LakeUpsert(spark, seed, work, perturb, mor)
    case "query_mix" => new QueryMix(spark, seed, work, perturb, digestFile)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** One executed op: nanosecond times relative to the timed phase's
  * start, process CPU at both ends, and (traced) per-layer counters. */
final class OpRec(val id: Int, val kind: String, val layer: String,
    val cycle: Int, val primary: Boolean, val read: Boolean, val traced: Boolean) {
  var t0 = 0L; var t1 = 0L; var cpu0 = 0L; var cpu1 = 0L
  var error: Option[String] = None
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def add(k: String, v: Double): Unit =
    counters.update(k, counters.getOrElse(k, 0.0) + v)

  def toJson: Map[String, Any] = Map(
    "id" -> id, "kind" -> kind, "layer" -> layer, "cycle" -> cycle,
    "primary" -> primary, "read" -> read, "traced" -> traced,
    "t0" -> t0, "t1" -> t1, "cpu0" -> cpu0, "cpu1" -> cpu1,
    "ok" -> error.isEmpty, "error" -> error, "c" -> counters)
}
