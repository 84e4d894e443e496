package org.apache.spark.graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One guarded operation's record: what ran, how long, whether it
  * failed and with which error class, plus workload-specific fields.
  */
final class OpRecord(val kind: String, val name: String, val round: Int) {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  var ms = 0.0
  var cpuMs = 0.0
  var ok = false
  var startMs = 0L
  var endMs = 0L

  def toMap: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "round" -> round, "ms" -> ms, "cpu_ms" -> cpuMs, "ok" -> ok, "start_ms" -> startMs,
    "end_ms" -> endMs) ++ fields
}

/** Runs each operation inside its own guard. A failure is recorded with
  * its error class and never rethrown, so the rest of the round still
  * runs; the caller excludes failed operations from every latency.
  */
final class Ops(tracer: Tracer) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var round = 0

  def run[T](kind: String, name: String)(body: OpRecord => T): Option[T] = {
    val rec = new OpRecord(kind, name, round)
    records += rec
    rec.startMs = System.currentTimeMillis()
    val c0 = Ops.cpuNs()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind, tracer.newOp())(body(rec))
      rec.ok = true
      Some(r)
    } catch {
      case NonFatal(e) =>
        rec.fields("error") = e.getClass.getName
        rec.fields("message") = String.valueOf(e.getMessage).take(400)
        None
    } finally {
      rec.ms = (System.nanoTime() - t0) / 1e6
      rec.cpuMs = (Ops.cpuNs() - c0) / 1e6
      rec.endMs = System.currentTimeMillis()
    }
  }
}

object Ops {
  private val ticksPerSec = 100L // USER_HZ, the unit of /proc's CPU times

  /** CPU time of the JVM so far, in ns, every thread but the JIT
    * compilers': Spark's task, scheduler and driver threads and the
    * collector. What an operation costs in processor time: time spent
    * waiting for a core is not in it, though cores slowed by other load
    * on the host still raise it. Compilation is left out: in a JVM this
    * young the compiler threads are busy through every round, so their
    * time follows the wall clock, not the work (~60% of the JVM's CPU
    * time in a funnel_ingest round).
    */
  def cpuNs(): Long = {
    val jit = Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .filter(t => read(new java.io.File(t, "comm")).matches("C\\d CompilerThre.*"))
      .map(t => ticks(new java.io.File(t, "stat"))).sum
    (ticks(new java.io.File("/proc/self/stat")) - jit) * (1000000000L / ticksPerSec)
  }

  private def read(f: java.io.File): String =
    try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    catch { case _: java.io.IOException => "" } // a thread that has ended

  /** utime + stime of a /proc stat file, in ticks. */
  private def ticks(f: java.io.File): Long = {
    val s = read(f)
    if (s.isEmpty) 0L
    else {
      val fields = s.substring(s.lastIndexOf(')') + 2).split(" ")
      fields(11).toLong + fields(12).toLong
    }
  }
}

/** A workload: an untimed warm-up that is part of set-up, rounds of
  * the same operations, untimed output dumps for the checks, and the
  * per-layer metrics of a traced run.
  */
trait Workload {
  def warmup(spark: SparkSession): Unit
  def round(spark: SparkSession, r: Int): Unit
  def after(spark: SparkSession): Map[String, Any] = Map.empty
  def layers(spark: SparkSession, rounds: Seq[RoundInfo]): Map[String, Double]
}

final case class RoundInfo(index: Int, spanId: Long, startMs: Long,
    endMs: Long, ops: Seq[OpRecord])

/** Benchmark driver inside the JVM. Reads the run's parameter file,
  * sets up the session and runs the workload's warm-up (set-up counts
  * from process launch to the first timed operation), runs the given
  * number of whole rounds, then writes every operation record, the
  * set-up time, the check data and (traced) the per-layer metrics and
  * spans.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val p = Json.read(args(0))
    val runDir = p("run_dir").toString
    val trace = p("trace") == true
    val cores = p("cores").toString.toInt
    val nRounds = p("rounds").toString.toInt
    val launchMs = p("launch_ms").toString.toLong
    val warm = p("warmup") == true
    val tracer = new Tracer(trace)
    val ops = new Ops(tracer)
    val w: Workload = p("workload") match {
      case "query_mix" => new QueryMix(p, ops, tracer)
      case "pubmed_keywords" => new PubmedKeywords(p, ops, tracer)
      case "funnel_ingest" => new FunnelIngest(p, ops, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = graft.Graft.session(master = s"local[$cores]", appName = "graftbench",
      shufflePartitions = cores)
    spark.sparkContext.setLogLevel("WARN")
    if (warm) w.warmup(spark)
    val setupMs = System.currentTimeMillis() - launchMs

    tracer.attach(spark)
    val t0Ns = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[RoundInfo]
    (0 until nRounds).foreach { r =>
      ops.round = r
      val before = ops.records.size
      val startMs = System.currentTimeMillis()
      var spanId = 0L
      tracer.span("round") {
        spanId = tracer.currentSpan
        w.round(spark, r)
      }
      rounds += RoundInfo(r, spanId, startMs, System.currentTimeMillis(),
        ops.records.slice(before, ops.records.size).toSeq)
    }
    tracer.drain()
    val layers = if (trace) w.layers(spark, rounds.toSeq) else Map.empty[String, Double]
    tracer.detach()
    val liveMb = liveHeapMb(spark)
    val checks = w.after(spark)
    if (trace) tracer.write(s"$runDir/spans.json", t0Ns)
    spark.stop()
    Json.write(s"$runDir/result.json", Map(
      "setup_ms" -> setupMs,
      "live_heap_mb" -> liveMb,
      "ops" -> ops.records.map(_.toMap).toSeq,
      "layers" -> layers,
      "checks" -> checks))
  }

  /** Heap in use after a full collection at the end of the timed
    * rounds: what the program still holds (its caches, memos, indexes
    * and Spark's own state), which the resident size, grown by
    * allocation volume, shows only in part.
    */
  private def liveHeapMb(spark: SparkSession): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    // events still queued hold the objects they describe
    spark.sparkContext.listenerBus.waitUntilEmpty()
    // Spark's ContextCleaner frees shuffle, broadcast and RDD state only
    // once a collection has queued their references, so collect again
    // until the heap stops shrinking
    def collect(): Long = { System.gc(); Thread.sleep(300); heap.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var used = collect()
    var n = 1
    while ((n < 3 || used < prev * 0.995) && n < 8) { prev = used; used = collect(); n += 1 }
    used / 1e6
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-round layer metrics plus the Spark execution metrics every
    * workload shares, each reported as its median over the rounds.
    */
  def perRound(tracer: Tracer, rounds: Seq[RoundInfo], cores: Int)(
      layer: RoundInfo => Map[String, Double]): Map[String, Double] = {
    val per = rounds.map(ri => layer(ri) ++ exec(tracer, ri, cores))
    per.head.keys.map(k => k -> median(per.map(_(k)))).toMap
  }

  private def exec(tracer: Tracer, ri: RoundInfo, cores: Int): Map[String, Double] = {
    val a = tracer.execUnder(ri.spanId)
    val wallS = ri.ops.filter(_.ok).map(_.ms).sum / 1000
    Map(
      "exec.jobs" -> a.jobs.toDouble,
      "exec.tasks" -> a.tasks.toDouble,
      "exec.task_run_s" -> a.runMs / 1000.0,
      "exec.task_cpu_s" -> a.cpuNs / 1e9,
      "exec.core_busy" -> (if (wallS > 0) a.runMs / 1000.0 / (wallS * cores) else 0.0),
      "exec.gc_s" -> a.gcMs / 1000.0,
      "exec.shuffle_write_mb" -> a.shuffleWrite / 1e6,
      "exec.spill_mb" -> a.spill / 1e6,
      "exec.input_mb" -> a.input / 1e6,
      "exec.output_mb" -> a.output / 1e6)
  }

  /** Regular files (not hidden, not checksums or markers) under a dir. */
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new java.io.File(dir))
  }
}
