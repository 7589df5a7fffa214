package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What a workload run shares: the session, its seed and time budget,
  * the generated inputs, a scratch directory, and the counts it
  * reports beside the timed samples.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val input: String, val work: String) {
  val counts: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val setupS: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
}

/** One benchmark workload: a set-up step (run [[Main.SetupReps]]
  * times into `setup-<rep>`; the loop uses the last), an untimed
  * warm-up, and the measured closed loop, which also exports what the
  * correctness checks read.
  */
trait Workload {
  def prepare(ctx: Ctx, dir: String): Unit
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
}

object Workload {
  /** The set-up repetition the loop measures. */
  def measured(ctx: Ctx): String = s"${ctx.work}/setup-${Main.SetupReps - 1}"
}

/** The benchmark JVM: `--workload W --seed N --seconds S --trace
  * 0|1 --input DIR --work DIR --out FILE`. Writes one JSON result
  * file; `perfbench/run.py` turns it into metrics and checks it.
  */
object Main {
  val SetupReps = 3

  val workloads: Map[String, Workload] = Map(
    "pos_daily" -> PosDaily,
    "table_churn" -> TableChurn,
    "llm_curation" -> LlmCuration)

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val out = opt("out")
    val t00 = System.nanoTime()
    val spark = session()
    try {
      val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", opt("input"), opt("work"))
      phase("spark start", (System.nanoTime() - t00) / 1e9)
      for (rep <- 0 until SetupReps) {
        val dir = s"${ctx.work}/setup-$rep"
        val t0 = System.nanoTime()
        wl.prepare(ctx, dir)
        ctx.setupS += (System.nanoTime() - t0) / 1e9
      }
      phase("set-up", ctx.setupS.sum)
      val tw = System.nanoTime()
      wl.warmup(ctx)
      phase("warm-up", (System.nanoTime() - tw) / 1e9)
      Calls.resetEngineState(spark)
      if (ctx.trace) { Tracer.reset(); Tracer.attach(spark) }
      val t0 = System.nanoTime()
      wl.run(ctx)
      val loopS = (System.nanoTime() - t0) / 1e9
      phase("loop", loopS)
      Calls.samples.foreach { case (op, xs) =>
        System.err.println(f"[perfbench] $op: ${xs.map(x => f"$x%.3f").mkString(" ")}") }
      val spans = if (ctx.trace) { Tracer.detach(); Tracer.report() } else Nil
      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> name,
        "setup_jvm_s" -> ctx.setupS.toSeq,
        "loop_s" -> loopS,
        "attempted" -> Calls.attempted,
        "failed" -> Calls.failed,
        "errors" -> Calls.errors.toSeq,
        "samples" -> Calls.samples,
        "peak_heap_mb" -> Calls.peakHeapBytes / 1048576.0,
        "counts" -> ctx.counts,
        "spans" -> spans.map(spanJson))
      if (ctx.trace)
        result("timeline") = Tracer.timeline().map { case (id, n, p, s, d) =>
          Seq(id, n, p, s, d) }
      Files.write(Paths.get(out), Json.render(result).getBytes("UTF-8"))
      phase("total", (System.nanoTime() - t00) / 1e9)
    } finally spark.stop()
  }

  private def phase(name: String, s: Double): Unit =
    System.err.println(f"[perfbench] $name took $s%.2f s")

  private def spanJson(a: Tracer.NameAgg): Map[String, Any] = Map(
    "name" -> a.name, "calls" -> a.calls, "self_s" -> a.selfNs / 1e9,
    "jobs" -> a.jobs, "tasks" -> a.tasks, "driver_gap_s" -> a.gapNs / 1e9,
    "analysis_ms" -> a.analysisMs, "plan_ms" -> a.planMs,
    "shuffle_mb" -> a.shuffleBytes / 1048576.0, "spill_mb" -> a.spillBytes / 1048576.0,
    "task_cpu_s" -> a.cpuNs / 1e9, "fs_bytes_written" -> a.fsBytes,
    "extras" -> a.extras)

  /** Total bytes of the regular files under `p`. */
  def treeBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Whether `ctx.seconds` have passed since `startNs`. */
  def timeUp(ctx: Ctx, startNs: Long): Boolean =
    (System.nanoTime() - startNs) / 1e9 >= ctx.seconds
}
