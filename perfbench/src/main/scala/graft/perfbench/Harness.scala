package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** Timed-call bookkeeping shared by the workloads: every call is
  * counted as attempted, a call that throws is counted as failed and
  * its elapsed time is still kept as a sample, and the live heap is
  * sampled (after full collections, outside the timed interval) after
  * every call that can grow it.
  */
object Calls {
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val failed: mutable.LinkedHashMap[String, Int] = mutable.LinkedHashMap.empty
  var attempted = 0
  var peakHeapBytes = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Time one public call of operation class `op`; None if it threw. */
  def timed[T](op: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val out = try Some(body) catch {
      case NonFatal(e) =>
        synchronized {
          failed(op) = failed.getOrElse(op, 0) + 1
          errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        System.err.println(s"[perfbench] $op failed: $e")
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    synchronized {
      attempted += 1
      samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += dt
    }
    out
  }

  /** Live heap after a full collection; keeps the maximum. The second
    * collection follows Spark's cleaner and the asynchronous unpersists
    * of the call, which free blocks the first one could not.
    */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeapBytes = math.max(peakHeapBytes, used)
  }

  /** Reset the engine's process-level caches through its own hooks. */
  def resetEngineState(spark: SparkSession): Unit = {
    graft.queries.PosQueries.clearCache()
    graft.llm.BarrierCache.sweep(spark)
    graft.etl.Snapshots.clearStatsCache()
    spark.catalog.clearCache()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
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
}
