package graft.perfbench

import graft.etl.Snapshots
import graft.plans.SnapshotSql
import graft.streaming.Ingest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `table_churn`: one persistent snapshot table keyed and
  * stats-indexed on `o_orderkey` takes the generated statement stream
  * (`stmts.tsv`: op, cycle, batch, lo, hi) — merges, clause merges,
  * SQL `MERGE INTO`, deletes, appends and pruned reads, with one CDC
  * consumer run and table maintenance in every cycle.
  */
object TableChurn extends Workload {
  val Key = "o_orderkey"
  val Stats = Seq(Key)
  val OptimizeTargetBytes: Long = 256L * 1024

  final case class Stmt(op: String, cycle: Int, batch: String, lo: Long, hi: Long)

  final class Table(base: String) {
    val root = s"$base/table"
    val cdc = s"$base/cdc"
    val cdcCheckpoint = s"$base/cdc_checkpoint"
  }

  private def stmts(ctx: Ctx): Seq[Stmt] =
    Files.readAllLines(Paths.get(s"${ctx.input}/churn/stmts.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Stmt(f(0), f(1).toInt, f(2), f(3).toLong, f(4).toLong)
      }

  /** The generated base, one partition per key-ordered file. */
  private def base(ctx: Ctx): DataFrame = {
    val dir = Paths.get(s"${ctx.input}/churn/base")
    val files = Files.list(dir).iterator().asScala.map(_.toString).toSeq.sorted
    files.map(ctx.spark.read.parquet(_)).reduce(_ union _)
  }

  /** The 8-file table, stats-indexed on the key. */
  def prepare(ctx: Ctx, dir: String): Unit =
    Snapshots.commitWithStats(ctx.spark, base(ctx), new Table(dir).root, Stats)

  /** The CDC consumer's first run: a full copy of the source. */
  private def bootstrap(ctx: Ctx, t: Table): Unit =
    Ingest.snapshotCdcApplyAvailableNow(ctx.spark, t.root, t.cdcCheckpoint, t.cdc, Key, Stats)

  private def batch(ctx: Ctx, s: Stmt): DataFrame =
    ctx.spark.read.parquet(s"${ctx.input}/churn/${s.batch}")

  /** Execute one statement; returns the read's (rows, files kept,
    * files total) for reads.
    */
  private def exec(ctx: Ctx, t: Table, s: Stmt): Option[(Long, Int, Int)] = {
    val spark = ctx.spark
    s.op match {
      case "merge" =>
        Tracer.spanWith("etl.Snapshots.merge",
          (r: Snapshots.CowResult) => Seq("rows_rewritten" -> r.rowsWritten.toDouble))(
          Snapshots.merge(spark, batch(ctx, s), t.root, Key, Stats))
        None
      case "merge_clauses" =>
        Tracer.span("etl.Snapshots.mergeClauses")(
          Snapshots.mergeClauses(spark, batch(ctx, s), t.root, Key, Stats, "t", "u",
            matched = Seq(
              Snapshots.MatchedDelete(Some(col("u.o_orderstatus") === "D")),
              Snapshots.MatchedUpdate(None, None)),
            insertCond = Some(Some(col("u.o_orderstatus") =!= "D"))))
        None
      case "sql_merge" =>
        batch(ctx, s).createOrReplaceTempView("churn_src")
        Tracer.span("plans.SnapshotSql.sql")(
          SnapshotSql.sql(spark,
            s"""MERGE INTO snap.`${t.root}` t USING churn_src s ON t.$Key = s.$Key
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
        None
      case "delete" =>
        Tracer.span("etl.Snapshots.deleteWhere")(
          Snapshots.deleteWhere(spark, t.root, col(Key).between(s.lo, s.hi)))
        None
      case "append" =>
        Tracer.span("etl.Snapshots.append")(
          Snapshots.append(spark, batch(ctx, s), t.root, statsCols = Stats))
        None
      case "read" =>
        // the returned frame is lazy: the span ends after the count
        // that consumes it
        Some(Tracer.spanWith("etl.Snapshots.readPruned",
          (r: (Long, Int, Int)) => Seq("files_kept" -> r._2.toDouble, "files_total" -> r._3.toDouble)) {
          val (df, kept, total) = Snapshots.readPruned(spark, t.root, None, Key,
            Some(lit(s.lo)), Some(lit(s.hi)))
          (df.count(), kept, total)
        })
      case "cdc" =>
        Tracer.span("streaming.Ingest.snapshotCdcApplyAvailableNow")(
          Ingest.snapshotCdcApplyAvailableNow(spark, t.root, t.cdcCheckpoint, t.cdc, Key, Stats))
        None
      case "optimize" =>
        Tracer.spanWith("etl.Snapshots.optimize",
          (r: Snapshots.CowResult) => Seq("rows_rewritten" -> r.rowsWritten.toDouble))(
          Snapshots.optimize(spark, t.root, OptimizeTargetBytes, statsCols = Stats))
        None
      case "vacuum" =>
        // the consumer's last applied version stays: its next run
        // derives the following version's changes from it
        Tracer.span("etl.Snapshots.vacuum")(Snapshots.vacuum(spark, t.root, keepLast = 2,
          protectedVersions = Snapshots.lastTag(spark, t.cdc).toSet))
        None
      case other => sys.error(s"unknown statement $other")
    }
  }

  private val writeOps = Set("merge", "merge_clauses", "sql_merge", "delete", "append")
  /** The calls after which the live heap can have grown. */
  private val heapAfter = Set("merge", "merge_clauses", "sql_merge", "cdc", "optimize")

  /** Bootstraps the measured table's CDC consumer and runs one merge
    * against a spare set-up table (the first repetition's): the
    * machinery every MERGE form shares is the one whose first run is
    * slow.
    */
  def warmup(ctx: Ctx): Unit = {
    bootstrap(ctx, current(ctx))
    exec(ctx, new Table(s"${ctx.work}/setup-0"), stmts(ctx).find(_.op == "merge").get)
  }

  private def current(ctx: Ctx) = new Table(Workload.measured(ctx))

  def run(ctx: Ctx): Unit = {
    val t = current(ctx)
    val all = stmts(ctx)
    val reads = mutable.ArrayBuffer.empty[Seq[Long]]
    var addedBytes = 0L
    var stagedBytes = 0L
    val start = System.nanoTime()
    var i = 0
    // whole cycles only: stop at the first cycle boundary past the budget
    while (i < all.size && !(Main.timeUp(ctx, start) && (i == 0 || all(i).cycle != all(i - 1).cycle))) {
      val s = all(i)
      val before = if (s.op == "read") 0L else Main.treeBytes(t.root)
      val cls = if (writeOps(s.op)) "write" else s.op
      Calls.timed(cls)(exec(ctx, t, s)).flatten.foreach { case (n, kept, total) =>
        reads += Seq(i.toLong, n, kept.toLong, total.toLong)
      }
      if (writeOps(s.op) || s.op == "optimize") {
        addedBytes += math.max(0L, Main.treeBytes(t.root) - before)
        if (s.batch.nonEmpty)
          stagedBytes += Main.treeBytes(s"${ctx.input}/churn/${s.batch}")
      }
      if (heapAfter(s.op)) Calls.sampleHeap()
      i += 1
    }
    ctx.counts("executed") = i
    ctx.counts("cycles") = if (i == 0) 0 else all(i - 1).cycle + 1
    ctx.counts("reads") = reads.toSeq
    ctx.counts("added_bytes") = addedBytes
    ctx.counts("staged_bytes") = stagedBytes
    // untimed epilogue: export the consumer's table and its source as
    // of the last version it applied, reclaim, export the live table
    val spark = ctx.spark
    val applied = Snapshots.lastTag(spark, t.cdc)
    val cdc = s"${ctx.work}/export/cdc"
    Snapshots.read(spark, t.cdc).coalesce(1).write.parquet(cdc)
    val cdcSource = s"${ctx.work}/export/cdc_source"
    Snapshots.read(spark, t.root, applied).coalesce(1).write.parquet(cdcSource)
    ctx.counts("cdc_source_export") = cdcSource
    Snapshots.vacuum(spark, t.root, keepLast = 1)
    ctx.counts("table_bytes") = Main.treeBytes(t.root)
    val live = s"${ctx.work}/export/table"
    Snapshots.read(spark, t.root).coalesce(1).write.parquet(live)
    ctx.counts("live_bytes") = Main.treeBytes(live)
    ctx.counts("table_export") = live
    ctx.counts("cdc_export") = cdc
  }
}
