package graft.perfbench

import graft.etl.{ParquetUpsertSink, Pos, Transform, UpsertSink}
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Times the fact upsert the ingest loop hands its sink: the
  * `etl.Load.upsert` span and the `upsert` call class.
  */
final class TimedUpsertSink(spark: SparkSession, path: String) extends UpsertSink {
  private val inner = new ParquetUpsertSink(spark, path)
  def upsert(batch: DataFrame, keys: Seq[String]): Unit =
    Calls.timed("upsert") {
      Tracer.span("etl.Load.upsert")(inner.upsert(batch, keys))
    }.getOrElse(throw new IllegalStateException("fact upsert failed"))
}

/** `pos_daily`: the reference's daily job as deployed. Set-up turns
  * the generated orders into the raw POS report ([[Pos.rawReport]])
  * and writes one workbook per delivery day; the loop stages one day
  * at a time and runs the streaming workbook ingest over it.
  */
object PosDaily extends Workload {
  val Sheet = "Paid order list"
  val WarmDays = 2
  val MinDays = 2

  def prepare(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val in = s"${ctx.input}/pos"
    val raw = Pos.rawReport(spark, in).collect()
      .map(r => r.getString(0) -> (0 until r.length).map(r.getString)).toMap
    val header = raw.head._2.indices.map(i => Transform.rawContract(i))
    val deliveries = spark.read.parquet(s"$in/deliveries.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2).toString))
      .groupBy(_._1).toSeq.sortBy(_._1)
    Files.createDirectories(Paths.get(s"$dir/days"))
    deliveries.foreach { case (day, rows) =>
      XlsxWriter.write(f"$dir/days/day_$day%04d.xlsx", Sheet, header,
        rows.sortBy(_._2).iterator.map(d => raw(d._3)))
    }
    ctx.counts("days_staged") = deliveries.size
  }

  private def days(ctx: Ctx): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(s"${Workload.measured(ctx)}/days"))
    try s.sorted().toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally s.close()
  }

  private final class Tables(base: String) {
    val staging = s"$base/staging"
    val archive = s"$base/archive"
    val checkpoint = s"$base/checkpoint"
    val fact = s"$base/fact"
    val quarantine = s"$base/quarantine"
    Files.createDirectories(Paths.get(staging))
  }

  private def stage(t: Tables, day: java.nio.file.Path): Unit =
    Files.copy(day, Paths.get(t.staging, day.getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING)

  private def ingest(ctx: Ctx, t: Tables, sink: UpsertSink, dim: DataFrame): Unit =
    Ingest.ingestXlsxAvailableNow(ctx.spark, t.staging, t.archive, t.checkpoint,
      sink, t.quarantine, dim, Sheet)

  /** The first two days, untimed, into the measured tables: the
    * create path, then the matched (existing table) path the loop
    * takes from the third day on.
    */
  def warmup(ctx: Ctx): Unit = {
    val t = new Tables(s"${ctx.work}/run")
    val sink = new ParquetUpsertSink(ctx.spark, t.fact)
    val dim = Transform.dimDF(ctx.spark)
    days(ctx).take(WarmDays).foreach { d => stage(t, d); ingest(ctx, t, sink, dim) }
  }

  def run(ctx: Ctx): Unit = {
    val t = new Tables(s"${ctx.work}/run")
    val sink = new TimedUpsertSink(ctx.spark, t.fact)
    val dim = Transform.dimDF(ctx.spark)
    val all = days(ctx)
    val start = System.nanoTime()
    var n = WarmDays
    // at least MinDays samples even when a day outlasts the budget
    while (n < all.size && (n < WarmDays + MinDays || !Main.timeUp(ctx, start))) {
      stage(t, all(n))
      Calls.timed("batch") {
        Tracer.span("streaming.Ingest.ingestXlsxAvailableNow")(ingest(ctx, t, sink, dim))
      }
      Calls.sampleHeap()
      n += 1
    }
    ctx.counts("days_ingested") = n
    ctx.counts("days_timed") = n - WarmDays
    ctx.counts("fact_path") = t.fact
    ctx.counts("quarantine_path") = t.quarantine
    ctx.counts("staged_bytes") = all.take(n).map(Files.size).sum
    ctx.counts("written_bytes") = Main.treeBytes(t.fact) + Main.treeBytes(t.quarantine)
    val sqlPath = s"${ctx.work}/pipeline.sql"
    Files.write(Paths.get(sqlPath), pipelineSql.getBytes("UTF-8"))
    ctx.counts("pipeline_sql") = sqlPath
  }

  /** The DuckDB mirror of the whole POS transform — the CTE chain of
    * the engine's own end-to-end oracle, ending at the `flagged`
    * (row, valid) relation.
    */
  def pipelineSql: String = {
    val full = graft.SparkEntry.oracleSql("q38_pos_quarantine")
    val cut = full.lastIndexOf("\nSELECT ")
    require(cut > 0, "unexpected shape of the q38 oracle SQL")
    full.substring(0, cut) + "\nSELECT * FROM flagged"
  }
}
