package graft

import graft.etl.Transform
import graft.sources.FileSources
import graft.streaming.Ingest
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** S1/S3/S7/A7: streaming ingest exactly-once, archive behavior,
  * permissive corruption capture, watermarked windows, streaming
  * dedup.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: String, name: String, rows: Seq[String]): Unit = {
    val header = "Order ID,Products,Product amount,Received amount,Payment time,Cash,Gcash,Type/Channel"
    Files.write(Paths.get(dir, name), (header +: rows).mkString("\n").getBytes("UTF-8"))
  }

  test("S1/S7: AvailableNow ingest processes each file exactly once and archives it") {
    val base = tmpDir("ingest")
    val staging = base + "/staging"; val archive = base + "/archive"
    val checkpoint = base + "/chk"; val fact = base + "/fact"; val q = base + "/quar"
    Files.createDirectories(Paths.get(staging))
    // each micro-batch persists its transformed rows once for both
    // sinks and must drop them before the pass returns
    def cached(): Boolean = !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    spark.catalog.clearCache()

    writeCsv(staging, "day1.csv", Seq(
      """1,Spanish Latte (Solo) (Hot) x2,100.00,100.00,t1,100.00,-,Dine-in""",
      """2,Biscoff Croffle x1,50.00,50.00,t2,0.00,-,Take-out"""))
    Ingest.ingestAvailableNow(spark, staging, archive, checkpoint, fact, q,
      Transform.dimDF(spark))
    assert(!cached())
    assert(spark.read.parquet(fact).count() === 2)

    // second pass with a new file: old file not reprocessed, new one is
    writeCsv(staging, "day2.csv", Seq(
      """3,Americano (Duo) (Cold) x1,70.00,70.00,t3,-,70.00,Delivery"""))
    Ingest.ingestAvailableNow(spark, staging, archive, checkpoint, fact, q,
      Transform.dimDF(spark))
    assert(!cached())
    val got = spark.read.parquet(fact).orderBy("order_id")
      .select("order_id", "items").as[(String, String)].collect().toSeq
    assert(got === Seq(("1", "Spanish Latte"), ("2", "Croffle - Biscoff"),
      ("3", "Americano")))

    // archived: the file-source cleaner runs asynchronously after
    // each commit, so day1 must be archived by now (it was consumed a
    // full query ago); day2's archive may still be in flight.
    var archived = 0
    var tries = 0
    while (archived < 1 && tries < 20) {
      archived = Files.walk(Paths.get(archive)).toArray.map(_.toString)
        .count(_.endsWith(".csv"))
      if (archived < 1) { Thread.sleep(500); tries += 1 }
    }
    assert(archived >= 1)
    assert(!Files.exists(Paths.get(staging, "day1.csv")))
  }

  test("S3: permissive CSV capture routes malformed rows, keeps good ones") {
    val dir = tmpDir("csv")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT, b DOUBLE, c STRING")
    Files.write(Paths.get(dir, "f.csv"),
      "a,b,c\n1,2.5,ok\nnot_an_int,xxx,bad\n3,4.5,fine".getBytes("UTF-8"))
    val df = FileSources.csvPermissive(spark, dir + "/f.csv", schema)
    val (parsed, corrupt) = FileSources.splitCorrupt(df)
    assert(parsed.count() === 2)
    assert(corrupt.as[String].collect().toSeq === Seq("not_an_int,xxx,bad"))
  }

  test("S3: permissive JSON capture routes malformed rows, keeps good ones") {
    val dir = tmpDir("json")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT, b STRING")
    Files.write(Paths.get(dir, "f.json"),
      """{"a": 1, "b": "ok"}
        |{"a": "not_an_int", "b": 42}
        |{"a": 3, "b": "fine"}""".stripMargin.getBytes("UTF-8"))
    val df = FileSources.jsonPermissive(spark, dir + "/f.json", schema)
    val (parsed, corrupt) = FileSources.splitCorrupt(df)
    assert(parsed.count() === 2)
    assert(corrupt.as[String].collect().toSeq
      === Seq("""{"a": "not_an_int", "b": 42}"""))
  }

  test("A7: watermarked tumbling-window aggregation over a stream") {
    val dir = tmpDir("stream")
    Tables.events(spark, sf).limit(200)
      .write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val agg = Ingest.windowedCounts(stream, "10 minutes", "1 hour")
    val query = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    // append mode emits only watermark-closed windows; all but the
    // final window close ⇒ totals match a batch computation minus
    // the open tail
    val emitted = spark.table("win_out").agg(sum("n")).as[Long].head()
    val batchTotal = 200L
    assert(emitted > 0 && emitted <= batchTotal)
  }

  test("A5 streaming: session_window sessions close at the watermark") {
    val dir = tmpDir("session")
    Tables.events(spark, sf).limit(300)
      .write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val query = Ingest.sessionCounts(stream, gap = "30 minutes", watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("session_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val out = spark.table("session_out")
    val emitted = out.agg(sum("n")).as[Long].head()
    // append mode emits only watermark-closed sessions: something
    // closes, nothing exceeds the input count
    assert(emitted > 0 && emitted <= 300)
    // a session's span is at least one gap long end-to-start
    assert(out.filter(col("session_end") <= col("session_start")).count() === 0)
  }

  test("A7: stream-stream interval join equals the batch join") {
    val dir = tmpDir("ssjoin")
    val ev = Tables.events(spark, sf).limit(400)
    ev.write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    def streamSide(t: String) = spark.readStream.schema(schema)
      .parquet(dir + "/in").filter(col("event_type") === t)
    val query = Ingest.clickPurchaseJoin(
        streamSide("click"), streamSide("purchase"),
        watermark = "10 minutes", within = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val batchEv = spark.read.parquet(dir + "/in")
    def batchSide(t: String) = batchEv.filter(col("event_type") === t)
    val expected = Ingest.clickPurchaseJoin(
        batchSide("click"), batchSide("purchase"))
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.table("ssjoin_out")
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // AvailableNow drains the source fully, so every pair emits —
    // inner stream-stream join output equals the batch join exactly
    assert(got === expected)
    assert(got.nonEmpty, "fixture slice should contain joinable pairs")
  }

  test("C2 streaming: dropDuplicatesWithinWatermark dedups keys") {
    val dir = tmpDir("dedup")
    val ev = Tables.events(spark, sf).limit(100)
      .withColumn("user_mod", col("user_id") % 5)
    ev.write.mode("overwrite").parquet(dir + "/in")
    val schema = spark.read.parquet(dir + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val deduped = Ingest.dedupWithinWatermark(stream, Seq("user_mod"), "1 hour")
    val query = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", dir + "/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val n = spark.table("dedup_out").count()
    // at most one row per distinct user_mod per watermark window;
    // far fewer than the 100 input rows, at least the 5 distinct keys
    assert(n >= 5 && n < 100)
  }

  test("A7/A9: streaming curation pass — quality + dedup + PII across runs") {
    val base = tmpDir("curate")
    val staging = base + "/staging"; val chk = base + "/chk"; val out = base + "/out"
    Files.createDirectories(Paths.get(staging))
    def doc(id: Long, text: String, lang: String = "en") =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang"}"""
    val good = "the quick brown fox jumps over the lazy dog near the river bank today"

    // pass 1: one good doc, one low-quality (degenerate repetition), one PII doc
    Files.write(Paths.get(staging, "b1.json"), Seq(
      doc(1, good),
      doc(2, "spam spam spam spam spam spam spam"), // 7 tokens: misses the length band, ttr ~0.14 -> score < 0.5
      doc(3, good + " contact admin@site.org now please and thank you kindly")
    ).mkString("\n").getBytes("UTF-8"))
    Ingest.curateDocsAvailableNow(spark, staging, chk, out)
    val p1 = spark.read.parquet(out)
    assert(p1.count() === 2) // low-quality dropped
    assert(p1.filter(col("text").contains("admin@site.org")).isEmpty)
    assert(p1.filter(col("text").contains("<EMAIL>")).count() === 1)

    // pass 2: an exact duplicate of doc 1 (new id) + a fresh doc —
    // dedup state persists in the checkpoint across passes
    Files.write(Paths.get(staging, "b2.json"), Seq(
      doc(10, good),
      doc(11, "a genuinely new document with plenty of varied words in it today")
    ).mkString("\n").getBytes("UTF-8"))
    Ingest.curateDocsAvailableNow(spark, staging, chk, out)
    val p2 = spark.read.parquet(out)
    assert(p2.count() === 3) // duplicate content suppressed across runs
    assert(p2.filter(col("doc_id") === 10L).isEmpty)
    assert(p2.filter(col("doc_id") === 11L).count() === 1)
  }

  test("A7: streaming drift monitor accumulates to the batch TV across runs") {
    import spark.implicits._
    val base = tmpDir("drift")
    val staging = base + "/staging"; val chk = base + "/chk"; val out = base + "/out"
    Files.createDirectories(Paths.get(staging))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text","lang":"en"}"""
    val ref = Seq((1L, "the quick brown fox and the lazy dog"),
      (2L, "a river runs through the quiet valley")).toDF("doc_id", "text")

    val f1 = "the quick brown fox naps all day"
    val f2 = "an entirely different stream of words arrives here"
    Files.write(Paths.get(staging, "d1.json"),
      doc(1, f1).getBytes("UTF-8"))
    Ingest.driftMonitorAvailableNow(spark, staging, chk, ref, "text", out)
    Files.write(Paths.get(staging, "d2.json"),
      doc(2, f2).getBytes("UTF-8"))
    Ingest.driftMonitorAvailableNow(spark, staging, chk, ref, "text", out)

    val rows = spark.read.parquet(out)
    assert(rows.count() >= 2, "one appended summary row per non-empty batch")
    // the checkpointed running counts make the LAST row equal the
    // batch-mode drift over everything streamed so far
    val last = rows.orderBy(col("batch_id").desc).limit(1)
      .select("n_ref", "n_cur", "tv_microsum", "tv_dist").collect().head
    val streamed = Seq((1L, f1), (2L, f2)).toDF("doc_id", "text")
    val batch = graft.llm.Drift.summary(ref, streamed, "text")
      .select("n_ref", "n_cur", "tv_microsum", "tv_dist").collect().head
    assert(last === batch)
    // and the monitor is a curve: the first batch's TV differs from
    // the accumulated one (the second file shifted the distribution)
    val tvs = rows.select("tv_dist").as[Double].collect().toSet
    assert(tvs.size >= 2)
  }

  test("cdcResolvedAvailableNow: streamed per-key state across restarts == one-shot Cdc.state") {
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft_cdc_stream")
    val staging = s"$base/staging"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(staging))
    def line(k: Long, ver: Long, op: String, payload: String) =
      s"""{"k":$k,"ver":$ver,"op":"$op","payload":"$payload"}""" + "\n"
    // file 1: inserts; file 2 (after a RESTART): an update, a
    // tombstone, and a LATE change versioned before the tombstone
    Files.write(Paths.get(staging, "b1.json"),
      (line(1, 10, "U", "a") + line(2, 10, "U", "b")).getBytes("UTF-8"))
    Ingest.cdcResolvedAvailableNow(spark, staging, chk, out)
    Files.write(Paths.get(staging, "b2.json"),
      (line(1, 20, "U", "a2") + line(2, 30, "D", "gone") +
        line(2, 20, "U", "late")).getBytes("UTF-8"))
    Ingest.cdcResolvedAvailableNow(spark, staging, chk, out)

    val rows = spark.read.parquet(out)
    val finalState = rows.groupBy("k")
      .agg(expr("max_by(struct(ver, op, payload), batch_id)").as("st"))
      .select(col("k"), col("st.ver").as("ver"), col("st.op").as("op"),
        col("st.payload").as("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    // one-shot batch replay over the same log
    val log = Seq((1L, 10L, "U", "a"), (2L, 10L, "U", "b"), (1L, 20L, "U", "a2"),
      (2L, 30L, "D", "gone"), (2L, 20L, "U", "late"))
      .toDF("k", "ver", "op", "payload")
    val batch = graft.etl.Cdc.state(log, Seq("k"), Seq("ver"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("ver"),
        r.getAs[String]("op"), r.getAs[String]("payload")))
      .sortBy(_._1)
    assert(finalState === batch)
    // the tombstone survived the late lower-versioned change
    assert(finalState.find(_._1 == 2L).get._3 === "D")
  }

  test("snapshotCdcApplyAvailableNow: keyed change feed maintains a derived table, resume + no double-apply") {
    import graft.etl.Snapshots
    val base = tmpDir("graft_cdc_apply")
    val src = s"$base/src"; val dst = s"$base/dst"; val chk = s"$base/chk"
    Snapshots.commitWithStats(spark,
      (1L to 10L).map(i => (i, i * 1.0, "base")).toDF("id", "x", "s")
        .coalesce(1), src, Seq("id"))
    Snapshots.append(spark,
      (11L to 15L).map(i => (i, i * 1.0, "b2")).toDF("id", "x", "s"), src)
    // first run: bootstrap (v1) + incremental apply (v2)
    Ingest.snapshotCdcApplyAvailableNow(spark, src, chk, dst, "id",
      Seq("id"), maxFilesPerTrigger = Some(1))
    assert(Snapshots.versions(spark, dst) === Seq(1L, 2L))
    assert(Snapshots.lastTag(spark, dst) === Some(2L))
    def equiv(): Boolean = {
      val s0 = Snapshots.read(spark, src); val d0 = Snapshots.read(spark, dst)
      s0.exceptAll(d0).isEmpty && d0.exceptAll(s0).isEmpty
    }
    assert(equiv(), "the bootstrap + first apply must mirror the source")
    // mid-range mutation: an upsert (update id=3, insert id=99) and a
    // merge-on-read delete — the full change vocabulary
    Snapshots.merge(spark,
      Seq((3L, 333.0, "upd"), (99L, 9.0, "new")).toDF("id", "x", "s"),
      src, "id", Seq("id"))
    Snapshots.deleteWhere(spark, src, col("id") % 5 === 0)
    // checkpoint RESUME: only v3/v4 flow (one dst commit per source
    // version — 2 new versions, tags advance to 4)
    Ingest.snapshotCdcApplyAvailableNow(spark, src, chk, dst, "id", Seq("id"))
    assert(Snapshots.versions(spark, dst) === (1L to 4L))
    assert(Snapshots.lastTag(spark, dst) === Some(4L))
    assert(equiv(), "updates, inserts and deletes must all propagate")
    assert(Snapshots.read(spark, dst).filter(col("id") === 3L)
      .head().getDouble(1) === 333.0)
    assert(Snapshots.read(spark, dst).filter(col("id") % 5 === 0).count() === 0L)
    // fresh-checkpoint rerun: every version re-delivers, every apply
    // SKIPS on its tag — zero new dst versions (no double-apply)
    Ingest.snapshotCdcApplyAvailableNow(spark, src, s"$base/chk2", dst,
      "id", Seq("id"))
    assert(Snapshots.versions(spark, dst) === (1L to 4L),
      "a replayed feed must not double-apply")
    assert(equiv())
  }
}
