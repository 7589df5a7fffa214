package graft

import graft.etl.{Load, Transform}
import org.apache.spark.sql.functions._

/** S4/S5/S6/S8 sink semantics over the parquet-backed table
  * stand-in.
  */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  test("scrub maps NaN/±Inf to null, leaves values") {
    val df = Seq(1.5, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("x")
    val got = Load.scrub(df).as[Option[Double]].collect().toSeq
    assert(got === Seq(Some(1.5), None, None, None))
  }

  test("upsert: insert then latest-wins update on the business key") {
    val path = tmpDir("fact") + "/t"
    val v1 = Seq(("o1", "a", 1.0), ("o2", "b", 2.0)).toDF("Order ID", "Items", "Amount")
    Load.upsert(spark, v1, path, Seq("order_id", "items"))
    val v2 = Seq(("o1", "a", 9.0), ("o3", "c", 3.0)).toDF("Order ID", "Items", "Amount")
    Load.upsert(spark, v2, path, Seq("order_id", "items"))
    val got = Load.readTable(spark, path)
      .select("order_id", "items", "amount")
      .orderBy("order_id").as[(String, String, Double)].collect().toSeq
    assert(got === Seq(("o1", "a", 9.0), ("o2", "b", 2.0), ("o3", "c", 3.0)))
    // idempotent: re-upserting the same batch changes nothing
    Load.upsert(spark, v2, path, Seq("order_id", "items"))
    assert(Load.readTable(spark, path).count() === 3)
  }

  test("upsert rewrites ONLY the partitions containing incoming keys") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = tmpDir("pruned") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = (1 to 300).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)

    def files(): Map[String, String] =
      Files.walk(Paths.get(path)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          val h = md.digest(Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
          Paths.get(path).relativize(p).toString -> h
        }.toMap

    val before = files()
    val v2 = Seq(("o1", "i1", 9.0)).toDF("order_id", "items", "amount")
    val touched = v2.select(Load.bucketOf(keys)).as[Long].head()
    Load.upsert(spark, v2, path, keys)
    val after = files()

    def untouched(m: Map[String, String]) =
      m.filterNot(_._1.startsWith(s"__bucket=$touched"))
    // untouched partitions: the exact same files, byte for byte
    assert(untouched(before) === untouched(after))
    assert(untouched(before).nonEmpty)
    // the touched partition was rewritten
    assert(before.filter(_._1.startsWith(s"__bucket=$touched"))
      !== after.filter(_._1.startsWith(s"__bucket=$touched")))
    // and the merge semantics held
    val t = Load.readTable(spark, path)
    assert(t.count() === 300)
    assert(t.filter(col("order_id") === "o1").select("amount")
      .as[Double].head() === 9.0)
  }

  test("upsert: one file per bucket, one shuffle, no job wider than the cores") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val path = tmpDir("onefile") + "/t"
    val keys = Seq("order_id", "items")
    def filesPerBucket(): Map[String, Int] =
      Files.list(Paths.get(path)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("__bucket="))
        .map(d => d.getFileName.toString -> Files.list(d).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")))
        .toMap
    // create path: spread over more input partitions than there are
    // cores, so any bucket split across tasks would show as 2+ files;
    // with AQE's partition coalescing off, the plan itself — not a
    // tiny input's coalesced shuffle — must keep each bucket whole
    val v1 = (1 to 600).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount").repartition(8)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesceKey, "false")
    try Load.upsert(spark, v1, path, keys)
    finally spark.conf.unset(coalesceKey)
    assert(filesPerBucket().size === Load.UpsertBuckets)
    assert(filesPerBucket().values.toSet === Set(1))

    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val tasksOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStages.put(e.jobId, e.stageIds)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        tasksOfStage.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    val qes = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (flatten(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(qes)
    // updates 100 existing keys, inserts 100 new ones; one input
    // partition, as one workbook's micro-batch arrives (the
    // touched-bucket collect runs on the batch's own partitions)
    val v2 = (501 to 700).map(i => (s"o$i", s"i$i", 2.0))
      .toDF("order_id", "items", "amount").coalesce(1)
    try {
      Load.upsert(spark, v2, path, keys)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(qes)
    }
    assert(filesPerBucket().values.toSet === Set(1))
    val t = Load.readTable(spark, path)
    assert(t.count() === 700)
    assert(t.filter(col("amount") === 2.0).count() === 200)

    // the merge write: exactly one shuffle (the bucket repartition the
    // window reuses), broadcast exchanges aside
    assert(writes.size === 1)
    val shuffles = flatten(writes.peek().executedPlan)
      .collect { case x: ShuffleExchangeLike => x }
    assert(shuffles.size === 1, writes.peek().executedPlan.treeString)
    // no listing job, no writer per bucket: every job fits in the cores
    val jobTasks = jobStages.asScala.values.map(_.map(s =>
      tasksOfStage.getOrDefault(s, 0)).sum)
    assert(jobTasks.nonEmpty)
    assert(jobTasks.max <= spark.sparkContext.defaultParallelism,
      s"job task counts: ${jobTasks.toSeq.sorted}")
  }

  test("upsert swap: crash before rename-in loses nothing; replay converges") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val path = tmpDir("crash1") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = (1 to 300).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)
    val v2 = Seq(("o1", "i1", 9.0)).toDF("order_id", "items", "amount")
    val b = v2.select(Load.bucketOf(keys)).as[Long].head()
    // simulate a crash between the swap's phase 1 (old gen moved
    // aside) and phase 2 (new gen renamed in): the bucket is ABSENT
    // from the table, its only copy lives in the aside dir
    Files.createDirectories(Paths.get(path + "__swap"))
    Files.move(Paths.get(s"$path/__bucket=$b"),
      Paths.get(s"${path}__swap/__bucket=$b"))
    // a checkpoint replay of the same batch must first restore the
    // old generation, then merge — no key may be lost
    Load.upsert(spark, v2, path, keys)
    val t = Load.readTable(spark, path)
    assert(t.count() === 300)
    assert(t.filter(col("order_id") === "o1").select("amount").as[Double].head() === 9.0)
    assert(!Files.exists(Paths.get(path + "__swap")))
    assert(!Files.exists(Paths.get(path + "__tmp")))
  }

  test("upsert swap: crash after rename-in keeps new gen; replay idempotent") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val path = tmpDir("crash2") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = (1 to 300).map(i => (s"o$i", s"i$i", 1.0))
      .toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)
    val v2 = Seq(("o1", "i1", 9.0)).toDF("order_id", "items", "amount")
    val b = v2.select(Load.bucketOf(keys)).as[Long].head()
    // keep a copy of the OLD generation of the touched bucket
    val oldCopy = Paths.get(tmpDir("crash2-old"), s"__bucket=$b")
    Files.createDirectories(oldCopy.getParent)
    Files.walk(Paths.get(s"$path/__bucket=$b")).iterator().asScala.toSeq.foreach { p =>
      val rel = Paths.get(s"$path/__bucket=$b").relativize(p)
      Files.copy(p, oldCopy.resolve(rel.toString), StandardCopyOption.REPLACE_EXISTING)
    }
    Load.upsert(spark, v2, path, keys) // completes: dst = new gen
    // simulate a crash after phase 2 but before cleanup: the old
    // generation is still sitting aside next to the committed new one
    Files.createDirectories(Paths.get(path + "__swap"))
    Files.move(oldCopy, Paths.get(s"${path}__swap/__bucket=$b"))
    // replaying the same batch keeps the new generation (merge is
    // idempotent) and clears the aside copy
    Load.upsert(spark, v2, path, keys)
    val t = Load.readTable(spark, path)
    assert(t.count() === 300)
    assert(t.filter(col("order_id") === "o1").select("amount").as[Double].head() === 9.0)
    assert(!Files.exists(Paths.get(path + "__swap")))
  }

  test("whole-table swap: crash leaving table at __prev recovers on next op") {
    import java.nio.file.{Files, Paths}
    val path = tmpDir("crash3") + "/t"
    val keys = Seq("order_id", "items")
    val v1 = Seq(("o1", "a", 1.0), ("o2", "b", 2.0)).toDF("order_id", "items", "amount")
    Load.upsert(spark, v1, path, keys)
    // simulate a crash between swap's aside rename and the new-gen
    // rename: the only copy of the table is parked at __prev
    Files.move(Paths.get(path), Paths.get(path + "__prev"))
    // the next upsert recovers it and merges normally
    val v2 = Seq(("o1", "a", 9.0)).toDF("order_id", "items", "amount")
    Load.upsert(spark, v2, path, keys)
    val got = Load.readTable(spark, path)
      .select("order_id", "amount").orderBy("order_id")
      .as[(String, Double)].collect().toSeq
    assert(got === Seq(("o1", 9.0), ("o2", 2.0)))
    assert(!Files.exists(Paths.get(path + "__prev")))
  }

  test("S6/J1 star normalization: all-integer fact, FK integrity") {
    val clean = Seq(
      ("1", "Latte", 2.0, 10.0, 10.0, "t1", "Cash", "Dine-in"),
      ("2", "Croffle", 1.0, 5.0, 5.0, "t2", "Gcash", "Take-out"))
      .toDF("order_id", "items", "quantity", "total_order_amount",
        "received_amount", "payment_time", "payment_type", "order_type")
    val star = Load.normalizeStar(clean)
    assert(star.fact.count() === 2)
    assert(star.dimItem.count() === 2)
    // every fact FK resolves
    val joined = star.fact
      .join(star.dimItem, Seq("item_id"))
      .join(star.dimPayment, Seq("payment_type_id"))
      .join(star.dimOrderType, Seq("order_type_id"))
    assert(joined.count() === 2)
    // surrogates are stable across runs (hash, not sequence)
    val again = Load.normalizeStar(clean)
    assert(star.dimItem.orderBy("items").collect().toSeq
      === again.dimItem.orderBy("items").collect().toSeq)
  }

  test("S8 reprocess: quarantined rows promote after the dim learns the item") {
    import spark.implicits._
    val base = tmpDir("reproc")
    val factPath = base + "/fact"
    val qPath = base + "/quarantine"
    val raw = Seq(
      ("1", "Spanish Latte (Solo) (Hot) x1", "100.00", "100.00", "t", "100.00", "-", "Dine-in"),
      ("2", "Halo-Halo Special x1", "50.00", "50.00", "t", "50.00", "-", "Dine-in"))
      .toDF("Order ID", "Products", "Product amount", "Received amount",
        "Payment time", "Cash", "Gcash", "Type/Channel")
    val split = Transform.run(raw, Transform.dimDF(spark))
    Load.upsert(spark, split.clean, factPath, Seq("order_id", "items"))
    Load.appendQuarantine(split.quarantine, qPath)
    assert(spark.read.parquet(factPath).count() === 1)
    assert(spark.read.parquet(qPath).count() === 1)
    // dim unchanged → nothing promotes
    val (p0, r0) = Load.reprocessQuarantine(spark, qPath, factPath,
      Transform.dimDF(spark), Seq("order_id", "items"))
    assert(p0 === 0 && r0 === 1)
    // teach the dim the quarantined product → row promotes to fact
    val dim2 = Transform.dimDF(spark)
      .unionByName(Seq(("Halo-Halo Special", "Ice Cream", "Desserts"))
        .toDF("clean_item", "sub_category", "category"))
    val (p1, r1) = Load.reprocessQuarantine(spark, qPath, factPath, dim2,
      Seq("order_id", "items"))
    assert(p1 === 1 && r1 === 0)
    assert(spark.read.parquet(factPath).count() === 2)
    assert(spark.read.parquet(qPath).count() === 0)
  }

  test("shard writer: manifest commit marker, stats from disk, atomic rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tmpDir("shards")
    val out = base + "/shards"
    val docs = Tables.documents(spark, sf)
    val packed = graft.llm.Packing.packShards(docs, "doc_id",
        size(split(col("text"), " ")), budget = 4096L)
      .join(docs.select("doc_id", "lang", "text"), Seq("doc_id"))
    graft.llm.BarrierCache.sweep(spark)

    Load.writeSharded(spark, packed, "shard", Some("tok"), out)
    val back = Load.readSharded(spark, out)
    assert(back.count() === packed.count())
    // manifest agrees with what a reader sees per shard (read via
    // FS: underscore-prefixed files are hidden from Spark's file
    // index by design, so the parquet reader skips it)
    val manifestLines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_MANIFEST.json")), "UTF-8").split("\n").toSeq
    val observed = back.groupBy("shard")
      .agg(count(lit(1)).as("n"), sum("tok").as("t"))
      .select(col("shard").cast("long"), col("n"), col("t"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val expected = observed.map { case (s, n, t) =>
      s"""{"shard":$s,"n_docs":$n,"n_tokens":$t}"""
    }
    assert(manifestLines === expected)

    // rewriting in place swaps atomically and stays readable
    Load.writeSharded(spark, packed.filter(col("shard") === 0), "shard", Some("tok"), out)
    assert(Load.readSharded(spark, out).select("shard").distinct().count() === 1)

    // a dataset without the commit marker is refused
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out, "_MANIFEST.json"), false)
    val err = intercept[IllegalArgumentException] { Load.readSharded(spark, out) }
    assert(err.getMessage.contains("_MANIFEST.json"))
  }

  test("shard writer: empty input commits an empty dataset; reader recovers __prev") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = tmpDir("shards-edge") + "/t"
    val none = Seq.empty[(Long, Long, String)].toDF("doc_id", "tok", "text")
      .withColumn("shard", lit(0L))
    Load.writeSharded(spark, none, "shard", Some("tok"), out)
    assert(Load.readSharded(spark, out).count() === 0)
    // crash-sim: table parked at __prev (swap died between renames)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(out),
      new org.apache.hadoop.fs.Path(out + "__prev")))
    assert(Load.readSharded(spark, out).count() === 0) // recovered, not rejected
  }

  test("compact recurses into partition dirs in place; manifest datasets refuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = tmpDir("compact-guard")
    // partition-directory table (the quarantine/upsert/ingest layout):
    // each partition compacts independently, the dir tree survives
    val pdir = base + "/pdir"
    (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v").repartition(10)
      .write.parquet(s"$pdir/__batch=1")
    (201L to 400L).map(i => (i, s"v$i")).toDF("k", "v").repartition(10)
      .write.parquet(s"$pdir/__batch=2")
    def filesIn(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = spark.read.parquet(pdir).orderBy("k")
      .as[(Long, String, Int)].collect()
    Load.compact(spark, pdir)
    assert(filesIn(s"$pdir/__batch=1") === 1)
    assert(filesIn(s"$pdir/__batch=2") === 1)
    val after = spark.read.parquet(pdir).orderBy("k")
      .as[(Long, String, Int)].collect()
    assert(after === before, "partition-dir compaction changed the data")
    // manifest-committed shard dataset
    val sh = base + "/sh"
    val packed = graft.llm.Packing.packShards(Tables.documents(spark, sf),
      "doc_id", size(split(col("text"), " ")), budget = 4096L)
    graft.llm.BarrierCache.sweep(spark)
    Load.writeSharded(spark, packed, "shard", Some("tok"), sh)
    val e2 = intercept[IllegalArgumentException] { Load.compact(spark, sh) }
    assert(e2.getMessage.contains("manifest-committed"))
  }

  test("compaction shrinks the file count and preserves data exactly") {
    import org.apache.spark.sql.functions._
    val path = tmpDir("compact") + "/t"
    // simulate micro-batch accretion: 40 tiny files
    Tables.documents(spark, sf).repartition(40)
      .write.mode("overwrite").parquet(path)
    def files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    def checksum() = spark.read.parquet(path)
      .agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    val before = checksum()
    assert(files === 40)
    Load.compact(spark, path, targetBytes = 512L * 1024)
    assert(files < 40, s"still $files files")
    val after = checksum()
    assert(after === before)
  }

  test("range-clustered write yields disjoint per-file key ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = tmpDir("clustered") + "/t"
    Load.writeClustered(spark, Tables.documents(spark, sf), "doc_id", 8, path)
    val ranges = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("doc_id"), max("doc_id")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: $hi >= $lo")
    }
    // and the data survives intact
    assert(spark.read.parquet(path).count() === Tables.documents(spark, sf).count())
  }
}
