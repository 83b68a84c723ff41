package graft.streaming

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming smoke: drain each streaming entry with
  * Trigger.AvailableNow and check it agrees with its batch twin. */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  test("streaming tumbling window equals batch tumbling window") {
    val streamed = StreamOps.streamTumbling.fn(spark, sf())
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2))).toMap
    val batch = graft.operators.EventOps.t1Tumbling.fn(spark, sf())
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2))).toMap
    assert(streamed == batch)
  }

  test("t7: checkpointed file sink resumes across restarts — new files land once, old files never re-land") {
    import java.nio.file.Paths
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test",
      s"t7_recovery_p${ProcessHandle.current().pid()}")
    graft.ingest.Writers.deleteTree(base)
    val src = base.resolve("src").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("id", LongType))))
        .parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: ids 0..99 land exactly once
    spark.range(100).toDF("id").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(out).count() == 100)
    // restart with NO new data: checkpoint says everything is processed
    runOnce()
    assert(spark.read.parquet(out).count() == 100, "restart duplicated already-landed files")
    // batch 2 arrives; restart lands ONLY the delta
    spark.range(100, 150).toDF("id").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 150L), "delta restart lost or duplicated rows")
  }

  test("delta tail: schema tracking survives mid-stream additive evolution across a restart") {
    import java.nio.file.Paths
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "delta_schematrack")
    graft.ingest.Writers.deleteTree(base)
    val tbl = base.resolve("tbl").toString
    val ckpt = base.resolve("ckpt").toString
    val track = base.resolve("track").toString
    val sink = base.resolve("sink").toString
    graft.interop.DeltaLake.write(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), tbl)
    def drain(): Unit = {
      val q = s.readStream.format("delta")
        .option("schemaTrackingLocation", track).load(tbl)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .option("mergeSchema", "true")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // bootstrap under (k, v); tracking entry 0 recorded
    assert(org.apache.spark.sql.graft.StreamSchemaTracking.read(track)
      .exists(_._1.fieldNames.toSeq == Seq("k", "v")))
    // mid-stream ADDITIVE evolution + new rows in one commit
    graft.interop.DeltaLake.write(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "extra"), tbl,
      mode = SaveMode.Append, mergeSchema = true)
    // the running-stream contract: this drain fails ONCE, recording the schema
    val e = intercept[Exception](drain())
    assert(e.getMessage.contains("RESTART the stream"),
      s"expected the record-and-restart failure, got: ${e.getMessage}")
    assert(org.apache.spark.sql.graft.StreamSchemaTracking.read(track)
      .exists(_._1.fieldNames.toSeq == Seq("k", "v", "extra")),
      "the evolved schema must be recorded before the query fails")
    // RESTART: resumes from the checkpoint serving the evolved schema
    drain()
    val out = s.read.option("mergeSchema", "true").parquet(sink)
    assert(out.columns.sorted.toSeq == Seq("extra", "k", "v"))
    val rows = out.select("k", "v", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L), (4L, "d", 40L)),
      s"pre-evolution rows null-fill, evolved rows carry the column; got $rows")
    // a THIRD append under the evolved schema flows without incident
    graft.interop.DeltaLake.write(
      Seq((5L, "e", 50L)).toDF("k", "v", "extra"), tbl,
      mode = SaveMode.Append)
    drain()
    assert(s.read.option("mergeSchema", "true").parquet(sink).count() == 5)
  }

  test("delta tail: a RUNNING query without tracking refuses the schema change, naming the option") {
    import java.nio.file.Paths
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val s = spark
    import s.implicits._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "delta_noschtrack")
    graft.ingest.Writers.deleteTree(base)
    val tbl = base.resolve("tbl").toString
    graft.interop.DeltaLake.write(Seq((1L, "a")).toDF("k", "v"), tbl)
    // a source pinned while the table was (k, v) — the running-query state
    val pinned = graft.interop.DeltaLake.snapshot(s, tbl).schema
    def source(schema: org.apache.spark.sql.types.StructType) =
      new graft.interop.DeltaSourceProvider().createSource(s.sqlContext,
        base.resolve("meta").toString, Some(schema), "delta", Map("path" -> tbl))
    val src = source(pinned)
    // evolution lands under the running query
    graft.interop.DeltaLake.write(Seq((2L, "b", 1L)).toDF("k", "v", "extra"), tbl,
      mode = SaveMode.Append, mergeSchema = true)
    val e = intercept[Exception](src.getBatch(Some(LongOffset(0L)), LongOffset(1L)))
    assert(e.getMessage.contains("schemaTrackingLocation"),
      s"the refusal must name the unblock option, got: ${e.getMessage}")
    // a RESTARTED (re-pinned) query serves the evolved schema — Delta's
    // restart-fresh contract, proven through the provider
    val src2 = source(graft.interop.DeltaLake.snapshot(s, tbl).schema)
    assert(src2.getBatch(Some(LongOffset(0L)), LongOffset(1L)).columns.toSeq ==
      Seq("k", "v", "extra"))
  }

  test("iceberg tail: schema tracking survives mid-stream additive evolution across a restart") {
    import java.nio.file.Paths
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "ice_schematrack")
    graft.ingest.Writers.deleteTree(base)
    val tbl = base.resolve("tbl").toString
    val ckpt = base.resolve("ckpt").toString
    val track = base.resolve("track").toString
    val sink = base.resolve("sink").toString
    graft.interop.Iceberg.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), tbl)
    def drain(): Unit = {
      val q = s.readStream.format("iceberg")
        .option("schemaTrackingLocation", track).load(tbl)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .option("mergeSchema", "true")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    graft.interop.Iceberg.write(Seq((3L, "c", 30L)).toDF("k", "v", "extra"), tbl,
      mode = SaveMode.Append, mergeSchema = true)
    val e = intercept[Exception](drain())
    assert(e.getMessage.contains("RESTART the stream"),
      s"expected record-and-restart, got: ${e.getMessage}")
    drain() // restart resumes serving the evolved schema
    val out = s.read.option("mergeSchema", "true").parquet(sink)
    assert(out.columns.sorted.toSeq == Seq("extra", "k", "v"))
    val rows = out.select("k", "v", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)), s"got $rows")
  }

  test("t4: events behind the checkpointed watermark are dropped, not aggregated") {
    import org.apache.spark.sql.functions.{col, expr}
    val splitUs = 1705276800000000L // the entry's 2024-01-15T00:00Z split
    // precondition: the late batch is non-empty, or the proof is vacuous
    val late = graft.core.Tables.events(spark, sf())
      .filter(expr("ts div 1000") < splitUs).count()
    assert(late > 0, "fixture has no pre-split events; the drop proof tests nothing")
    val out = StreamOps.streamLateDrop.fn(spark, sf())
    assert(out.count() > 0, "sink is empty — no watermark-closed windows landed")
    // had any late event survived, its pre-split day window (end far below
    // the watermark) would emit immediately in append mode
    assert(out.filter(col("day_start_us") < splitUs).count() == 0,
      "a pre-split window reached the sink: late data was aggregated instead of dropped")
  }

  test("streaming stateful counts equal plain group counts") {
    val streamed = StreamOps.streamStateful.fn(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.core.Tables.events(spark, sf())
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("t22 timers: re-arm across batches deletes the stale timer; flush fires once per user") {
    import java.nio.file.Paths
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{col, expr}
    val s = spark
    import s.implicits._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "t22_rearm")
    graft.ingest.Writers.deleteTree(base)
    val src = base.resolve("src").toString
    def at(min: Long): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min))
    // batch 1: user 1 at T0 and T0+5; user 2 at T0
    Seq((1L, at(0)), (1L, at(5)), (2L, at(0)))
      .toDF("user_id", "ets").coalesce(1).write.parquet(src + "/f1")
    // batch 2: user 1 again at T0+10 (re-arm!); user 3 at T0+120 drives
    // the watermark far past users 1 and 2, but not past its own timer
    Seq((1L, at(10)), (3L, at(120)))
      .toDF("user_id", "ets").coalesce(1).write.parquet(src + "/f2")
    // file order = batch order under maxFilesPerTrigger: age f1 below f2
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def onlyParquet(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.setTimes(onlyParquet(src + "/f1"), System.currentTimeMillis() - 60000, -1)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val previous = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val flushed = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ets", org.apache.spark.sql.types.TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .withWatermark("ets", "1 minute")
        .select(col("user_id"), expr("unix_millis(ets)").as("ts_ms"))
        .as[StreamOps.UserLast]
        .groupByKey(_.user_id)
        .transformWithState(new StreamOps.InactivityFlushProcessor(30L * 60000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      spark.streams.active.filter(_.name == "t22_rearm").foreach(_.stop())
      val q = flushed.toDF().writeStream.format("memory").queryName("t22_rearm")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.table("t22_rearm")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
      // re-arm proof: user 1 flushes ONCE with the cross-batch count 3 —
      // a stale (undeleted) batch-1 timer would fire a SECOND emission;
      // user 2 flushes with 1; user 3's timer is past the watermark
      assert(rows == Seq(1L -> 3L, 2L -> 1L),
        s"expected exactly one flush per inactive user, got $rows")
    } finally {
      previous match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("processing-time timers: wall-clock expiry flushes armed keys, spares fresh ones") {
    import java.nio.file.Paths
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{col, expr}
    val s = spark
    import s.implicits._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "t_proctime")
    graft.ingest.Writers.deleteTree(base)
    val src = base.resolve("src").toString
    def at(min: Long): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min))
    // batch 1 arms 1.5 s wall-clock timers for users 1 and 2
    Seq((1L, at(0)), (1L, at(5)), (2L, at(0)))
      .toDF("user_id", "ets").coalesce(1).write.parquet(src + "/f1")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val previous = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val flushed = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ets", org.apache.spark.sql.types.TimestampType))))
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select(col("user_id"), expr("unix_millis(ets)").as("ts_ms"))
        .as[StreamOps.UserLast]
        .groupByKey(_.user_id)
        .transformWithState(new StreamOps.ProcTimeFlushProcessor(1500L),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      spark.streams.active.filter(_.name == "t_proctime").foreach(_.stop())
      val q = flushed.toDF().writeStream.format("memory").queryName("t_proctime")
        .outputMode("update").trigger(Trigger.ProcessingTime("250 milliseconds")).start()
      try {
        // let the timers pass wall-clock, then land a late file: the
        // batch that reads it runs with processing time PAST the armed
        // expiries — users 1 and 2 flush; user 3's fresh timer does not
        Thread.sleep(2500L)
        Seq((3L, at(120))).toDF("user_id", "ets").coalesce(1).write.parquet(src + "/f2")
        val deadline = System.currentTimeMillis() + 30000L
        def rows(): Seq[(Long, Long)] = spark.table("t_proctime")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
        while (rows().size < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(200L)
        assert(rows() == Seq(1L -> 2L, 2L -> 1L),
          s"wall-clock expiry must flush exactly the armed users once: ${rows()}")
      } finally q.stop()
    } finally {
      previous match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("dropDuplicatesWithinWatermark re-admits a key after its state expires") {
    import java.nio.file.Paths
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", "t24_readmit")
    graft.ingest.Writers.deleteTree(base)
    val src = base.resolve("src").toString
    def at(min: Long): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min))
    // batch 1: key (1, click) at T0 — arms dedup state expiring at
    // T0 + 1 minute
    Seq((1L, "click", at(0)))
      .toDF("user_id", "event_type", "ets").coalesce(1).write.parquet(src + "/f1")
    // batch 2: an event 2h ahead ADVANCES the watermark past the key's
    // expiry (the new watermark becomes current one batch later)
    Seq((9L, "click", at(120)))
      .toDF("user_id", "event_type", "ets").coalesce(1).write.parquet(src + "/f2")
    // batch 3: runs WITH the advanced watermark — its end-of-batch
    // state cleanup evicts the expired key
    Seq((8L, "click", at(121)))
      .toDF("user_id", "event_type", "ets").coalesce(1).write.parquet(src + "/f3")
    // batch 4: the SAME key again, above the watermark — with expired
    // state it must be re-emitted (plain dropDuplicates, whose state
    // never expires, would suppress it forever)
    Seq((1L, "click", at(125)))
      .toDF("user_id", "event_type", "ets").coalesce(1).write.parquet(src + "/f4")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def onlyParquet(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.setTimes(onlyParquet(src + "/f1"), System.currentTimeMillis() - 180000, -1)
    fs.setTimes(onlyParquet(src + "/f2"), System.currentTimeMillis() - 120000, -1)
    fs.setTimes(onlyParquet(src + "/f3"), System.currentTimeMillis() - 60000, -1)
    val deduped = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ets", org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src)
      .withWatermark("ets", "1 minute")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    spark.streams.active.filter(_.name == "t24_readmit").foreach(_.stop())
    val q = deduped.writeStream.format("memory").queryName("t24_readmit")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("t24_readmit")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows == Seq((1L, "click"), (1L, "click"), (8L, "click"), (9L, "click")),
      s"expired key must re-emit exactly once more: $rows")
  }

  test("_schema_log journal: rival writers lose the O_EXCL claim loudly, never clobber") {
    import java.nio.file.Paths
    import org.apache.spark.sql.graft.StreamSchemaTracking
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test",
      "schema_log_race").toString
    graft.ingest.Writers.deleteTree(Paths.get(dir))
    val n = 8
    val schemas = (0 until n).map(i =>
      StructType(Seq(StructField("k", LongType), StructField(s"c$i", LongType))))
    val start = new java.util.concurrent.CountDownLatch(1)
    val losers = new java.util.concurrent.atomic.AtomicInteger(0)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        // a real rival writer is a stream's microbatch thread, which
        // carries its session; bare test threads must attach it
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        start.await()
        try StreamSchemaTracking.record(dir, schemas(i), i.toLong)
        catch {
          case _: java.util.ConcurrentModificationException => losers.incrementAndGet(): Unit
          case t: Throwable => unexpected.add(t): Unit
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(unexpected.isEmpty, s"writer threads crashed: ${unexpected.peek()}")
    // no lost update, whatever the interleaving: every journal entry is
    // an intact record from a thread that reported SUCCESS, and wins +
    // loud losses account for every writer (the pre-claim overwrite
    // journal silently dropped losers' entries instead)
    val d = new org.apache.hadoop.fs.Path(dir, "_schema_log")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(d).map(_.getPath).filter(_.getName.endsWith(".json")).toSeq
    val recorded = entries.map { p =>
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      assert(node.hasNonNull("schema") && node.hasNonNull("deltaVersion"),
        s"torn or clobbered journal entry ${p.getName}: $text")
      org.apache.spark.sql.types.DataType.fromJson(node.get("schema").asText)
        .asInstanceOf[StructType]
    }
    assert(recorded.map(StreamSchemaTracking.canonical).distinct.size == recorded.size,
      "two writers landed the same schema twice")
    assert(recorded.size + losers.get == n,
      s"${recorded.size} entries + ${losers.get} loud losers must account for all $n writers")
    assert(losers.get > 0 || recorded.size == n,
      "either every writer won a distinct slot or some lost loudly — silence is clobbering")
    // the benign double-fire: re-recording the NEWEST schema no-ops
    val (newest, _) = StreamSchemaTracking.read(dir).get
    StreamSchemaTracking.record(dir, newest, 99L)
    assert(fs.listStatus(d).count(_.getPath.getName.endsWith(".json")) == recorded.size)
  }
}
