package graft.cdc

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming slice (SURVEY §7.2): JSON change events →
  * parse+DLQ → transforms → foreachBatch merge → warehouse table →
  * validation query. Mirrors tests/integration/test_end_to_end.py. */
class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val envSchema = StructType(Seq(
    StructField("topic", StringType),
    StructField("operation", StringType),
    StructField("commit_timestamp", LongType),
    StructField("user_id", StringType),
    StructField("username", StringType),
    StructField("status", StringType)))

  private def tmpDir(): String =
    Files.createTempDirectory("graft-cdc").toString

  private def jsonEvents(events: Seq[String]): String = {
    val in = tmpDir()
    Files.writeString(java.nio.file.Paths.get(s"$in/batch0.json"),
      events.mkString("\n"))
    in
  }

  private def ev(op: String, ts: Long, id: String, user: String,
      status: String): String = {
    val u = if (user == null) "null" else s""""$user""""
    val st = if (status == null) "null" else s""""$status""""
    s"""{"topic":"scylla-cluster.app_data.users","operation":"$op","commit_timestamp":$ts,"user_id":"$id","username":$u,"status":$st}"""
  }

  test("S1 Kafka option map mirrors the reference connector config") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("users" -> Seq("user_id")))
    // the reference connector (scylla-source.json): topic.prefix
    // "cdc.scylla" + RegexRouter pattern (:19,46-48), snapshot.mode
    // "initial" (:26), errors.tolerance "all" (:50), max.batch.size
    // 2048 (:30) — each must land on its Structured Streaming
    // kafka-source equivalent
    val opts = pipeline.kafkaSourceOptions(
      bootstrapServers = "kafka:9092",
      topicPattern = "cdc\\.scylla\\..*",
      maxOffsetsPerTrigger = 2048L)
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "kafka:9092",
      "subscribePattern" -> "cdc\\.scylla\\..*",   // topic.prefix + RegexRouter
      "startingOffsets" -> "earliest",             // snapshot.mode=initial
      "failOnDataLoss" -> "false",                 // errors.tolerance=all
      "maxOffsetsPerTrigger" -> "2048"))           // max.batch.size backpressure
    // no backpressure bound requested → the option must be ABSENT
    // (an accidental "0" would stall the source entirely)
    assert(!pipeline.kafkaSourceOptions("kafka:9092", "cdc\\.scylla\\..*")
      .contains("maxOffsetsPerTrigger"))
    // a later-start deployment overrides startingOffsets explicitly
    assert(pipeline.kafkaSourceOptions("kafka:9092", "t.*",
      startingOffsets = "latest")("startingOffsets") == "latest")
  }

  test("ST11 backpressure: maxFilesPerTrigger bounds each micro-batch") {
    val in = tmpDir()
    (0 until 3).foreach(i =>
      Files.writeString(java.nio.file.Paths.get(s"$in/f$i.json"),
        ev("INSERT", 1000L + i, s"u$i", s"name$i", "active")))
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("users" -> Seq("user_id")))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = pipeline.readJsonStream(in, maxFilesPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(batchSizes.sum == 3)
    assert(batchSizes.size == 3 && batchSizes.forall(_ == 1L),
      s"one file per trigger expected, got batches $batchSizes")
    // unbounded reader drains everything in one batch
    val oneShot = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = pipeline.readJsonStream(in).writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        oneShot.synchronized { oneShot += df.count() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(oneShot == Seq(3L))
  }

  test("ST5 withRetry: transient failures retried with backoff, then success") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")), maxMergeRetries = 3, retryBaseBackoffMs = 1)
    var calls = 0
    val got = pipeline.withRetry("flaky merge") {
      calls += 1
      if (calls < 3) sys.error(s"transient #$calls")
      "merged"
    }
    assert(got == "merged" && calls == 3)
  }

  test("ST5 withRetry: exhausted retries surface the last cause") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")), maxMergeRetries = 2, retryBaseBackoffMs = 1)
    var calls = 0
    val e = intercept[RuntimeException] {
      pipeline.withRetry("doomed merge") { calls += 1; sys.error("still down") }
    }
    assert(calls == 3) // initial + 2 retries
    assert(e.getMessage.contains("doomed merge") &&
      e.getCause.getMessage == "still down")
  }

  test("S1 kafka option mapping: offsets, pattern, backpressure knob") {
    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("t" -> Seq("id")))
    val opts = pipeline.kafkaSourceOptions("kafka:9092",
      "cdc\\.scylla\\.app_data\\..*", maxOffsetsPerTrigger = 5000)
    assert(opts("kafka.bootstrap.servers") == "kafka:9092")
    assert(opts("subscribePattern") == "cdc\\.scylla\\.app_data\\..*")
    assert(opts("startingOffsets") == "earliest") // snapshot.mode=initial
    assert(opts("maxOffsetsPerTrigger") == "5000")
    assert(opts("failOnDataLoss") == "false")     // errors.tolerance=all
    // unbounded trigger omits the knob entirely
    assert(!pipeline.kafkaSourceOptions("k:9092", "t.*")
      .contains("maxOffsetsPerTrigger"))
  }

  test("streaming slice: insert/update/delete/partial-update → warehouse + validation") {
    val in = jsonEvents(Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("INSERT", 1001L, "u2", "bob", "active"),
      ev("INSERT", 1002L, "u3", "carol", "active"),
      ev("UPDATE", 2000L, "u2", null, "inactive"), // partial: username absent
      ev("INSERT", 1003L, "u4", "dan", "active"),
      ev("DELETE", 3000L, "u4", null, null),
      "this is not json at all"))                  // → DLQ

    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp,
      keysByTable = Map("users" -> Seq("user_id")))
    val raw = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
      .text(in).toDF("value")
    val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
    q.awaitTermination(60000)
    spark.streams.active.foreach(_.awaitTermination(60000))

    val users = pipeline.readTable("users").get
    val byId = users.select("user_id", "username", "status")
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId.keySet == Set("u1", "u2", "u3")) // u4 deleted
    assert(byId("u2") == ("bob", "inactive"))     // partial update coalesced
    assert(byId("u1") == ("alice", "active"))

    // the reference's user count-by-status validation (init.sql:335-350)
    val counts = users.groupBy("status").count().as[(String, Long)].collect().toMap
    assert(counts == Map("active" -> 2L, "inactive" -> 1L))

    // DLQ captured the poison record (ST6)
    val dlq = spark.read.parquet(s"$wh/_dlq")
    assert(dlq.count() == 1)
    assert(dlq.select("original_payload").as[String].head().contains("not json"))
  }

  test("multi-table stream: one envelope stream routes to two warehouse tables " +
      "with composite keys (test_end_to_end.py:167 analog)") {
    val mkEv = (table: String, ts: Long, kv: String) =>
      s"""{"topic":"scylla-cluster.app_data.$table","operation":"INSERT","commit_timestamp":$ts,$kv}"""
    val in = jsonEvents(Seq(
      mkEv("orders", 1000L, """"order_id":"o1","status":"pending","item_id":null"""),
      mkEv("orders", 2000L, """"order_id":"o2","status":"completed","item_id":null"""),
      mkEv("order_items", 1001L, """"order_id":"o1","item_id":"i1","status":null"""),
      mkEv("order_items", 1002L, """"order_id":"o1","item_id":"i2","status":null"""),
      mkEv("order_items", 1003L, """"order_id":"o2","item_id":"i1","status":null""")))
    val schema = StructType(Seq(
      StructField("topic", StringType), StructField("operation", StringType),
      StructField("commit_timestamp", LongType),
      StructField("order_id", StringType), StructField("item_id", StringType),
      StructField("status", StringType)))
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, keysByTable = Map(
      "orders" -> Seq("order_id"),
      "order_items" -> Seq("order_id", "item_id"))) // composite PK
    val q = pipeline.start(
      spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
        .text(in).toDF("value"), schema, Trigger.AvailableNow())
    q.awaitTermination(60000)
    spark.streams.active.foreach(_.awaitTermination(60000))

    val orders = pipeline.readTable("orders").get
    assert(orders.count() == 2)
    val items = pipeline.readTable("order_items").get
    val itemKeys = items.select("order_id", "item_id").as[(String, String)]
      .collect().toSet
    assert(itemKeys == Set(("o1", "i1"), ("o1", "i2"), ("o2", "i1")))
    // referential integrity across the two replicated tables (J12)
    val orphans = items.join(orders.select($"order_id"), Seq("order_id"), "left_anti")
    assert(orphans.count() == 0)
  }

  test("bucketed COW warehouse: streaming e2e parity with the snapshot path") {
    val in = jsonEvents(Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("INSERT", 1001L, "u2", "bob", "active"),
      ev("UPDATE", 2000L, "u2", null, "inactive"), // partial: username absent
      ev("INSERT", 1002L, "u3", "carol", "active"),
      ev("DELETE", 3000L, "u3", null, null)))
    def run(buckets: Int): Set[(String, String, String)] = {
      val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
        Map("users" -> Seq("user_id")), warehouseBuckets = buckets)
      val raw = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .text(in).toDF("value")
      val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
      q.awaitTermination(60000)
      spark.streams.active.foreach(_.awaitTermination(60000))
      pipeline.readTable("users").get
        .select("user_id", "username", "status")
        .as[(String, String, String)].collect().toSet
    }
    val snapshot = run(0)
    val bucketed = run(4)
    assert(bucketed == snapshot,
      s"COW warehouse must produce identical state: $bucketed vs $snapshot")
    assert(bucketed.exists(r => r._1 == "u2" && r._2 == "bob" && r._3 == "inactive"))
    assert(!bucketed.exists(_._1 == "u3")) // delete applied
  }

  test("schema gate blocks incompatible envelope changes before the stream starts") {
    import graft.schemaevo.SchemaStore
    val store = new SchemaStore()
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")))
    val v1 =
      """{"type":"record","name":"UserEvent","namespace":"cdc","fields":[
        |{"name":"user_id","type":"string"},{"name":"status","type":"string"}]}""".stripMargin
    pipeline.gateSchema(store, "users-value", v1) // registers v1
    // removing a field is backward-incompatible → must block
    val v2 = """{"type":"record","name":"UserEvent","namespace":"cdc","fields":[
        |{"name":"user_id","type":"string"}]}""".stripMargin
    val e = intercept[IllegalStateException](
      pipeline.gateSchema(store, "users-value", v2))
    assert(e.getMessage.contains("blocked") && e.getMessage.contains("status"))
    // compatible widening passes and registers v2
    val v3 = """{"type":"record","name":"UserEvent","namespace":"cdc","fields":[
        |{"name":"user_id","type":"string"},{"name":"status","type":"string"},
        |{"name":"age","type":["null","int"],"default":null}]}""".stripMargin
    pipeline.gateSchema(store, "users-value", v3)
    assert(store.versions("users-value") == Seq(1, 2))
  }

  test("restart consistency: second run of same data is idempotent (ST1/ST3)") {
    val in = jsonEvents(Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("UPDATE", 2000L, "u1", null, "inactive")))
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")))

    def runOnce(): Unit = {
      val raw = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType)))).text(in).toDF("value")
      val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
      q.awaitTermination(60000)
      spark.streams.active.foreach(_.awaitTermination(60000))
    }
    runOnce()
    val snap1 = pipeline.readTable("users").get
      .select("user_id", "username", "status").as[(String, String, String)]
      .collect().toSet
    // re-run from the same checkpoint: no new data → unchanged; then replay
    // the same batch through the merge body directly (at-least-once path)
    val replay = spark.read.schema(envSchema).json(s"$in/batch0.json")
    val replayT = Transforms.routeTable(Transforms.dropHeartbeats(replay, "topic"), "topic")
      .withColumn("__deleted", (col("operation") === "DELETE").cast("string"))
      .drop("topic", "operation")
    pipeline.mergeMicroBatch(replayT, 99L)
    val snap2 = pipeline.readTable("users").get
      .select("user_id", "username", "status").as[(String, String, String)]
      .collect().toSet
    assert(snap1 == snap2 && snap1 == Set(("u1", "alice", "inactive")))
  }

  test("ST4 late-row quarantine and the high-water mark: late and NULL-ts " +
      "rows land in _late/batch_<id>, an all-late table is untouched, the " +
      "HWM covers every row seen, an empty batch changes nothing — " +
      "snapshot AND bucketed-COW warehouses") {
    import java.nio.file.Paths
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("__table", StringType), StructField("user_id", StringType),
      StructField("username", StringType), StructField("status", StringType),
      StructField("commit_timestamp", LongType),
      StructField("__deleted", StringType)))
    def batch(rows: (String, String, String, java.lang.Long)*) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (t, id, st, ts) =>
        Row(t, id, s"name-$id", st, ts, "false")
      }: _*), schema)
    def lateCase(buckets: Int): Unit = {
      val wh = tmpDir(); val cp = tmpDir()
      // lateness bound 1 s = 1,000,000 µs of commit time
      val pipeline = new CdcPipeline(spark, wh, cp,
        Map("users" -> Seq("user_id"), "admins" -> Seq("user_id")),
        watermarkDelay = "1 second", warehouseBuckets = buckets)
      def state(table: String): Set[(String, String, Long)] =
        pipeline.readTable(table).get.select("user_id", "status", "commit_timestamp")
          .as[(String, String, Long)].collect().toSet
      def hwm(): Long = Files.readString(Paths.get(s"$cp/_hwm")).trim.toLong
      def late(id: Long): Set[(String, String, Option[Long])] =
        spark.read.parquet(s"$wh/_late/batch_$id")
          .select("__table", "user_id", "commit_timestamp")
          .as[(String, String, Option[Long])].collect().toSet

      // batch 1: no HWM yet, nothing is late; sets HWM = 20 s
      pipeline.mergeMicroBatch(batch(
        ("users", "u1", "active", 10000000L),
        ("users", "u2", "active", 20000000L),
        ("admins", "a1", "active", 5000000L)), 1L)
      assert(hwm() == 20000000L, s"buckets=$buckets")
      assert(!Files.exists(Paths.get(s"$wh/_late/batch_1")))
      assert(state("users") ==
        Set(("u1", "active", 10000000L), ("u2", "active", 20000000L)))
      val admins1 = state("admins")

      // batch 2: the cut is 20 s − 1 s = 19 s; 'admins' is entirely late
      pipeline.mergeMicroBatch(batch(
        ("users", "u1", "stale", 15000000L),        // older than the cut
        ("users", "u3", "active", null),            // NULL commit ts
        ("users", "u2", "inactive", 25000000L),     // current
        ("admins", "a1", "stale", 12000000L),
        ("admins", "a2", "active", 18000000L)), 2L)
      assert(late(2L) == Set(("users", "u1", Some(15000000L)),
        ("users", "u3", None), ("admins", "a1", Some(12000000L)),
        ("admins", "a2", Some(18000000L))), s"buckets=$buckets")
      assert(state("admins") == admins1, s"buckets=$buckets all-late table merged")
      assert(state("users") ==
        Set(("u1", "active", 10000000L), ("u2", "inactive", 25000000L)))
      assert(hwm() == 25000000L, s"buckets=$buckets")

      // an empty batch: HWM, warehouse and quarantine all unchanged
      val users2 = state("users")
      pipeline.mergeMicroBatch(batch(), 3L)
      assert(hwm() == 25000000L)
      assert(state("users") == users2 && state("admins") == admins1)
      assert(!Files.exists(Paths.get(s"$wh/_late/batch_3")))
    }
    lateCase(buckets = 0)
    lateCase(buckets = 4)
  }

  test("one source read per micro-batch: a multi-file AvailableNow drain " +
      "reads each landed line once, and every batch's cache is released — " +
      "also when the first merge attempt fails and is retried") {
    import java.nio.file.Paths
    val in = tmpDir()
    val lines = (0 until 4).map { f =>
      val evs = (0 until 5).map(i =>
        ev("UPDATE", 1000L + f * 10 + i, s"u${i % 3}", s"n$f$i", "active"))
      Files.writeString(Paths.get(s"$in/f$f.json"), evs.mkString("\n"))
      evs.size
    }.sum
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted

    val pipeline = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("users" -> Seq("user_id")), warehouseBuckets = 4)
    val q = pipeline.start(pipeline.readJsonStream(in, maxFilesPerTrigger = 2),
      envSchema, Trigger.AvailableNow())
    q.awaitTermination(120000)
    spark.streams.active.foreach(_.awaitTermination(120000))
    val reads = q.recentProgress.map(_.numInputRows).sum
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(reads == lines, s"merge query read $reads rows for $lines landed lines")
    assert(persisted == before, "a micro-batch cache outlived its merge")
    val want = Set(("u0", "n33", "active"), ("u1", "n34", "active"),
      ("u2", "n32", "active"))
    assert(pipeline.readTable("users").get.select("user_id", "username", "status")
      .as[(String, String, String)].collect().toSet == want)

    // the same drain with the first merge attempt failing mid-job: the
    // failed attempt's cache is released before withRetry rebuilds it
    CdcPipelineSpec.failedOnce.set(false)
    val failOnce = udf { (_: String) =>
      if (CdcPipelineSpec.failedOnce.compareAndSet(false, true))
        sys.error("injected merge failure")
      true
    }
    val retrying = new CdcPipeline(spark, tmpDir(), tmpDir(),
      Map("users" -> Seq("user_id")), warehouseBuckets = 4,
      retryBaseBackoffMs = 1)
    val (good, _) = retrying.parseWithDlq(retrying.readJsonStream(in,
      maxFilesPerTrigger = 2), envSchema)
    val q2 = Transforms.routeTable(good, "topic")
      .withColumn("__deleted", (col("operation") === "DELETE").cast("string"))
      .drop("topic", "operation")
      .writeStream
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        retrying.mergeMicroBatch(b.filter(failOnce(col("user_id"))), id)
      }
      .start()
    q2.awaitTermination(120000)
    assert(q2.exception.isEmpty, s"retry did not recover: ${q2.exception}")
    assert(CdcPipelineSpec.failedOnce.get(), "the injected failure never fired")
    assert(persisted == before, "a failed attempt's cache outlived its retry")
    assert(retrying.readTable("users").get.select("user_id", "username", "status")
      .as[(String, String, String)].collect().toSet == want)
  }

  test("ST1 exactly-once under HARD CRASH: a torn WAL commit (sink wrote, " +
      "commit lost) replays idempotently after restart and the warehouse " +
      "matches the no-crash run — snapshot AND bucketed-COW warehouses") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val lines = Seq(
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("UPDATE", 2000L, "u1", null, "inactive"),
      ev("INSERT", 1500L, "u2", "bob", "active"),
      ev("UPDATE", 2500L, "u2", null, "banned"))

    def crashCase(buckets: Int): Unit = {
      // four single-event files, one micro-batch each
      // (maxFilesPerTrigger=1); mtimes stamped in range order so the
      // file source's mtime ordering is deterministic
      val in = tmpDir()
      def writeFile(i: Int): Unit = {
        val p = Paths.get(s"$in/f$i.json")
        Files.writeString(p, lines(i))
        p.toFile.setLastModified(1700000000000L + i * 60000L)
      }
      def drain(wh: String, cp: String): Unit = {
        // a FRESH pipeline object every time — after the simulated kill
        // the only surviving state is what's on disk (checkpoint +
        // warehouse), exactly a new JVM's view
        val pipeline = new CdcPipeline(spark, wh, cp,
          Map("users" -> Seq("user_id")), warehouseBuckets = buckets)
        val raw = spark.readStream
          .schema(StructType(Seq(StructField("value", StringType))))
          .option("maxFilesPerTrigger", 1).text(in).toDF("value")
        val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
        q.awaitTermination(120000)
        spark.streams.active.foreach(_.awaitTermination(120000))
      }
      def snap(wh: String, cp: String): Set[(String, String, String)] = {
        val pipeline = new CdcPipeline(spark, wh, cp,
          Map("users" -> Seq("user_id")), warehouseBuckets = buckets)
        pipeline.readTable("users").get
          .select("user_id", "username", "status")
          .as[(String, String, String)].collect().toSet
      }

      // the no-crash reference run over the full corpus
      (0 to 3).foreach(writeFile)
      val whRef = tmpDir(); val cpRef = tmpDir()
      drain(whRef, cpRef)
      val want = snap(whRef, cpRef)
      assert(want == Set(("u1", "alice", "inactive"), ("u2", "bob", "banned")),
        s"buckets=$buckets reference run")

      // crash run: only f0/f1 exist for the first incarnation
      val wh = tmpDir(); val cp = tmpDir()
      (0 to 3).foreach(i => Files.deleteIfExists(Paths.get(s"$in/f$i.json")))
      writeFile(0); writeFile(1)
      drain(wh, cp)
      // simulate kill -9 in the torn window (reference failure scenarios
      // A–D, data-model.md:475-502): batch 1's warehouse writes are on
      // disk but its WAL commit never landed — delete the newest
      // commits/<n>, so the restarted query sees offsets/1 with no
      // commits/1 and MUST replay batch 1 into the already-merged
      // warehouse (for buckets > 0 that replay re-merges into
      // already-swapped COW buckets — the monotonic guard, not the
      // swap, carries the idempotence)
      val commits = Paths.get(s"$cp/merge/commits")
      val newest = Files.list(commits).iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      Files.delete(newest)
      // the local FS writes commits through Hadoop's ChecksumFileSystem —
      // the sidecar .N.crc dies with the commit in a real crash (neither
      // was fsynced), and a stale one blocks the replay's rewrite
      Files.deleteIfExists(
        newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
      // the rest of the corpus arrives while the pipeline is "down"
      writeFile(2); writeFile(3)
      // restart from disk alone: replay the torn batch, then drain the
      // new files; at-least-once redelivery + idempotent monotonic merge
      // must land EXACTLY the no-crash warehouse
      drain(wh, cp)
      assert(snap(wh, cp) == want, s"buckets=$buckets crash run diverged")
    }

    crashCase(buckets = 0) // single-snapshot warehouse
    crashCase(buckets = 8) // bucketed copy-on-write warehouse
  }

  test("CDC -> SCD2 bridge: upsert stream intervalizes into dimension history, " +
      "facts join point-in-time (ST7/ST8 + q156/q177 together)") {
    import graft.analytics.{Analytics, AsofJoin}
    val in = jsonEvents(Seq(
      // u1: active → inactive → inactive (repeat must COLLAPSE) → active
      ev("INSERT", 1000L, "u1", "alice", "active"),
      ev("UPDATE", 2000L, "u1", null, "inactive"),
      ev("UPDATE", 3000L, "u1", null, "inactive"),
      ev("UPDATE", 4000L, "u1", null, "active"),
      // u2: a PARTIAL update (status absent) must not open a version —
      // the ST7 coalesce semantics carried into the history
      ev("INSERT", 1500L, "u2", "bob", "active"),
      ev("UPDATE", 2500L, "u2", "bobby", null),
      // u3: deleted — the warehouse drops the row (ST8), the history
      // keeps every version plus a terminal '__deleted' one
      ev("INSERT", 1200L, "u3", "carol", "active"),
      ev("DELETE", 3500L, "u3", null, null)))
    val wh = tmpDir(); val cp = tmpDir()
    val pipeline = new CdcPipeline(spark, wh, cp, Map("users" -> Seq("user_id")))
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType)))).text(in).toDF("value")
    val q = pipeline.start(raw, envSchema, Trigger.AvailableNow())
    q.awaitTermination(60000)
    spark.streams.active.foreach(_.awaitTermination(60000))

    // SCD2 dimension history from the same change stream: partial
    // updates forward-fill (a null never opens a version), deletes map
    // to a terminal status — then q156's intervalizer
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("commit_timestamp")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val changes = spark.read.schema(envSchema).json(s"$in/batch0.json")
      .withColumn("status_f",
        when(col("operation") === "DELETE", "__deleted")
          .otherwise(last(col("status"), ignoreNulls = true).over(w)))
    val dim = Analytics.scd2Intervals(changes, "user_id",
      "commit_timestamp", "status_f", "commit_timestamp")
    val intervals = dim
      .as[(String, String, Long, Option[Long], Long)].collect().toSet
    assert(intervals == Set(
      ("u1", "active", 1000L, Some(2000L), 1L),
      ("u1", "inactive", 2000L, Some(4000L), 2L), // the 3000 repeat collapsed
      ("u1", "active", 4000L, None, 3L),
      ("u2", "active", 1500L, None, 1L), // partial update opened nothing
      ("u3", "active", 1200L, Some(3500L), 1L),
      ("u3", "__deleted", 3500L, None, 2L)))

    // bridge consistency: warehouse latest state == the open (null
    // valid_to) version of the history, and ST8's delete == the
    // terminal '__deleted' version
    val latest = pipeline.readTable("users").get
      .select("user_id", "status").as[(String, String)].collect().toMap
    val openTail = intervals.filter(_._4.isEmpty)
      .map(r => r._1 -> r._2).toMap
    assert(latest == openTail.filter(_._2 != "__deleted"))
    assert(latest("u2") == "active") // ST7: partial update kept status
    assert(!latest.contains("u3"))   // ST8: tombstoned out of the warehouse

    // point-in-time fact attribution (q177's engine shape): each fact
    // matches the version whose [valid_from, valid_to) contains it —
    // executed as the as-of carry-forward, boundary at 4000 inclusive
    val facts = Seq(("u1", 500L, 6L), ("u1", 1500L, 1L), ("u1", 2500L, 2L),
      ("u1", 4000L, 3L), ("u2", 3000L, 4L), ("u3", 9000L, 5L))
      .toDF("user_id", "commit_timestamp", "fact_id")
    val matched = AsofJoin.asofJoin(facts, dim, "user_id",
      "commit_timestamp", "valid_from_us", "fact_id", "version")
    val got = matched
      .join(dim.select(col("user_id").as("__dk"),
        col("version").as("__dv"), col("status_f")),
        matched("user_id") === col("__dk") &&
          col("matched_version") === col("__dv"), "left")
      .select(col("fact_id"), coalesce(col("status_f"), lit("none")))
      .as[(Long, String)].collect().toMap
    assert(got == Map(6L -> "none", 1L -> "active", 2L -> "inactive",
      3L -> "active", 4L -> "active", 5L -> "__deleted"))
  }
}

object CdcPipelineSpec {
  /** Flips on the first merge-job row it sees: a static flag, because a
    * task runs a deserialized copy of the UDF closure. */
  val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
}
