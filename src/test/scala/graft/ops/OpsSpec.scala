package graft.ops

import java.nio.file.Files
import graft.SparkSpec
import graft.reconcile.Differ
import graft.repair.Repairer
import graft.analytics.StreamingAnalytics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("ReconcileCli.parseArgs: contract errors") {
    assert(ReconcileCli.parseArgs(Array.empty).isLeft)
    assert(ReconcileCli.parseArgs(Array("frobnicate")).isLeft)
    assert(ReconcileCli.parseArgs(Array("reconcile", "--source", "s")).isLeft)
    // --execute without a target database is a config error, not a no-op
    assert(ReconcileCli.parseArgs(Array("reconcile", "--source", "s",
      "--target", "t", "--keys", "a", "--execute")).isLeft)
    val ok = ReconcileCli.parseArgs(Array("reconcile", "--source", "s",
      "--target", "t", "--keys", "a,b", "--tolerance", "0.5", "--execute",
      "--jdbc-url", "jdbc:postgresql://h/db",
      "--as-of", "2024-01-20 00:00:00", "--as-of-column", "commit_ts"))
    assert(ok.exists(c => c.keys == Seq("a", "b") && c.tolerance == 0.5 && c.execute &&
      c.jdbcUrl.contains("jdbc:postgresql://h/db") &&
      c.asOf.contains("2024-01-20 00:00:00") && c.asOfColumn == "commit_ts"))
  }

  test("CdcReplicateCli.run: drains the loop and prints the contract " +
    "lines — per-table rows, replicated total, and the state-bound " +
    "telemetry row (zero by design: latest-per-key collapses per batch)") {
    val in = Files.createTempDirectory("cdcrepl-in").toString
    val base = Files.createTempDirectory("cdcrepl").toString
    def env(id: Long, ts: Long, u: String) =
      s"""{"topic":"scylla-cluster.app_data.users","operation":"UPDATE","commit_timestamp":$ts,"user_id":"$id","username":"$u","status":"active"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/b0.json"),
      Seq(env(1, 1000L, "ann"), env(2, 2000L, "bob"),
        env(1, 3000L, "ann2")).mkString("\n"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      CdcReplicateCli.run(spark, in, s"$base/wh", s"$base/ck",
        Map("users" -> Seq("user_id")))
    }
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    assert(lines.contains("""{"table": "users", "rows": 2}"""),
      s"table line missing in:\n${lines.mkString("\n")}")
    // the merge query's input rows: each landed line exactly once (no
    // DLQ double count, no per-action re-reads of the micro-batch)
    assert(lines.contains(
      """{"metric": "records_replicated_total", "value": 3.0}"""),
      s"metric line missing or not the 3 landed lines in:\n${lines.mkString("\n")}")
    // the M3/ST10 state-bound row the census launcher also emits
    assert(lines.contains(
      """{"state": "cdc-merge", "max_keys": 0, "max_bytes": 0}"""),
      s"state line missing in:\n${lines.mkString("\n")}")
    // listeners must come off the shared session
    assert(spark.streams.active.isEmpty)
  }

  test("CdcReplicateCli.run in an embedded session: a pre-existing " +
    "stateful query is not awaited, not stopped, and stays out of the " +
    "CDC state telemetry") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // an unrelated CONTINUOUS stateful query on the shared session —
    // the pre-fix run() would awaitTermination it (hang forever), stop
    // it on failure, and print its state row as CDC state
    val unrelated = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .groupBy(window(col("timestamp"), "1 second")).count()
      .writeStream.format("memory").queryName("unrelated_rate_agg")
      .outputMode("complete").start()
    try {
      val in = Files.createTempDirectory("cdcrepl2-in").toString
      val base = Files.createTempDirectory("cdcrepl2").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$in/b0.json"),
        """{"topic":"scylla-cluster.app_data.users","operation":"UPDATE","commit_timestamp":1000,"user_id":"1","username":"ann","status":"active"}""")
      val buf = new java.io.ByteArrayOutputStream()
      // a regression to session-global awaits hangs forever on the
      // continuous query — surface that as a clean timeout failure
      val fut = Future {
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          CdcReplicateCli.run(spark, in, s"$base/wh", s"$base/ck",
            Map("users" -> Seq("user_id")))
        }
      }
      Await.result(fut, 3.minutes)
      assert(unrelated.isActive,
        "run() stopped a pre-existing query it does not own")
      val lines = buf.toString("UTF-8").linesIterator.toSeq
      // the unrelated query's nonzero state must NOT masquerade as CDC
      // state: the contract line stays the cdc-merge zero row
      assert(lines.contains(
        """{"state": "cdc-merge", "max_keys": 0, "max_bytes": 0}"""),
        s"state line contaminated:\n${lines.mkString("\n")}")
      assert(!lines.exists(_.contains("unrelated_rate_agg")),
        s"unrelated query leaked into telemetry:\n${lines.mkString("\n")}")
    } finally {
      try unrelated.stop() catch { case _: Exception => () }
    }
  }

  test("JsonStage: chronological JSON staging — range-ordered parts, " +
    "increasing mtimes, round-trippable rows") {
    val in = Files.createTempDirectory("stage-in").toString
    val out = Files.createTempDirectory("stage-out").toString
    spark.range(100).select(col("id").as("user_id"),
      timestamp_micros(col("id") * 1000000L + 1000000000L).as("ts"),
      concat(lit("t"), col("id") % 3).as("event_type"),
      lit("dropme").as("extra"))
      .write.mode("overwrite").parquet(in)
    val n = JsonStage.stage(spark, in, out, orderBy = "ts",
      select = Seq("user_id", "ts", "event_type"), parts = 4)
    assert(n == 4)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // mtimes strictly increase in part order (the file-source contract)
    assert(parts.map(_.lastModified()).sliding(2).forall(p => p(0) < p(1)))
    // range order: every timestamp in part k precedes every one in k+1
    def tsOf(f: java.io.File): Seq[String] =
      scala.io.Source.fromFile(f).getLines().toSeq
        .map(l => l.split("\"ts\":\"")(1).split("\"")(0))
    val perPart = parts.toSeq.map(tsOf).filter(_.nonEmpty)
    assert(perPart.sliding(2).forall {
      case Seq(a, b) => a.max <= b.min
      case _ => true
    })
    // the projection applied and every row survived the round trip
    val back = spark.read.schema(StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))).json(out)
    assert(back.columns.toSeq == Seq("user_id", "ts", "event_type"))
    assert(back.count() == 100 &&
      back.agg(sum("user_id")).head().getLong(0) == 4950L)

    // ordering by a column that is NOT serialized: --order-by resolves
    // against the full input schema, not the projection
    val out2 = Files.createTempDirectory("stage-out2").toString
    assert(JsonStage.stage(spark, in, out2, orderBy = "ts",
      select = Seq("user_id", "event_type"), parts = 2) == 2)
    val back2 = spark.read.schema(StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType)))).json(out2)
    assert(back2.columns.toSeq == Seq("user_id", "event_type") &&
      back2.count() == 100)
  }

  test("DlqReplay: dry-run counts, execute re-appends payloads, retry budget") {
    val dlqDir = Files.createTempDirectory("dlq").toString
    val inDir = Files.createTempDirectory("in").toString
    Seq(
      ("bad json 1", "ParseError", 0),
      ("bad json 2", "ParseError", 5),  // over retry budget
      (null.asInstanceOf[String], "ParseError", 0) // null payload skipped
    ).toDF("original_payload", "error_class", "retry_count")
      .write.mode("overwrite").parquet(s"$dlqDir/d")

    val dry = DlqReplay.replay(spark, s"$dlqDir/d", inDir, maxRetries = 3)
    assert(dry == DlqReplay.ReplayResult(1, 0, dryRun = true))
    val run = DlqReplay.replay(spark, s"$dlqDir/d", inDir, maxRetries = 3, dryRun = false)
    assert(run.replayed == 1)
    val replayed = spark.read.text(s"$inDir/*").as[String].collect()
    assert(replayed.toSeq == Seq("bad json 1"))
    // missing DLQ path → zero result, no crash
    assert(DlqReplay.replay(spark, s"$dlqDir/nope", inDir).selected == 0)
    // attempt ledger bounds REPLAY CYCLES: the same payload (still in the
    // DLQ with retry_count 0) is not selected again once attempts == max
    val again = DlqReplay.replay(spark, s"$dlqDir/d", inDir, maxRetries = 1,
      dryRun = false)
    assert(again == DlqReplay.ReplayResult(0, 0, dryRun = false))
    // with budget 2 it replays once more, then exhausts
    val third = DlqReplay.replay(spark, s"$dlqDir/d", inDir, maxRetries = 2,
      dryRun = false)
    assert(third.replayed == 1)
    val fourth = DlqReplay.replay(spark, s"$dlqDir/d", inDir, maxRetries = 2,
      dryRun = false)
    assert(fourth.replayed == 0)
  }

  test("executeRepairs runs statements in priority order with failure counts") {
    val src = Seq((1L, "a"), (4L, "d")).toDF("id", "v")
    val tgt = Seq((1L, "x"), (3L, "c")).toDF("id", "v")
    val disc = Differ.findAllDiscrepancies(src, tgt, Seq("id"))
    val actions = Repairer.generateRepairActions(disc, "s", "t", Seq("id"), Seq("v"))
    // closures serialize per task — observe through accumulators only
    val seen = spark.sparkContext.collectionAccumulator[String]("seen")
    val (executed, failed) = Repairer.executeRepairs(actions, { sql =>
      seen.add(sql.takeWhile(_ != ' '))
      if (sql.startsWith("UPDATE")) throw new RuntimeException("boom")
    })
    assert(executed == 2 && failed == 1)
    val kinds = seen.value
    assert(kinds.size == 3 && kinds.contains("DELETE") && kinds.contains("INSERT"))
  }

  test("streaming windowed rollup (ST12): file stream → memory sink") {
    val in = Files.createTempDirectory("win").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/d.json"),
      """{"ts":"2024-01-01T01:00:00Z","status":"NEW","amount":10.0}
        |{"ts":"2024-01-01T05:00:00Z","status":"NEW","amount":5.0}
        |{"ts":"2024-01-02T01:00:00Z","status":"DONE","amount":7.0}""".stripMargin)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("status", StringType), StructField("amount", DoubleType)))
    val stream = spark.readStream.schema(schema).json(in)
    val rollup = StreamingAnalytics.windowedRollup(stream, "ts", "status", "amount")
    val q = rollup.writeStream.outputMode("complete")
      .format("memory").queryName("rollup_test")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("rollup_test")
      .select(date_format($"window_start", "yyyy-MM-dd").as("d"), $"status", $"n", $"total")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(("2024-01-01", "NEW", 2L, 15.0), ("2024-01-02", "DONE", 1L, 7.0)))
  }
}
