package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import graft.cdc.{CdcPipeline, ChangeEvent}

/** The `cdc_replicate` workload: a seeded backlog of JSON change-event
  * envelopes replicated by `CdcPipeline` into a bucketed copy-on-write
  * warehouse, checked against a latest-per-key reference computed here
  * from the generated events. */
object Cdc {
  val TableNames = Seq("click", "view", "purchase", "signup", "error")
  val Buckets = 8
  val HeartbeatShare = 0.02
  val PoisonShare = 1e-4
  val EnvSchema = StructType(Seq(
    StructField("topic", StringType), StructField("operation", StringType),
    StructField("commit_timestamp", LongType), StructField("user_id", LongType),
    StructField("event_id", LongType), StructField("value", DoubleType),
    StructField("props", StringType)))
  private val BaseTs = 1704067200000000L // 2024-01-01, µs

  /** One generated envelope line. kind 0 = change event (an upsert, or a
    * delete on the `error` table), 1 = heartbeat, 2 = poison line. */
  final case class Event(table: Int, key: Long, id: Long, ts: Long, cents: Long, kind: Int) {
    def props: String = "{\"k\": " + math.floorMod(id, 100L) + "}"
    def isDelete: Boolean = TableNames(table) == "error"
    def line: String =
      if (kind == 2) "{truncated envelope"
      else {
        val topic =
          if (kind == 1) "heartbeat.events" else s"scylla-cluster.app_data.${TableNames(table)}"
        val op = if (isDelete) ChangeEvent.Delete else ChangeEvent.Update
        "{\"topic\":\"" + topic + "\",\"operation\":\"" + op + "\",\"commit_timestamp\":" + ts +
          ",\"user_id\":" + key + ",\"event_id\":" + id + ",\"value\":" +
          java.math.BigDecimal.valueOf(cents, 2).toPlainString +
          ",\"props\":\"" + props.replace("\"", "\\\"") + "\"}"
      }
  }

  /** Seeded envelope generator: table uniform over the five tables, key
    * uniform over `keys`, commit timestamps 100 µs apart. */
  final class Gen(seed: Long, keys: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var nextId = 0L
    def next(): Event = {
      val u = rnd.nextDouble()
      val kind = if (u < PoisonShare) 2 else if (u < PoisonShare + HeartbeatShare) 1 else 0
      val key = rnd.nextLong(keys)
      nextId += 1
      Event(rnd.nextInt(TableNames.size), key, nextId, BaseTs + nextId * 100L,
        rnd.nextLong(1000000L), kind)
    }
  }

  /** The warehouse the pipeline must converge to: per (table, key) the
    * change event with the largest commit timestamp, absent when that
    * event is a delete. */
  final class Reference {
    val latest = mutable.HashMap.empty[(Int, Long), Event]
    var poison = 0L
    def add(e: Event): Unit = e.kind match {
      case 2 => poison += 1
      case 1 => ()
      case _ =>
        val k = (e.table, e.key)
        if (latest.get(k).forall(_.ts < e.ts)) latest(k) = e
    }
    def expected(t: Int, k: Long): Option[Event] = latest.get((t, k)).filterNot(_.isDelete)
    def expectedRows(t: Int): Long =
      latest.iterator.count { case ((tt, _), e) => tt == t && !e.isDelete }.toLong
  }

  /** Compares every warehouse table and the DLQ with the reference;
    * returns the mismatches found (empty when correct). */
  def check(spark: SparkSession, p: CdcPipeline, ref: Reference, wh: Path): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    TableNames.indices.foreach { t =>
      var rows = 0L
      p.readTable(TableNames(t)).foreach { df =>
        df.select("user_id", "event_id", "value", "props", "commit_timestamp")
          .toLocalIterator().asScala.foreach { r =>
            rows += 1
            val k = r.getLong(0)
            val ok = ref.expected(t, k).exists(e => e.id == r.getLong(1) &&
              math.round(r.getDouble(2) * 100) == e.cents && e.props == r.getString(3) &&
              e.ts == r.getLong(4))
            if (!ok && bad.size < 5) bad += s"${TableNames(t)} key $k: row $r"
          }
      }
      if (rows != ref.expectedRows(t))
        bad += s"${TableNames(t)}: $rows rows, expected ${ref.expectedRows(t)}"
    }
    val dlq =
      if (Files.exists(wh.resolve("_dlq"))) spark.read.parquet(wh.resolve("_dlq").toString).count()
      else 0L
    if (dlq != ref.poison) bad += s"dlq: $dlq rows, expected ${ref.poison} poison lines"
    bad.toSeq
  }

  /** A backlog landed before the clock starts: `events` envelopes from
    * [[Gen]] spread at random over `files` files in `dir`. */
  final case class Backlog(dir: Path, files: Int, events: Int, bytes: Long, ref: Reference)

  def land(dir: Path, seed: Long, events: Int, files: Int): Backlog = {
    Files.createDirectories(dir)
    val ref = new Reference
    val gen = new Gen(seed, math.max(1L, events / (EventsPerKey.toLong * TableNames.size)))
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val out = (0 until files).map(i =>
      Files.newBufferedWriter(dir.resolve(f"part-$i%03d.json")))
    try (0 until events).foreach { _ =>
      val e = gen.next()
      ref.add(e)
      val w = out(rnd.nextInt(files))
      w.write(e.line)
      w.write('\n')
    } finally out.foreach(_.close())
    val bytes = Files.list(dir).iterator().asScala.map(Files.size).sum
    Backlog(dir, files, events, bytes, ref)
  }

  private def pipeline(spark: SparkSession, dir: Path): CdcPipeline =
    new CdcPipeline(spark, dir.resolve("wh").toString, dir.resolve("ck").toString,
      keysByTable = TableNames.map(_ -> Seq("user_id")).toMap,
      warehouseBuckets = Buckets)

  /** file name -> micro-batch id, from the merge query's file-source log. */
  def fileBatches(ck: Path): Map[String, Long] = {
    val dir = ck.resolve("merge/sources/0")
    val entry = """"path":"[^"]*/([^"/]+)".*?"batchId":(\d+)""".r
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq.flatMap { f =>
      try entry.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> m.group(2).toLong)
      catch { case _: java.io.IOException => Nil }
    }.toMap
  }

  private def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** `cdc_replicate`: a backlog of `--seconds` × 25k events in four files,
    * two per trigger, so two micro-batches of `--seconds` × 12.5k events
    * (150k at 12 s; `graft.Bench` uses 250k). Keys are scaled to about 130
    * change events per (table, key). A 20k-event backlog is drained first,
    * untimed, so that the timed drain runs on compiled code. */
  val EventsPerSecond = 25000
  val EventsPerKey = 130
  val BacklogFiles = 4
  val FilesPerTrigger = 2
  val WarmEvents = 20000

  def replicate(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val run = ctx.work.resolve("replicate")
    rmTree(run)
    val events = math.max(BacklogFiles, (ctx.seconds * EventsPerSecond).toInt)
    val timed = land(run.resolve("in"), ctx.seed, events, BacklogFiles)
    val warmIn = land(run.resolve("warm-in"), ~ctx.seed, WarmEvents, BacklogFiles)

    final case class Drain(dir: Path, p: CdcPipeline, mergeId: java.util.UUID,
        startMs: Long, t0: Long, wall: Double, error: Option[String])
    def drain(name: String, in: Backlog): Drain = {
      val dir = run.resolve(name)
      val p = pipeline(spark, dir)
      val raw = p.readJsonStream(in.dir.toString, maxFilesPerTrigger = FilesPerTrigger)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val q = p.start(raw, EnvSchema)
      val error =
        try {
          q.awaitTermination()
          spark.streams.active.foreach(_.awaitTermination())
          None
        } catch { case e: Exception => Some(s"$name failed: ${e.getClass.getSimpleName}") }
      Drain(dir, p, q.id, startMs, t0, (System.nanoTime() - t0) / 1e9, error)
    }
    def failures(d: Drain, in: Backlog): Seq[String] = {
      val read = fileBatches(d.dir.resolve("ck")).size
      d.error.toSeq ++ check(spark, d.p, in.ref, d.dir.resolve("wh")) ++
        (if (read != in.files) Seq(s"${d.dir.getFileName}: $read of ${in.files} files read")
         else Nil)
    }

    val warm = drain("warm", warmIn)
    val warmBad = failures(warm, warmIn)
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    PerfbenchBridge.drainListeners(spark)
    val engine0 = ctx.engine.map(_.snapshot).getOrElse(Map.empty)
    val firstTimedMs = System.currentTimeMillis()
    var span = 0
    val d = ctx.spans("run", "replicate") {
      ctx.spans("drain", "drain") { span = ctx.spans.current; drain("drain", timed) }
    }
    PerfbenchBridge.drainListeners(spark)
    spark.streams.removeListener(progress)
    val merge = progress.all.filter(_.query == d.mergeId)
    merge.foreach { b =>
      val s = d.t0 + (b.startMs - d.startMs) * 1000000L
      ctx.spans.add("trigger", s"batch${b.batchId}", span, s,
        s + b.durations.getOrElse("triggerExecution", 0L) * 1000000L)
    }
    // a file's completion time: commit of the batch that merged it - drain start
    val ends = merge.map(b => b.batchId -> b.endMs).toMap
    val completions = fileBatches(d.dir.resolve("ck")).values.flatMap(ends.get)
      .map(end => (end - d.startMs) / 1e3).toSeq
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else streamLayers(merge, progress.all.filter(_.query != d.mergeId), d.wall, events,
        d.dir) ++ engineLayers(ctx, engine0, timed.bytes) +
        ("cdc.dlq_rows" -> timed.ref.poison.toDouble)
    val bad = warmBad ++ failures(d, timed)
    rmTree(run)
    Outcome(BacklogFiles, if (bad.isEmpty) 0 else BacklogFiles, firstTimedMs,
      Map("wall_s" -> d.wall, "op_geomean_s" -> Stats.geomean(completions)),
      layers,
      Map("events" -> events.toString, "events_per_s" -> (events / d.wall).toString,
        "envelope_bytes" -> timed.bytes.toString,
        "drain_walls" -> f"warm ${warm.wall}%.3f timed ${d.wall}%.3f",
        "poison" -> timed.ref.poison.toString, "failures" -> bad.mkString("; ")))
  }

  /** Streaming, warehouse and checkpoint metrics of one drain: `merge`
    * and `dlq` are the progress events of its merge and DLQ queries. */
  private def streamLayers(merge: Seq[ProgressListener#Batch],
      dlq: Seq[ProgressListener#Batch], wall: Double, events: Long, dir: Path)
      : Map[String, Double] = {
    def sumS(k: String) = merge.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val (ckBytes, ckFiles) = du(dir.resolve("ck"))
    Map(
      "cdc.events" -> events.toDouble,
      "cdc.events_per_s" -> events / wall,
      "cdc.batches" -> merge.count(_.inputRows > 0).toDouble,
      "cdc.source_reads_per_event" -> merge.map(_.inputRows).sum.toDouble / events,
      "cdc.addbatch_s" -> sumS("addBatch"),
      "cdc.walcommit_s" -> sumS("walCommit"),
      "cdc.getbatch_s" -> sumS("getBatch"),
      "cdc.planning_s" -> sumS("queryPlanning"),
      "cdc.idle_s" -> math.max(0.0, wall - sumS("triggerExecution")),
      "cdc.dlq_s" -> dlq.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3,
      "wh.final_bytes" -> du(dir.resolve("wh"))._1.toDouble,
      "ck.bytes" -> ckBytes.toDouble,
      "ck.files" -> ckFiles.toDouble,
      "trace.wall_s" -> wall)
  }

  /** Engine counters of the timed drain, with the warehouse bytes
    * written: every output of the window is a warehouse, DLQ or quarantine
    * write. */
  private def engineLayers(ctx: Ctx, engine0: Map[String, Double],
      inputBytes: Long): Map[String, Double] = {
    val engine = ctx.engine.get.since(engine0)
    val written = engine.getOrElse("spark.output_bytes", 0.0)
    engine ++ Map("wh.bytes_written" -> written, "wh.bytes_per_event" -> written / inputBytes)
  }
}
