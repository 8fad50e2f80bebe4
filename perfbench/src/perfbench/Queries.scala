package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{OrganicCorpus, SparkEntry, Tables}
import graft.ops.CurateCli

/** The `queries` workload: graft's registered queries, each forced by a
  * full `noop` write (no column pruned, unlike `count()`), and the
  * 20-stage curation funnel.
  *
  * A run is: a warm-up pass (every query and the funnel once, run as they
  * are timed, each output then fingerprinted and checked: the correctness
  * gate), then the timed window in a fixed order: `Passes` passes over
  * the queries, each query's time being its median over the passes, and
  * one funnel run. The tables are fixed, so the seed does not change this
  * workload, and neither does `--seconds`. */
object Queries {
  final case class Spec(name: String, side: String, family: String, measured: Boolean)

  val Families = Seq("analytics", "reconcile", "cdc_queries", "tpch", "text", "vector", "multimodal")
  val Targets = Seq("q247", "q99", "q184", "q90", "q94", "q41", "q98", "q46", "q36", "q131", "q1")
  val Funnel = "curate_funnel_full"
  // a short query's wall varies by up to 40% between runs, so the queries
  // are timed twice; the funnel, long and steadier, once (a second run
  // would add 6 s to every run)
  val Passes = 2

  def specs(benchDir: Path): Seq[Spec] =
    Files.readAllLines(benchDir.resolve("queries.tsv")).asScala.toSeq.tail
      .map(_.split("\t")).map(a => Spec(a(0), a(1), a(2), a(3) == "1"))

  def expected(benchDir: Path): Map[String, String] =
    Files.readAllLines(benchDir.resolve("expected/fingerprints.tsv")).asScala
      .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap

  /** Order-independent fingerprint of a result: row count, the sum of
    * per-row hashes over the columns sorted by name, and the schema. */
  def fingerprint(df: DataFrame): String = {
    val names = df.columns
    val order = names.indices.sortBy(i => (names(i), i))
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cells = order.map(i => coalesce(col(s"c$i").cast("string"), lit("\u0000")))
    val r = renamed.agg(count(lit(1)),
      sum(xxhash64(cells: _*).cast("decimal(38,0)"))).head()
    val schema = order.map(i => s"${names(i)}:${df.schema(i).dataType.simpleString}")
      .mkString(",")
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)} $h ${schema.hashCode}"
  }

  /** The full funnel with `graft.Bench`'s `curate_funnel_full` config. */
  def curate(spark: SparkSession, data: String): CurateCli.Curated = {
    val docs = OrganicCorpus.seedBoilerplate(Tables.documents(spark, data))
    CurateCli.curate(docs, "doc_id", "text",
      CurateCli.Config(mixDefaultPpm = 900000L,
        minQualityPctPpm = 50000L, minCharEntropyFp = 2600000L,
        containmentThreshold = 0.8, minNovelty = 0.05,
        piiScrub = true, maxRepetitionRatio = 0.9,
        gopherRules = true, lineDedupMinDf = 2,
        exciseSpanK = 8,
        nfcNormalize = true,
        auditPhrases = Seq(
          Seq("table", "scan", "merge"),
          Seq("batch", "stream", "spark")),
        budgetTokens = 2000000L,
        packBudget = 512, packBuckets = 8),
      evalDocs = Some(docs.filter(col("doc_id") % 37 === 0)))
  }

  private final case class Timing(op: String, family: String, build: Double, exec: Double) {
    def wall: Double = build + exec
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val benchDir = java.nio.file.Paths.get(ctx.data).getParent
    val want = expected(benchDir)
    val chosen = specs(benchDir).filter(_.measured)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def now = System.nanoTime()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // warm-up pass, and the correctness gate: each operation as it is
    // timed (definition call, then a materialization that keeps every
    // column), then its output fingerprinted
    chosen.foreach { s =>
      try {
        val df = SparkEntry.queries(s.name)(spark, ctx.data)
        noop(df)
        val got = fingerprint(df)
        if (!want.get(s.name).contains(got))
          failed(s.name) = s"fingerprint $got, expected ${want.getOrElse(s.name, "none")}"
      } catch { case e: Throwable => failed(s.name) = s"warm-up threw ${e.getClass.getSimpleName}" }
      SparkEntry.sweepTransientStorage(spark)
    }
    try {
      val r = curate(spark, ctx.data)
      noop(r.corpus)
      val corpus = fingerprint(r.corpus)
      val sheet = CurateCli.datasheetJson(r.funnel)
      r.unpersist()
      if (!want.get(s"$Funnel.corpus").contains(corpus) ||
          !want.get(s"$Funnel.datasheet").contains(sheet))
        failed(Funnel) = s"corpus $corpus datasheet $sheet"
    } catch { case e: Throwable => failed(Funnel) = s"warm-up threw ${e.getClass.getSimpleName}" }
    SparkEntry.sweepTransientStorage(spark)

    // a timed operation is its definition call plus the
    // materialization, timed from outside; `build` returns the output and
    // what to release once it is timed
    def timedOp(name: String, family: String)(build: => (DataFrame, () => Unit)): Timing = {
      val t0 = now
      val (df, release) = ctx.spans("build", name)(build)
      val t1 = now
      ctx.spans("exec", name)(noop(df))
      val t2 = now
      release()
      Timing(name, family, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val queryOps: Seq[(String, () => Timing)] =
      chosen.map(s => s.name -> (() => timedOp(s.name, s.family)(
        (SparkEntry.queries(s.name)(spark, ctx.data), () => ()))))
    val funnelOp: (String, () => Timing) = Funnel -> (() => timedOp(Funnel, "curate") {
      val r = curate(spark, ctx.data)
      (r.corpus, () => r.unpersist())
    })

    var sweepS = 0.0
    var leakedMax = 0.0
    def sweep(): Unit = {
      if (ctx.traced) {
        val keep = SparkEntry.protectedRddIds
        val held = spark.sparkContext.getRDDStorageInfo
          .filterNot(i => keep(i.id)).map(i => i.memSize + i.diskSize).sum
        leakedMax = math.max(leakedMax, held.toDouble)
      }
      val t0 = now
      ctx.spans("sweep", "")(SparkEntry.sweepTransientStorage(spark))
      sweepS += (now - t0) / 1e9
    }

    PerfbenchBridge.drainListeners(spark)
    val engine0 = ctx.engine.map(_.snapshot).getOrElse(Map.empty)
    val actions0 = ctx.sql.map(_.actions).getOrElse(0L)
    val firstTimedMs = System.currentTimeMillis()
    val runs = ctx.spans("run", "") {
      (Seq.fill(Passes)(queryOps).flatten :+ funnelOp).flatMap { case (name, op) =>
        spark.sparkContext.setJobGroup(name, name)
        val t =
          try Some(ctx.spans("op", name)(op()))
          catch { case e: Throwable =>
            failed.getOrElseUpdate(name, s"timed run threw ${e.getClass.getSimpleName}")
            None
          } finally spark.sparkContext.clearJobGroup()
        sweep()
        t
      }
    }
    PerfbenchBridge.drainListeners(spark)
    val timings = runs.groupBy(_.op).values.map(ts => Timing(ts.head.op, ts.head.family,
      Stats.median(ts.map(_.build)), Stats.median(ts.map(_.exec)))).toSeq

    val walls = timings.map(_.wall)
    val e2e = Map("wall_s" -> walls.sum, "op_geomean_s" -> Stats.geomean(walls))
    val layers: Map[String, Double] = if (!ctx.traced) Map.empty else {
      Map(
        "op.build_s" -> timings.map(_.build).sum,
        "op.exec_s" -> timings.map(_.exec).sum,
        "curate.funnel_s" -> timings.find(_.op == Funnel).map(_.wall).getOrElse(0.0),
        "op.p50_s" -> Stats.pct(walls, 0.5),
        "op.p90_s" -> Stats.pct(walls, 0.9),
        "mat.leaked_bytes_max" -> leakedMax,
        "mat.sweep_s" -> sweepS,
        "sql.actions" -> (ctx.sql.get.actions - actions0).toDouble,
        "trace.wall_s" -> walls.sum) ++
        Families.map(f => s"fam.$f.wall_s" -> timings.filter(_.family == f).map(_.wall).sum) ++
        targetMetrics(benchDir, timings.map(t => t.op -> t.wall).toMap) ++
        ctx.engine.get.since(engine0)
    }
    Outcome(queryOps.size + 1, failed.size, firstTimedMs, e2e, layers,
      Map("samples" -> walls.size.toString,
        "walls" -> timings.sortBy(_.op).map(t => f"${t.op}=${t.wall}%.3f").mkString(" "),
        "failures" -> failed.map { case (k, v) => s"$k: $v" }.mkString("; ")))
  }

  /** `<query>.wall_s` for the ROADMAP target queries, by full name. */
  def targetMetrics(benchDir: Path, walls: collection.Map[String, Double]): Map[String, Double] =
    specs(benchDir).filter(s => Targets.contains(s.name.takeWhile(_ != '_')))
      .map(s => s"${s.name}.wall_s" -> walls.getOrElse(s.name, 0.0)).toMap
}
