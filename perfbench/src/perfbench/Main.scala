package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Result of one workload run. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer ones (filled in by the traced run only), and
  * `notes` sample counts and mismatches for the stored run record. */
final case class Outcome(attempted: Long, failed: Long, firstTimedMs: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    notes: Map[String, String])

/** Everything a workload needs from the command line and the session.
  * `engine` and `sql` are the traced run's listeners. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, data: String,
    work: Path, spans: Spans,
    engine: Option[EngineListener], sql: Option[SqlListener]) {
  def traced: Boolean = engine.isDefined
}

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <queries|cdc_replicate>
  *     --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir>
  *     --out <result.json>
  *
  * It drives graft only through its public entry points and writes one
  * JSON result object to `--out`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Set("queries", "cdc_replicate")(workload), s"unknown workload $workload")
    val work = Paths.get(arg("work")).toAbsolutePath
    val spark = session(work, Runtime.getRuntime.availableProcessors)
    val sessionReadyMs = System.currentTimeMillis()
    val traced = arg("trace") == "1"
    val engine = Option.when(traced)(new EngineListener)
    engine.foreach(spark.sparkContext.addSparkListener)
    val sql = Option.when(traced)(new SqlListener)
    sql.foreach(spark.listenerManager.register)
    val ctx = Ctx(spark, arg("seed").toLong, arg("seconds").toDouble,
      Paths.get(arg("data")).toAbsolutePath.toString, work,
      new Spans, engine, sql)
    val out = workload match {
      case "queries" => Queries.run(ctx)
      case "cdc_replicate" => Cdc.replicate(ctx)
    }
    if (traced) ctx.spans.writeJsonl(work.resolve("spans.jsonl"))
    val e2e = out.e2e + ("peak_rss_mb" -> peakRssMb()) +
      ("ok_frac" -> (out.attempted - out.failed).toDouble / out.attempted)
    val layers =
      if (!traced) Map.empty[String, Double]
      else out.layers ++ ctx.spans.selfSeconds.map { case (k, v) => s"self.${k}_s" -> v }
    Files.writeString(Paths.get(arg("out")), Json.obj(Seq(
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "first_timed_ms" -> out.firstTimedMs.toString,
      "session_ready_ms" -> sessionReadyMs.toString,
      "e2e" -> Json.nums(e2e),
      "layers" -> Json.nums(layers),
      "notes" -> Json.obj(out.notes.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))))
    spark.stop()
  }

  /** The benchmark's session: `local[cores]`, as many shuffle partitions,
    * UTC, and every Spark file under `work`. */
  def session(work: Path, cores: Int): SparkSession = {
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Work directory of the tools (`Record`, `PruningEvidence`), which
    * `run.py tool` points `java.io.tmpdir` at. */
  def toolSession(): SparkSession =
    session(Paths.get(System.getProperty("java.io.tmpdir")),
      Runtime.getRuntime.availableProcessors)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sorted.map { case (k, v) =>
      k -> (if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)) })
}

object Stats {
  /** Nearest-rank percentile of a sample (p in [0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
}
