package graft.observe

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Metric registry + streaming metrics (reference:
  * `src/utils/metrics_collector.py` generic factory,
  * `src/monitoring/metrics.py` CDC metrics).
  *
  * Counters/gauges/histograms live in a driver-side registry, fed from
  * two distributed-safe channels:
  *   - `df.observe(...)` aggregates computed inside the job (no extra
  *     action, no collect) — reconciliation/accuracy metrics (M2)
  *   - a `StreamingQueryListener` reading progress events — throughput,
  *     lag, batch duration (M3/ST9/ST10)
  */
final class MetricsRegistry(namespace: String = "cdc") {
  private val counters = TrieMap[String, Double]()
  private val gauges = TrieMap[String, Double]()
  private val histograms = TrieMap[String, Vector[Double]]()

  private def key(name: String, labels: Map[String, String]): String =
    s"${namespace}_$name" + (if (labels.isEmpty) ""
      else labels.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}"))

  def inc(name: String, by: Double = 1.0, labels: Map[String, String] = Map.empty): Unit =
    counters.updateWith(key(name, labels))(v => Some(v.getOrElse(0.0) + by))

  def setGauge(name: String, v: Double, labels: Map[String, String] = Map.empty): Unit =
    gauges.put(key(name, labels), v)

  def observeHistogram(name: String, v: Double, labels: Map[String, String] = Map.empty): Unit =
    histograms.updateWith(key(name, labels))(b => Some(b.getOrElse(Vector.empty) :+ v))

  def counter(name: String, labels: Map[String, String] = Map.empty): Double =
    counters.getOrElse(key(name, labels), 0.0)
  def gauge(name: String, labels: Map[String, String] = Map.empty): Double =
    gauges.getOrElse(key(name, labels), Double.NaN)
  def histogram(name: String, labels: Map[String, String] = Map.empty): Vector[Double] =
    histograms.getOrElse(key(name, labels), Vector.empty)

  /** Snapshot as a DataFrame — feeds the alert evaluation job (M5). */
  def snapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (counters.toSeq.map { case (k, v) => (k, "counter", v) } ++
      gauges.toSeq.map { case (k, v) => (k, "gauge", v) })
      .toDF("metric", "kind", "value")
  }

  /** Reconciliation-run metrics from a discrepancy summary
    * (metrics.py:17-188): counts by type + accuracy gauge. */
  def recordReconciliation(table: String, summary: Map[String, Long]): Unit = {
    summary.foreach { case (t, n) =>
      inc("reconciliation_discrepancies_total", n.toDouble,
        Map("table" -> table, "type" -> t))
    }
    val total = summary.values.sum
    val issues = summary.filterNot(_._1 == "match").values.sum
    if (total > 0)
      setGauge("reconciliation_accuracy_percent",
        (total - issues).toDouble / total * 100.0, Map("table" -> table))
    inc("reconciliation_runs_total", 1.0, Map("table" -> table))
  }
}

/** ST9/ST10: replication lag + throughput from streaming progress.
  * Termination events carry only the query id, so the id→name binding
  * from the start event is remembered — every gauge keys by the SAME
  * label for a query's whole lifecycle (a name-keyed health gauge that
  * never cleared on id-keyed termination is exactly the stale-dashboard
  * bug this prevents).
  *
  * `replication_lag_seconds` is the trigger's start time minus the
  * newest event time the batch carried (`eventTime("max")`, reported
  * only by a query with a watermark that processed rows): how far the
  * sink trails the source's commit clock. The listener bus is async —
  * call [[settle]] before reading what the last trigger reported. */
final class CdcQueryListener(registry: MetricsRegistry) extends StreamingQueryListener {
  import StreamingQueryListener._

  private val names = TrieMap[String, String]() // query id → display label
  @volatile private var events = 0L

  private def label(id: java.util.UUID, name: String): String = {
    val l = Option(name).getOrElse(id.toString)
    names.put(id.toString, l)
    l
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    registry.setGauge("connector_health", 1.0,
      Map("query" -> label(e.id, e.name)))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val name = label(p.id, p.name)
    registry.inc("records_replicated_total", p.numInputRows.toDouble,
      Map("query" -> name))
    registry.setGauge("throughput_rows_per_sec",
      Option(p.processedRowsPerSecond).getOrElse(0.0), Map("query" -> name))
    registry.observeHistogram("batch_duration_ms",
      p.durationMs.values().stream().mapToLong(_.longValue()).sum().toDouble,
      Map("query" -> name))
    Option(p.eventTime.get("max")).foreach { newest =>
      val lagMs = java.time.Instant.parse(p.timestamp).toEpochMilli -
        java.time.Instant.parse(newest).toEpochMilli
      registry.setGauge("replication_lag_seconds", lagMs / 1000.0,
        Map("query" -> name))
    }
    events += 1
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    // remove, don't just read: restart-looping queries would otherwise
    // grow the map by one dead entry per lifecycle forever
    val name = names.remove(e.id.toString).getOrElse(e.id.toString)
    registry.setGauge("connector_health", 0.0, Map("query" -> name))
    e.exception.foreach(_ => registry.inc("errors_total", 1.0,
      Map("query" -> name, "type" -> "query_terminated")))
    events += 1
  }

  /** Bounded wait for the async listener bus to drain. */
  def settle(): Unit = ListenerDrain.settle(() => events)
}
