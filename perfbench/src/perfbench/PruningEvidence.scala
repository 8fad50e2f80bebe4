package perfbench

import graft.SparkEntry

/** Shows why `count()` cannot force a query: for each query named on the
  * command line it prints the median wall of `count()` and of a `noop`
  * write over five warm runs, and the optimized plan `count()` executes.
  *
  *   perfbench.PruningEvidence <data dir> <query> ... */
object PruningEvidence {
  def main(args: Array[String]): Unit = {
    val spark = Main.toolSession()
    val data = args(0)
    args.drop(1).foreach { q =>
      def timed(force: org.apache.spark.sql.DataFrame => Unit): Double = {
        val t0 = System.nanoTime()
        force(SparkEntry.queries(q)(spark, data))
        SparkEntry.sweepTransientStorage(spark)
        (System.nanoTime() - t0) / 1e9
      }
      def med(f: => Double) = { f; Stats.median(Seq.fill(5)(f)) }
      val count = med(timed(_.count()))
      val noop = med(timed(_.write.format("noop").mode("overwrite").save()))
      val plan = SparkEntry.queries(q)(spark, data).groupBy().count()
        .queryExecution.optimizedPlan.treeString
      SparkEntry.sweepTransientStorage(spark)
      println(f"== $q: count() $count%.3f s, noop $noop%.3f s")
      println(plan)
    }
    spark.stop()
  }
}
