package perfbench

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import graft.ops.CurateCli
import Queries.{Funnel, curate, fingerprint}

/** Writes the expected-output table: the fingerprint of every registered
  * query and of the funnel's corpus, and the funnel's datasheet.
  *
  *   perfbench.Record <data dir> <fingerprints.tsv> */
object Record {
  def main(args: Array[String]): Unit = {
    val (data, out) = (args(0), Paths.get(args(1)))
    val spark = Main.toolSession()
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val fp = try fingerprint(q(spark, data))
        catch { case e: Throwable => s"ERROR ${e.getClass.getSimpleName}" }
      SparkEntry.sweepTransientStorage(spark)
      s"$name\t$fp"
    }
    val r = curate(spark, data)
    val funnel = Seq(s"$Funnel.corpus\t${fingerprint(r.corpus)}",
      s"$Funnel.datasheet\t${CurateCli.datasheetJson(r.funnel)}")
    r.unpersist()
    Files.write(out, (lines ++ funnel :+ "").mkString("\n").getBytes("UTF-8"))
    spark.stop()
  }
}
