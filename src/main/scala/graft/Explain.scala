package graft
import org.apache.spark.sql.SparkSession

/** Diagnostics main (SURVEY §2.14): print the formatted physical plan of
  * named queries — the Spark-side counterpart of the expression layer's
  * `pprintCost`.
  *
  * Usage: Explain <sfDir> [--out <dir>] [queryName...]
  *
  * With no names every query is explained. With `--out` each plan goes to
  * `<dir>/<queryName>.txt` instead of stdout, so two builds can be compared
  * with `scripts/plan_diff.py <dirA> <dirB>`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val (outDir, rest) = args.drop(1).toSeq match {
      case "--out" +: dir +: tail => (Some(new java.io.File(dir)), tail)
      case tail                   => (None, tail)
    }
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    outDir.foreach(_.mkdirs())
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val plan = SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"explain failed: ${e.getMessage}" }
        case None => s"no such query: $n"
      }
      outDir match {
        case Some(dir) =>
          java.nio.file.Files.writeString(new java.io.File(dir, s"$n.txt").toPath, plan + "\n")
        case None =>
          println(s"\n================ $n ================")
          println(plan)
      }
    }
    spark.stop()
  }
}
