package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import scala.util.control.NonFatal

/** Dev entry point over the SQL/pipeline queries: one loop over
  * `SparkEntry.queries` (default: all, sorted), where the mode picks what
  * happens to each query's DataFrame:
  *   - `time`: `count()`;
  *   - `noop`: a write to the `noop` sink, which computes every column of
  *     every row (`count()` may prune columns or drop a final sort);
  *   - `plan`: `explain("formatted")` into `<outDir>/<query><suffix>.txt`,
  *     the layout of the plan evidence under `plans/`. Queries with eager
  *     side effects (j10's stage write, e07's index build) run them while
  *     the plan is built; both are idempotent overwrites.
  * A failing query is reported and the loop goes on.
  *
  *   runMain graft.Probe time|noop [query ...]
  *   runMain graft.Probe plan [outDir suffix] [query ...]
  *
  * Data comes from `SPARK_GRAFT_SF_DIR` (default sf0.1), the session from
  * [[SparkEntry.session]].
  */
object Probe {
  private val Modes = Seq("time", "noop", "plan")

  /** Runs `mode` over `names`; prints and returns one line per query. */
  def run(spark: SparkSession, mode: String, sfDir: String, names: Seq[String],
      outDir: String = "plans/r06", suffix: String = "_before"): Seq[String] = {
    val act: (String, DataFrame) => String = mode match {
      case "time" => (_, df) => s"rows=${df.count()}"
      case "noop" => (_, df) => { df.write.format("noop").mode("overwrite").save(); "" }
      case "plan" =>
        new java.io.File(outDir).mkdirs()
        (name, df) => {
          val path = s"$outDir/$name$suffix.txt"
          val w = new java.io.PrintWriter(path, "UTF-8")
          try w.println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          finally w.close()
          s"-> $path"
        }
      case other => throw new IllegalArgumentException(s"mode must be one of ${Modes.mkString("|")}, got $other")
    }
    names.map { name =>
      spark.sparkContext.setJobDescription(s"$mode: $name")
      val t0 = System.nanoTime()
      val line =
        try {
          val detail = act(name, SparkEntry.queries(name)(spark, sfDir))
          f"[probe] $mode $name sec=${(System.nanoTime() - t0) / 1e9}%.2f $detail".trim
        } catch { case NonFatal(e) => s"[probe] $mode $name FAILED: $e" }
        finally spark.sparkContext.setJobDescription(null)
      println(line)
      line
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Modes.contains(args(0)),
      "usage: graft.Probe time|noop|plan [outDir suffix] [query ...]")
    val mode = args(0)
    val (outDir, suffix, rest) =
      if (mode == "plan") (args.lift(1).getOrElse("plans/r06"), args.lift(2).getOrElse("_before"), args.drop(3))
      else ("", "", args.drop(1))
    val names = if (rest.nonEmpty) rest.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.session()
    try run(spark, mode, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), names, outDir, suffix)
    finally spark.stop()
  }
}
