package graft

import org.apache.spark.sql.SparkSession
import graft.spark._

/** Production spark-submit entry point (north_rule: "launched via
  * spark-submit on a multi-executor cluster"): full KG-construction run —
  * docs → expand → triples (+ error channel) → bucketed materialize with
  * lineage → global dedup graph. Re-running with the same outDir resumes,
  * skipping completed buckets.
  *
  *   spark-submit --master local-cluster[4,8,6144] --class graft.Main \
  *     <jar> --out /tmp/graft-run [--docs 100000] [--buckets 16] \
  *     [--input <parquet dir of (doc_id, spans)>]
  */
object Main {
  private val Usage = "usage: graft.Main --out <dir> [--docs N] [--buckets N] [--input <parquet dir>]"
  private val Flags = Set("--out", "--docs", "--buckets", "--input")

  /** `--flag value` pairs; an unknown flag, a flag without a value or a
    * missing `--out` is an error, never a silent default. */
  def parseArgs(args: Array[String]): Map[String, String] = {
    def bad(why: String) = throw new IllegalArgumentException(s"$why\n$Usage")
    val opts = args.grouped(2).map {
      case Array(k, v) if Flags(k) => k -> v
      case Array(k, _) => bad(s"unknown flag: $k")
      case Array(k) => bad(if (Flags(k)) s"missing value for $k" else s"unknown flag: $k")
    }.toMap
    if (!opts.contains("--out")) bad("--out <dir> is required")
    opts
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val out = opts("--out")
    val buckets = opts.getOrElse("--buckets", "16").toInt
    val spark = SparkSession.builder().appName("graft-kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = opts.get("--input") match {
      case Some(path) => spark.read.parquet(path).as[Doc]
      case None =>
        val n = opts.getOrElse("--docs", "100000").toLong
        SyntheticDocs.generate(spark, n, spark.sparkContext.defaultParallelism.max(8))
    }
    val t0 = System.nanoTime()
    val report = Materialize.run(docs, out, buckets = buckets)
    val graph = Materialize.finalizeGraph(spark, out)
    val graphSize = graph.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[graft.Main] buckets=${report.buckets} processed=${report.processed} resumed_skips=${report.skipped} " +
      f"triples=${report.triples} errors=${report.errors} graph_rows=$graphSize wall=$sec%.1fs " +
      f"lineage=$out/lineage graph=$out/graph")
    spark.stop()
  }
}
