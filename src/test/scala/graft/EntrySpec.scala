package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spark.SparkTestSession

class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val q = "q01_agg_pricing"

  test("Main.parseArgs accepts the four documented flags") {
    val opts = Main.parseArgs(Array("--out", "/tmp/o", "--docs", "10", "--buckets", "4", "--input", "/tmp/i"))
    assert(opts == Map("--out" -> "/tmp/o", "--docs" -> "10", "--buckets" -> "4", "--input" -> "/tmp/i"))
  }

  test("Main.parseArgs rejects an unknown flag instead of running with a default") {
    val e = intercept[IllegalArgumentException](Main.parseArgs(Array("--out", "/tmp/o", "--bucket", "4")))
    assert(e.getMessage.contains("unknown flag: --bucket"))
    assert(e.getMessage.contains("usage: graft.Main"))
  }

  test("Main.parseArgs rejects a trailing flag without a value and a missing --out") {
    val e = intercept[IllegalArgumentException](Main.parseArgs(Array("--out", "/tmp/o", "--buckets")))
    assert(e.getMessage.contains("missing value for --buckets"))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--docs", "10")))
  }

  for (mode <- Seq("time", "noop")) test(s"Probe $mode prints one timing line per query") {
    val lines = Probe.run(spark, mode, sf, Seq(q))
    assert(lines.size == 1)
    assert(lines.head.matches(s"""\\[probe\\] $mode $q sec=\\d+\\.\\d\\d.*"""), lines.head)
  }

  test("Probe plan writes the formatted plan per query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-probe").toString
    val lines = Probe.run(spark, "plan", sf, Seq(q), outDir = dir, suffix = "_t")
    assert(lines.head.matches(s"""\\[probe\\] plan $q sec=\\d+\\.\\d\\d -> $dir/${q}_t\\.txt"""), lines.head)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/${q}_t.txt"))
    assert(txt.contains("Physical Plan"))
  }

  test("Probe reports a failing query and goes on with the rest") {
    val lines = Probe.run(spark, "time", sf, Seq("no_such_query", q))
    assert(lines.head.startsWith("[probe] time no_such_query FAILED"))
    assert(lines(1).startsWith(s"[probe] time $q sec="))
    intercept[IllegalArgumentException](Probe.run(spark, "explain", sf, Seq(q)))
  }
}
