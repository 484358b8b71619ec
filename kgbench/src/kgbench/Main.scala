package kgbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark JVM. One `local[k]` session (k = min(4, cores)), no forked
  * executors. Set-up stages the seeded input, then a closed loop runs one job
  * at a time for `--seconds`, checking every output. `--trace 0` prints the
  * end-to-end metrics; `--trace 1` is a separate run that registers the
  * listener and spans and prints the per-layer metrics. The last stdout line
  * is the JSON result.
  */
object Main {
  val SetupReps = 3
  val MinJobs = 3
  val ScalingSeconds = 5.0

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "docs_per_s" -> "1/s", "triples_per_s" -> "1/s",
    "scaling_eff" -> "ratio", "out_bytes_per_triple" -> "B", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "json.parse_s" -> "s", "json.spans" -> "count", "json.mb_per_s" -> "MB/s",
    "core.expand_s" -> "s", "core.to_rdf_s" -> "s", "core.bnode_canon_s" -> "s", "core.html_extract_s" -> "s",
    "core.error_spans" -> "count", "core.context_cache_entries" -> "count",
    "expand_stage.job_s" -> "s", "expand_stage.task_cpu_s" -> "s", "expand_stage.gc_s" -> "s",
    "expand_stage.task_skew" -> "ratio", "expand_stage.mention_s" -> "s", "expand_stage.engine_share" -> "ratio",
    "expand_stage.triples" -> "count", "expand_stage.error_rows" -> "count",
    "materialize.staging_s" -> "s", "materialize.buckets_s" -> "s", "materialize.finalize_s" -> "s",
    "materialize.shuffle_write_mb" -> "MB", "materialize.spill_mb" -> "MB", "materialize.written_mb" -> "MB",
    "materialize.dedup_ratio" -> "ratio", "materialize.jobs" -> "count",
    "canon.hash_s" -> "s", "canon.relabel_s" -> "s", "canon.rounds" -> "count", "canon.bnodes" -> "count",
    "canon.jobs" -> "count", "canon.shuffle_read_mb" -> "MB", "canon.relabel_skew" -> "ratio", "canon.spill_mb" -> "MB",
    "ops.minhash_lsh_s" -> "s", "ops.simhash_pairs_s" -> "s", "ops.shuffle_read_mb" -> "MB", "ops.stages" -> "count",
    "ops.lsh_pairs" -> "count", "ops.simhash_pairs" -> "count", "ops.injected_recall" -> "ratio",
    "spark.failed_tasks" -> "count", "spark.gc_s" -> "s", "spark.tasks" -> "count",
    "trace_overhead" -> "ratio",
    "self.materialize_s" -> "s", "self.canon_s" -> "s", "self.ops_s" -> "s", "self.bench_s" -> "s")

  final class Loop(w: Workload) {
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()

    /** Run one job; its time when it ran and passed its check. */
    def once(tr: Trace, full: Boolean): Option[Double] = {
      attempted += 1
      val verdict =
        try {
          val t0 = System.nanoTime()
          tr.span("bench.job")(w.job(tr, full))
          val t = (System.nanoTime() - t0) / 1e9
          tr.span("bench.check")(w.check(full)).toLeft(t)
        } catch { case e: Exception => Left(s"job threw: $e") }
      verdict.left.foreach { why => failed += 1; failures += why; System.err.println(s"[kgbench] FAILED: $why") }
      verdict.toOption
    }

    /** Closed loop, one job in flight, for `seconds` (and at least `min` jobs). */
    def run(tr: Trace, seconds: Double, min: Int): Seq[Double] = {
      val times = ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) {
        once(tr, full = false).foreach(times += _)
        n += 1
      }
      times.toSeq
    }
  }

  private def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    require(Workload.names.contains(name),
      s"unknown workload $name; expected one of ${Workload.names.mkString(", ")}")
    val work = opts("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val slotsN = math.max(1, cores / 4)

    val spark = SparkSession.builder().master(s"local[$cores]").appName(s"kgbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try measure(spark, name, opts, sessionS, slotsN)
    finally spark.stop()
  }

  private def measure(spark: SparkSession, name: String, opts: Map[String, String], sessionS: Double, slotsN: Int): Unit = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = spark.sparkContext.defaultParallelism
    val w = Workload(name, spark, seed, work)
    val stageS = (0 until SetupReps).map(rep => timed(w.stage(rep)))
    val prepareS = timed(w.prepare())
    val loop = new Loop(w)
    // one warm-up job, checked in full; later jobs are checked against it.
    // A second one would steady job_s a little but costs a job's time in
    // every run, which the run budget does not allow at these input sizes
    val warmS = timed(loop.once(NoTrace, full = true))
    val setupS = sessionS + Stats.median(stageS) + prepareS + warmS
    println(f"[kgbench] workload=$name seed=$seed cores=$cores setup: session=$sessionS%.3fs " +
      s"stage=${stageS.map(s => f"$s%.3f").mkString("/")}s " + f"prepare=$prepareS%.3fs warm-up=$warmS%.3fs")
    println("[kgbench] golden " + w.goldenValues.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val times = loop.run(NoTrace, seconds, MinJobs)
        val jobS = Stats.median(times)
        // the first pair warms the cached inputs; then pairs repeat for
        // ScalingSeconds (at least MinJobs) and the legs' total times count:
        // single pairs scatter too widely for a median of a few ratios
        def pair() = (timed(w.scalingLeg(slotsN)), timed(w.scalingLeg(4 * slotsN)))
        pair()
        val legs = ArrayBuffer[(Double, Double)]()
        val ts = System.nanoTime()
        while (legs.size < MinJobs || (System.nanoTime() - ts) / 1e9 < ScalingSeconds) legs += pair()
        val scaling = legs.map(_._1).sum / legs.map(_._2).sum / 4
        println(s"[kgbench] job_s samples=${times.size} all=${times.map(t => f"$t%.3f").mkString(",")}")
        println(s"[kgbench] scaling legs N=$slotsN/4N=${4 * slotsN} slots " +
          legs.map { case (a, b) => f"$a%.3f/$b%.3f" }.mkString(" "))
        val values = Map(
          "setup_s" -> setupS, "job_s" -> jobS, "docs_per_s" -> w.docs / jobS,
          "triples_per_s" -> w.outRows / jobS, "scaling_eff" -> scaling,
          "out_bytes_per_triple" -> w.outBytes.toDouble / w.outRows, "peak_rss_mb" -> peakRssMb())
        EndToEnd.map { case (k, u) => (k, u, values(k)) }
      } else {
        // traced and untraced jobs alternate (ABBA), so both see the same JIT
        // state; the listener is registered only while a traced job runs
        val ledger = new Ledger
        val sc = spark.sparkContext
        val tracer = new Tracer(sc, s"$name-$seed")
        val plain = ArrayBuffer[Double](); val traced = ArrayBuffer[Double]()
        var gcS = 0.0 // during traced jobs and the layer passes
        val t0 = System.nanoTime()
        var i = 0
        while (i < 4 || (System.nanoTime() - t0) / 1e9 < seconds) {
          if ((i + i / 2) % 2 == 0) loop.once(NoTrace, full = false).foreach(plain += _)
          else {
            sc.addSparkListener(ledger)
            val gc0 = gcSeconds()
            loop.once(tracer, full = false).foreach(traced += _)
            gcS += gcSeconds() - gc0
            org.apache.spark.KgbenchBridge.drainListenerBus(sc)
            sc.removeSparkListener(ledger)
          }
          i += 1
        }
        sc.addSparkListener(ledger)
        val gc0 = gcSeconds()
        val layerValues = w.layers(tracer, ledger, traced.size)
        gcS += gcSeconds() - gc0
        org.apache.spark.KgbenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(ledger)
        val self = tracer.selfTimes(under = "bench.job")
        val values = layerValues ++ Map(
          "spark.failed_tasks" -> ledger.sum("")(_.failedTasks.toLong).toDouble,
          "spark.gc_s" -> gcS, "spark.tasks" -> ledger.sum("")(_.tasks.toLong).toDouble,
          "trace_overhead" -> Stats.median(traced.toSeq) / Stats.median(plain.toSeq)) ++
          Seq("materialize", "canon", "ops", "bench")
            .map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / math.max(traced.size, 1))
        val out = java.nio.file.Paths.get(opts("trace-file"))
        tracer.write(out, ledger)
        println(s"[kgbench] traced jobs=${traced.size} untraced jobs=${plain.size} spans and stages written to $out")
        println(s"[kgbench] job_s untraced=${plain.map(t => f"$t%.3f").mkString(",")} traced=${traced.map(t => f"$t%.3f").mkString(",")}")
        PerLayer.map { case (k, u) => (k, u, values.getOrElse(k, 0.0)) }
      }

    metrics.foreach { case (k, u, v) => println(f"[kgbench] $k%-30s ${fmt(v)}%s $u") }
    val correct = loop.failed == 0
    println(s"[kgbench] check: ${if (correct) "PASS" else "FAIL " + loop.failures.mkString("; ")} " +
      s"(attempted=${loop.attempted} failed=${loop.failed} failed_ratio=${loop.failed.toDouble / loop.attempted})")
    val body = metrics.map { case (k, u, v) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${loop.attempted}, "failed": ${loop.failed}, "metrics": {$body}}""")
  }
}
