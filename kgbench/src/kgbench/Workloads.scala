package kgbench

import graft.core._
import graft.json.JsonParser
import graft.ops.DedupOps
import graft.spark._
import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded input, staged during set-up, and a job the closed loop runs one
  * at a time. `job` leaves its output where `check` reads it.
  */
abstract class Part(val spark: SparkSession, val seed: Long, val dir: String) {
  /** Input docs one job processes. */
  def docs: Long
  /** Generate and stage the input; set-up repeats this to take a median. */
  def stage(rep: Int): Unit
  /** References for the checks and the cached scaling input. */
  def prepare(): Unit
  /** Run one job through `tr`. The first (warm-up) job has `full` set: its
    * output is kept and checked in full, and later jobs are checked against
    * its fingerprint.
    */
  def job(tr: Trace, full: Boolean): Unit
  /** None when the last job's output is correct, else why not. */
  def check(full: Boolean): Option[String]
  /** Output rows of the last checked job. */
  def outRows: Long
  /** Bytes the warm-up output takes as parquet. */
  def outBytes: Long
  /** Per-layer metrics after the traced jobs. */
  def layers(tr: Tracer, ledger: Ledger, tracedJobs: Int): Map[String, Double]
  /** Values the named-seed goldens pin. */
  def goldenValues: Map[String, String]

  protected def path(name: String): String = s"$dir/$name"
  protected def goldenMismatch: Option[String] = {
    val pinned = Goldens.of(getClass.getSimpleName, seed).getOrElse(Map.empty)
    pinned.collectFirst { case (k, v) if goldenValues.get(k).exists(_ != v) =>
      s"golden for seed $seed: $k = ${goldenValues(k)}, recorded $v" }
  }
  protected def writeNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  protected def observed(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): (DataFrame, Observation) = {
    val ob = Observation()
    (df.observe(ob, cols.head, cols.tail: _*), ob)
  }
  protected def cacheParts[T](ds: Dataset[T], parts: Int): Dataset[T] = {
    val c = ds.repartition(parts).cache()
    c.count()
    c
  }
  protected def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
  protected def median(xs: Seq[Double]): Double = Stats.median(xs)

  /** `ExpandStage.expandDoc` over every doc outside Spark, on one thread per
    * core, each with its own pass-long state as a partition would have.
    */
  protected def expandOutsideSpark(docs: Vector[Doc]): Vector[(Vector[TripleRow], Vector[DocError])] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    val threads = Runtime.getRuntime.availableProcessors().max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val chunks = docs.grouped((docs.size + threads - 1) / threads max 1).toVector
      val parts = chunks.map(c => Future {
        val state = new ApiState(JsonLdOptions(), RemoteContextPool.fullLoader)
        c.map(d => ExpandStage.expandDoc(d, state, ExpandStage.aliasDictionary))
      })
      parts.flatMap(f => Await.result(f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }
}

/** One benchmark workload: a part that also names the partition-local stage its scaling legs time. */
abstract class Workload(spark0: SparkSession, seed0: Long, dir0: String) extends Part(spark0, seed0, dir0) {
  /** Run the workload's partition-local stage over `parts` partitions (scaling legs). */
  def scalingLeg(parts: Int): Unit
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "kg-build" => new KgBuild(spark, seed, dir)
    case "canon-dedup" => new CanonDedup(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("kg-build", "canon-dedup")

  /** canon-dedup's scaling legs run over its texts repeated this many times
    * (doc ids made unique per copy), about half a second on one slot;
    * kg-build's input is large enough as it is. On a shared host the
    * one-slot legs of one run fall into two groups about 1.5x apart, so many
    * short pairs average that out better than a few long ones.
    */
  val ScalingCopies = 5
}

/** Engine layers measured from outside: a single-threaded pass over the
  * docs' jsonld and html spans, timing each public layer call, then
  * `ExpandStage.expandDoc` on the same docs.
  */
object EnginePass {
  def run(docs: Seq[Doc], tr: Tracer): Map[String, Double] = {
    val state = new ApiState(JsonLdOptions(), RemoteContextPool.fullLoader)
    val docState = new ApiState(JsonLdOptions(), RemoteContextPool.fullLoader)
    var jsonSpans = 0L; var jsonBytes = 0L; var errors = 0L
    tr.span("bench.engine_pass") {
      for (doc <- docs) {
        val triples = Vector.newBuilder[Triple]
        for (s <- doc.spans if s.kind == "jsonld" || s.kind == "html") {
          try {
            val json =
              if (s.kind == "html") tr.span("core.html_extract")(HtmlScripts.extract(s.text, None, extractAllScripts = true))
              else {
                jsonSpans += 1; jsonBytes += s.text.length
                tr.span("json.parse")(JsonParser.parse(s.text))
              }
            val opts = JsonLdOptions(base = Some(s"${ExpandStage.DocNs}${doc.doc_id}/span/${s.offset}"))
            val expanded = tr.span("core.expand")(JsonLdApi.expand(JsonLdInput.Doc(json), state.withOptions(opts)))
            triples ++= tr.span("core.to_rdf")(ToRdf.toRdf(expanded, opts))
          } catch {
            case _: Exception | _: StackOverflowError => errors += 1
          }
        }
        val t = triples.result()
        tr.span("core.bnode_canon")(BnodeCanon.canonicalize(t, scopeSalt = doc.doc_id))
        tr.span("expand_stage.expand_doc")(ExpandStage.expandDoc(doc, docState, ExpandStage.aliasDictionary))
        // expandDoc's own work beyond the engine calls: mention scoring over the text spans
        val rest = doc.copy(spans = doc.spans.filter(s => s.kind == "text" || s.kind == "media"))
        tr.span("expand_stage.mention")(ExpandStage.expandDoc(rest, docState, ExpandStage.aliasDictionary))
      }
    }
    val parse = tr.total("json.parse"); val html = tr.total("core.html_extract")
    val expand = tr.total("core.expand"); val toRdf = tr.total("core.to_rdf")
    val canon = tr.total("core.bnode_canon")
    Map(
      "json.parse_s" -> parse, "json.spans" -> jsonSpans.toDouble,
      "json.mb_per_s" -> (if (parse > 0) jsonBytes / 1e6 / parse else 0.0),
      "core.expand_s" -> expand, "core.to_rdf_s" -> toRdf, "core.bnode_canon_s" -> canon,
      "core.html_extract_s" -> html, "core.error_spans" -> errors.toDouble,
      "core.context_cache_entries" -> state.processedContexts.size.toDouble,
      "expand_stage.mention_s" -> tr.total("expand_stage.mention"),
      "engine.expand_doc_s" -> tr.total("expand_stage.expand_doc"))
  }

  /** `ExpandStage.run` over the staged docs into the noop sink, in its own
    * job group, plus the engine pass; together they give the expand_stage metrics.
    */
  def withStage(spark: SparkSession, staged: Dataset[Doc], docs: Seq[Doc], tr: Tracer, ledger: Ledger): Map[String, Double] = {
    val bc = spark.sparkContext.broadcast(RemoteContextPool.pool)
    val rows = ExpandStage.run(staged, bc).toDF()
    val ob = Observation()
    val t0 = System.nanoTime()
    tr.span("expand_stage.run", sparkGroup = true) {
      rows.observe(ob, count(when(col("triple").isNotNull, 1)).as("t"), count(when(col("error").isNotNull, 1)).as("e"))
        .write.format("noop").mode("overwrite").save()
    }
    val jobS = (System.nanoTime() - t0) / 1e9
    val m = ob.get
    val engine = run(docs, tr)
    org.apache.spark.KgbenchBridge.drainListenerBus(spark.sparkContext)
    val cpu = ledger.sum("expand_stage.run")(_.cpuNs) / 1e9
    val skew = ledger.stagesOf("expand_stage.run").filter(_.durations.size > 1).map(s => Stats.maxOverMedian(s.durations.map(_.toDouble).toSeq))
    engine - "engine.expand_doc_s" ++ Map(
      "expand_stage.job_s" -> jobS, "expand_stage.task_cpu_s" -> cpu,
      "expand_stage.gc_s" -> ledger.sum("expand_stage.run")(_.gcMs) / 1e3,
      "expand_stage.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "expand_stage.engine_share" -> (if (cpu > 0) engine("engine.expand_doc_s") / cpu else 0.0),
      "expand_stage.triples" -> m("t").asInstanceOf[Long].toDouble,
      "expand_stage.error_rows" -> m("e").asInstanceOf[Long].toDouble)
  }
}

/** `Materialize.run` (fresh out dir, resume = false) then `finalizeGraph`: the graft.Main path. */
final class KgBuild(spark0: SparkSession, seed0: Long, dir0: String) extends Workload(spark0, seed0, dir0) {
  import spark.implicits._
  /** graft.Main defaults to 16 buckets; at this input size each bucket only
    * repeats Materialize's fixed per-bucket Spark jobs, so one bucket gives
    * the per-doc work its largest share of a job.
    */
  val Buckets = 1
  private var docList: Vector[Doc] = Vector.empty
  private var input: Dataset[Doc] = _
  private var refShape: Checks.Shape = _
  private var refErrors = 0L
  private var refTriples = 0L // before dedup
  private var warmFingerprint: Row = _
  private var jobNo = 0
  private var outDir: String = _
  private var lastTimes: Option[(Double, Double)] = None // traced job: Materialize.run and finalizeGraph seconds
  private var lastRows = 0L
  private var warmBytes = 0L
  private var scaling: Map[Int, Dataset[Doc]] = Map.empty
  private val perJob = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]() // staging, buckets, finalize, written MB

  def docs: Long = Gen.Kg.Docs.toLong

  def stage(rep: Int): Unit = {
    docList = Gen.kgDocs(seed)
    val p = path(s"input_r$rep")
    spark.createDataset(spark.sparkContext.parallelize(docList, 8)).write.mode("overwrite").parquet(p)
    input = spark.read.parquet(p).as[Doc]
  }

  def prepare(): Unit = {
    // the reference: ExpandStage.expandDoc outside Spark
    val graph = new java.util.HashSet[Checks.Quad]()
    var triples = 0L
    for ((ts, es) <- expandOutsideSpark(docList)) {
      triples += ts.size
      refErrors += es.size
      ts.foreach(t => graph.add(Checks.Quad(t.subj, t.pred, t.obj_kind, t.obj_value, t.obj_datatype, t.obj_lang, t.graph, "")))
    }
    refTriples = triples
    import scala.jdk.CollectionConverters._
    refShape = Checks.shape(graph.asScala.toVector)
    scaling = Map.empty
  }

  def job(tr: Trace, full: Boolean): Unit = {
    jobNo += 1
    if (outDir != null) Dirs.delete(outDir)
    outDir = path(s"out_$jobNo")
    val t0 = System.nanoTime()
    tr.span("materialize.run", sparkGroup = true)(Materialize.run(input, outDir, buckets = Buckets, resume = false))
    val t1 = System.nanoTime()
    tr.span("materialize.finalize", sparkGroup = true)(Materialize.finalizeGraph(spark, outDir))
    lastTimes = if (tr.isInstanceOf[Tracer]) Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)) else None
  }

  def check(full: Boolean): Option[String] = {
    lastTimes.foreach { case (runS, finalizeS) =>
      val bucketsS = spark.read.parquet(s"$outDir/lineage").agg(sum("wall_ms")).head().getLong(0) / 1e3
      perJob += ((runS - bucketsS, bucketsS, finalizeS, dirBytes(outDir) / 1e6))
    }
    val g = spark.read.parquet(s"$outDir/graph")
    val fp = Checks.fingerprintOf(g)
    val errors = spark.read.parquet(s"$outDir/errors").count()
    lastRows = fp.getLong(0)
    if (errors != refErrors) return Some(s"kg-build: $errors error rows, expected $refErrors")
    if (full) {
      val quads = g.select(Checks.tripleCols.map(col): _*).collect().toVector.map(r =>
        Checks.Quad(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5), r.getString(6), ""))
      warmFingerprint = fp
      warmBytes = dirBytes(outDir)
      Checks.sameShape("kg-build graph", refShape, Checks.shape(quads)).orElse(goldenMismatch)
    } else if (fp != warmFingerprint) Some("kg-build: graph fingerprint differs from the checked warm-up job")
    else None
  }

  def outRows: Long = lastRows
  def outBytes: Long = warmBytes

  def scalingLeg(parts: Int): Unit = {
    val ds = scaling.getOrElse(parts, {
      val c = cacheParts(spark.createDataset(docList), parts); scaling += parts -> c; c })
    writeNoop(ExpandStage.run(ds, spark.sparkContext.broadcast(RemoteContextPool.pool)).toDF())
  }

  def layers(tr: Tracer, ledger: Ledger, tracedJobs: Int): Map[String, Double] = {
    val n = math.max(tracedJobs, 1).toDouble
    Map(
      "materialize.staging_s" -> median(perJob.map(_._1).toSeq),
      "materialize.buckets_s" -> median(perJob.map(_._2).toSeq),
      "materialize.finalize_s" -> median(perJob.map(_._3).toSeq),
      "materialize.written_mb" -> median(perJob.map(_._4).toSeq),
      "materialize.shuffle_write_mb" -> ledger.sum("materialize.")(_.shWriteBytes) / 1e6 / n,
      "materialize.spill_mb" -> ledger.sum("materialize.")(_.spillBytes) / 1e6 / n,
      "materialize.dedup_ratio" -> lastRows.toDouble / refTriples,
      "materialize.jobs" -> ledger.sum("materialize.")(_.jobs.toLong) / n
    ) ++ EnginePass.withStage(spark, input, docList, tr, ledger)
  }

  def goldenValues: Map[String, String] = Map(
    "graph_rows" -> refShape.rows.toString, "error_rows" -> refErrors.toString,
    "bnodes" -> refShape.bnodes.toString, "wl_hash" -> refShape.wlHash.toString)
}

/** `Canonicalize.globalWithRounds(rounds = 3, scoped = true)`, all relabel roles, into the noop sink. */
final class CanonPart(spark0: SparkSession, seed0: Long, dir0: String) extends Part(spark0, seed0, dir0) {
  import spark.implicits._
  val Rounds = 3
  private var docList: Vector[Doc] = Vector.empty
  private var rows: Vector[TripleRow] = Vector.empty
  private var input: Dataset[TripleRow] = _
  private var inShape: Checks.Shape = _
  private var inFingerprint: Row = _
  private var warmFull = 0L
  private var ob: Observation = _
  private var lastRounds = -1
  private var lastRows = 0L
  private var warmBytes = 0L
  private val hashS = scala.collection.mutable.ArrayBuffer[Double]()
  private val relabelS = scala.collection.mutable.ArrayBuffer[Double]()

  def docs: Long = Gen.Canon.Docs.toLong

  def stage(rep: Int): Unit = {
    docList = Gen.canonDocs(seed)
    rows = expandOutsideSpark(docList).flatMap(_._1)
    val tp = path(s"triples_r$rep")
    spark.createDataset(spark.sparkContext.parallelize(rows, 8)).write.mode("overwrite").parquet(tp)
    input = spark.read.parquet(tp).as[TripleRow]
  }

  private def quads(df: DataFrame): Vector[Checks.Quad] =
    df.select((Checks.tripleCols :+ "doc_id").map(col): _*).collect().toVector.map(r =>
      Checks.Quad(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5),
        r.getString(6), r.getString(7)))

  def prepare(): Unit = {
    inShape = Checks.shape(rows.map(t =>
      Checks.Quad(t.subj, t.pred, t.obj_kind, t.obj_value, t.obj_datatype, t.obj_lang, t.graph, t.doc_id)))
    val df = input.toDF()
    inFingerprint = Checks.fingerprintOf(df, col("doc_id"))
  }

  def job(tr: Trace, full: Boolean): Unit = {
    val t0 = System.nanoTime()
    val (out, rounds) = tr.span("canon.hash", sparkGroup = true)(
      Canonicalize.globalWithRounds(input, rounds = Rounds, scoped = true))
    val t1 = System.nanoTime()
    lastRounds = rounds
    val (o, obs) = observed(out, Checks.tripleFingerprint(col("doc_id")))
    ob = obs
    tr.span("canon.relabel", sparkGroup = true) {
      if (full) o.write.mode("overwrite").parquet(path("canon_out")) else writeNoop(o)
    }
    tr match {
      case _: Tracer => hashS += (t1 - t0) / 1e9; relabelS += (System.nanoTime() - t1) / 1e9
      case _ =>
    }
  }

  def check(full: Boolean): Option[String] = {
    val m = ob.get
    val rows = m("rows").asInstanceOf[Long]; val masked = m("masked").asInstanceOf[Long]; val fullH = m("full").asInstanceOf[Long]
    lastRows = rows
    if (rows != inFingerprint.getLong(0)) return Some(s"canon: $rows rows, expected ${inFingerprint.getLong(0)}")
    if (masked != inFingerprint.getLong(1)) return Some("canon: masked multiset changed")
    if (full) {
      warmFull = fullH
      warmBytes = dirBytes(path("canon_out"))
      Checks.sameShape("canon output", inShape, Checks.shape(quads(spark.read.parquet(path("canon_out")))))
        .orElse(goldenMismatch)
    } else if (fullH != warmFull) Some("canon: labels differ from the checked warm-up job")
    else None
  }

  def outRows: Long = lastRows
  def outBytes: Long = warmBytes


  def layers(tr: Tracer, ledger: Ledger, tracedJobs: Int): Map[String, Double] = {
    val n = math.max(tracedJobs, 1).toDouble
    val skew = ledger.shuffleReadStages("canon.relabel").filter(_.shReadRecords.size > 1)
      .map(s => Stats.maxOverMedian(s.shReadRecords.map(_.toDouble).toSeq))
    Map(
      "canon.hash_s" -> median(hashS.toSeq), "canon.relabel_s" -> median(relabelS.toSeq),
      "canon.rounds" -> lastRounds.toDouble, "canon.bnodes" -> inShape.bnodes.toDouble,
      "canon.jobs" -> ledger.sum("canon.")(_.jobs.toLong) / n,
      "canon.shuffle_read_mb" -> ledger.sum("canon.")(_.shReadBytes) / 1e6 / n,
      "canon.relabel_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "canon.spill_mb" -> ledger.sum("canon.")(_.spillBytes) / 1e6 / n
    ) ++ EnginePass.withStage(spark, spark.createDataset(docList), docList, tr, ledger)
  }

  def goldenValues: Map[String, String] = Map(
    "rows" -> inShape.rows.toString, "bnodes" -> inShape.bnodes.toString,
    "wl_hash" -> inShape.wlHash.toString, "rounds" -> lastRounds.toString)
}

/** `DedupOps.minhashLsh(threshold = 0.3)` and `DedupOps.simhashPairs(maxHamming = 10)` into the noop sink. */
final class DedupPart(spark0: SparkSession, seed0: Long, dir0: String) extends Part(spark0, seed0, dir0) {
  import spark.implicits._
  val Threshold = 0.3
  val MaxHamming = 10
  /** Injected near copies replace one word in ~60, so MinHash-LSH finds them all; any seed must reach this. */
  val MinRecall = 0.98
  private var texts: Vector[Gen.TextDoc] = Vector.empty
  private var injected: Vector[(String, String)] = Vector.empty
  private var input: DataFrame = _
  private var obs: (Observation, Observation) = _
  private var warm: (Long, Long, Long, Long) = _
  private var lastRows = 0L
  private var warmBytes = 0L
  private var result: Checks.PairCheck = _
  private var scaling: Map[Int, DataFrame] = Map.empty
  private val lshS = scala.collection.mutable.ArrayBuffer[Double]()
  private val simS = scala.collection.mutable.ArrayBuffer[Double]()

  def docs: Long = Gen.Dedup.Docs.toLong

  def stage(rep: Int): Unit = {
    val (t, p) = Gen.dedupDocs(seed)
    texts = t; injected = p
    val dp = path(s"texts_r$rep")
    spark.createDataset(spark.sparkContext.parallelize(texts, 8)).write.mode("overwrite").parquet(dp)
    input = spark.read.parquet(dp)
  }

  def prepare(): Unit = { scaling = Map.empty }

  private def pairFp = Seq(count(lit(1)).as("rows"), Checks.hashSum(col("id_a"), col("id_b")).as("h"))

  def job(tr: Trace, full: Boolean): Unit = {
    def one(name: String, df: => DataFrame, out: String, times: scala.collection.mutable.ArrayBuffer[Double]): Observation = {
      val t0 = System.nanoTime()
      val ob = tr.span(name, sparkGroup = true) {
        val (o, ob) = observed(df, pairFp)
        if (full) o.write.mode("overwrite").parquet(path(out)) else writeNoop(o)
        ob
      }
      tr match { case _: Tracer => times += (System.nanoTime() - t0) / 1e9; case _ => }
      ob
    }
    obs = (one("ops.minhash_lsh", DedupOps.minhashLsh(input, threshold = Threshold), "lsh_out", lshS),
      one("ops.simhash_pairs", DedupOps.simhashPairs(input, maxHamming = MaxHamming), "simhash_out", simS))
  }

  def check(full: Boolean): Option[String] = {
    val (a, b) = (obs._1.get, obs._2.get)
    val got = (a("rows").asInstanceOf[Long], a("h").asInstanceOf[Long], b("rows").asInstanceOf[Long], b("h").asInstanceOf[Long])
    lastRows = got._1 + got._3
    if (full) {
      warm = got
      warmBytes = dirBytes(path("lsh_out")) + dirBytes(path("simhash_out"))
      val lsh = spark.read.parquet(path("lsh_out")).select("id_a", "id_b").as[(String, String)].collect().toVector
      val sim = spark.read.parquet(path("simhash_out")).select(col("id_a"), col("id_b"), col("hamming").cast("int"))
        .as[(String, String, Int)].collect().toVector
      val textMap = texts.iterator.map(t => t.doc_id -> t.text).toMap
      Checks.checkPairs(textMap, injected, lsh, sim, Threshold, MaxHamming) match {
        case Left(err) => Some(s"dedup: $err")
        case Right(r) =>
          result = r
          if (r.recall < MinRecall) Some(s"dedup: injected-pair recall ${r.recall} < $MinRecall")
          else goldenMismatch
      }
    } else if (got != warm) Some("dedup: pair sets differ from the checked warm-up job")
    else None
  }

  def outRows: Long = lastRows
  def outBytes: Long = warmBytes

  def scalingLeg(parts: Int): Unit = {
    val ds = scaling.getOrElse(parts, {
      val copies = (0 until Workload.ScalingCopies).flatMap(k => texts.map(t => t.copy(doc_id = s"${t.doc_id}-$k")))
      val c = cacheParts(spark.createDataset(copies).toDF(), parts); scaling += parts -> c; c })
    writeNoop(ds.select(DedupOps.minhashSignature(col("text")), DedupOps.simhash(col("text"))))
  }

  def layers(tr: Tracer, ledger: Ledger, tracedJobs: Int): Map[String, Double] = {
    val n = math.max(tracedJobs, 1).toDouble
    Map(
      "ops.minhash_lsh_s" -> median(lshS.toSeq), "ops.simhash_pairs_s" -> median(simS.toSeq),
      "ops.shuffle_read_mb" -> ledger.sum("ops.")(_.shReadBytes) / 1e6 / n,
      "ops.stages" -> ledger.sum("ops.")(_.stages.toLong) / n,
      "ops.lsh_pairs" -> result.lshPairs.toDouble, "ops.simhash_pairs" -> result.simhashPairs.toDouble,
      "ops.injected_recall" -> result.recall)
  }

  def goldenValues: Map[String, String] =
    if (result == null) Map.empty
    else Map("lsh_pairs" -> result.lshPairs.toString, "simhash_pairs" -> result.simhashPairs.toString,
      "injected_recall" -> result.recall.toString)
}

/** Canonicalize and DedupOps, one after the other in each job: the two
  * shuffle-join layers that kg-build bypasses, in one workload so that one
  * run covers both. Each part keeps its own input, checks and metrics.
  */
final class CanonDedup(spark0: SparkSession, seed0: Long, dir0: String) extends Workload(spark0, seed0, dir0) {
  // corpus-scale regime: no join side fits a broadcast and no shuffle is small
  // enough to coalesce, so the relabel and band joins run as shuffle joins
  // over every partition (IRI rows' NULL relabel keys land in one), as at scale
  spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
  private val canon = new CanonPart(spark, seed, path("canon"))
  private val dedup = new DedupPart(spark, seed, path("dedup"))
  def docs: Long = canon.docs + dedup.docs
  def stage(rep: Int): Unit = { canon.stage(rep); dedup.stage(rep) }
  def prepare(): Unit = { canon.prepare(); dedup.prepare() }
  def job(tr: Trace, full: Boolean): Unit = { canon.job(tr, full); dedup.job(tr, full) }
  def check(full: Boolean): Option[String] = {
    val c = canon.check(full) // both parts check every job: each keeps its warm-up fingerprint
    dedup.check(full).map(d => c.fold(d)(_ + "; " + d)).orElse(c)
  }
  /** Canonicalized triples: the pair tables are not triples. */
  def outRows: Long = canon.outRows
  def outBytes: Long = canon.outBytes
  def scalingLeg(parts: Int): Unit = dedup.scalingLeg(parts)
  def layers(tr: Tracer, ledger: Ledger, tracedJobs: Int): Map[String, Double] =
    dedup.layers(tr, ledger, tracedJobs) ++ canon.layers(tr, ledger, tracedJobs)
  def goldenValues: Map[String, String] =
    canon.goldenValues.map { case (k, v) => s"canon.$k" -> v } ++ dedup.goldenValues.map { case (k, v) => s"dedup.$k" -> v }
}

object Dirs {
  def delete(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def maxOverMedian(xs: Seq[Double]): Double = { val m = median(xs); if (m > 0) xs.max / m else 1.0 }
}
