package graft.spark

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Checkpoint-resumable graph materialization with per-bucket lineage +
  * metrics (north_rule). Storage abstraction: parquet (zstd) in-sandbox; the
  * same writes go to Iceberg (`df.writeTo(table).append()`) in production —
  * only this object touches storage.
  *
  * Layout under `outDir`:
  *   staging_b{K}_{fp}/bucket=N/  bucketed source docs, written shuffle-free: every input task writes its own file per bucket
  *   triples/bucket=N/   triples of bucket N, deduplicated within the bucket (doc_id = smallest doc holding the triple)
  *   errors/bucket=N/    expansion error channel
  *   lineage/            one row per completed bucket (status, counts, attempt)
  *   graph/              cross-bucket dedup (finalizeGraph)
  *
  * A bucket runs only the Spark jobs its writes need: its staged read keeps
  * one task per staged file, so expansion runs on every core, and the
  * lineage counts are `Observation`s riding on the docs read and the
  * triples/errors writes, not extra count passes. Every read-back passes its
  * schema, so no read launches a schema-inference job.
  *
  * Resume: completed buckets are read from lineage and skipped (the
  * coarse-grained equivalent of a `left_anti` on completed doc_ids — bucket
  * granularity keeps the resume check O(buckets), not O(docs), at 10^12 docs).
  */
object Materialize {

  final case class RunReport(buckets: Int, processed: Int, skipped: Int, triples: Long, errors: Long)

  def bucketOf(buckets: Int) = pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")

  private val tripleCols = Seq("subj", "pred", "obj_kind", "obj_value", "obj_datatype", "obj_lang", "graph")
  private val stagedSchema = Encoders.product[Doc].schema.add("bucket", IntegerType)
  private val triplesSchema = Encoders.product[TripleRow].schema
  private val lineageSchema = Encoders.product[PartitionLineage].schema
  private val graphSchema = tripleCols.foldLeft(new StructType())(_.add(_, StringType))
    .add("first_doc", StringType).add("support", LongType)

  /** Every parquet write of this object: zstd, overwrite unless told otherwise. */
  private def parquet[T](ds: Dataset[T], mode: SaveMode = SaveMode.Overwrite): DataFrameWriter[T] =
    ds.write.mode(mode).option("compression", "zstd")

  /** Row count of `ds`, reported by the first action that runs it. */
  private[spark] def counted[T](ds: Dataset[T]): (Dataset[T], Observation) = {
    val obs = Observation()
    (ds.observe(obs, count(lit(1)).as("n")), obs)
  }

  private[spark] def countOf(obs: Observation): Long = obs.get("n").asInstanceOf[Long]

  /** Existence check through the Hadoop FileSystem for the path's scheme —
    * java.io.File is local-FS-only and silently reports false on HDFS/S3,
    * which would rewrite staging (and ignore lineage) every run.
    */
  private[spark] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Session-stable fingerprint of the input's ANALYZED plan: the plan
    * string with per-session artifacts stripped (expression ids `#123`,
    * lambda class ids, object identity hashes), hashed. The plan's
    * semanticHash is NOT usable here — it differs across spark-submit
    * sessions for the identical logical input (measured: two submits of the
    * same 1M-doc job produced two staging dirs), which silently defeats
    * cross-run staging reuse. Covers source paths/shape without scanning
    * data; an in-place rewrite of the same source path still escapes it —
    * use a fresh outDir (run id) for that case.
    */
  private[spark] def inputFingerprint(docs: Dataset[Doc]): String = {
    val normalized = docs.queryExecution.analyzed.toString
      .replaceAll("#\\d+", "")
      .replaceAll("\\$\\$Lambda\\$\\d+(/0x[0-9a-fA-F]+)?", "\\$\\$Lambda")
      .replaceAll("@[0-9a-fA-F]+", "")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalized.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  /** (bucket, status, attempt) of every lineage row so far — O(buckets) rows. */
  private def priorLineage(spark: SparkSession, outDir: String): Seq[(Int, String, Int)] = {
    if (!pathExists(spark, s"$outDir/lineage")) Seq.empty
    else {
      import spark.implicits._
      spark.read.schema(lineageSchema).parquet(s"$outDir/lineage")
        .select("bucket", "status", "attempt").as[(Int, String, Int)].collect().toSeq
    }
  }

  /** Where `run` stages `docs` for `buckets` buckets. Bucket count AND an
    * input fingerprint are part of the path, so a re-run with a different
    * bucket count or a different input never silently resolves to stale
    * staging.
    */
  private[spark] def stagingDir(docs: Dataset[Doc], outDir: String, buckets: Int): String =
    s"$outDir/staging_b${buckets}_${inputFingerprint(docs)}"

  /** One bucket's staged docs: a partition-pruned scan with one task per
    * staged file, i.e. per input task that held docs of the bucket.
    */
  private[spark] def stagedBucket(spark: SparkSession, stagingDir: String, bucket: Int): Dataset[Doc] = {
    import spark.implicits._
    spark.read.schema(stagedSchema).parquet(stagingDir)
      .filter(col("bucket") === bucket).drop("bucket").as[Doc]
  }

  /** Run the full pipeline over `docs`, bucket by bucket. `failAtBucket`
    * injects a crash (resume test). Within a bucket: expand (partition-local)
    * → dedup → write; each bucket commit is atomic enough for resume (lineage
    * row written only after the data write succeeds).
    */
  def run(
      docs: Dataset[Doc],
      outDir: String,
      buckets: Int = 8,
      resume: Boolean = true,
      failAtBucket: Option[Int] = None
  ): RunReport = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prior = priorLineage(spark, outDir)
    val done = if (resume) prior.collect { case (b, "done", _) => b }.toSet else Set.empty[Int]
    val attempts = prior.groupMapReduce(_._1)(_._3)(math.max)
    // The whole vendored pool: it is a handful of small contexts, and any
    // span kind (jsonld, or an html page's scripts) may reference any of them.
    val ctxB = spark.sparkContext.broadcast(RemoteContextPool.pool)

    // Stage the bucketed corpus once, partitioned BY bucket, with no shuffle:
    // each input task writes its own file per bucket, so per-bucket reads
    // below are partition-pruned scans (only bucket=N files touched) that
    // keep the input's parallelism, and a resumed run re-reads staging
    // instead of recomputing the bucketing. Staging replaces a `.cache()` of
    // the bucketed corpus, which at 10^12 docs would pin the whole corpus in
    // executor memory/disk and be lost with any executor.
    val staging = stagingDir(docs, outDir, buckets)
    if (!pathExists(spark, s"$staging/_SUCCESS")) {
      parquet(docs.withColumn("bucket", bucketOf(buckets))).partitionBy("bucket").parquet(staging)
    }
    var totalTriples = 0L
    var totalErrors = 0L
    var processed = 0
    for (b <- 0 until buckets if !done.contains(b)) {
      if (failAtBucket.contains(b)) throw new RuntimeException(s"injected failure at bucket $b")
      val t0 = System.nanoTime()
      val (bucketDocs, docsObs) = counted(stagedBucket(spark, staging, b))
      val rows = ExpandStage.run(bucketDocs, ctxB).cache()
      // min(doc_id), not an arbitrary survivor: the bucket spans many tasks
      val (triples, triplesObs) = counted(ExpandStage.triples(rows)
        .groupBy(tripleCols.map(col): _*).agg(min("doc_id").as("doc_id")))
      val (errors, errorsObs) = counted(ExpandStage.errors(rows))
      parquet(triples).parquet(s"$outDir/triples/bucket=$b")
      parquet(errors).parquet(s"$outDir/errors/bucket=$b")
      rows.unpersist()
      val (dc, tc, ec) = (countOf(docsObs), countOf(triplesObs), countOf(errorsObs))
      val lineage = Seq(PartitionLineage(b, dc, tc, ec, "done",
        attempts.getOrElse(b, 0) + 1, (System.nanoTime() - t0) / 1000000)).toDS()
      parquet(lineage, SaveMode.Append).parquet(s"$outDir/lineage")
      totalTriples += tc
      totalErrors += ec
      processed += 1
    }
    RunReport(buckets, processed, done.size, totalTriples, totalErrors)
  }

  /** Cross-bucket global dedup → final graph table. `first_doc` is the
    * smallest doc_id holding the triple; `support` is the number of buckets
    * holding it (each bucket's triples are already distinct). Group keys
    * contain subj — high cardinality, so the rdf:type hot predicate does NOT
    * skew this shuffle; AQE coalesces output partitions.
    */
  def finalizeGraph(spark: SparkSession, outDir: String): DataFrame = {
    val all = spark.read.schema(triplesSchema).parquet(s"$outDir/triples")
    val graph = all.groupBy(tripleCols.map(col): _*)
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("support"))
    parquet(graph).parquet(s"$outDir/graph")
    spark.read.schema(graphSchema).parquet(s"$outDir/graph")
  }
}
