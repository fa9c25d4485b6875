package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.ExtractAll
import graft.model.{CaseRecord, Doc, OutSpans, PartitionLineage}

/** The production extraction job (north rule):
  *
  *  - **Skew**: per-doc span size is computed with a higher-order
  *    `aggregate` (no shuffle). It counts characters (Spark `length`), not
  *    UTF-8 bytes, as every `*Bytes`/`bytes` size here does. Docs at or
  *    above `skewThresholdBytes` are scattered across all partitions while
  *    normal docs hash by `doc_id`, in one shuffle
  *    ([[partitionForExtraction]]), so no partition owns several giants.
  *    (Reference failure mode: one 500-page PDF stalls a worker —
  *    `src/parallel_processor.py:129-152` has no answer to this.)
  *
  *  - **Resume**: docs are bucketed by `pmod(xxhash64(doc_id), numBuckets)`;
  *    the driver processes buckets in waves, writing records partitioned by
  *    bucket with dynamic partition overwrite (a replayed wave overwrites
  *    only its own buckets → idempotent), then appends one lineage row per
  *    bucket. On restart, buckets with status='done' lineage are skipped
  *    — the batch analogue the north rule asks for
  *    (the reference reprocesses everything on rerun; its merge tool
  *    `merge_json_files.py` is the manual workaround).
  */
object ExtractJob {

  /** Giant threshold, in span text characters (see [[withDocBytes]]). */
  val DefaultSkewThresholdBytes: Long = 512 * 1024

  /** A doc's span text size in characters (Spark `length`, not UTF-8
    * bytes), summed over its spans. */
  private def spanChars: Column =
    aggregate(col("spans"), lit(0L), (acc, s) => acc + length(s.getField("text")))

  /** Adds `doc_bytes`: the doc's span text size as a Catalyst expression
    * (no kernel invocation). Despite the name it counts characters, not
    * bytes. */
  def withDocBytes(docs: DataFrame): DataFrame =
    docs.withColumn("doc_bytes", spanChars)

  /** "Identity keys": for each target partition b in [0, n), a long k_b
    * whose Murmur3 hash (seed 42 — what Spark's HashPartitioning applies to
    * a LongType shuffle key) lands exactly on partition b. Mapping a
    * computed bucket through these keys makes `repartition(n, $"pkey")`
    * place rows on the *intended* partition — identity layout through a
    * plain hash shuffle, no custom Partitioner, no RDD detour. Brute-forced
    * once per n and cached (expected ~n·ln n hash evaluations). */
  private val identityKeyCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  def identityKeys(n: Int): Array[Long] =
    identityKeyCache.computeIfAbsent(n, _ => {
      val keys = new Array[Long](n)
      val found = new Array[Boolean](n)
      var remaining = n
      var v = 0L
      while (remaining > 0) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
        val b = ((h % n) + n) % n
        if (!found(b)) { found(b) = true; keys(b) = v; remaining -= 1 }
        v += 1
      }
      keys
    })

  /** Skew-aware partitioning in ONE scan and ONE shuffle:
    *
    *  - normal docs bucket by `xxhash64(doc_id) mod n` (uniform, stable,
    *    cluster-size-independent);
    *  - giants (span characters ≥ `skewThresholdBytes`) bucket by
    *    `monotonically_increasing_id() mod n` — scattered across all
    *    partitions regardless of how their doc_ids cluster;
    *  - buckets map through [[identityKeys]] so the hash shuffle places
    *    each bucket on its own partition.
    *
    * Design history (measured in this sandbox, BASELINE.md):
    * `repartitionByRange` costs an extra sampling job that re-executes the
    * child (~6s serial at 50k docs); the earlier two-branch
    * filter/union needed two full source scans. This form is pure Catalyst
    * expressions over a single scan. */
  def partitionForExtraction(spark: SparkSession, docs: Dataset[Doc],
                             numPartitions: Int,
                             skewThresholdBytes: Long = DefaultSkewThresholdBytes): Dataset[Doc] = {
    import spark.implicits._
    val keys = identityKeys(numPartitions)
    val bucket = when(col("doc_bytes") >= skewThresholdBytes,
        pmod(monotonically_increasing_id(), lit(numPartitions.toLong)))
      .otherwise(pmod(xxhash64($"doc_id"), lit(numPartitions.toLong)))
    withDocBytes(docs.toDF())
      .withColumn("pkey", element_at(lit(keys), bucket.cast("int") + 1))
      .repartition(numPartitions, $"pkey")
      .drop("doc_bytes", "pkey")
      .as[Doc]
  }

  /** One-shot extraction (no lineage) — the bench/throughput path.
    * ST2: a document that throws inside the kernel is dropped, never
    * job-fatal (the reference's continue-on-error contract,
    * `src/parallel_processor.py:142-152`, `src/config.py:176-180`). */
  def extractRecords(spark: SparkSession, docs: Dataset[Doc],
                     numPartitions: Int): Dataset[CaseRecord] = {
    import spark.implicits._
    partitionForExtraction(spark, docs, numPartitions)
      .mapPartitions(_.flatMap(d =>
        try ExtractAll.extractRecord(d)
        catch { case _: Exception => None }))
  }

  def extractOutSpans(spark: SparkSession, docs: Dataset[Doc],
                      numPartitions: Int): Dataset[OutSpans] = {
    import spark.implicits._
    partitionForExtraction(spark, docs, numPartitions)
      .mapPartitions(_.map(ExtractAll.outSpans))
  }

  /** Resumable run. Returns the lineage rows appended by this invocation. */
  def runResumable(spark: SparkSession, docs: Dataset[Doc], outDir: String,
                   runId: String, numBuckets: Int = 32,
                   bucketsPerWave: Int = 8): Seq[PartitionLineage] = {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val lineagePath = s"$outDir/lineage"
    val recordsPath = s"$outDir/records"

    val doneBuckets: Set[Int] =
      if (fsExists(spark, lineagePath)) {
        spark.read.parquet(lineagePath)
          .filter($"run_id" === runId && $"status" === "done")
          .select($"partition_id").as[Int].collect().toSet
      } else Set.empty

    val bucketed = docs.toDF()
      .withColumn("bucket", pmod(xxhash64($"doc_id"), lit(numBuckets)).cast("int"))

    val appended = Seq.newBuilder[PartitionLineage]
    val remaining = (0 until numBuckets).filterNot(doneBuckets)

    for (wave <- remaining.grouped(bucketsPerWave)) {
      val started = System.currentTimeMillis()

      // Per-bucket stats for lineage (docs/spans/chars + id range), observed
      // on the wave's input as its records are written: no second job and
      // no cached wave.
      val stats = Observation()
      val perBucket = wave.flatMap { b =>
        def of(c: Column): Column = when($"bucket" === b, c)
        Seq(count(of(lit(1))).as(s"docs_$b"),
          sum(of(size($"spans"))).as(s"spans_$b"),
          sum(of(spanChars)).as(s"bytes_$b"),
          min(of($"doc_id")).as(s"doc_id_min_$b"),
          max(of($"doc_id")).as(s"doc_id_max_$b"))
      }
      val waveRecords = bucketed.filter($"bucket".isin(wave: _*))
        .observe(stats, perBucket.head, perBucket.tail: _*)
        .select($"doc_id", $"spans", $"bucket").as[(String, Seq[graft.model.Span], Int)]
        .mapPartitions { it =>
          it.flatMap { case (id, spans, bucket) =>
            ExtractAll.extractRecord(Doc(id, spans)).map(r => (bucket, r))
          }
        }
        .map { case (bucket, r) => RecordWithBucket(bucket, r) }
        .toDF()
        .select($"bucket", $"r.*")

      // Dynamic overwrite: replaying a killed wave rewrites only its buckets.
      waveRecords.write.mode(SaveMode.Overwrite)
        .partitionBy("bucket").parquet(recordsPath)

      // An empty bucket counts 0 docs; its sums and ids come back null.
      val m = stats.get
      def stat[A](name: String, b: Int, empty: A): A =
        Option(m(s"${name}_$b")).fold(empty)(_.asInstanceOf[A])
      val finished = System.currentTimeMillis()
      val rows = wave.map { b =>
        PartitionLineage(
          run_id = runId, partition_id = b,
          doc_id_min = stat("doc_id_min", b, ""),
          doc_id_max = stat("doc_id_max", b, ""),
          docs = stat("docs", b, 0L),
          spans = stat("spans", b, 0L),
          bytes = stat("bytes", b, 0L),
          status = "done", started_at = started, finished_at = finished)
      }
      rows.toDS().write.mode(SaveMode.Append).parquet(lineagePath)
      appended ++= rows
    }
    appended.result()
  }

  private def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** Flat carrier so the record columns survive a `select($"r.*")`. */
final case class RecordWithBucket(bucket: Int, r: CaseRecord)
