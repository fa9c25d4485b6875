package perfbench

import org.apache.spark.sql.{Dataset, SaveMode}
import org.apache.spark.sql.functions._

import graft.extract._
import graft.model.{CaseRecord, Doc, PartitionLineage, Span => DocSpan}
import graft.pipeline._
import graft.text.Py

/** The paper's own job over a seeded synthetic corpus: partition, resumable
  * extraction with lineage, out-spans, a simulated kill and replay, report,
  * knowledge graph and the JSON/CSV record sinks. */
final class ExtractWorkload(ctx: Ctx, nDocs: Int) extends Workload {
  import ExtractWorkload._
  import ctx.spark.implicits._

  private val spark = ctx.spark
  private val corpusPath = s"${ctx.scratch}/corpus"
  private var docs: Dataset[Doc] = _

  // Per-pass state the checks read.
  private var alive = true
  private var replayed = Seq.empty[PartitionLineage]
  private var recordsBeforeReplay = -1L

  // Count metrics of the last checked pass.
  private var recordsOut = 0L
  private var kgNodes = 0L
  private var kgEdges = 0L

  def docsPerPass: Long = nDocs

  private def dir(k: Int) = s"${ctx.scratch}/extract/pass-$k"

  def setup(): Unit = {
    val seed = ctx.seed
    spark.range(0, nDocs, 1, ctx.cores).map(i => genDoc(i, seed))
      .write.mode(SaveMode.Overwrite).parquet(corpusPath)
    docs = DocsSource.parquet(spark, corpusPath)
  }

  private def phase(name: String)(body: => Unit): Unit = {
    ctx.tally.attempted += 1
    if (!alive) ctx.tally.fail(s"$name skipped after an earlier failure")
    else
      try ctx.tracer.span(name)(body)
      catch { case e: Throwable => alive = false; ctx.tally.fail(s"$name threw $e") }
  }

  def pass(k: Int): Unit = {
    val d = dir(k)
    alive = true
    replayed = Seq.empty
    recordsBeforeReplay = -1L
    phase("ExtractJob.partition") {
      ctx.noop(ExtractJob.partitionForExtraction(spark, docs, ctx.cores).toDF())
    }
    phase("ExtractJob.records") {
      ExtractJob.runResumable(spark, docs, d, RunId, Buckets, BucketsPerWave)
    }
    if (alive) ctx.untimed {
      recordsBeforeReplay = spark.read.parquet(s"$d/records").count()
    }
    phase("ExtractJob.spans") {
      ExtractJob.extractOutSpans(spark, docs, ctx.cores).write.parquet(s"$d/spans")
    }
    phase("ExtractJob.replay") {
      // Simulated kill: the last wave's lineage rows never got written.
      val kept = spark.read.parquet(s"$d/lineage").as[PartitionLineage].collect()
        .filterNot(r => LastWave(r.partition_id)).toSeq
      kept.toDS().write.mode(SaveMode.Overwrite).parquet(s"$d/lineage")
      replayed = ExtractJob.runResumable(spark, docs, d, RunId, Buckets, BucketsPerWave)
    }
    val records = spark.read.parquet(s"$d/records")
    phase("ReportJob.write") {
      ReportJob.writeReport(spark, records, s"$d/report")
    }
    phase("KgJob.write") {
      KgJob.nodes(records).write.parquet(s"$d/kg/nodes")
      KgJob.edges(records).write.parquet(s"$d/kg/edges")
    }
    phase("RecordsSink.write") {
      RecordsSink.writeJson(records, s"$d/json")
      RecordsSink.writeCsv(records, s"$d/csv")
    }
  }

  private def expect(ok: Boolean, what: => String): Unit =
    if (!ok) ctx.tally.fail(what)

  def check(k: Int): Unit = {
    if (!alive) { ctx.rm(dir(k)); return }
    val d = dir(k)
    try {
      val records = spark.read.parquet(s"$d/records").drop("bucket").as[CaseRecord]
      val n = records.count()
      recordsOut = n

      // Records equal the kernel's output on a fixed doc sample, all fields.
      val sample = sampleDocs(nDocs, seed = ctx.seed)
      val want = sample.flatMap(ExtractAll.extractRecord).map(r => r.doc_id -> r).toMap
      val got = records.filter(col("doc_id").isin(sample.map(_.doc_id): _*)).collect()
        .map(r => r.doc_id -> r).toMap
      expect(got == want, s"pass $k: records differ from ExtractAll.extractRecord on " +
        s"${(want.keySet ++ got.keySet).count(id => want.get(id) != got.get(id))} sampled docs")

      // Lineage: 16 done buckets whose docs sum to the corpus size.
      val lineage = spark.read.parquet(s"$d/lineage").as[PartitionLineage]
        .filter(r => r.run_id == RunId && r.status == "done").collect()
      expect(lineage.map(_.partition_id).toSet == (0 until Buckets).toSet &&
        lineage.length == Buckets && lineage.map(_.docs).sum == nDocs,
        s"pass $k: lineage has ${lineage.length} done rows over " +
          s"${lineage.map(_.docs).sum} docs, want $Buckets over $nDocs")

      // The replay ran exactly the killed wave and left the record count alone.
      expect(replayed.map(_.partition_id).toSet == LastWave,
        s"pass $k: replay ran buckets ${replayed.map(_.partition_id).sorted}")
      expect(n == recordsBeforeReplay,
        s"pass $k: replay changed the record count $recordsBeforeReplay -> $n")

      // The report's total is the record count.
      val total = spark.read.json(s"$d/report/summary")
        .select("total_files_processed").as[Long].collect()
      expect(total.sameElements(Seq(n)), s"pass $k: report total ${total.mkString} != $n")

      // Out-spans keep every media_ref, in order, for every doc.
      val mediaRefs = (c: String) =>
        transform(filter(col(c), s => s.getField("kind") === "media"), s => s.getField("media_ref"))
      val spans = spark.read.parquet(s"$d/spans")
        .select(col("doc_id"), mediaRefs("spans").as("out_media"))
      val joined = docs.toDF().select(col("doc_id"), mediaRefs("spans").as("in_media"))
        .join(spans, Seq("doc_id"), "full_outer")
      val bad = joined.filter(not(col("in_media") <=> col("out_media"))).count()
      expect(bad == 0, s"pass $k: $bad docs lost or reordered media spans")

      // KG and sinks read back.
      kgNodes = spark.read.parquet(s"$d/kg/nodes").count()
      kgEdges = spark.read.parquet(s"$d/kg/edges").count()
      expect(kgNodes > 0 && kgEdges > 0, s"pass $k: empty KG ($kgNodes nodes, $kgEdges edges)")
      val jsonRows = spark.read.json(s"$d/json").count()
      val csvRows = spark.read.option("header", "true").option("multiLine", "true").csv(s"$d/csv").count()
      expect(jsonRows == n && csvRows == n, s"pass $k: sinks hold $jsonRows json / $csvRows csv rows, want $n")
    } catch { case e: Throwable => ctx.tally.fail(s"pass $k: check threw $e") }
    // KgJob.edges caches its entity view and never releases it.
    spark.catalog.clearCache()
    ctx.rm(d)
  }

  override def layerMetrics: Map[String, Double] = Map(
    "extract.docs_in" -> nDocs.toDouble,
    "extract.records_out" -> recordsOut.toDouble,
    "extract.useful_ratio" -> recordsOut.toDouble / nDocs,
    "ExtractJob.buckets_replayed" -> replayed.size.toDouble,
    "KgJob.nodes" -> kgNodes.toDouble,
    "KgJob.edges" -> kgEdges.toDouble) ++ kernelCosts()

  /** Per-field extraction cost, single-threaded on the driver over a fixed
    * corpus sample: microseconds per sampled doc, median of several rounds.
    * The fields follow `ExtractAll.extractInformation`'s calls. */
  private def kernelCosts(): Map[String, Double] = ctx.tracer.span("extract.kernels") {
    val sample = sampleDocs(nDocs, ctx.seed)
    val raws = sample.map(d => (d, ExtractAll.fullText(d)))
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    def time[A](f: => A): Long = { val t0 = System.nanoTime(); f; System.nanoTime() - t0 }
    for (_ <- 0 until KernelRounds) {
      val ns = scala.collection.mutable.LinkedHashMap(KernelFields.map(_ -> 0L): _*)
      def add(k: String, v: Long): Unit = ns(k) += v
      add("kernel", time(sample.foreach(ExtractAll.extractRecord)))
      raws.foreach { case (d, raw) =>
        var text = ""
        add("clean", time { text = Cleaners.cleanPdfIndexArtifacts(raw) })
        val fileName = d.doc_id + ".pdf"
        var lang = ""
        var chinese, corrigendum = false
        var docType = ""
        var firstPages = ""
        add("lang_route", time {
          lang = LangDoc.detectLanguage(text)
          chinese = lang == "chinese" && LangDoc.isChineseDocument(text)
          if (!chinese) {
            docType = LangDoc.detectDocumentType(fileName)
            corrigendum = LangDoc.isCorrigendum(text)
            firstPages = Py.sliceTo(text, 15000)
          }
        })
        if (chinese) add("chinese", time(ChineseDoc.process(text, d.doc_id, fileName)))
        else if (!corrigendum && text.nonEmpty) {
          add("case_number", time(CaseNumber.extract(firstPages, lang)))
          add("trial_court", time {
            TrialDate.extract(firstPages, lang); CourtName.extract(firstPages, lang)
          })
          add("parties", time {
            Parties.extractPlaintiff(firstPages, lang, docType)
            Parties.extractDefendant(firstPages, lang, docType)
          })
          add("judge", time(Judge.extract(firstPages, lang)))
          add("case_type", time(CaseType.extract(firstPages, lang, docType)))
          add("lawyers", time(Lawyers.extractLawyerSegment(text, lang)))
          add("judgment_result", time(JudgmentResult.extract(text, lang)))
          add("amounts", time {
            Amounts.extract(text, lang, "claim"); Amounts.extract(text, lang, "judgment")
          })
        }
      }
      ns.foreach { case (k, v) => acc(k) = acc.getOrElse(k, Seq.empty) :+ v / 1e3 / sample.size }
    }
    acc.map { case (k, v) =>
      (if (k == "kernel") "extract.kernel_us_per_doc" else s"extract.${k}_us_per_doc") -> Stats.median(v)
    }.toMap
  }
}

object ExtractWorkload {
  val RunId = "bench"
  val Buckets = 16
  val BucketsPerWave = 8
  /** `runResumable` runs buckets in waves of 8 in order; this is the last. */
  val LastWave: Set[Int] = (8 until 16).toSet
  /** Share (%) of English docs that carry a margin-index prefix. */
  val MarginSharePct = 25
  val SampleSize = 200
  val KernelRounds = 5
  val KernelFields = Seq("kernel", "clean", "lang_route", "case_number", "trial_court",
    "parties", "judge", "case_type", "lawyers", "judgment_result", "amounts", "chinese")

  /** `CorpusGen.genDoc`, with a margin index of 55-70 single-letter lines
    * put in front of a quarter of the English docs (the `margin_index_noise`
    * fixture archetype). That pushes the court header past line 50, so the
    * cleaner's keyword guard no longer returns early and the strip cuts. */
  def genDoc(i: Long, seed: Long): Doc = {
    val d = CorpusGen.genDoc(i, seed)
    // CorpusGen's first draw picks the kind: [70, 85) is Chinese.
    val kind = new java.util.Random(seed * 1000003L + i).nextInt(100)
    val r = new java.util.Random(seed * 7919L + i * 31L + 17L)
    if ((kind < 70 || kind >= 85) && r.nextInt(100) < MarginSharePct)
      withMarginIndex(d, 55 + r.nextInt(16))
    else d
  }

  def withMarginIndex(d: Doc, lines: Int): Doc = {
    val index = (0 until lines).map(j => ('A' + j % 26).toChar.toString).mkString("\n")
    val spans = (DocSpan("text", index, "", 0) +: d.spans).zipWithIndex
      .map { case (s, k) => s.copy(offset = k) }
    Doc(d.doc_id, spans)
  }

  /** A fixed, evenly spread sample of the corpus, regenerated on the driver. */
  def sampleDocs(nDocs: Int, seed: Long): Seq[Doc] =
    (0 until SampleSize).map(j => genDoc(j.toLong * nDocs / SampleSize, seed))
}
