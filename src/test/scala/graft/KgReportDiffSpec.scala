package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Doc, PartitionLineage, Span}
import graft.pipeline._

/** Differential spec for the single-scan knowledge graph, report and
  * lineage stats: each is compared as a multiset against the multi-job
  * form it replaced, kept below as the oracle (union of per-type branches
  * + `row_number` window, five report jobs, cached wave + `groupBy`). */
class KgReportDiffSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-kg-report-diff-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String = Files.createTempDirectory("graft-diff").toString

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.fieldNames.toSeq == want.schema.fieldNames.toSeq, s"$what columns")
    val (g, w) = (multiset(got), multiset(want))
    assert(g == w, s"$what differs: only new ${g.toSeq.diff(w.toSeq).take(5)}, " +
      s"only oracle ${w.toSeq.diff(g.toSeq).take(5)}")
  }

  /** The JSON lines of every part file under `dir`, as a multiset. */
  private def jsonLines(dir: String): Map[String, Int] = {
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    parts.flatMap((p: Path) => Files.readAllLines(p).asScala)
      .groupMapReduce(identity)(_ => 1)(_ + _)
  }

  private val reportOutputs = Seq("summary", "language_distribution",
    "court_distribution", "case_type_distribution", "field_completeness")

  /** KG nodes/edges, the five report outputs and the public distribution
    * functions all equal their oracles on `records`. */
  private def assertMatchesOracle(records: DataFrame, what: String): Unit = {
    assertSameRows(KgJob.nodes(records), Oracle.nodes(records), s"$what: nodes")
    assertSameRows(KgJob.edges(records), Oracle.edges(records), s"$what: edges")

    val (got, want) = (tmpDir(), tmpDir())
    ReportJob.writeReport(spark, records, got)
    Oracle.writeReport(records, want)
    reportOutputs.foreach { o =>
      assert(jsonLines(s"$got/$o") == jsonLines(s"$want/$o"), s"$what: report $o")
    }
    assertSameRows(ReportJob.languageDistribution(records),
      Oracle.languageDistribution(records), s"$what: languageDistribution")
    assertSameRows(ReportJob.courtDistribution(records),
      Oracle.courtDistribution(records), s"$what: courtDistribution")
    assertSameRows(ReportJob.caseTypeDistribution(records),
      Oracle.caseTypeDistribution(records), s"$what: caseTypeDistribution")
  }

  test("single-scan KG and report equal the multi-job oracles on the golden fixtures") {
    import spark.implicits._
    val docs = DocsSource.fixtureJson(spark, "src/test/resources/fixtures/docs/*/*.json")
    val records = docs.mapPartitions(_.flatMap(graft.extract.ExtractAll.extractRecord)).toDF()
    assert(records.count() > 50)
    assertMatchesOracle(records, "fixtures")
  }

  test("single-scan KG and report equal the multi-job oracles on a seeded corpus") {
    import spark.implicits._
    // Every third English doc gets a margin index in front (the
    // `margin_index_noise` archetype), so the cleaner's cut path runs.
    val docs = (0 until 320).map { i =>
      val d = CorpusGen.genDoc(i.toLong, seed = 7L)
      if (i % 3 == 0 && !d.spans.exists(_.text.contains("香港"))) withMarginIndex(d, 55 + i % 16)
      else d
    }
    val records = spark.createDataset(docs).repartition(4)
      .mapPartitions(_.flatMap(graft.extract.ExtractAll.extractRecord)).toDF().cache()
    assert(records.count() >= 300)
    assert(records.filter(col("language") === "chinese").count() > 20, "needs Chinese docs")
    assert(docs.count(_.spans.head.text.startsWith("A\nB\nC")) > 50, "needs margin-index docs")
    assertMatchesOracle(records, "corpus")
    records.unpersist()
  }

  test("single-scan KG and report equal the oracles on edge-case records") {
    import spark.implicits._
    // (case_number, file_name, court_name, judge, plaintiff, defendant, lawyer,
    //  case_type, judgment_result, language)
    val rows = Seq(
      // ties on (type, name): one case number in two files, shared parties,
      // judge and court; the lexicographically first file_name wins
      ("HCA 1/2020", "b.pdf", "HIGH COURT", "Chan", "P1 | P2", "D1",
        "Mr John Tse, instructed by Wong & Co, for the plaintiff",
        "Civil Action", "Win", "english"),
      ("HCA 1/2020", "a.pdf", "HIGH COURT", "Chan", "P1", "D1 | D2",
        "Ms Ann Ho of Lee & Partners, for the Defendant",
        "Setting Aside Application", "Lose", "english"),
      // blank and 'unknown' fields in several spellings
      ("", "", "", "unknown", "  ", "", "", "", "", null),
      ("UNKNOWN", "c.pdf", "unknown", " unknown ", "P3", "", null,
        "unknown", "unknown", "english"),
      ("Unknown", "c2.pdf", "  ", "Unknown", "P3", "", "",
        "Unknown", "Unknown", "english"),
      // U+212A KELVIN SIGN lower-cases to 'k': 'UN\u212ANOWN' is unknown
      // to clean_field but not to the report's exact 'unknown' filters
      ("UN\u212ANOWN", "d.pdf", "UN\u212ANOWN", "un\u212Anown", "P4", "D4",
        "Mr Kai Lam for the PLAINTIFF and the DEFENDANT",
        "UN\u212ANOWN ACTION", "Win", "english"),
      // U+0130 lower-cases to 'i' + U+0307, so 'PLA\u0130NTIFF' does not
      // mention the plaintiff role, nor 'APPL\u0130CATION' an application
      ("HCA 5/2021", "e.pdf", "DISTRICT COURT", "Lee", "P5", "D5",
        "Mr Tom Yu, instructed by Ng & Co, for the PLA\u0130NTIFF",
        "APPL\u0130CATION", "Appeal Dismissed", "english"),
      // final sigma: 'ΟΔΟΣ' lower-cases to 'οδος' with a final 'ς'
      ("ΟΔΟΣ 7", "f.pdf", "ΔΙΚΑΣΤΗΡΙΟ ΟΔΟΣ", "ΟΔΟΣ", "ΟΔΟΣ ΛΤΔ", "ΣΟΦΟΣ",
        "Mr Sam Wu for the ΟΔΟΣ plaintiff", "ΑΙΤΗΣΗ ΟΔΟΣ", "Win", "chinese"),
      // empty party lists, a court name past 50 chars, Chinese names
      ("民事訴訟 2020 年第 9 號", "g.pdf", "高等法院原訟法庭" * 8, "陳嘉信", "", "",
        "", "民事訴訟", "", "chinese"),
      ("HCA 8/2022", "h.pdf", "X" * 51, "", "1st WONG (Plaintiff)", "",
        "Miss Amy Lau", "Miscellaneous Proceedings", "Plaintiff Withdrawn", "english")
    ).toDF("case_number", "file_name", "court_name", "judge", "plaintiff", "defendant",
      "lawyer", "case_type", "judgment_result", "language")
    val records = rows
      .withColumn("trial_date", lit("2020-01-01"))
      .withColumn("claim_amount", when(col("file_name") === "a.pdf", "HK$1,000"))
      .withColumn("judgment_amount", lit(""))
      .withColumn("document_type", lit("judgment"))
    assertMatchesOracle(records, "edge cases")
    assertMatchesOracle(records.limit(0), "no records")

    // the tie really is decided by file_name
    val caseProps = KgJob.nodes(records)
      .filter(col("type") === "Case" && col("name") === "HCA 1/2020")
      .select(element_at(col("props"), "file_name")).as[String].collect()
    assert(caseProps.toSeq == Seq("a.pdf"))
  }

  test("lineage stats observed on the records write equal the cached-wave groupBy") {
    import spark.implicits._
    val docs = spark.createDataset(
      (0 until 40).map(i => CorpusGen.genDoc(i.toLong, seed = 3L)) :+
        Doc("empty-spans", Seq.empty[Span])).repartition(3)
    val out = tmpDir()
    // 16 buckets over 41 docs leaves some empty; waves of 5 end on a short wave
    val lineage = ExtractJob.runResumable(spark, docs, out, "r", numBuckets = 16, bucketsPerWave = 5)
    val got = lineage.map(l => l.copy(started_at = 0L, finished_at = 0L))
    val want = Oracle.lineage(docs.toDF(), "r", 16)
    assert(got.sortBy(_.partition_id) == want.sortBy(_.partition_id))
    assert(got.exists(_.docs == 0), "expected an empty bucket")
    val stored = spark.read.parquet(s"$out/lineage").as[PartitionLineage].collect()
      .map(_.copy(started_at = 0L, finished_at = 0L))
    assert(stored.sortBy(_.partition_id).toSeq == want.sortBy(_.partition_id))
  }

  private def withMarginIndex(d: Doc, lines: Int): Doc = {
    val index = (0 until lines).map(j => ('A' + j % 26).toChar.toString).mkString("\n")
    val spans = (Span("text", index, "", 0) +: d.spans).zipWithIndex
      .map { case (s, k) => s.copy(offset = k) }
    Doc(d.doc_id, spans)
  }
}

/** The multi-job forms the single-scan code replaced, kept verbatim in
  * behaviour (Spark `lower` included) as differential oracles. */
private object Oracle {

  private val parsePartiesUdf = udf(KgJob.parseMultipleParties _)
  private val parseLawyersUdf = udf((s: String) => KgJob.parseLawyerSegment(s)._1)
  private val parseFirmsUdf = udf((s: String) => KgJob.parseLawyerSegment(s)._2)

  private def cleanField(c: Column): Column = {
    val raw = coalesce(c.cast("string"), lit(""))
    when(trim(raw) === "" || lower(raw) === "unknown", lit("")).otherwise(trim(raw))
  }

  private def fieldOr(records: DataFrame, name: String): Column =
    if (records.columns.contains(name)) col(name) else lit("")

  private def caseKey(records: DataFrame): Column = {
    val fields = Seq("case_number", "file_name", "court_name", "judge",
      "plaintiff", "defendant", "lawyer", "trial_date", "case_type",
      "judgment_result", "claim_amount", "judgment_amount", "language",
      "document_type")
    val stable = concat(lit("case_"),
      substring(md5(concat_ws("\u0001", fields.map(f => cleanField(fieldOr(records, f))): _*)), 1, 11))
    val cn = cleanField(fieldOr(records, "case_number"))
    val fn = cleanField(fieldOr(records, "file_name"))
    when(cn =!= "", cn).when(fn =!= "", fn).otherwise(stable)
  }

  private val caseTypesCn = Map(
    "Trust Dispute" -> "信托纠纷", "Commercial Dispute" -> "商业纠纷",
    "Debt Recovery" -> "债务追讨", "Contract Dispute" -> "合同纠纷",
    "Civil Action" -> "民事诉讼", "Appeal" -> "上诉",
    "Mareva Injunction Discharge Application" -> "马瑞华禁制令撤销申请",
    "Setting Aside Application" -> "撤销申请",
    "Amendment Application" -> "修正申请",
    "Miscellaneous Proceedings" -> "杂项法律程序")
  private val judgmentResultsCn = Map(
    "Win" -> "胜诉", "Lose" -> "败诉", "Appeal Dismissed" -> "上诉被驳回",
    "Plaintiff Withdrawn" -> "原告撤诉", "unknown" -> "未知")

  private def cnLookup(m: Map[String, String], c: Column): Column =
    coalesce(element_at(typedlit(m), coalesce(c.cast("string"), lit(""))), lit(""))

  private def caseProps(records: DataFrame): Column = {
    def f(n: String): Column = cleanField(fieldOr(records, n))
    map(
      lit("case_number"), caseKey(records),
      lit("file_name"), when(f("file_name") =!= "", f("file_name")).otherwise(caseKey(records)),
      lit("trial_date"), f("trial_date"),
      lit("case_type"), f("case_type"),
      lit("case_type_cn"), cnLookup(caseTypesCn, fieldOr(records, "case_type")),
      lit("judgment_result"), f("judgment_result"),
      lit("judgment_result_cn"), cnLookup(judgmentResultsCn, fieldOr(records, "judgment_result")),
      lit("claim_amount"), f("claim_amount"),
      lit("judgment_amount"), f("judgment_amount"),
      lit("language"), f("language"),
      lit("document_type"), f("document_type"),
      lit("court_name"), f("court_name"),
      lit("judge"), f("judge"),
      lit("plaintiff"), f("plaintiff"),
      lit("defendant"), f("defendant"))
  }

  private def entityView(records: DataFrame): DataFrame =
    records.select(
      caseKey(records).as("case_key"),
      cleanField(fieldOr(records, "file_name")).as("file_name"),
      cleanField(col("court_name")).as("court_name"),
      cleanField(col("judge")).as("judge"),
      parsePartiesUdf(col("plaintiff")).as("plaintiffs"),
      parsePartiesUdf(col("defendant")).as("defendants"),
      parseLawyersUdf(col("lawyer")).as("lawyers"),
      parseFirmsUdf(col("lawyer")).as("firms"),
      lower(coalesce(col("lawyer"), lit(""))).as("lawyer_segment_lc"),
      caseProps(records).as("case_props"))

  def nodes(records: DataFrame): DataFrame = {
    val ev = entityView(records)
    val cases = ev.select(lit("Case").as("type"), col("case_key").as("name"),
      col("case_props").as("props"), col("file_name"))
    def roleProps(role: String): Column =
      map(lit("name"), col("name"), lit("role"), lit(role))
    def typeProps(t: String): Column =
      map(lit("name"), col("name"), lit("type"), lit(t))
    val courts = ev.filter(col("court_name") =!= "")
      .select(lit("Court").as("type"), col("court_name").as("name"), col("file_name"))
      .withColumn("props", typeProps("court"))
    val judges = ev.filter(col("judge") =!= "")
      .select(lit("Judge").as("type"), col("judge").as("name"), col("file_name"))
      .withColumn("props", roleProps("judge"))
    def listed(listCol: String, t: String, props: Column): DataFrame =
      ev.select(explode(col(listCol)).as("name"), col("file_name"))
        .select(lit(t).as("type"), col("name"), col("file_name"))
        .withColumn("props", props)
    val all = Seq(cases, courts, judges,
      listed("plaintiffs", "Plaintiff", roleProps("plaintiff")),
      listed("defendants", "Defendant", roleProps("defendant")),
      listed("lawyers", "Lawyer", roleProps("lawyer")),
      listed("firms", "LawFirm", typeProps("law_firm")))
      .map(_.select("type", "name", "props", "file_name"))
      .reduce(_ unionByName _)
    val w = Window.partitionBy(col("type"), col("name")).orderBy(col("file_name"))
    all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("type"), col("name"), col("props"))
  }

  def edges(records: DataFrame): DataFrame = {
    val ev = entityView(records)
    def edge(srcType: String, src: String, rel: String, dstType: String, dst: String): Seq[Column] =
      Seq(lit(srcType).as("src_type"), col(src).as("src_name"), lit(rel).as("rel_type"),
        lit(dstType).as("dst_type"), col(dst).as("dst_name"))
    val heardIn = ev.filter(col("court_name") =!= "")
      .select(edge("Case", "case_key", "HEARD_IN", "Court", "court_name"): _*)
    val judgedBy = ev.filter(col("judge") =!= "")
      .select(edge("Case", "case_key", "JUDGED_BY", "Judge", "judge"): _*)
    val invP = ev.select(col("case_key"), explode(col("plaintiffs")).as("p"))
      .select(edge("Case", "case_key", "INVOLVES_PLAINTIFF", "Plaintiff", "p"): _*)
    val invD = ev.select(col("case_key"), explode(col("defendants")).as("d"))
      .select(edge("Case", "case_key", "INVOLVES_DEFENDANT", "Defendant", "d"): _*)
    val sues = ev.select(explode(col("plaintiffs")).as("p"), col("defendants"))
      .select(col("p"), explode(col("defendants")).as("d"))
      .select(edge("Plaintiff", "p", "SUES", "Defendant", "d"): _*)
    def representedBy(roleWord: String, partiesCol: String, dstType: String): DataFrame =
      ev.filter(col("lawyer_segment_lc").contains(roleWord))
        .select(explode(col("lawyers")).as("l"), col(partiesCol))
        .select(col("l"), explode(col(partiesCol)).as("p"))
        .select(edge("Lawyer", "l", "REPRESENTED_BY", dstType, "p"): _*)
    val worksFor = ev.select(explode(col("lawyers")).as("l"), col("firms"))
      .select(col("l"), explode(col("firms")).as("f"))
      .select(edge("Lawyer", "l", "WORKS_FOR", "LawFirm", "f"): _*)
    Seq(heardIn, judgedBy, invP, invD, sues,
      representedBy("plaintiff", "plaintiffs", "Plaintiff"),
      representedBy("defendant", "defendants", "Defendant"), worksFor)
      .reduce(_ unionByName _)
  }

  def languageDistribution(records: DataFrame): DataFrame =
    records.groupBy(coalesce(col("language"), lit("unknown")).as("language"))
      .agg(count(lit(1)).as("count"))

  def courtDistribution(records: DataFrame): DataFrame =
    records
      .filter(col("court_name").isNotNull && col("court_name") =!= "" &&
        col("court_name") =!= "unknown")
      .groupBy(
        when(length(col("court_name")) > 50,
          concat(substring(col("court_name"), 1, 50), lit("...")))
          .otherwise(col("court_name")).as("court"))
      .agg(count(lit(1)).as("count"))

  def caseTypeDistribution(records: DataFrame): DataFrame =
    records
      .filter(col("case_type").isNotNull && col("case_type") =!= "" &&
        col("case_type") =!= "unknown")
      .groupBy(
        when(lower(col("case_type")).contains("application"), "Application")
          .when(lower(col("case_type")).contains("action"), "Action")
          .otherwise("Other").as("bucket"))
      .agg(count(lit(1)).as("count"))

  def fieldCompleteness(records: DataFrame, fields: Seq[String]): DataFrame = {
    val aggs = fields.map { f =>
      sum(when(trim(coalesce(col(f), lit(""))) =!= "", 1).otherwise(0)).cast("long").as(f)
    }
    val wide = records.agg(count(lit(1)).as("total"), aggs: _*)
    val stackArgs = fields.map(f => s"'$f', `$f`").mkString(", ")
    wide
      .selectExpr("total", s"stack(${fields.size}, $stackArgs) AS (field, complete)")
      .select(
        col("field"), col("complete"),
        (col("total") - col("complete")).as("missing"),
        when(col("total") > 0,
          col("complete").cast("double") / col("total") * 100.0)
          .otherwise(0.0).as("percentage"))
  }

  def writeReport(records: DataFrame, outPath: String): Unit = {
    records.agg(count(lit(1)).as("total_files_processed"), lit(100.0).as("success_rate"))
      .write.mode("overwrite").json(s"$outPath/summary")
    languageDistribution(records).write.mode("overwrite").json(s"$outPath/language_distribution")
    courtDistribution(records).write.mode("overwrite").json(s"$outPath/court_distribution")
    caseTypeDistribution(records).write.mode("overwrite").json(s"$outPath/case_type_distribution")
    fieldCompleteness(records, ReportJob.reportFields)
      .write.mode("overwrite").json(s"$outPath/field_completeness")
  }

  /** Lineage rows (timestamps zeroed) as the cached-wave `groupBy` computed
    * them: one row per bucket, empty buckets as 0 / "". */
  def lineage(docs: DataFrame, runId: String, numBuckets: Int): Seq[PartitionLineage] = {
    val stats = docs
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(numBuckets)).cast("int"))
      .groupBy(col("bucket")).agg(
        count(lit(1)).as("docs"),
        sum(size(col("spans"))).as("spans"),
        sum(aggregate(col("spans"), lit(0L), (acc, s) => acc + length(s.getField("text")))).as("bytes"),
        min(col("doc_id")).as("doc_id_min"),
        max(col("doc_id")).as("doc_id_max")
      ).collect()
    (0 until numBuckets).map { b =>
      val st = stats.find(_.getInt(0) == b)
      PartitionLineage(
        run_id = runId, partition_id = b,
        doc_id_min = st.map(_.getString(4)).getOrElse(""),
        doc_id_max = st.map(_.getString(5)).getOrElse(""),
        docs = st.map(_.getLong(1)).getOrElse(0L),
        spans = st.map(_.getLong(2)).getOrElse(0L),
        bytes = st.map(_.getLong(3)).getOrElse(0L),
        status = "done", started_at = 0L, finished_at = 0L)
    }
  }
}
