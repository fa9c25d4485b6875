package graft.pipeline

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A1–A4 — the summary report as DataFrame aggregations
  * (`/root/reference/src/processor.py:181-259`), replacing the reference's
  * driver-side dict loops. Each distribution's key and filter rule is
  * defined once below; the public per-table functions group by it, and
  * [[writeReport]] computes all of them in one aggregation. */
object ReportJob {

  /** A1 key: the language, null → "unknown". */
  private def languageKey: Column = coalesce(col("language"), lit("unknown"))

  /** A2 key: the court name, truncated to 50 chars + "..."
    * (`src/processor.py:207-211`); null for blank/unknown courts, which
    * the distribution excludes. */
  private def courtKey: Column = {
    val c = col("court_name")
    when(c.isNotNull && c =!= "" && c =!= "unknown",
      when(length(c) > 50, concat(substring(c, 1, 50), lit("..."))).otherwise(c))
  }

  // The case fold runs on the JVM string with Locale.ROOT: the same answers
  // as Spark's `lower`, without starting ICU case mapping on the first
  // non-ASCII value.
  private val caseTypeBucketUdf = udf { (s: String) =>
    val lc = s.toLowerCase(Locale.ROOT)
    if (lc.contains("application")) "Application"
    else if (lc.contains("action")) "Action"
    else "Other"
  }

  /** A3 key: the 3-bucket case-type classification
    * (`src/processor.py:213-221`); null for blank/unknown case types, which
    * the distribution excludes. */
  private def caseTypeKey: Column = {
    val c = col("case_type")
    when(c.isNotNull && c =!= "" && c =!= "unknown", caseTypeBucketUdf(c))
  }

  /** A4 count: rows whose field is non-blank after trimming. */
  private def completeCount(field: String): Column =
    sum(when(trim(coalesce(col(field), lit(""))) =!= "", 1).otherwise(0)).cast("long")

  private def distribution(records: DataFrame, key: Column, name: String): DataFrame =
    records.filter(key.isNotNull).groupBy(key.as(name)).agg(count(lit(1)).as("count"))

  /** A1 — language distribution. */
  def languageDistribution(records: DataFrame): DataFrame =
    distribution(records, languageKey, "language")

  /** A2 — court distribution. */
  def courtDistribution(records: DataFrame): DataFrame =
    distribution(records, courtKey, "court")

  /** A3 — case-type bucket distribution. */
  def caseTypeDistribution(records: DataFrame): DataFrame =
    distribution(records, caseTypeKey, "bucket")

  /** A4 — per-field completeness in ONE pass over the table
    * (`src/processor.py:229-240`): per field, the reference report's
    * `complete` / `missing` / `percentage` triple. Still a single wide agg
    * (partial aggregation map-side for free); the one result row is then
    * unpivoted driver-side-free with `stack`. */
  def fieldCompleteness(records: DataFrame, fields: Seq[String]): DataFrame = {
    val wide = records.agg(count(lit(1)).as("total"), fields.map(f => completeCount(f).as(f)): _*)
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

  val reportFields: Seq[String] = Seq(
    "case_number", "trial_date", "court_name", "plaintiff", "defendant",
    "judge", "case_type", "lawyer", "judgment_result", "claim_amount",
    "judgment_amount", "language", "document_type")

  /** Top-level summary row (`src/processor.py:242-249` minus the
    * timestamp): total_files_processed and the reference's constant
    * success_rate (only successfully-extracted records ever reach the
    * report, so the reference hard-codes 100.0). */
  def summary(records: DataFrame): DataFrame =
    records.agg(
      count(lit(1)).as("total_files_processed"),
      lit(100.0).as("success_rate"))

  /** The full report (shape of the reference's summary_report_*.json minus
    * timestamps), written as five JSON directories under `outPath`:
    * `summary`, `language_distribution`, `court_distribution`,
    * `case_type_distribution` and `field_completeness`, each holding the
    * rows of the function of the same name above.
    *
    * One scan: a single aggregation with grouping sets (language), (court),
    * (case-type bucket) and () — the last carries the total and the
    * completeness counts — is collected to the driver (one row per
    * distinct key plus one) and the five outputs are written from it. */
  def writeReport(spark: SparkSession, records: DataFrame, outPath: String): Unit = {
    import spark.implicits._
    // Key columns are prefixed so they cannot clash with the record fields.
    val keys = Seq("k_language" -> languageKey, "k_court" -> courtKey, "k_bucket" -> caseTypeKey)
    val rows = records
      .select(keys.map { case (k, c) => c.as(k) } ++ reportFields.map(col): _*)
      .groupingSets(keys.map { case (k, _) => Seq(col(k)) } :+ Seq.empty,
        keys.map { case (k, _) => col(k) }: _*)
      .agg(grouping_id().as("gid"),
        (count(lit(1)).as("count") +: reportFields.map(f => completeCount(f).as(f))): _*)
      .collect()

    // grouping_id sets the bit of every key NOT grouped, the first key
    // being the most significant: 0b011 = language alone, 0b111 = ().
    def keyed(gid: Long, key: String): Seq[(String, Long)] =
      rows.toSeq.collect {
        case r if r.getAs[Long]("gid") == gid && !r.isNullAt(r.fieldIndex(key)) =>
          (r.getAs[String](key), r.getAs[Long]("count"))
      }
    val totals = rows.find(_.getAs[Long]("gid") == 7L)
    val total = totals.fold(0L)(_.getAs[Long]("count"))
    val completeness = reportFields.map { f =>
      // null exactly when the table is empty, like the sum it comes from
      val complete = totals.flatMap(r => Option(r.getAs[java.lang.Long](f))).map(_.longValue)
      (f, complete, complete.map(total - _), complete.fold(0.0)(_.toDouble / total * 100.0))
    }

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").json(s"$outPath/$name")
    write(Seq((total, 100.0)).toDF("total_files_processed", "success_rate"), "summary")
    write(keyed(3L, "k_language").toDF("language", "count"), "language_distribution")
    write(keyed(5L, "k_court").toDF("court", "count"), "court_distribution")
    write(keyed(6L, "k_bucket").toDF("bucket", "count"), "case_type_distribution")
    write(completeness.toDF("field", "complete", "missing", "percentage"), "field_completeness")
  }
}
