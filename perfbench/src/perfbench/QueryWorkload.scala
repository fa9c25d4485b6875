package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

import graft.SparkEntry
import graft.pipeline.DedupJobs

/** Row count plus an order-insensitive hash of a query's result rows. */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  override def toString: String = s"$rows:$sum:$xor"
}

object Digest {
  /** Each row is written out in a canonical text form and hashed to 64 bits;
    * the hashes are summed (low 32 bits each) and xor-ed. */
  def of(schema: StructType, rows: Array[InternalRow]): Digest = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    var sum, xor = 0L
    rows.foreach { r =>
      val b = canon(toRow(r)).getBytes(UTF_8)
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      sum += h & 0xFFFFFFFFL
      xor ^= h
    }
    Digest(rows.length.toLong, sum, xor)
  }

  /** Floats to ten significant digits (so a last-bit difference in a
    * reduction order does not count as a different answer), maps sorted by
    * entry, dates and times independent of the JVM's time zone. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => String.format(Locale.ROOT, "%.9e", Double.box(d))
    case f: Float => String.format(Locale.ROOT, "%.9e", Double.box(f.toDouble))
    case s: String => Json.str(s)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp => s"${t.getTime}+${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case x => x.toString
  }
}

/** Declared `SparkEntry.queries` over fixed parquet tables, one query at a
  * time. Each call is timed up to its complete result, collected on the
  * driver as the engine's rows; after the pass each result's digest is
  * compared against a pinned value. */
final class QueryWorkload(ctx: Ctx, names: Seq[String], pins: Map[String, String])
    extends Workload {

  private val spark = ctx.spark
  /** The seed only sets the order of the queries within a pass. */
  private val order = new scala.util.Random(ctx.seed).shuffle(names)
  private var documents = 0L
  private val results = scala.collection.mutable.Map.empty[String, (StructType, Array[InternalRow])]
  private val last = scala.collection.mutable.LinkedHashMap.empty[String, String]

  override def digests: Seq[(String, String)] = names.flatMap(q => last.get(q).map(q -> _))

  def docsPerPass: Long = documents

  def setup(): Unit =
    documents = spark.read.parquet(s"${ctx.data}/documents.parquet").count()

  def pass(k: Int): Unit = {
    results.clear()
    order.foreach { q =>
      ctx.tally.attempted += 1
      try results(q) = ctx.tracer.span(s"SparkEntry.$q")(collect(SparkEntry.queries(q)(spark, ctx.data)))
      catch { case e: Throwable => ctx.tally.fail(s"pass $k: $q threw $e") }
      // Intermediates the dedup jobs persisted belong to this query alone.
      ctx.tracer.span("cache.release") {
        DedupJobs.releaseCached()
        spark.catalog.clearCache()
      }
    }
  }

  /** Runs the query as `Dataset.collect` does, but keeps the engine's rows:
    * their conversion to `Row`, compiled per schema, is left to the check. */
  private def collect(df: DataFrame): (StructType, Array[InternalRow]) = {
    val qe = df.queryExecution
    (df.schema, SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect()))
  }

  def check(k: Int): Unit = {
    last.clear()
    order.filter(results.contains).foreach { q =>
      val (schema, rows) = results(q)
      val got = Digest.of(schema, rows).toString
      last(q) = got
      pins.get(q).filter(_ != got).foreach { want =>
        ctx.tally.fail(s"pass $k: $q digest $got, pinned $want")
      }
    }
  }
}

object QueryWorkload {
  /** Banded-LSH, verify, materialisation and tokenize/signature kernels. */
  val NearDup: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_minhash_verified", "q_dedup_components",
    "q_dedup_incremental", "q_dedup_ngram", "q_dedup_ngram_capped",
    "q_dedup_simhash", "q_dedup_exact", "q_dedup_substr", "q_line_dedup",
    "q_training_pipeline_neardup", "q_decontaminate", "q_decontaminate_audit")

  /** One query from each of five other families of the board (relational,
    * ANN, quality, web/URL, charset/office): a flat check that a change aimed
    * at the near-dup family, or at shared session code, does not cost the
    * rest of the board. */
  val BoardSample: Seq[String] = Seq(
    "q_revenue_by_segment", "q_ann_lsh_topk", "q_quality_gopher",
    "q_url_canonicalize", "q_charset_sniff")
}
