package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

object Docs {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The corpus in the layout of the testdata `documents` table. */
  def frame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    val rows = docs.map(d => Row(d.id, d.text, "en", d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}

/** One pass over five near-duplicate operators of `graft.ext` on a fixed
  * synthetic corpus, read from parquet the way `SparkEntry.queries` read
  * the testdata. The timed action pushes every output column of every
  * query through an order-independent digest; `run.py` compares each
  * digest with the one recorded in `digests.json`.
  */
final class CorpusDedup(a: Harness.Args) extends Harness.Workload {
  def unitKind = "pass"
  def setupUsesSpark = true

  val nDocs = 600
  val dataDir = new File(a.work, "data")
  /** query → span name */
  val queries: Seq[(String, String)] = Seq(
    "q31_dedup_minhash_lsh" -> "ext.minhash_lsh",
    "q32_dedup_simhash" -> "ext.simhash",
    "q33_dedup_ngram_jaccard" -> "ext.ngram_jaccard",
    "q206_setsim_join" -> "ext.setsim_join",
    "q224_simhash_wide" -> "ext.simhash_wide")
  private lazy val fns = queries.map { case (q, _) => q -> SparkEntry.queries(q) }.toMap
  private lazy val docs = Gen.corpus(nDocs)
  /** digests of every pass, by query */
  private val digests = mutable.ArrayBuffer.empty[Map[String, String]]
  private val rowsPerQuery = mutable.Map.empty[String, Long]

  def setup(spark: => SparkSession): Unit =
    Docs.frame(spark, Gen.shuffled(docs, a.seed)).write.mode("overwrite")
      .parquet(new File(dataDir, "documents.parquet").getPath)

  /** (rows, sum of low and high 32-bit halves of each row's xxhash64):
    * independent of row order and of partitioning. */
  private def digestFrame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    df.select(h.as("h")).agg(count(lit(1)),
      sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(col("h"), 32)))
  }

  private def pass(spark: SparkSession, rec: Recorder): Unit = {
    val d = mutable.LinkedHashMap.empty[String, String]
    rec.unit(unitKind) {
      queries.foreach { case (q, spanName) =>
        rec.span(spanName) {
          val dig = digestFrame(fns(q)(spark, dataDir.getPath))
          rec.span("catalyst.plan")(dig.queryExecution.executedPlan)
          val r = rec.span("exec")(dig.collect().head)
          d(q) = s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
          rowsPerQuery(q) = r.getLong(0)
        }
      }
    }
    digests += d.toMap
  }

  def first(spark: SparkSession, rec: Recorder): Unit = pass(spark, rec)
  def next(spark: SparkSession, rec: Recorder): Unit = pass(spark, rec)

  def check(spark: SparkSession, rec: Recorder, problems: mutable.Buffer[String],
            out: mutable.Map[String, Any]): Unit = {
    val distinct = digests.distinct
    if (distinct.size > 1) problems += s"digests differ between passes: $distinct"
    out("oracle") = Map("kind" -> "digests", "n_docs" -> nDocs,
      "digests" -> digests.headOption.getOrElse(Map.empty))
  }

  override def traceMetrics(rec: Recorder, m: mutable.Map[String, Any]): Unit =
    queries.foreach { case (q, spanName) =>
      m(spanName + "_rows") = rowsPerQuery.getOrElse(q, 0L).toDouble
    }
}
