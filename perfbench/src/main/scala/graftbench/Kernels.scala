package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashAgg, TermFunctions, TextFunctions, VectorFunctions}
import graft.sources.Tables

/** Native-kernel cost on fixed inputs, independent of any query: the
  * executor CPU of evaluating a kernel over cached rows, minus that of a
  * pass-through reading the same column, per row (per pair for Jaccard).
  * Each CPU figure is the best of three. */
object Kernels {
  private val copies = 20 // the documents table, repeated for volume

  def run(spark: SparkSession, in: String): Map[String, Double] = {
    val docs = Tables.documents(spark, in).select("doc_id", "text")
    val rows = spark.range(copies).crossJoin(docs)
      .select((col("id") * 1000000L + col("doc_id")).as("rid"), col("text"))
      .withColumn("tokens", split(col("text"), " "))
      // decomposed accents, so NFC has composing to do
      .withColumn("nfd", concat(col("text"), lit(" Cafe\u0301 nai\u0308ve A\u030a")))
      .withColumn("html", concat(lit("<html><body><h1>t</h1><p>"), col("text"),
        lit("</p><ul><li>"), col("text"), lit("</li></ul></body></html>")))
      .withColumn("a", array_sort(array_distinct(TermFunctions.ngramHashes(col("tokens"), 3))))
      .withColumn("b", array_sort(array_distinct(TermFunctions.ngramHashes(
        slice(col("tokens"), 2, 100000), 3))))
      .cache()
    val n = rows.count().toDouble
    val tokens = rows.select(col("rid"), explode(col("tokens")).as("tok")).cache()
    tokens.count()

    def cpuNs(df: => DataFrame): Double = (1 to 3).map { _ =>
      val st = Meters.startPass()
      df.write.mode("overwrite").format("noop").save()
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      st.cpuNs.toDouble
    }.min
    // each kernel against a pass-through that reads the same input column
    def project(kernel: Column, base: Column) =
      ((cpuNs(rows.select(kernel.as("k"))) - cpuNs(rows.select(base.as("k")))) / n).max(0.0)
    val aggBase = cpuNs(tokens.groupBy("rid").agg(count(col("tok"))))
    def aggregate(kernel: Column) =
      ((cpuNs(tokens.groupBy("rid").agg(kernel.as("k"))) - aggBase) / n).max(0.0)
    val out = Map(
      "functions.ngram_counts_ns_row" ->
        project(TermFunctions.ngramCounts(col("tokens"), 3), size(col("tokens"))),
      "functions.ngram_hashes_ns_row" ->
        project(TermFunctions.ngramHashes(col("tokens"), 3), size(col("tokens"))),
      "functions.minhash_ns_row" -> aggregate(MinHashAgg.minhash(col("tok"), 64)),
      "functions.simhash_ns_row" -> aggregate(MinHashAgg.simhash(col("tok"))),
      "functions.html_blocks_ns_row" ->
        project(TextFunctions.htmlBlocks(col("html")), length(col("html"))),
      "functions.nfc_ns_row" -> project(TextFunctions.nfc(col("nfd")), length(col("nfd"))),
      "functions.jaccard_sorted_ns_pair" ->
        project(VectorFunctions.jaccardSortedLongs(col("a"), col("b")),
          size(col("a")) + size(col("b"))))
    tokens.unpersist(); rows.unpersist()
    out
  }
}
