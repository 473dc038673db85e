package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.HashFunctions.{minhashSignature, rpSignBands, simhash64, winnowFingerprints}
import graft.functions.SpaceSavingAgg.spaceSavingTopK
import graft.functions.TextFunctions.{lcsLen, shingles, tokens}
import graft.functions.TopKByAgg.topKBy
import graft.functions.VectorFunctions.cosineSim
import graft.sources.{LogLines, ServiceLogs}

/** Timed calls of graft's Catalyst kernels and parsers over the run's
  * generated documents, embeddings and log lines. Each probe runs its
  * frame through the noop sink three times; the rate is input rows over
  * the median time.
  */
object Probes {
  /** Copies of every input row: enough work that a probe's time is the
    * kernel's, not Spark's per-job overhead.
    */
  val Copies = 20

  private def rate(spans: Spans, name: String, layer: String, input: DataFrame,
                   probe: DataFrame => DataFrame): Double = {
    val rows = input.count()
    val times = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      spans.span(name, layer, name, i)(Main.noop(probe(input)))
      (System.nanoTime() - t0) / 1e9
    }
    rows / times.sorted.apply(1)
  }

  def run(spark: SparkSession, data: String, seed: Long, spans: Spans): Map[String, Double] = {
    import spark.implicits._
    val copies = spark.range(Copies).toDF("copy")
    val docs = Tables.documents(spark, data).select("doc_id", "text").crossJoin(copies).cache()
    val vecs = Tables.embeddings(spark, data).crossJoin(copies).cache()
    val docPairs = docs.select(col("doc_id"), col("copy"), col("text").as("a_text"))
      .join(docs.select((col("doc_id") - 1).as("doc_id"), col("copy"), col("text").as("b_text")),
        Seq("doc_id", "copy")).cache()
    val vecPairs = vecs.select(col("vec_id"), col("copy"), col("embedding").as("a"))
      .join(vecs.select((col("vec_id") - 1).as("vec_id"), col("copy"), col("embedding").as("b")),
        Seq("vec_id", "copy")).cache()
    val in = new Inputs(seed)
    val lines = (0L until 20000L).map(in.line).toDF("value").cache()
    val logLines = lines.select(concat(lit("2024-01-01T00:00:00Z INFO alt-backend "), col("value"))
      .as("value")).cache()

    val kernels = Seq[(String, DataFrame, DataFrame => DataFrame)](
      ("minhashSignature", docs, _.select(minhashSignature(shingles(col("text"), 3)))),
      ("simhash64", docs, _.select(simhash64(tokens(col("text"))))),
      ("winnowFingerprints", docs, _.select(winnowFingerprints(tokens(col("text"))))),
      ("shingles", docs, _.select(shingles(col("text"), 3))),
      ("lcsLen", docPairs, _.select(lcsLen(tokens(col("a_text")), tokens(col("b_text"))))),
      ("cosineSim", vecPairs, _.select(cosineSim(col("a"), col("b")))),
      ("rpSignBands", vecs, _.select(rpSignBands(col("embedding")))),
      ("topKBy", vecs, _.groupBy("label").agg(
        topKBy(col("embedding").getItem(0).cast("double"), col("vec_id"), 10))),
      ("spaceSavingTopK", docs, _.select(explode(tokens(col("text"))).as("w"))
        .agg(spaceSavingTopK(col("w"), 10, 64))))
    val out = kernels.map { case (name, input, probe) =>
      s"functions.${name}_rows_per_s" -> rate(spans, name, "functions", input, probe)
    } ++ Seq(
      "sources.service_logs_parse_rows_per_s" ->
        rate(spans, "ServiceLogs.parse", "sources", lines, ServiceLogs.parse),
      "sources.log_lines_parse_rows_per_s" ->
        rate(spans, "LogLines.parse", "sources", logLines, LogLines.parse))
    spark.catalog.clearCache()
    out.toMap
  }
}
