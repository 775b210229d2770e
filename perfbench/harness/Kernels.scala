package graftbench

import scala.collection.mutable

/** Each `GraftExtensions` SQL function timed alone over cached columns
  * of the workload's `documents` and `embeddings`, repeated `Copies`
  * times so an sf0.1 input gives sf1 volumes. The result is hashed and
  * summed so every output element is computed; the median of three
  * runs is kept. */
object Kernels {
  private val Reps = 3
  private val Copies = 10

  /** function name -> (input view, expression, per-row input bytes expression) */
  private val Cases: Seq[(String, String, String, String)] = Seq(
    ("graft_gram_hashes", "k_docs", "graft_gram_hashes(text, 3)", "length(text)"),
    ("graft_gram_strings", "k_docs", "graft_gram_strings(text, 3)", "length(text)"),
    ("graft_minhash_sig", "k_docs", "graft_minhash_sig(text, 3, 64)", "length(text)"),
    ("graft_rolling_hashes", "k_docs", "graft_rolling_hashes(text, 16)", "length(text)"),
    ("graft_count_in_set", "k_docs", "graft_count_in_set(toks, 'the,a,of')", "length(text)"),
    ("graft_max_token_count", "k_docs", "graft_max_token_count(toks)", "length(text)"),
    ("graft_ordered_pairs", "k_docs", "graft_ordered_pairs(ids)", "8 * size(ids)"),
    ("graft_zvalue", "k_emb", "graft_zvalue(vec_id, label, 20)", "16"),
    ("graft_quantize", "k_emb", "graft_quantize(embedding)", "4 * size(embedding)"),
    ("graft_dot", "k_emb", "graft_dot(q, q)", "16 * size(q)"),
    ("graft_norm2", "k_emb", "graft_norm2(q)", "8 * size(q)"))

  def run(ctx: Harness.Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer.get
    val span = t.open(ctx.workloadSpan, "kernels", "functions")
    t.beginOp("kernels", span)
    val copies = spark.range(Copies).withColumnRenamed("id", "copy")
    spark.read.parquet(s"${ctx.data}/documents.parquet").crossJoin(copies)
      .selectExpr("doc_id", "text", "split(text, ' ') AS toks", "sequence(doc_id, doc_id + 7) AS ids")
      .cache().createOrReplaceTempView("k_docs")
    spark.read.parquet(s"${ctx.data}/embeddings.parquet").crossJoin(copies)
      .selectExpr("vec_id", "label", "embedding", "graft_quantize(embedding) AS q")
      .cache().createOrReplaceTempView("k_emb")
    val sizes = Seq("k_docs", "k_emb").map(v => v -> spark.table(v).count()).toMap
    val out = mutable.Map.empty[String, Any]
    Cases.foreach { case (fn, view, expr, bytesExpr) =>
      val bytes = spark.sql(s"SELECT sum($bytesExpr) FROM $view").head().getLong(0).toDouble
      val times = (1 to Reps).map { _ =>
        val t0 = Harness.nowMs
        spark.sql(s"SELECT sum(hash($expr)) FROM $view").collect()
        (Harness.nowMs - t0) / 1e3
      }.sorted
      val secs = times(Reps / 2)
      val rows = sizes(view).toDouble
      out(fn.stripPrefix("graft_")) = Map("rows" -> rows, "bytes" -> bytes, "seconds" -> secs,
        "rows_per_s" -> rows / secs, "mb_per_s" -> bytes / secs / 1e6)
    }
    spark.catalog.clearCache()
    t.sync()
    t.close(span)
    t.endOp()
    ctx.extra("kernels") = out
  }
}
