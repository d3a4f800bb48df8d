package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.{DotProduct, PolyHash, SqDist, TopKAggregate}
import graft.functions.TextAnalysis

/** Kernel probes of the traced run: each custom expression projected over a
  * fixed generated input into the noop sink, reported as input rows per
  * second (median of three timed repetitions after one warm-up). */
object Probes {
  private def rate(rows: Long, df: DataFrame): Double = {
    def once() = Harness.timeS(df.write.format("noop").mode("overwrite").save())
    once()
    rows / Stats.median(Seq.fill(3)(once()))
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val nVec = 200000L
    val vecs = s.range(nVec).select(col("id"), expr(
      "transform(sequence(1, 16), d -> CAST(pmod(xxhash64(id, d), 1000) / 1000.0 AS FLOAT))")
      .as("v")).localCheckpoint()
    val ref = array((1 to 16).map(i => lit(i / 16.0f)): _*)
    val nText = 5000L
    val text = s.range(nText).select(col("id"), expr(
      "concat_ws(' ', transform(sequence(1, 12), i -> concat('w', CAST(pmod(xxhash64(id, i), 300) AS STRING))))")
      .as("text")).localCheckpoint()
    Map(
      "expressions.sqdist_rows_per_s" -> rate(nVec, vecs.select(SqDist.sqDist(col("v"), ref))),
      "expressions.dot_rows_per_s" -> rate(nVec, vecs.select(DotProduct.dot(col("v"), ref))),
      "expressions.topk_rows_per_s" -> rate(nVec, vecs.groupBy(col("id") % 64)
        .agg(TopKAggregate.topK(element_at(col("v"), 1).cast("double"), col("id"), 10))),
      "functions.polyhash_rows_per_s" -> rate(nText, text.select(PolyHash.polyHash(col("text")))),
      "functions.min_window_hash_rows_per_s" -> rate(nText,
        text.select(expr(TextAnalysis.minWindowHashSpark("text")))))
  }
}
