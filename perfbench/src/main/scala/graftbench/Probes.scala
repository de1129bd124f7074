package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{LshExpr, TextExprs, TopKAgg, VectorFunctions}

/** Kernel and streaming-harness probes of the traced runs. Each kernel
  * probe times an aggregate over a same-shape frame twice, once with
  * the kernel and once with a trivial expression in its place, and
  * reports the difference per input row (best of `reps` each side after
  * one untimed run each, so the figures are net of scan, codegen and
  * scheduling cost).
  */
object Probes {
  private def best(reps: Int)(f: => Any): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min

  private def netNs(rows: Long, reps: Int, frame: DataFrame,
      kernel: Column, baseline: Column): Double = {
    def run(c: Column) = frame.select(c.as("k")).agg(sum(col("k").cast("double"))).collect()
    run(kernel); run(baseline)
    (best(reps)(run(kernel)) - best(reps)(run(baseline))) / rows * 1e9
  }

  def kernels(spark: SparkSession, dataDir: String, reps: Int = 2): Seq[(String, Double, String)] = {
    val e = graft.Tables.load(spark, dataDir, "embeddings").select("vec_id", "embedding").cache()
    e.count()
    val q = e.where(col("vec_id") < 256).select(col("embedding").as("qv"))
    val pairs = e.crossJoin(q).cache()
    val nPairs = pairs.count()
    val vec = Seq(
      "vec_l2" -> VectorFunctions.vec_l2 _, "vec_cosine" -> VectorFunctions.vec_cosine _,
      "vec_dot" -> VectorFunctions.vec_dot _, "vec_l1" -> VectorFunctions.vec_l1 _)
      .map { case (k, f) =>
        (s"kernel.$k.ns_per_pair",
          netNs(nPairs, reps, pairs, f(col("embedding"), col("qv")),
            (size(col("embedding")) + size(col("qv"))).cast("double")), "ns")
      }
    val rowsX = e.crossJoin(spark.range(64).toDF("r")).cache()
    val nRowsX = rowsX.count()
    val lsh = ("kernel.lsh_signature.ns_per_row",
      netNs(nRowsX, reps, rowsX, LshExpr.lsh_signature(col("embedding")),
        size(col("embedding"))), "ns")
    val docs = graft.Tables.load(spark, dataDir, "documents")
      .crossJoin(spark.range(8).toDF("r")).select("text").cache()
    val nDocs = docs.count()
    val minhash = ("kernel.minhash_sig.ns_per_doc",
      netNs(nDocs, reps, docs, element_at(TextExprs.minhash_sig(col("text")), 1),
        length(col("text"))), "ns")
    val scored = pairs.select((col("vec_id") % 256).as("qid"), col("vec_id"),
      (col("vec_id") * 7919 % 10007).cast("double").as("d")).cache()
    scored.count()
    def topk(agg: Column) = scored.groupBy("qid").agg(agg.as("t")).agg(count(col("t"))).collect()
    topk(TopKAgg.topk_pairs(col("d"), col("vec_id"), 10)); topk(max(col("d")))
    val topkNs = (best(reps)(topk(TopKAgg.topk_pairs(col("d"), col("vec_id"), 10))) -
      best(reps)(topk(max(col("d"))))) / nPairs * 1e9
    Seq(e, pairs, rowsX, docs, scored).foreach(_.unpersist(true))
    vec ++ Seq(lsh, minhash, ("kernel.topk_pairs.ns_per_row", topkNs, "ns"))
  }

  /** Start-to-drain seconds of the two streaming harnesses. */
  def streaming(spark: SparkSession, dataDir: String): Seq[(String, Double, String)] = {
    import graft.streaming.EventStream
    val fed = EventStream.harnessBaselineFed(spark, dataDir)
    val direct = EventStream.harnessBaselineDirect(spark, dataDir)
    Session.cleanup(spark)
    Seq(("streaming.drain_fed_s", fed, "s"), ("streaming.drain_direct_s", direct, "s"))
  }
}
