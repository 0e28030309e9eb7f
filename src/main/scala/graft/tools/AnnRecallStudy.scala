package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.Similarity

/** Recall@k vs probe-cost curve for the IVF family (round-9 task 7):
  * a (kCoarse × nprobe) grid over the sf1 embeddings, each cell
  * reporting measured recall@10 against the exact brute-force top-10
  * plus the expected scan fraction (nprobe/kCoarse — the IVF cost
  * model) and wall time. This is the evidence table behind the
  * distributed-ANN design choice: IVF's probe knob buys recall
  * linearly in scanned fraction with NO graph build or traversal
  * state, which is what survives a 1000-executor partitioning (an
  * HNSW graph does not shard by cell).
  *
  *   sbt -batch "runMain graft.tools.AnnRecallStudy /tmp/graft_sf1"
  */
object AnnRecallStudy {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.build(s"local[$cpus]", "graft-ann-recall", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.load(spark, dir, "embeddings").cache()
    val nVec = emb.count()
    val queries = emb.filter(col("vec_id") < 64).cache()
    val nQ = queries.count()
    val k = 10

    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"corpus=$nVec queries=$nQ exact_pairs=${exact.size}")

    for (kc <- Seq(8, 16, 32, 64); np <- Seq(1, 2, 4, 8) if np <= kc) {
      val cents = emb.filter(col("vec_id") >= 1000 && col("vec_id") < (1000 + kc))
      def run(): (Set[(Long, Long)], Double) = {
        val t0 = System.nanoTime()
        val got = Similarity.ivfTopK(emb, queries, cents, "vec_id", "embedding", k, np)
          .select(col("qid"), col("cid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (got, (System.nanoTime() - t0) / 1e9)
      }
      val (approx, t1) = run()
      val (_, t2) = run() // min-of-2: second run rides the cached corpus
      val recall = (approx & exact).size.toDouble / exact.size
      println(f"kCoarse=$kc%2d nprobe=$np%2d  recall@10=${recall}%.4f  " +
        f"scan_frac~${np.toDouble / kc}%.3f  sec=${math.min(t1, t2)}%.2f")
    }
    spark.stop()
  }
}
