package graft

import graft.sim.PqIndex
import org.apache.spark.sql.functions._

/** Dev-only component timer for x109_ivf_pq (round-19 measurement):
  * isolates the two eager codebook-training checkpoints (coarse plane,
  * PQ plane) from the final ADC ranking job. */
object X109Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession("32")
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[x109probe] $label%-30s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    spark.read.parquet(s"$dir/embeddings.parquet").count()
    val emb = Tables.embeddings(spark, dir)
    (1 to 2).foreach { round =>
      println(s"[x109probe] === round $round ===")
      // coarse plane: train + checkpoint (the eager job inside
      // coarseCandidates)
      val subFull = PqIndex.subspaces(emb, "vec_id", "embedding", 1, 64)
      val coarseCb = time("coarse train (lazy build)")(
        PqIndex.trainCodebooks(subFull, "vec_id", nCw = 8, iters = 1))
      time("coarse checkpoint job")(coarseCb.localCheckpoint(true))
      val sub = PqIndex.subspaces(emb, "vec_id", "embedding", 32, 2)
      val pqCb = time("pq train (lazy build)")(
        PqIndex.trainCodebooks(sub, "vec_id", nCw = 64, iters = 1))
      time("pq checkpoint job")(pqCb.localCheckpoint(true))
      time("x109 as shipped")(
        QueriesTrainingData.x109_ivf_pq(spark, dir).count())
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
