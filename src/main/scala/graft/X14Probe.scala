package graft

import graft.dedup.DedupOps
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev-only component timer for x14_clean_corpus (round-19 measurement).
  * Runs each leg of the composition in isolation under the Bench conf. */
object X14Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession("32")
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[x14probe] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    spark.read.parquet(s"$dir/documents.parquet").count()

    (1 to 2).foreach { round =>
      println(s"[x14probe] === round $round ===")
      val t = col("text")
      val docs = Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), t)
      val base = docs
        .select(col("doc_id"), t, TextOps.tokens(t).as("toks"))
        .select(col("doc_id"),
          TextOps.languageIdOf(col("toks")).as("lang_pred"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          TextOps.fingerprintMd5(t).as("fp"),
          DedupOps.bandKeysFromSigArray(
            DedupOps.minhashSignatureArray(
              DedupOps.hashedShinglesOf(col("toks"), 3)),
            rowsPerBand = 4, nBands = 2).as("bands"))
        .cache()
      time("base cache build")(base.count())
      val pairs = DedupOps
        .lshCandidatePairs(base.select("doc_id", "bands"), "doc_id", "bands")
      time("pairs")(pairs.count())
      val candIds = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val candSh = docs.join(broadcast(candIds), Seq("doc_id"))
        .select(col("doc_id"), DedupOps.shingles(t, 3).as("sh"))
      val nearDupDrop = pairs
        .join(candSh.toDF("doc_a", "sh_a"), "doc_a")
        .join(candSh.toDF("doc_b", "sh_b"), "doc_b")
        .filter(DedupOps.jaccard(col("sh_a"), col("sh_b")) >= 0.6)
        .select(col("doc_b").as("drop_id")).distinct()
      time("nearDupDrop (incl pairs again)")(nearDupDrop.count())
      val covN = graft.text.CorpusOps.dupCoveredCounts(docs, "doc_id", "text", n = 8)
      time("covN alone")(covN.count())
      val surv = base.groupBy(col("fp")).agg(min(col("doc_id")).as("sid"))
        .select(col("fp").as("s_fp"), col("sid"))
      val res = base
        .join(surv, col("fp") === col("s_fp") && col("doc_id") === col("sid"),
          "left_semi")
        .join(nearDupDrop, col("doc_id") === col("drop_id"), "left_anti")
        .filter(col("n_tokens") >= 5 &&
          col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType) > 0.3)
        .join(covN, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_removed"), lit(0)))
            .as("n_tokens_clean"))
      time("final assembly (all legs again)")(res.count())
      base.unpersist()
      spark.sharedState.cacheManager.clearCache()
      time("x14 as shipped")(
        QueriesTrainingData.x14_clean_corpus(spark, dir).count())
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
