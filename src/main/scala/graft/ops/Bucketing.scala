package graft.ops

import org.apache.spark.sql.DataFrame

/** Bucketed staging — the shuffle-elimination tool for repeated joins.
  *
  * A join between two tables bucketed into the same number of buckets on
  * the join key needs NO Exchange: each task reads bucket i of both sides
  * and merges. Pay the partitioning once at staging time, then every
  * downstream join on that key is co-located — the difference between one
  * shuffle per run and one shuffle per INGEST at 100 TB. (The reference's
  * analog is the indexed staging table its generated DDL creates before
  * fact loads; dbt `{{ config(materialized='table') }}` + warehouse-side
  * clustering.) The staging lifecycle — content keys, reuse, publish,
  * cleanup — is [[Staging.table]].
  */
object Bucketing {

  /** Stage `df` as a bucketed, bucket-sorted external parquet table.
    * Overwrites any previous staging at the same name/path. */
  def stageBucketed(df: DataFrame, table: String, path: String,
      nBuckets: Int, key: String): DataFrame = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
    spark.table(table)
  }

  /** Inner equi-join of two staged bucketed tables. With equal bucket
    * counts on the join keys Spark plans a sort-merge join with ZERO
    * Exchange (asserted in PlanShapeSpec). */
  def bucketedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String): DataFrame =
    left.join(right, left(leftKey) === right(rightKey))
}
