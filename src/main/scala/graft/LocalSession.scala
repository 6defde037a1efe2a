package graft

import org.apache.spark.sql.SparkSession

/** The local session `Verify`, `PlanDump` and the dev probes run under:
  * the same config Bench uses, so a dumped plan or a probe timing is the
  * plan the bench runs. Callers set their own log level. */
object LocalSession {
  def apply(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
