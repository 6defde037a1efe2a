package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions
import graft.ir.Ir._
import graft.pipeline.PackageRunner

/** Layer probes of the traced run: fixed calls into each library layer's
  * public functions, timed from outside. The inputs are the same on every
  * workload, so a probe moves only when its layer changes. Every call is
  * recorded as a "layer" span under one "probes" span. */
final class Probes(spark: SparkSession, dir: String, tracer: Tracer) {
  private val tableRe = """\[\w+\]\.\[(\w+)\]""".r

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def layer[T](root: Int, name: String)(body: => T): T =
    tracer.span("layer", name, root)(body)

  private def packageTexts(): Seq[(String, String)] = {
    val url = getClass.getResource("/dtsx")
    val files = new java.io.File(url.toURI).listFiles().filter(_.getName.endsWith(".dtsx"))
    files.sortBy(_.getName).map(f => f.getName -> java.nio.file.Files.readString(f.toPath)).toSeq
  }

  private def sqlTasks(tasks: List[Task]): List[ExecuteSqlTask] = tasks.flatMap {
    case t: ExecuteSqlTask => List(t)
    case c: ContainerTask => sqlTasks(c.children)
    case _ => Nil
  }

  /** Runs every probe and returns the per-layer values by metric name. */
  def run(): Map[String, Double] = {
    val root = tracer.open("layer", "probes")
    try {
      val out = mutable.LinkedHashMap.empty[String, Double]
      val texts = packageTexts()

      // parser: parse every package resource, three rounds
      val rounds = (1 to 3).map { r =>
        val t0 = System.nanoTime()
        texts.foreach { case (n, xml) =>
          layer(root, s"parser.parseString $n")(graft.parser.DtsxParser.parseString(xml))
        }
        ms(t0)
      }
      out("parser.parse_ms") = median(rounds)
      val packages = texts.map { case (n, xml) => n -> graft.parser.DtsxParser.parseString(xml) }

      // pipeline: dry-run every package that plans against the testdata
      val planEnv = PackageRunner.RuntimeEnv(
        resolver = graft.sources.Sources.testdataResolver(spark, dir),
        write = (_, _, _) => ())
      var planned = 0
      val t0 = System.nanoTime()
      packages.foreach { case (n, pkg) =>
        try {
          layer(root, s"pipeline.dryRun $n")(PackageRunner.dryRun(spark, pkg, planEnv))
          planned += 1
        } catch { case scala.util.control.NonFatal(_) => }
      }
      out("pipeline.plan_ms") = ms(t0)
      out("pipeline.planned_packages") = planned.toDouble

      // patterns: classify every Execute SQL text, ten rounds
      val statements = packages.flatMap { case (_, p) => sqlTasks(p.tasks).map(t => (t, p.variables)) }
      val detect = (1 to 10).map { _ =>
        val t = System.nanoTime()
        statements.foreach { case (s, vars) => graft.patterns.LoadPatterns.detect(s.sqlStatement, vars) }
        ms(t)
      }
      layer(root, "patterns.detect")(())
      out("patterns.detect_ms") = median(detect)
      out("patterns.exec_ms") = layer(root, "patterns.run CdcCustomerMergeETL.dtsx")(
        patternsRun(packages.toMap.apply("CdcCustomerMergeETL.dtsx")))

      // validate: the reference's sign-off checks on sf0.1 tables
      out("validate.check_ms") = layer(root, "validate") {
        val t = System.nanoTime()
        val orders = spark.read.parquet(s"$dir/orders.parquet")
        val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
        val v = graft.validate.ValidationSuite
        v.rowCountMatch(orders, orders, "orders")
        v.pkIntegrity(orders, Seq("o_orderkey"), "orders")
        v.pkIntegrity(lineitem, Seq("l_orderkey", "l_linenumber"), "lineitem")
        v.checksum(lineitem, lineitem, "l_extendedprice", "lineitem")
        ms(t)
      }

      out ++= layer(root, "functions")(kernels())
      layer(root, "streaming.drainToMemory")(streamingDrain())
      out.toMap
    } finally tracer.close(root)
  }

  /** Drive a MERGE package through the public runner with the T-SQL
    * pattern executor; returns the ms spent inside the SQL callback. */
  private def patternsRun(pkg: SsisPackage): Double = {
    val written = mutable.Map.empty[String, DataFrame]
    val views = mutable.Set.empty[String]
    def bind(sql: String): String = {
      tableRe.findAllMatchIn(sql).map(_.group(1)).toSet[String].foreach { t =>
        written.get(t).orElse {
          val f = new java.io.File(s"$dir/$t.parquet")
          if (f.exists) Some(spark.read.parquet(f.getAbsolutePath)) else None
        }.foreach { df => df.createOrReplaceTempView(t); views += t }
      }
      tableRe.replaceAllIn(sql, m => m.group(1))
    }
    val exec = graft.patterns.ScriptedSqlExecutor.executor(spark,
      resolveFrame = name => written.getOrElse(name, spark.table(name)),
      bareName = name => tableRe.findFirstMatchIn(name).map(_.group(1)).getOrElse(name),
      commit = (k, v) => written(k) = v)
    var inside = 0L
    val env = PackageRunner.RuntimeEnv(
      resolver = graft.sources.Sources.testdataResolver(spark, dir, written.get),
      write = (table, df, mode) => {
        val bare = tableRe.findFirstMatchIn(table).map(_.group(1)).getOrElse(table)
        written(bare) =
          if (mode == SaveMode.Append) written.get(bare).map(_.unionByName(df)).getOrElse(df)
          else df
      },
      sqlExecutor = t => {
        val t0 = System.nanoTime()
        try exec(t.copy(sqlStatement = bind(t.sqlStatement)))
        finally inside += System.nanoTime() - t0
      })
    try {
      val run = PackageRunner.run(spark, pkg, env)
      require(!run.failed, s"probe package failed: ${run.tasks.map(t => t.taskName -> t.status)}")
      written.values.foreach(_.write.format("noop").mode("overwrite").save())
    } finally views.foreach(v => spark.catalog.dropTempView(v): Unit)
    inside / 1e6
  }

  /** One AvailableNow drain of the events table through the library's
    * streaming sink, so the streaming metrics have batches to report on
    * workloads that run no streaming query. */
  private def streamingDrain(): Unit = {
    val src = java.nio.file.Files.createTempDirectory("perfbench-stream")
    java.nio.file.Files.copy(java.nio.file.Path.of(s"$dir/events.parquet"), src.resolve("part-0.parquet"))
    val events = spark.readStream.schema(spark.read.parquet(s"$dir/events.parquet").schema)
      .parquet(src.toString)
    graft.streaming.StreamingOps.drainToMemory(
      events.groupBy(col("event_type")).agg(count(lit(1)).as("n"), sum(col("value")).as("v")),
      "perfbench_probe", src.resolveSibling(src.getFileName.toString + "-ckpt").toString,
      org.apache.spark.sql.streaming.OutputMode.Complete)
  }

  /** Per-row cost of each native kernel: a noop write of the kernel over a
    * cached frame, minus the same write of its inputs alone, divided by
    * the row count; median of three interleaved pairs. */
  private def kernels(): Map[String, Double] = {
    NativeFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), split(lower(col("text")), "\\s+").as("toks"))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x * 1000).cast("long")).as("qv"))
    val partner = docs.select((col("doc_id") - 1).as("doc_id"), col("toks").as("toks2"))
    val base = docs.join(partner, Seq("doc_id"))
      .join(vecs, col("doc_id") % 2000 === col("vec_id"))
      .join(vecs.select((col("vec_id") - 1).as("vec_id2"), col("qv").as("qv2")),
        col("doc_id") % 2000 === col("vec_id2"))
      .withColumn("hs", NativeFunctions.hashedShingles(col("toks"), 3, 2147483647L))
      .withColumn("copy", explode(sequence(lit(1), lit(10))))
      .withColumn("sv", slice(col("qv"), 1, 8))
      .cache()
    val rows = base.count().toDouble
    val codebook = array((0 until 16).map { j =>
      struct(lit(j.toLong).as("cw"), array((0 until 8).map(i => lit(((j * 31 + i * 7) % 200 - 100).toLong)): _*).as("cv"))
    }: _*)
    val perms = (1 to 32).map(i => (i * 2654435761L % 2147483647L, i * 40503L))
    val cases: Seq[(String, Column, Seq[String])] = Seq(
      ("jaccard", NativeFunctions.jaccardSim(col("toks"), col("toks2")), Seq("toks", "toks2")),
      ("sq_dist", NativeFunctions.sqDist(col("qv"), col("qv2")), Seq("qv", "qv2")),
      ("qdot", NativeFunctions.qdot(col("qv"), col("qv2")), Seq("qv", "qv2")),
      ("minhash", NativeFunctions.minhashSig(col("hs"), perms), Seq("hs")),
      ("hashed_shingles", NativeFunctions.hashedShingles(col("toks"), 3, 2147483647L), Seq("toks")),
      ("lang_id", NativeFunctions.langId(col("toks")), Seq("toks")),
      ("nfc", NativeFunctions.nfc(col("text")), Seq("text")),
      ("pq_argmin", NativeFunctions.pqArgmin(col("sv"), codebook), Seq("sv")))
    def write(cols: Seq[Column]): Double = {
      val t0 = System.nanoTime()
      base.select(cols: _*).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    try cases.map { case (name, kernel, inputs) =>
      write(Seq(kernel.as("k")))
      val diffs = (1 to 3).map { _ =>
        val k = tracer.span("layer", s"functions.$name")(write(Seq(kernel.as("k"))))
        val b = write(inputs.map(col))
        (k - b) / rows
      }
      s"functions.${name}_ns_row" -> median(diffs)
    }.toMap
    finally base.unpersist()
  }
}
