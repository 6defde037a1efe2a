package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up, one cold pass, then warm passes
  * until the time budget is spent. Writes raw samples as JSON; `run.py`
  * turns them into metrics and checks the fingerprints. With `setup-only`
  * the JVM only sets up, so that `run.py` can time further set-ups, each
  * from the start of a fresh JVM.
  *
  * Arguments (all `--name value`, all required):
  *   data      directory with the sf0.1 parquet tables
  *   out       result JSON path
  *   trace-out trace JSON path (trace runs only)
  *   run-dir   the run's own directory; tmp/, local/ and warehouse/ live here
  *   queries   comma-separated query names, in warm-pass order
  *   cold      the same names in cold-pass order
  *   stage     queries whose staged artifacts are built during set-up
  *   clear     1: drop catalog tables and staged artifacts before every pass
  *   seconds   warm measuring time
  *   min-passes warm passes to run at least, whatever the time
  *   check     1: fingerprint the results of the last warm pass
  *   setup-only 1: set up, write the set-up time and exit
  *   trace     1: register listeners and run the layer probes
  *   cores     local[cores] and shuffle partitions
  */
object Harness {
  /** Untraced warm passes before the ABBA passes of a traced run. */
  private val TraceWarmUps = 3
  private val Tables = Seq("lineitem", "orders", "customer", "part", "supplier",
    "nation", "region", "events", "documents", "embeddings")

  final case class Sample(pass: Int, name: String, build: Double, action: Double,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val runDir = new File(opt("run-dir"))
    def names(key: String): Seq[String] = opt(key).split(",").filter(_.nonEmpty).toSeq
    val queries = names("queries")
    val coldOrder = names("cold")
    val stage = names("stage")
    val clear = opt("clear") == "1"
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val minPasses = opt("min-passes").toInt
    val cores = opt("cores").toInt
    val all = graft.SparkEntry.queries
    val unknown = (queries ++ stage).filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "1048576")
        .config("spark.sql.files.openCostInBytes", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
        .config("spark.local.dir", new File(runDir, "local").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def tmpDir: File = new File(System.getProperty("java.io.tmpdir"))

    /** Staged artifacts: top-level entries of tmpdir named graft_*. */
    def staging(): Map[String, Long] =
      Option(tmpDir.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("graft_")).map(f => f.getName -> bytes(f)).toMap

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def setUp(spark: SparkSession): Unit = {
      println(s"session up at ${uptime()} s")
      // touch every table with a scan, then run one small shuffling
      // aggregate, so the first timed query does not also pay for the
      // first job of the session (the order of a pass changes with the seed)
      Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").count())
      spark.read.parquet(s"$data/lineitem.parquet").groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()
      println(s"tables touched at ${uptime()} s")
      stage.foreach { q => noop(all(q)(spark, data)); spark.sharedState.cacheManager.clearCache() }
      println(s"staging built at ${uptime()} s")
    }

    // -- set-up, timed from JVM start -----------------------------------
    val spark = session()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val before1 = staging()
    tracer.fold(setUp(spark))(t => t.span("setup", "setup")(setUp(spark)))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupStaging = stagingDelta(before1, staging())
    if (opt("setup-only") == "1") {
      Json.write(opt("out"), Map("setup_s" -> setupS))
      spark.stop()
      System.exit(0)
    }

    val sc = spark.sparkContext
    val samples = mutable.ArrayBuffer.empty[Sample]
    val prints = mutable.LinkedHashMap.empty[String, Seq[Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def clearStaging(): Unit = {
      spark.catalog.listTables().collect().filterNot(_.isTemporary)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      spark.sharedState.cacheManager.clearCache()
      staging().keys.foreach(n => deleteTree(new File(tmpDir, n)))
    }

    /** Time one query: the build (its function) and the action (a noop
      * write of the full result). Returns the frame unless it failed. */
    def runQuery(pass: Int, name: String, passSpan: Int, traced: Boolean): Option[DataFrame] = {
      val t = tracer.filter(_ => traced)
      val qSpan = t.map(_.open("query", name, passSpan)).getOrElse(-1)
      def phase(p: String): Int = t.map { tr =>
        val id = tr.open(p, s"$name $p", qSpan)
        sc.setLocalProperty(Tracer.SpanProperty, id.toString)
        sc.setLocalProperty(Tracer.PhaseProperty, p)
        id
      }.getOrElse(-1)
      def end(id: Int): Unit = t.foreach { tr =>
        tr.close(id)
        sc.setLocalProperty(Tracer.SpanProperty, null)
        sc.setLocalProperty(Tracer.PhaseProperty, null)
      }
      var df: DataFrame = null
      var build = 0.0
      var action = 0.0
      val error = try {
        val t0 = System.nanoTime()
        val b = phase("build")
        try df = all(name)(spark, data) finally end(b)
        val t1 = System.nanoTime()
        build = (t1 - t0) / 1e9
        val a = phase("action")
        try noop(df) finally end(a)
        action = (System.nanoTime() - t1) / 1e9
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed in pass $pass")
          e.printStackTrace()
          Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))
      } finally t.foreach(_.close(qSpan))
      samples += Sample(pass, name, build, action, error)
      println(f"pass $pass%d $name%s build $build%.3f s action $action%.3f s")
      // a traced run drains the listener bus after every query of every
      // pass, traced or not, so the passes differ only in the listeners
      tracer.foreach(_.flush())
      spark.sharedState.cacheManager.clearCache()
      if (error.isEmpty) Some(df) else None
    }

    /** Fingerprint the results of the last warm pass, outside the timed region. */
    def check(frames: Seq[(String, DataFrame)]): Unit = {
      tracer.foreach { t => t.attach(); t.bucket = "check" }
      frames.foreach { case (name, df) =>
        prints(name) =
          try {
            val p = tracer.fold(Fingerprint.of(df))(_.span("check", s"$name fingerprint")(Fingerprint.of(df)))
            Seq(p.rows, p.hex)
          } catch {
            case e: Throwable =>
              e.printStackTrace()
              Seq(-1L, "error: " + e.getClass.getSimpleName)
          }
        spark.sharedState.cacheManager.clearCache()
        println(s"checked $name at ${uptime()} s")
      }
      tracer.foreach(_.flush())
    }

    def runPass(pass: Int, traced: Boolean, order: Seq[String]): Seq[(String, DataFrame)] = {
      if (clear) clearStaging()
      tracer.foreach { t => if (traced) t.attach() else t.detach(); t.bucket = s"p$pass" }
      val st0 = staging()
      val io0 = procIo("wchar")
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val cc0 = codegenCount()
      val ct0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val passSpan = tracer.filter(_ => traced).map(_.open("pass", s"pass $pass")).getOrElse(-1)
      val t0 = System.nanoTime()
      val frames = order.flatMap(q => runQuery(pass, q, passSpan, traced).map(q -> _))
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"pass $pass%d done in $wall%.3f s at ${uptime()} s")
      tracer.filter(_ => traced).foreach(_.close(passSpan))
      tracer.foreach(_.flush())
      val (builds, bytesAdded) = stagingDelta(st0, staging())
      passes += Map(
        "pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "warm_up" -> (trace && pass >= 1 && pass <= TraceWarmUps),
        "write_bytes" -> (procIo("wchar") - io0),
        "gc_ms" -> (gcMs() - gc0),
        "cpu_s" -> (cpuNs() - cpu0) / 1e9,
        "codegen_classes" -> (codegenCount() - cc0),
        "codegen_ms" -> (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - ct0) / 1e6,
        "staging_builds" -> builds, "staging_bytes" -> bytesAdded)
      frames
    }

    // -- cold pass, then warm passes for the time budget ----------------
    runPass(0, traced = true, coldOrder)
    val warmStart = System.nanoTime()
    var pass = 1
    var last = Seq.empty[(String, DataFrame)]
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    // at least minPasses, so the sample count does not flip with the
    // speed of the machine. A traced run measures the overhead of tracing
    // inside one JVM: after TraceWarmUps untraced passes its passes go
    // untraced, traced, traced, untraced (ABBA), so a linear drift from
    // pass to pass cancels out of the difference. The warm-up passes are
    // there because passes keep getting faster for a while (JIT), and
    // ABBA does not cancel a curve: on a still-falling one it reads the
    // traced passes as faster
    val abba = TraceWarmUps + 1
    while (elapsed < seconds || pass <= minPasses) {
      last = runPass(pass, traced = !trace || (pass >= abba && Set(1, 2)((pass - abba) % 4)), queries)
      pass += 1
    }
    if (opt("check") == "1") check(last)

    val probes = tracer.map { t =>
      t.attach(); t.bucket = "probe"
      val r = new Probes(spark, data, t).run()
      t.flush(); r
    }.getOrElse(Map.empty)
    val traceOut = tracer.map(_.result())
    tracer.foreach(_.detach())
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    spark.stop()

    val result = Map(
      "samples" -> samples.map(s => Map("pass" -> s.pass, "name" -> s.name,
        "build_s" -> s.build, "action_s" -> s.action, "error" -> s.error)),
      "fingerprints" -> prints,
      "passes" -> passes,
      "setup_s" -> setupS,
      "setup_staging" -> Seq(setupStaging._1, setupStaging._2),
      "peak_rss_kb" -> procStatusKb("VmHWM"),
      "heap_peak_bytes" -> heapPeak,
      "gc_ms" -> gcMs(),
      "probes" -> probes)
    Json.write(opt("out"), result)
    traceOut.foreach(t => Json.write(opt("trace-out"), t))
    println(s"results written at ${uptime()} s")
    System.exit(0)
  }

  private def uptime(): String =
    "%.3f".format(ManagementFactory.getRuntimeMXBean.getUptime / 1e3)

  private def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def stagingDelta(before: Map[String, Long], after: Map[String, Long]): (Int, Long) = {
    val added = after.keySet -- before.keySet
    (added.size, added.toSeq.map(after).sum)
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytes).sum
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(): Unit
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** CPU time of the whole process, all threads. */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  private def procFile(path: String): Seq[String] =
    try java.nio.file.Files.readAllLines(java.nio.file.Path.of(path)).asScala.toSeq
    catch { case scala.util.control.NonFatal(_) => Nil }

  /** A counter from /proc/self/io, or -1 where the kernel has none. */
  private def procIo(key: String): Long =
    procFile("/proc/self/io").collectFirst {
      case l if l.startsWith(key + ":") => l.drop(key.length + 1).trim.toLong
    }.getOrElse(-1L)

  private def procStatusKb(key: String): Long =
    procFile("/proc/self/status").collectFirst {
      case l if l.startsWith(key + ":") => l.drop(key.length + 1).trim.split("\\s+")(0).toLong
    }.getOrElse(-1L)
}
