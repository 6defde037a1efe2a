package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.ops.Staging
import org.scalatest.funsuite.AnyFunSuite

/** The staging lifecycle itself ([[graft.ops.Staging]]), on tiny
  * datasets under unique families; the staged queries' reuse and
  * restage paths are pinned in PlanShapeSpec and SourcesAndIvfSpec. */
class StagingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  /** A one-file dataset dir and a family no other test uses. */
  private def fixture(name: String): (String, String) = {
    val d = Files.createTempDirectory(s"graft-staging-spec-$name").toFile
    Files.write(new File(d, "t").toPath, name.getBytes(UTF_8))
    (d.getPath, s"${name}spec${System.nanoTime}")
  }

  test("publish race: a writer finishing second reuses the first one's staging, never deletes it") {
    val (src, family) = fixture("race")
    val secondWriting = new CountDownLatch(1)
    val firstPublished = new CountDownLatch(1)
    def write(tag: String)(out: File): Unit = {
      out.mkdirs()
      Files.write(new File(out, "part").toPath, tag.getBytes(UTF_8))
    }
    val second = Future {
      Staging.files(family, src, Seq("t")) { out =>
        write("second")(out)
        secondWriting.countDown()
        firstPublished.await()
      }
    }
    secondWriting.await()
    val first = Staging.files(family, src, Seq("t"))(write("first"))
    firstPublished.countDown()
    val secondDir = Await.result(second, 60.seconds)
    try {
      assert(secondDir === first, "both writers must return the one published dir")
      assert(new String(Files.readAllBytes(new File(first, "part").toPath), UTF_8) === "first",
        "the second writer replaced the staging the first had published")
      val scratch = Option(first.getParentFile.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith(s"graft_${family}_") && f.getName.contains(".tmp-"))
      assert(scratch.isEmpty, s"scratch dirs left behind: ${scratch.mkString(", ")}")
    } finally Seq(first, new File(src)).foreach(rm)
  }

  test("a catalog hit returns before build is evaluated") {
    val (src, family) = fixture("byname")
    var builds = 0
    def stage() = Staging.table(spark, family, src, Seq("t"), 2, "id") {
      builds += 1
      spark.range(10).toDF("id")
    }
    val dir = Staging.location(family, src, Seq("t"))
    try {
      val first = stage().collect().toSet
      val second = stage().collect().toSet
      assert(builds === 1, "the second call evaluated build despite the catalog hit")
      assert(second === first)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${dir.getName}`")
      Seq(dir, new File(src)).foreach(rm)
    }
  }
}
