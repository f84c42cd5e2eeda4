package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Every graft process runs the session [[GraftSession]] builds, and the
  * profiling listener lives in one tool. */
class GraftSessionSpec extends AnyFunSuite {

  test("a GraftSession resolves graft SQL functions") {
    val spark = SparkTestSession.spark // built by GraftSession.build
    val sh = spark.sql("SELECT simhash64(array('a', 'b')) AS sh").head()
    assert(sh.getLong(0) == spark.range(1)
      .select(graft.functions.SimHash64.simhash64(array(lit("a"), lit("b"))))
      .head().getLong(0))
  }

  private def sources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def offenders(roots: Seq[String], allowed: String)(
      hit: String => Boolean): Seq[Path] =
    roots.flatMap(sources).filterNot(_.endsWith(allowed)).filter { p =>
      hit(new String(Files.readAllBytes(p), "ISO-8859-1"))
    }

  test("only GraftSession builds a SparkSession") {
    val builder = "SparkSession" + ".builder"
    val found = offenders(Seq("src/main/scala", "src/test/scala"),
      "graft/GraftSession.scala")(_.contains(builder))
    assert(sources("src/main/scala").nonEmpty)
    assert(found.isEmpty, s"build the session with GraftSession.build: $found")
  }

  test("only Probe declares a SparkListener in main") {
    val declared =
      "(extends|with|new)\\s+(org\\.apache\\.spark\\.scheduler\\.)?SparkListener\\b".r
    val found = offenders(Seq("src/main/scala"), "graft/tools/Probe.scala")(
      declared.findFirstIn(_).isDefined)
    assert(found.isEmpty, s"profile with graft.tools.Probe's listener: $found")
  }
}
