package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]]: a second builder site
  * lets its confs drift from the ones the oracle dump, the bench and
  * the tests run under. */
class SessionGuardSpec extends AnyFunSuite {

  private val builderCall =
    """SparkSession\s*\.\s*builder\b|new\s+SparkSession\s*\.\s*Builder\b""".r

  test("no Spark session builder outside GraftSession.scala") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r (run from the repo root)"))
    val sources = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val offenders = sources.filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
