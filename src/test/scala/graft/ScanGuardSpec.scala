package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every manifest snapshot read is one [[graft.store.ManifestFileIndex]]
  * scan: a second reader beside it would bring back its own pruning
  * copy, per-file status calls at planning, and plans that are not
  * `sameResult` with the index's. */
class ScanGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  private def mainSources: List[java.nio.file.Path] = {
    assert(Files.isDirectory(main), s"$main (run from the repo root)")
    val walk = Files.walk(main)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("ManifestFileIndex is built in one place") {
    val sites = mainSources.flatMap { p =>
      "new\\s+ManifestFileIndex\\s*\\(".r.findAllIn(Files.readString(p)).map(_ => p)
    }
    assert(sites.size == 1, sites.mkString(", "))
  }

  test("Manifest reads parquet itself only for staged files, foreign footers, DVs and blooms") {
    val allowed = Set("fileStats", "fileSchema", "dvFrame", "bloomEntries")
    val src = Files.readString(main.resolve("graft/store/Manifest.scala"))
    // members of `object Manifest` sit at two spaces of indentation
    val defs = "(?m)^  (?:(?:private|protected)(?:\\[\\w+\\])? )?(?:override )?def (\\w+)".r
      .findAllMatchIn(src).map(m => m.start -> m.group(1)).toList
    val readers = "spark\\s*\\.\\s*read\\b".r.findAllMatchIn(src).map { m =>
      defs.takeWhile(_._1 < m.start).lastOption.map(_._2).getOrElse("<top>")
    }.toList
    assert(readers.nonEmpty, "no spark.read left at all — the guard matches nothing")
    val offenders = readers.filterNot(allowed)
    assert(offenders.isEmpty, s"spark.read inside ${offenders.distinct.mkString(", ")}")
  }
}
