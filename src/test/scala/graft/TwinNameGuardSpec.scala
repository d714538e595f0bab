package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each standing loop (corpus-index bootstrap and admit, split SCD-2
  * apply/read and sink) has one implementation, on [[graft.store.Manifest]]
  * roots, under its plain name. A def suffixed `Atomic` or `Manifest`
  * is the mark of a second store form kept beside the first — the fork
  * this guard keeps from coming back. */
class TwinNameGuardSpec extends AnyFunSuite {

  private val twinDef = """\bdef\s+(\w+(?:Atomic|Manifest))\b""".r

  test("no def in src/main ends in Atomic or Manifest") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root (run from the repo root)")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = sources.flatMap { p =>
      twinDef.findAllMatchIn(Files.readString(p)).map(m => s"${p.getFileName}: ${m.group(1)}")
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
