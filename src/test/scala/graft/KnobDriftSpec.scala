package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.<x>.<y>` session conf the engine reads has a row in
  * the README "Tuning knobs" table, and every row names a conf the
  * engine still reads — so a new knob cannot land unlisted and the
  * option count stays visible.
  */
class KnobDriftSpec extends AnyFunSuite {

  private val confRead = """conf\s*\.\s*get(?:Option)?\(\s*"(graft\.\w+\.\w+)"""".r
  private val knobRow = """^\| `(graft\.[^`]+)` \|""".r.unanchored

  test("the conf keys read under src/main are exactly the README Tuning knobs rows") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val read: Set[String] =
      sources.flatMap(p => confRead.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val table = readme
      .dropWhile(!_.startsWith("## Tuning knobs"))
      .drop(1).takeWhile(!_.startsWith("## "))
    val listed: Set[String] = table.collect { case knobRow(k) => k }.toSet
    assert(read.nonEmpty, "no graft.* conf read found under src/main")
    assert(read == listed,
      s"read but not in the README table: ${read -- listed}; in the table but never read: ${listed -- read}")
  }
}
