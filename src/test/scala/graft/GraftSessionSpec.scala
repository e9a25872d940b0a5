package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps `GraftSession` the only way to build a session: a second
  * hand-copied builder is how the bench, oracle dump and tests drifted
  * onto different confs. `perfbench/` is a separate build and exempt. */
class GraftSessionSpec extends AnyFunSuite {

  test("only GraftSession.scala calls the session builder under src/") {
    // split so this file does not match its own pattern
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toVector
    assert(files.exists(_.endsWith(Paths.get("GraftSession.scala"))))
    val callers = files.filter { p: Path =>
      builder.findFirstIn(Files.readString(p)).isDefined
    }.map(_.getFileName.toString)
    assert(callers == Vector("GraftSession.scala"))
  }
}
