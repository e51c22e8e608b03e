package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main takes its session from `Sessions.create`, so the session
  * policy (master, cores, shuffle partitions, UTC, UI, log level) lives
  * in one place. A hand-written `SparkSession.builder()` anywhere else in
  * `src/main` would silently drift from it again. */
class SessionsSpec extends AnyFunSuite {

  private val factory = Paths.get("src/main/scala/graft/Sessions.scala")

  test("only the session factory calls SparkSession.builder") {
    val builder = raw"SparkSession\s*\.\s*builder".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    val callers = files
      .filter(f => builder.findFirstIn(Files.readString(f)).isDefined)
    assert(files.contains(factory))
    assert(callers == List(factory),
      s"build the session with graft.Sessions.create instead: ${callers.filterNot(_ == factory)}")
  }
}
