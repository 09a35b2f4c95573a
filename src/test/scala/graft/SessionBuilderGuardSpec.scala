package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every session in the program comes from [[GraftSession]]: a main that
  * builds its own runs under a conf set nobody else tests. */
class SessionBuilderGuardSpec extends AnyFunSuite with Matchers {

  private val builderCall = """\bSparkSession\s*\.\s*builder\b""".r

  /** `file:line` of each builder call in `text`. */
  private def builderCalls(file: String, text: String): Seq[String] =
    builderCall.findAllMatchIn(text).map { m =>
      s"$file:${text.substring(0, m.start).count(_ == '\n') + 1}"
    }.toSeq

  test("the guard sees a builder call, also across a line break") {
    builderCalls("A.scala", "val a = 1\nSparkSession.builder()") shouldBe Seq("A.scala:2")
    builderCalls("B.scala", "SparkSession\n  .builder()") shouldBe Seq("B.scala:1")
    builderCalls("C.scala", "s: SparkSession.Builder; SparkSession.active") shouldBe empty
  }

  test("no SparkSession.builder in src/main/scala outside GraftSession") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val factory = root.resolve("graft/GraftSession.scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != factory).toSeq
    sources.size should be > 50
    val hits = sources.flatMap { p: Path =>
      builderCalls(root.relativize(p).toString, new String(Files.readAllBytes(p), "UTF-8"))
    }
    withClue("build sessions through graft.GraftSession.local: ") { hits shouldBe empty }
  }
}
