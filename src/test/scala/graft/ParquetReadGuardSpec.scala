package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every batch parquet read in the program goes through
  * [[graft.ingest.ParquetRead]]: a bare `spark.read.parquet(...)` runs
  * one Spark job per read just to infer the schema. */
class ParquetReadGuardSpec extends AnyFunSuite with Matchers {

  private val bareRead = """\bread\s*\.\s*parquet\s*\(""".r

  /** `file:line` of each bare read in `text`. */
  private def bareReads(file: String, text: String): Seq[String] =
    bareRead.findAllMatchIn(text).map { m =>
      s"$file:${text.substring(0, m.start).count(_ == '\n') + 1}"
    }.toSeq

  test("the guard sees a bare read, also across a line break") {
    bareReads("A.scala", "val a = 1\nspark.read.parquet(p)") shouldBe Seq("A.scala:2")
    bareReads("B.scala", "s.read\n  .parquet(p)") shouldBe Seq("B.scala:1")
    bareReads("C.scala", "s.readStream.schema(x).parquet(p); s.read.schema(x).parquet(p)") shouldBe empty
  }

  test("no read.parquet( in src/main/scala outside ParquetRead") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val helper = root.resolve("graft/ingest/ParquetRead.scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper).toSeq
    sources.size should be > 50
    val hits = sources.flatMap { p: Path =>
      bareReads(root.relativize(p).toString, new String(Files.readAllBytes(p), "UTF-8"))
    }
    withClue("route these through graft.ingest.ParquetRead.read: ") { hits shouldBe empty }
  }
}
