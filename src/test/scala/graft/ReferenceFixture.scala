package graft

import java.io.File

import org.scalatest.Assertions

/** The reference repository's own event CSVs (`trip_start.csv`,
  * `trip_end.csv`), the only fixture that holds the paper's data
  * (BASELINE.md "Golden parity"). Their directory is one setting, the
  * environment variable `GRAFT_REFERENCE_DATA` (the forked test JVM
  * inherits sbt's environment), else `reference/data` beside this
  * checkout.
  *
  * A missing file fails the test that asked for it, naming the file:
  * the golden checks must never pass, skip or cancel without the data.
  */
object ReferenceFixture {

  private val dir: File =
    new File(sys.env.getOrElse("GRAFT_REFERENCE_DATA", "../reference/data")).getCanonicalFile

  def path(name: String): String = {
    val f = new File(dir, name)
    if (!f.isFile)
      Assertions.fail(s"reference fixture $f is missing: point " +
        "GRAFT_REFERENCE_DATA at the reference repository's data directory " +
        "(BASELINE.md, Golden parity)")
    f.getPath
  }
}
