package graft

import java.nio.file.{Files, Paths}

/** The test tables' directories, where TESTDATA.md, the project's record
  * of its test data, says they are.
  */
object TestData {
  private lazy val record = new String(Files.readAllBytes(Paths.get("TESTDATA.md")), "UTF-8")

  /** The directory of scale factor `sf` (for example "sf0.001"). */
  def dir(sf: String): String =
    ("`([^`]*/" + java.util.regex.Pattern.quote(sf) + ")/?`").r.findFirstMatchIn(record)
      .map(_.group(1)).getOrElse(sys.error(s"TESTDATA.md names no $sf directory"))
}
