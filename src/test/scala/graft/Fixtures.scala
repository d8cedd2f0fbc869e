package graft

import org.scalatest.Assertions

/** The one resolver for the GMR reference fixtures the specs read
  * (FIXTURES.md §1): every spec names a fixture relative to [[Root]], and a
  * missing one fails the calling test with `reference fixture missing:
  * <path>` instead of a Hadoop InvalidInputException from deep inside a
  * read. Nothing is skipped — a missing fixture is a failed test.
  */
object Fixtures {

  /** The reference checkout's fixture directory. */
  val Root = "/root/reference"

  /** `rel` resolved under [[Root]]. A file name ending in `*` is a glob
    * (Spark reads it as one) and resolves when any file matches its prefix.
    */
  def apply(rel: String): String = {
    val path = s"$Root/$rel"
    val f = new java.io.File(path)
    val present =
      if (f.getName.endsWith("*"))
        Option(f.getParentFile.listFiles()).exists(
          _.exists(_.getName.startsWith(f.getName.dropRight(1))))
      else f.isFile
    if (!present) Assertions.fail(s"reference fixture missing: $path")
    path
  }
}
