package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` environment knob the program reads is
  * documented: the set of names under src/main/scala must equal the
  * knob table in README.md, so a new undocumented knob (or a table row
  * whose reader is gone) fails here. */
class KnobInventorySpec extends AnyFunSuite {

  private val Knob = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("the SPARK_GRAFT_* knobs in src/main equal README.md's knob table") {
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val inCode = sources(new java.io.File("src/main/scala"))
      .flatMap(f => Knob.findAllIn(read(f))).toSet
    val inTable = read(new java.io.File("README.md")).linesIterator
      .filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(l => Knob.findFirstIn(l)).toSet
    assert(inCode.nonEmpty, "no knobs found: is the working directory the repo root?")
    assert(inCode -- inTable == Set.empty, "knobs read by the code but missing from README.md's table")
    assert(inTable -- inCode == Set.empty, "README.md's table lists knobs nothing reads")
  }
}
