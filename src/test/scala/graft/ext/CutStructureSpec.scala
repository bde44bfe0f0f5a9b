package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** Structure guard for [[Similarity]]'s bounded cut: collected rows become
  * a local relation in one place, `boundedCut`, so every pin and beam cut
  * shares its bound and its failure-path release. */
class CutStructureSpec extends AnyFunSuite {
  test("Similarity localizes collected rows only inside boundedCut") {
    val path = java.nio.file.Paths.get("src/main/scala/graft/ext/Similarity.scala")
    val src = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    // members of `object Similarity` start at a two-space indent; a hit
    // belongs to the last member that starts before it
    val member = """(?m)^  (?:private(?:\[\w+\])? )?(?:final )?(?:def|val|lazy val|case class) (\w+)""".r
    val starts = member.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    val owners = """createDataFrame\(\s*java\.util\.Arrays\.asList""".r
      .findAllMatchIn(src).map(h =>
        starts.takeWhile(_._1 < h.start).lastOption.fold("<object>")(_._2))
      .toSeq
    assert(owners.nonEmpty, "no local relation built from collected rows")
    assert(owners.forall(_ == "boundedCut"),
      s"local relations built outside boundedCut: ${owners.mkString(", ")}")
  }
}
