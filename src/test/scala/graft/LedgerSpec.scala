package graft

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Measurement-ledger gate: every artifact filename the repo's claims
  * name must resolve to a file in the tree. Two consecutive rounds
  * (r19, r20) closed with BASELINE.md claiming sf10 artifacts that
  * were never committed; running `tools/check_ledger.py` inside
  * `sbt test` makes a green suite impossible while the ledger lies.
  * The script is the one implementation of the scans (BASELINE.md
  * names and source-cited artifacts); this spec only runs it and
  * reads each scan's missing lines from its output.
  */
class LedgerSpec extends AnyFunSuite {

  /** Exit code and combined output of the ledger check over `root`. */
  private def checkLedger(root: Path): (Int, String) = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Seq("python3", "tools/check_ledger.py", root.toString).!(log)
    (code, out.toString)
  }

  private lazy val (repoCode, repoOut) =
    checkLedger(java.nio.file.Paths.get(".").toAbsolutePath)

  /** The script's missing-artifact lines (`  <source>: <name>`); fails
    * unless the script ran to a verdict, so a crash cannot pass. */
  private def missingLines: Seq[String] = {
    assert((repoCode == 0 && repoOut.contains("ledger check ok")) ||
      (repoCode == 1 && repoOut.contains("LEDGER CHECK FAILED")), repoOut)
    repoOut.linesIterator.filter(_.startsWith("  ")).map(_.trim).toSeq
  }

  test("every artifact BASELINE.md names exists in the tree") {
    val missing = missingLines.filter(_.startsWith("BASELINE.md: "))
    assert(missing.isEmpty,
      s"BASELINE.md names artifacts missing from the tree: $missing " +
        "(commit the artifact or correct the claim)")
  }

  test("every source-cited artifact (scaladoc, OPTIMIZATION docs) exists") {
    val missing = missingLines.filterNot(_.startsWith("BASELINE.md: "))
    assert(missing.isEmpty,
      s"source files cite artifacts missing from the tree: $missing " +
        "(commit the artifact or correct the citation)")
    assert(repoCode === 0, repoOut)
  }

  test("the ledger check fails on a BASELINE.md naming a missing artifact") {
    val root = Files.createTempDirectory("ledger-spec")
    Files.writeString(root.resolve("BASELINE.md"), "oracle: CORRECTNESS_x_r99.json\n")
    val (code, out) =
      try checkLedger(root)
      finally { Files.delete(root.resolve("BASELINE.md")); Files.delete(root) }
    assert(code === 1, out)
    assert(out.contains("BASELINE.md: CORRECTNESS_x_r99.json"), out)
  }
}
