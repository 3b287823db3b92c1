package graft

import org.scalatest.exceptions.TestCanceledException
import org.scalatest.funsuite.AnyFunSuite

/** The reference-tree guard the corpus suites share: a readable file is
  * present and lets the test run; an absent one cancels it by name. */
class GoCorpusSpec extends AnyFunSuite {

  private val inRepo = "build.sbt"
  private val absent = "src/test/resources/no-such-corpus-file.go"

  test("present holds only when every path is a readable file") {
    assert(GoCorpus.present(inRepo))
    assert(!GoCorpus.present(absent))
    assert(!GoCorpus.present(inRepo, absent))
    assert(!GoCorpus.present("src/test"), "a directory is not a corpus file")
  }

  test("assumePresent passes over present files and cancels naming the " +
      "first absent one") {
    GoCorpus.assumePresent(inRepo)
    val e = intercept[TestCanceledException] {
      GoCorpus.assumePresent(inRepo, absent, "also-absent.go")
    }
    assert(e.getMessage.contains(absent))
    assert(!e.getMessage.contains("also-absent.go"))
  }
}
