package graft

import org.scalatest.funsuite.AnyFunSuite

/** The soak harness's own bookkeeping: the mode table and the shared
  * flatness gate. No case builds a session or calls `main`. */
class ProbeSoakSpec extends AnyFunSuite {

  test("flatness gate: two scales anchor at the first, three at the second") {
    assert(ProbeSoak.anchorScale(Seq(1, 2)) == 1)
    assert(ProbeSoak.anchorScale(Seq(1, 2, 4)) == 2)
    // two scales: 3x growth from x1 fails, 1.9x passes
    val e = intercept[IllegalArgumentException] {
      ProbeSoak.requireFlat("t", Map(1 -> 1.0, 2 -> 3.0), Seq(1, 2))
    }
    assert(e.getMessage.contains("x1=1.00 -> x2=3.00"))
    ProbeSoak.requireFlat("t", Map(1 -> 1.0, 2 -> 1.9), Seq(1, 2))
    // three scales: the x1 reading is not the anchor, in either direction
    ProbeSoak.requireFlat("t", Map(1 -> 1.0, 2 -> 2.0, 4 -> 3.5), Seq(1, 2, 4))
    intercept[IllegalArgumentException] {
      ProbeSoak.requireFlat("t", Map(1 -> 10.0, 2 -> 1.0, 4 -> 3.0), Seq(1, 2, 4))
    }
    // factor and slack: maintained's 2.5x + 1 s
    ProbeSoak.requireFlat("t", Map(1 -> 1.0, 2 -> 3.5), Seq(1, 2), factor = 2.5, slack = 1.0)
    intercept[IllegalArgumentException] {
      ProbeSoak.requireFlat("t", Map(1 -> 1.0, 2 -> 3.6), Seq(1, 2), factor = 2.5, slack = 1.0)
    }
    // one scale: nothing to compare
    ProbeSoak.requireFlat("t", Map(1 -> 1.0), Seq(1))
  }

  test("mode table: exactly the kept modes; an unknown mode throws before a session") {
    assert(ProbeSoak.Modes.keySet == Set("gen", "run", "extract", "linkrank",
      "warc", "cluster", "bm25", "serve", "maintained", "logio", "xmodal",
      "knn2", "stream"))
    // `main` resolves the mode before it builds the session
    val e = intercept[IllegalArgumentException](ProbeSoak.mode("ann"))
    assert(e.getMessage.contains("unknown ProbeSoak mode 'ann'"))
    assert(e.getMessage.contains("maintained"))
    assert(ProbeSoak.mode("logio") eq ProbeSoak.Modes("logio"))
    // so are scales the header names too small for a mode's gates
    val small = Seq("cluster" -> Seq(1, 2), "logio" -> Seq(1, 4), "xmodal" -> Seq(1))
    small.foreach { case (name, scales) =>
      val e = intercept[IllegalArgumentException](ProbeSoak.requireValidScales(name, scales))
      assert(e.getMessage.contains(name), e.getMessage)
    }
    ProbeSoak.requireValidScales("cluster", Seq(1, 2, 4))
    ProbeSoak.requireValidScales("logio", Seq(4, 8))
    ProbeSoak.requireValidScales("xmodal", Seq(20))
    ProbeSoak.requireValidScales("extract", Seq(1, 2))
  }
}
