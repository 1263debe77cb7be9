package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** The serving layer's simplified quality score (`app.py:184-196` — VERDICT
  * r04 "missing" #4, the one quality variant nobody had ported). Oracle
  * values computed by running the reference's own pandas formula
  * (`df.size`, `isnull+(df=='')`, `round((1-ratio)*100, 1)`) on the same
  * grids — see values in comments. */
class SimplifiedQualitySpec extends AnyFunSuite {

  private val checker = new QualityChecker()

  test("pandas-oracle cases") {
    // pd.DataFrame([['a','b'],['c','']]) → 75.0
    assert(checker.simplifiedScore(Vector(Vector("a", "b"), Vector("c", ""))) == 75.0)
    // all-empty 2x3 → 0.0
    assert(checker.simplifiedScore(Vector(Vector("", "", ""), Vector("", "", ""))) == 0.0)
    // single full cell → 100.0
    assert(checker.simplifiedScore(Vector(Vector("x"))) == 100.0)
    // degenerate empty frame → ratio 1.0 → 0.0
    assert(checker.simplifiedScore(Vector.empty) == 0.0)
  }

  test("real page-1 grid scores 38.7 (pandas oracle on the reference xlsx rows)") {
    // 160 cells, 98 empty: round((1 - 98/160) * 100, 1) = 38.7
    for ((source, grid) <- RealPage1.grids) {
      assert(grid.map(_.length).sum == 160, source)
      assert(checker.simplifiedScore(grid) == 38.7, source)
    }
  }

  test("banker's rounding parity with CPython round(x, 1)") {
    assert(Py.round2(0.25, 1) == 0.2)  // true tie → even
    assert(Py.round2(0.35, 1) == 0.3)  // 0.35 stores below the midpoint
    assert(Py.round2(62.5, 0) == 62.0)
    assert(Py.round2(63.5, 0) == 64.0)
  }
}
