package graft.kernel

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** S9 xlsx sink parity (VERDICT r04 "next round" #6): the deterministic
  * workbook writer, its reader, and — the gate that matters — cell-content
  * equality against the reference's own committed `test_driscoll_page.xlsx`
  * (11×16) through the REAL pipeline (parseNative + newark template +
  * slicer on the real page-1 PDF). */
class XlsxSpec extends AnyFunSuite {

  private val grids = Seq(
    Vector(Vector("a", "b"), Vector("c", "")),
    Vector(Vector("")),
    Vector.empty[Vector[String]],
    Vector(Vector("he<llo&", ">quote\"", "comma,cell"),
           Vector(" lead", "trail ", "mid dle")),
    Vector(Vector("ünïcodé ©", "日本語", "O'Lakes")))

  test("write → read roundtrip preserves every cell") {
    for (g <- grids) {
      val got = Xlsx.readCells(Xlsx.write(g))
      val want = g.filter(_ => true)
      assert(got == want.map(_.toVector), s"grid $g came back as $got")
    }
  }

  test("writer is deterministic: equal grids → byte-identical workbooks") {
    for (g <- grids)
      assert(java.util.Arrays.equals(Xlsx.write(g), Xlsx.write(g)))
  }

  test("Excel sheet limits throw (the CSV-fallback trigger)") {
    intercept[IllegalArgumentException] {
      Xlsx.write(Vector.fill(Xlsx.MaxRows + 1)(Vector("x")))
    }
    intercept[IllegalArgumentException] {
      Xlsx.write(Vector(Vector.fill(Xlsx.MaxCols + 1)("x")))
    }
  }

  test("reader handles the reference's own openpyxl workbook (11x16 golden)") {
    val bytes = Files.readAllBytes(
      Paths.get(RealPdf.Dir, "test_driscoll_page.xlsx"))
    val cells = Xlsx.readCells(bytes, padCols = 16)
    assert(cells.length == 11)
    assert(cells.forall(_.length == 16))
    // row 1 is pandas' numeric header (this golden predates the
    // header=False call at table_slicer.py:155): column indices 0..15
    assert(cells.head == (0 until 16).map(_.toString).toVector)
  }

  test("real pipeline grid == the reference's test_driscoll_page.xlsx cells") {
    val golden = Xlsx.readCells(Files.readAllBytes(
      Paths.get(RealPdf.Dir, "test_driscoll_page.xlsx")), padCols = 16)
    val pdf = Files.readAllBytes(Paths.get(RealPdf.Dir,
      "DRISCOLL CF ORDERS FOR THE WEEK OF SEPTEMBER 8, 2025_page1.pdf"))
    val grid = RealPdf.funnel(pdf).grid
    // the golden's row 1 is pandas' numeric header row; rows 2..11 are
    // the page-1 table
    assert(golden.drop(1) == grid, "cell content diverged from the golden")
  }

  test("our workbook for the real page-1 grid reads back identically") {
    for ((source, grid) <- RealPage1.grids)
      assert(Xlsx.readCells(Xlsx.write(grid), padCols = 16) == grid, source)
  }
}
