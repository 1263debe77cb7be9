package graft.kernel

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Page 1 of the reference's real DRISCOLL batch, for the specs that check
  * its table grid. Two sources carry that grid:
  *
  *  - `data/realpdf_page1_grid.tsv`, committed: the first 10 rows (16 cells
  *    each) of the reference's own `NEWARK_SMART_20250902_120119.xlsx`,
  *    written by `tools/gen_golden_realpdf.py`;
  *  - the page-1 PDF under [[RealPdf.Dir]], run through [[RealPdf.funnel]],
  *    wherever the reference corpus is present. */
object RealPage1 {

  val pdf: Path = Paths.get(RealPdf.Dir,
    "DRISCOLL CF ORDERS FOR THE WEEK OF SEPTEMBER 8, 2025_page1.pdf")

  /** `realpdf_page1_grid.tsv` as rows of cells; empty trailing cells kept. */
  def committedGrid: Vector[Vector[String]] =
    Files.readAllLines(
      Paths.get(graft.operators.ExtractOps.GoldenDir, "realpdf_page1_grid.tsv"),
      StandardCharsets.UTF_8).asScala.toVector
      .map(_.split("\t", -1).toVector)

  /** Every page-1 grid a check can run on, each with a label for assertion
    * messages: the committed xlsx rows always, the funnel's grid whenever
    * the page-1 PDF exists. */
  def grids: Seq[(String, Vector[Vector[String]])] =
    ("committed reference xlsx rows" -> committedGrid) +:
      (if (Files.isRegularFile(pdf))
        Seq("RealPdf.funnel grid" -> RealPdf.funnel(Files.readAllBytes(pdf)).grid)
      else Nil)
}
