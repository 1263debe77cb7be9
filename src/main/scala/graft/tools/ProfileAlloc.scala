package graft.tools

import graft.kernel._

/** Per-route ALLOCATION profile (bytes allocated per doc, via the JVM's
  * per-thread allocation counter). Allocation is the scaling currency on a
  * shared heap: N threads share one allocator/GC, so bytes/doc bounds
  * multithreaded efficiency more tightly than CPU does. */
object ProfileAlloc {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 6000
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val pages = (0L until n.toLong).map(Corpus.page(_)).toVector
    pages.take(500).foreach(p => Extractor.extract(p.url, p.html, p.text, p.lang))

    val byRoute = scala.collection.mutable.Map[String, (Long, Long)]() // bytes, docs
    for (p <- pages) {
      val a0 = mx.getThreadAllocatedBytes(tid)
      val d = Extractor.extract(p.url, p.html, p.text, p.lang)
      val da = mx.getThreadAllocatedBytes(tid) - a0
      val (b, c) = byRoute.getOrElse(d.route, (0L, 0L))
      byRoute(d.route) = (b + da, c + 1)
    }
    var tot = 0L; var totd = 0L
    byRoute.toSeq.sortBy(-_._2._1).foreach { case (r, (b, c)) =>
      tot += b; totd += c
      println(f"[alloc] $r%-8s docs=$c%6d  kB/doc=${b / 1024.0 / c}%9.1f  totalMB=${b / 1e6}%8.1f")
    }
    println(f"[alloc] ALL      docs=$totd%6d  kB/doc=${tot / 1024.0 / totd}%9.1f  totalMB=${tot / 1e6}%8.1f")

    // pdf stage split
    val pdfPages = pages.filter(p => PdfLite.isPdf(p.html)).take(2500)
    var aP = 0L; var aS = 0L; var aQ = 0L
    val slicer = new Slicer(defaultRowThreshold = Extractor.PipelineRowThreshold)
    val checker = new QualityChecker()
    val templates = Vendor.builtinTemplates
    for (p <- pdfPages) {
      var a = mx.getThreadAllocatedBytes(tid)
      val parsed = PdfLite.parse(p.html)
      aP += mx.getThreadAllocatedBytes(tid) - a
      val tpl = Vendor.detectVendor(parsed.items,
        templates.keys.toVector.sorted.map(v => v -> Vector(v))).flatMap(v => Vendor.getTemplate(v, templates))
      a = mx.getThreadAllocatedBytes(tid)
      val cells = tpl.map(t => slicer.sliceToTable(parsed.items, t.tableBox, t.columns, page = Some(1)))
      aS += mx.getThreadAllocatedBytes(tid) - a
      a = mx.getThreadAllocatedBytes(tid)
      cells.foreach(c => checker.checkExtraction(c, parsed.items))
      aQ += mx.getThreadAllocatedBytes(tid) - a
    }
    println(f"[alloc] pdf stages kB/doc: parse=${aP/1024.0/pdfPages.size}%.1f slice=${aS/1024.0/pdfPages.size}%.1f quality=${aQ/1024.0/pdfPages.size}%.1f over ${pdfPages.size} docs")
    // slice sub-stages
    var aF = 0L; var aT = 0L; var aG = 0L; var aB = 0L
    for (p <- pdfPages) {
      val parsed = PdfLite.parse(p.html)
      val tpl = Vendor.detectVendor(parsed.items,
        templates.keys.toVector.sorted.map(v => v -> Vector(v))).flatMap(v => Vendor.getTemplate(v, templates))
      tpl.foreach { t =>
        var a = mx.getThreadAllocatedBytes(tid)
        val pageF = parsed.items.filter(_.page == 1)
        val inBox = slicer.filterInBox(pageF, t.tableBox)
        aF += mx.getThreadAllocatedBytes(tid) - a
        if (inBox.nonEmpty) {
          a = mx.getThreadAllocatedBytes(tid)
          val thr = slicer.getAdaptiveRowThreshold(inBox)
          aT += mx.getThreadAllocatedBytes(tid) - a
          a = mx.getThreadAllocatedBytes(tid)
          val rows = slicer.groupIntoRows(inBox, thr)
          aG += mx.getThreadAllocatedBytes(tid) - a
          a = mx.getThreadAllocatedBytes(tid)
          slicer.binIntoColumnsWithSplitting(rows, t.columns)
          aB += mx.getThreadAllocatedBytes(tid) - a
        }
      }
    }
    val kp = 1024.0 * pdfPages.size
    println(f"[alloc] slice sub kB/doc: filter=${aF/kp}%.1f adaptive=${aT/kp}%.1f group=${aG/kp}%.1f bin=${aB/kp}%.1f")

    // html split
    val htmlPages = pages.filter(p => !PdfLite.isPdf(p.html)).take(2500)
    var aH = 0L; var aParse = 0L; var aSel = 0L; var aSer = 0L; var aCells = 0L
    for (p <- htmlPages) {
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      var a = mx.getThreadAllocatedBytes(tid)
      Html.extract(html)
      aH += mx.getThreadAllocatedBytes(tid) - a
      a = mx.getThreadAllocatedBytes(tid)
      val root = Html.parse(html)
      aParse += mx.getThreadAllocatedBytes(tid) - a
      a = mx.getThreadAllocatedBytes(tid)
      val main = Html.selectMain(root)
      aSel += mx.getThreadAllocatedBytes(tid) - a
      a = mx.getThreadAllocatedBytes(tid)
      main.foreach(Html.serialize)
      aSer += mx.getThreadAllocatedBytes(tid) - a
      a = mx.getThreadAllocatedBytes(tid)
      main.foreach(Html.tableCells)
      aCells += mx.getThreadAllocatedBytes(tid) - a
    }
    val k = 1024.0 * htmlPages.size
    println(f"[alloc] html extract kB/doc=${aH/k}%.1f (parse=${aParse/k}%.1f select=${aSel/k}%.1f serialize=${aSer/k}%.1f cells=${aCells/k}%.1f) over ${htmlPages.size} docs")
  }
}
