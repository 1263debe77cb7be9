package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** One timed call at a layer boundary. `parent` is the id of the span that
  * caused it (-1 for a root); `doc` names the document or job it worked on;
  * `allocBytes` is the calling thread's allocation inside it, or -1 when the
  * span was not measured for allocation (work spread over other threads). */
final case class Span(id: Int, name: String, parent: Int, doc: String,
                      startNs: Long, endNs: Long, allocBytes: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def s: Double = (endNs - startNs) / 1e9
}

/** In-memory span log, written out once when the run ends. Spans are
  * recorded only by the benchmark, around its own calls into the program. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def all: Vector[Span] = synchronized(buf.toVector)
  def named(name: String): Vector[Span] = all.filter(_.name == name)

  def add(name: String, parent: Int, doc: String, startNs: Long, endNs: Long,
          allocBytes: Long = -1L): Int = synchronized {
    val id = buf.length
    buf += Span(id, name, parent, doc, startNs, endNs, allocBytes)
    id
  }

  /** Opens a span now; [[close]] sets its end. */
  def open(name: String, parent: Int, doc: String): Int = {
    val t = System.nanoTime()
    add(name, parent, doc, t, t)
  }

  def close(id: Int): Unit = synchronized {
    buf(id) = buf(id).copy(endNs = System.nanoTime())
  }

  /** Times `f` on the calling thread, recording its allocation too. */
  def time[A](name: String, parent: Int, doc: String)(f: => A): (A, Int) = {
    val tid = Thread.currentThread().getId
    val a0 = threads.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    val a1 = threads.getThreadAllocatedBytes(tid)
    (r, add(name, parent, doc, t0, t1, a1 - a0))
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("id\tname\tparent\tdoc\tstart_ns\tend_ns\talloc_bytes\n")
    all.foreach(s => sb.append(s"${s.id}\t${s.name}\t${s.parent}\t${s.doc}\t" +
      s"${s.startNs}\t${s.endNs}\t${s.allocBytes}\n"))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Nearest-rank percentile; 0 for an empty sample (the route is absent). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
