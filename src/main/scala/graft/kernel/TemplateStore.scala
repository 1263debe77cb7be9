package graft.kernel

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The template registry as DATA — S7 (store scan) and S8 (store sink),
  * porting `TemplateManager.load_templates` / `save_templates`
  * (`template.py:102-169`):
  *
  *  - '''load''': JSON file → per-vendor [[Template.validated]]; invalid
  *    entries are skipped (not fatal), keys lower-cased, a missing or
  *    unparseable file yields the empty registry — byte-for-byte the
  *    reference's failure ladder.
  *  - '''save''': atomic — optional `.backup` via atomic move of the old
  *    file, then write `.tmp` and `os.replace`-style atomic move into place
  *    (`template.py:155-162`).
  *
  * This is config-plane I/O: the registry is KBs, loaded ONCE on the driver
  * and serialized into the job's `extract_doc` expression
  * ([[graft.functions.ExtractDocExpr]]); it is never shuffled with data.
  * Timestamps are caller-supplied (`nowIso`), never read from a clock here —
  * determinism rule SURVEY §7.5.5.
  */
object TemplateStore {

  private val mapper = new ObjectMapper()

  private def intVector(n: JsonNode): Vector[Int] =
    if (n == null || !n.isArray) Vector.empty
    else n.elements().asScala.map(_.asInt()).toVector

  /** One entry from its JSON node — `TableTemplate.from_dict`
    * (`template.py:77-87`); returns None on missing required fields. */
  def fromJson(vendor: String, n: JsonNode): Option[Template] = {
    if (n == null || !n.isObject) return None
    val box = intVector(n.get("table_box"))
    val cols = intVector(n.get("columns"))
    if (box.isEmpty || cols.isEmpty) return None
    val name = if (n.hasNonNull("vendor")) n.get("vendor").asText() else vendor
    val conf = if (n.hasNonNull("confidence")) n.get("confidence").asDouble() else 1.0
    val created = if (n.hasNonNull("created")) n.get("created").asText() else ""
    val modified = if (n.hasNonNull("modified")) n.get("modified").asText() else ""
    Some(Template(name, box, cols, conf, created, modified))
  }

  /** Load + validate a registry file. Mirrors `load_templates`
    * (`template.py:102-132`): missing file → empty; invalid JSON → empty;
    * per-vendor parse/validate failures skip that vendor only. */
  def load(path: String): Map[String, Template] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Map.empty
    val root =
      try mapper.readTree(Files.readAllBytes(p))
      catch { case NonFatal(_) => return Map.empty }
    if (root == null || !root.isObject) return Map.empty
    root.properties().asScala.iterator.flatMap { e =>
      try fromJson(e.getKey, e.getValue)
        .flatMap(_.validated)
        .map(t => e.getKey.toLowerCase -> t)
      catch { case NonFatal(_) => None }
    }.toMap
  }

  /** Serialize one template — `TableTemplate.to_dict` (`template.py:64-75`):
    * `created` defaults to `nowIso` when unset, `modified` is always stamped
    * with `nowIso`. */
  def toJson(t: Template, nowIso: String): ObjectNode = {
    val o = mapper.createObjectNode()
    def ints(v: Vector[Int]): ArrayNode = {
      val a = mapper.createArrayNode(); v.foreach(a.add); a
    }
    o.set[ObjectNode]("table_box", ints(t.tableBox))
    o.set[ObjectNode]("columns", ints(t.columns))
    o.put("vendor", t.vendor)
    o.put("created", if (t.created.nonEmpty) t.created else nowIso)
    o.put("modified", nowIso)
    o.put("confidence", t.confidence)
    o
  }

  /** Atomic save with optional backup — `save_templates`
    * (`template.py:134-169`) semantics, with one deliberate hardening over
    * the reference: the new content is FULLY WRITTEN to the tmp file before
    * the old registry is touched (the reference backs up first, so a failed
    * write leaves no registry at the canonical path at all). Order here:
    * write tmp → copy old to `.backup` → atomic move tmp into place. A
    * failure at any step returns false with the previous registry intact.
    * Never throws; cleans up the tmp file. */
  def save(path: String, templates: Map[String, Template],
           makeBackup: Boolean = true, nowIso: String = ""): Boolean = {
    val p = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    try {
      val root = mapper.createObjectNode()
      templates.toSeq.sortBy(_._1).foreach { case (vendor, t) =>
        root.set[ObjectNode](vendor, toJson(t, nowIso))
      }
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(root))
      if (makeBackup && Files.exists(p))
        Files.copy(p, Paths.get(path + ".backup"),
          StandardCopyOption.REPLACE_EXISTING)
      atomicMove(tmp, p)
      true
    } catch {
      case NonFatal(_) =>
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
        false
    }
  }

  private def atomicMove(from: Path, to: Path): Unit =
    try Files.move(from, to, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(from, to, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Programmatic template CREATION — the reference's human-in-the-loop
    * flow (`table_slicer.py:171-232`: draw the table box, click the column
    * guides, save) minus the GUI: validate the drawn geometry
    * ([[graft.kernel.Template.validated]] — auto-sort guides, clamp the
    * outer guides into the box), merge into the registry under the
    * normalized vendor key, persist atomically. Replacing an existing
    * vendor PRESERVES its `created` provenance; `modified` is stamped by
    * the save's `nowIso` (the reference's to_dict semantics). Returns the
    * normalized template, or the failure reason — an invalid creation
    * never touches the registry file. */
  def create(path: String, vendor: String, tableBox: Vector[Int],
             columns: Vector[Int], confidence: Double = 1.0,
             nowIso: String = "", makeBackup: Boolean = true)
      : Either[String, Template] = {
    val key = vendor.trim.toLowerCase
    if (key.isEmpty) return Left("invalid_vendor")
    Template(key, tableBox, columns, confidence).validated match {
      case None => Left("invalid_template")
      case Some(t0) =>
        val existing = load(path)
        val t = existing.get(key) match {
          case Some(old) if old.created.nonEmpty => t0.copy(created = old.created)
          case _ => t0.copy(created = nowIso)
        }
        if (save(path, existing.updated(key, t), makeBackup, nowIso)) Right(t)
        else Left("save_failed")
    }
  }

  /** A9 — registry statistics, `get_stats` (`template.py:308-336`). */
  final case class Stats(count: Int, vendors: Vector[String], avgColumns: Double,
                         minColumns: Int, maxColumns: Int,
                         newest: String, oldest: String)

  def stats(templates: Map[String, Template]): Stats = {
    if (templates.isEmpty) return Stats(0, Vector.empty, 0.0, 0, 0, "", "")
    val colCounts = templates.values.map(_.columns.length - 1).toVector
    val dates = templates.values.map(_.created).filter(_.nonEmpty).toVector
    Stats(
      templates.size,
      templates.keys.toVector.sorted,
      colCounts.sum.toDouble / colCounts.length,
      colCounts.min, colCounts.max,
      if (dates.nonEmpty) dates.max else "",
      if (dates.nonEmpty) dates.min else "")
  }
}
