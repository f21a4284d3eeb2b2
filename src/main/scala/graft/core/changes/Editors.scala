package graft.core.changes

import graft.core.yaml._
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption}
import scala.collection.mutable

/** Pure YAML-entry edit kernels (testable without I/O) — the only YAML
  * logic the processor applies (`storage/file_content_editors.py`).
  */
object ResourceFileEditor {

  /** Canonical key order for model entries
    * (`storage/file_content_editors.py:57-78`): identity keys first,
    * governance keys next, columns last. */
  private val keyOrder = Vector(
    "name", "description", "latest_version", "access", "group", "config",
    "meta", "tests", "versions", "columns")

  def formatResource(m: YMap): YMap = {
    val (known, unknown) = m.entries.partition { case (k, _) => keyOrder.contains(k) }
    val sorted = known.sortBy { case (k, _) => keyOrder.indexOf(k) }
    val (cols, rest) = sorted.partition(_._1 == "columns")
    YMap(rest ++ unknown ++ cols)
  }

  /** Merge `data` for entry `identifier` under `pluralKey` into properties
    * document `doc` (Add and Update share semantics: deep merge via
    * NamedList-indexed safeUpdate; `storage/file_content_editors.py:164-244`).
    * When `sourceName` is set the edit targets the *source* entry keyed by
    * that name (`update_resource`, file_content_editors.py:165-176): `data`
    * is the source-entry payload carrying the table under `tables`, and the
    * recursive NamedList merge lands the table by name without clobbering
    * the stanza's other tables. */
  def upsertEntry(doc: YMap, pluralKey: String, identifier: String, data: YMap,
      sourceName: Option[String] = None): YMap = {
    val base = doc.get(pluralKey) match {
      case Some(l: YList) => l
      case _ => YList(Vector.empty)
    }
    val entryKey = sourceName.getOrElse(identifier)
    val idxField = if (pluralKey == "versions") "v" else "name"
    val existingIdx = base.items.indexWhere {
      case m: YMap => m.get("name").exists(_.asStr == entryKey)
      case _ => false
    }
    val withName = if (data.contains("name")) data else
      YMap(("name" -> (YStr(entryKey): Y)) +: data.entries)
    val merged =
      if (existingIdx >= 0) {
        val cur = base.items(existingIdx).asMap
        val curIdx = Merge.toIndexed(cur, idxField).asMap
        val newIdx = Merge.toIndexed(withName, idxField).asMap
        Merge.fromIndexed(Merge.safeUpdate(curIdx, newIdx), idxField).asMap
      } else withName
    val formatted = if (pluralKey == "models") formatResource(merged) else merged
    val newList =
      if (existingIdx >= 0) YList(base.items.updated(existingIdx, formatted))
      else YList(base.items :+ (formatted: Y))
    val withVersion = if (doc.contains("version")) doc else
      YMap(("version" -> (YInt(2): Y)) +: doc.entries)
    withVersion.updated(pluralKey, newList)
  }

  /** Remove entry `identifier`; for sources, `sourceName` scopes a nested
    * table removal with empty-source cleanup. Returns None when only
    * `version:` remains → delete the file
    * (`storage/file_content_editors.py:219-244`). */
  def removeEntry(doc: YMap, pluralKey: String, identifier: String,
      sourceName: Option[String]): Option[YMap] = {
    val base = doc.get(pluralKey) match {
      case Some(l: YList) => l
      case _ => YList(Vector.empty)
    }
    val newList: YList = sourceName match {
      case Some(src) =>
        YList(base.items.flatMap {
          case m: YMap if m.get("name").exists(_.asStr == src) =>
            val tables = m.get("tables") match {
              case Some(l: YList) => l
              case _ => YList(Vector.empty)
            }
            val remaining = YList(tables.items.filterNot {
              case t: YMap => t.get("name").exists(_.asStr == identifier)
              case _ => false
            })
            if (remaining.items.isEmpty) None
            else Some(m.updated("tables", remaining): Y)
          case other => Some(other)
        })
      case None =>
        YList(base.items.filterNot {
          case m: YMap => m.get("name").exists(_.asStr == identifier)
          case _ => false
        })
    }
    val newDoc =
      if (newList.items.isEmpty) doc.removed(pluralKey)
      else doc.updated(pluralKey, newList)
    if (newDoc.keys.forall(_ == "version")) None else Some(newDoc)
  }
}

final case class ChangeSetProcessorException(step: Change, cause: Throwable)
  extends RuntimeException(s"failed applying: ${step.describe}", cause)

/** Pending content of a path a ChangeSet touches. */
private sealed trait Pending
private final case class Doc(doc: YMap) extends Pending
private final case class Bytes(bytes: Array[Byte]) extends Pending
private case object Dir extends Pending
private case object Deleted extends Pending

/** Staged, all-or-nothing interpreter (`change_set_processor.py:24-61`,
  * `storage/file_manager.py`). Each change folds into an in-memory view of
  * the paths it touches, so a properties file is parsed at most once and
  * dumped at most once per call, and the first step that cannot stage
  * fails before anything is written. The commit then writes each touched
  * path once (a sibling temp file, then an atomic move), deletes last, and
  * on failure restores the files it replaced and removes the files and
  * directories it created. Dry-run stages too, so it fails on the same
  * step a real run would, but never commits. */
final class ChangeSetProcessor(root: Path, dryRun: Boolean = false,
    log: String => Unit = _ => ()) {

  def process(sets: Seq[ChangeSet]): Unit = {
    val flat = sets.flatMap(_.changes)
    val stage = new Stage
    flat.zipWithIndex.foreach { case (c, i) =>
      log(s"[${i + 1}/${flat.size}] ${c.describe}")
      try stage(c)
      catch { case e: Throwable => throw ChangeSetProcessorException(c, e) }
    }
    if (!dryRun) stage.commit()
  }

  private final class Stage {
    /** Touched paths in first-touch order, each with the last step on it. */
    private val pending = mutable.LinkedHashMap.empty[Path, (Pending, Change)]
    /** Each path's bytes as first read from disk (None = no file): the
      * staging input and the commit's rollback copy. */
    private val disk = mutable.HashMap.empty[Path, Option[Array[Byte]]]

    private def abs(p: String): Path = root.resolve(p).normalize()

    private def onDisk(p: Path): Option[Array[Byte]] = disk.getOrElseUpdate(p,
      if (Files.isRegularFile(p)) Some(Files.readAllBytes(p)) else None)

    private def current(p: Path): Option[Pending] =
      pending.get(p).map(_._1).orElse(onDisk(p).map(Bytes))

    private def doc(p: Path): YMap = current(p) match {
      case Some(Doc(d)) => d
      case Some(Bytes(b)) => Yaml.parseMap(UTF_8.newDecoder.decode(ByteBuffer.wrap(b)).toString)
      case _ => YMap.empty
    }

    private def bytes(p: Path): Option[Array[Byte]] = current(p) match {
      case Some(Doc(d)) => Some(Yaml.dump(d).getBytes(UTF_8))
      case Some(Bytes(b)) => Some(b)
      case _ => None
    }

    def apply(change: Change): Unit = {
      val p = abs(change.path)
      val next = change match {
        case rc: ResourceChange =>
          val plural = rc.entityType.pluralKey.getOrElse(
            throw new IllegalArgumentException(s"${rc.entityType.name} is not YAML-backed"))
          rc.op match {
            case Operation.Add | Operation.Update | Operation.Append =>
              Doc(ResourceFileEditor.upsertEntry(doc(p), plural, rc.identifier, rc.data, rc.sourceName))
            case Operation.Remove =>
              ResourceFileEditor.removeEntry(doc(p), plural, rc.identifier, rc.sourceName)
                .fold[Pending](Deleted)(Doc)
            case op => throw new IllegalArgumentException(
              s"ResourceChange ${op.verb} is not defined (plan a move as Remove+Add)")
          }
        case fc: FileChange => fc.op match {
          case Operation.Add | Operation.Update => Bytes(fc.data.getOrElse("").getBytes(UTF_8))
          case Operation.Append => Bytes(bytes(p).getOrElse(Array.emptyByteArray) ++
            fc.data.getOrElse("").getBytes(UTF_8))
          case Operation.Copy | Operation.Move =>
            val src = abs(fc.source.getOrElse(
              throw new IllegalArgumentException(s"${fc.op.verb} needs source")))
            val b = bytes(src).getOrElse(throw new NoSuchFileException(src.toString))
            if (fc.op == Operation.Move) pending(src) = (Deleted, fc)
            Bytes(b)
          case Operation.Remove => Deleted
        }
        case dc: DirectoryChange if dc.op == Operation.Add => Dir
        case dc => throw new IllegalArgumentException(s"directory op ${dc.op.verb} unsupported")
      }
      pending(p) = (next, change)
    }

    def commit(): Unit = {
      // every path this commit created, replaced or deleted, with its bytes
      // before (None = it did not exist), in commit order
      val journal = mutable.ArrayBuffer.empty[(Path, Option[Array[Byte]])]
      def mkdirs(d: Path): Unit =
        Iterator.iterate(d)(_.getParent).takeWhile(x => x != null && !Files.exists(x))
          .toVector.reverse.foreach { x => Files.createDirectory(x); journal += x -> None }
      def write(p: Path, b: Array[Byte]): Unit = {
        mkdirs(p.getParent)
        val tmp = p.resolveSibling(s".${p.getFileName}.graft-staged")
        journal += tmp -> None
        Files.write(tmp, b)
        val prior = onDisk(p)
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        journal += p -> prior
      }

      var step: Change = null
      try {
        for ((p, (state, c)) <- pending) {
          step = c
          state match {
            case Dir => mkdirs(p)
            case Doc(d) => write(p, Yaml.dump(d).getBytes(UTF_8))
            case Bytes(b) => write(p, b)
            case Deleted =>
          }
        }
        for ((p, (Deleted, c)) <- pending) {
          step = c
          val prior = onDisk(p)
          if (Files.deleteIfExists(p)) journal += p -> prior
        }
      } catch {
        case e: Throwable =>
          journal.reverseIterator.foreach { case (p, prior) =>
            try prior match {
              case Some(b) => Files.write(p, b)
              case None => Files.deleteIfExists(p)
            } catch { case u: Throwable => e.addSuppressed(u) }
          }
          throw ChangeSetProcessorException(step, e)
      }
    }
  }
}
