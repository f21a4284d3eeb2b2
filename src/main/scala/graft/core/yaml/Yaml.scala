package graft.core.yaml

import org.yaml.snakeyaml.LoaderOptions
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.nodes.{NodeId, Tag}
import org.yaml.snakeyaml.resolver.Resolver
import scala.jdk.CollectionConverters._

/** Order-preserving YAML value ADT.
  *
  * The reference round-trips dbt property files with ruamel
  * (`storage/file_manager.py:13-34`: 2/4/2 indents, width 4096) and its
  * merge semantics operate on plain dict/list trees. We model the tree
  * explicitly so merge ops (`safe_update`, NamedList) are pure functions.
  */
sealed trait Y {
  def asMap: YMap = this.asInstanceOf[YMap]
  def asList: YList = this.asInstanceOf[YList]
  def asStr: String = this match {
    case YStr(s) => s
    case YInt(i) => i.toString
    case YDbl(d) => d.toString
    case YBool(b) => b.toString
    case other => throw new IllegalArgumentException(s"not a scalar: $other")
  }
}
final case class YStr(s: String) extends Y
final case class YInt(i: Long) extends Y
final case class YDbl(d: Double) extends Y
final case class YBool(b: Boolean) extends Y
case object YNull extends Y
final case class YList(items: Vector[Y]) extends Y {
  def :+(y: Y): YList = YList(items :+ y)
}
final case class YMap(entries: Vector[(String, Y)]) extends Y {
  def get(k: String): Option[Y] = entries.collectFirst { case (`k`, v) => v }
  def apply(k: String): Y = get(k).getOrElse(YNull)
  def contains(k: String): Boolean = entries.exists(_._1 == k)
  def keys: Vector[String] = entries.map(_._1)
  /** set/replace preserving position; appends if absent. */
  def updated(k: String, v: Y): YMap =
    if (contains(k)) YMap(entries.map { case (key, old) => (key, if (key == k) v else old) })
    else YMap(entries :+ (k -> v))
  def removed(k: String): YMap = YMap(entries.filterNot(_._1 == k))
  /** The maps listed under `k`, by their `name` (the first of a name wins):
    * a properties file's models, sources, groups, or a source's tables. */
  def named(k: String): Map[String, YMap] = get(k) match {
    case Some(YList(items)) => items.reverseIterator.collect {
      case m: YMap if m.contains("name") => m("name").asStr -> m
    }.toMap
    case _ => Map.empty
  }
  def isEmpty: Boolean = entries.isEmpty
}

object YMap {
  val empty: YMap = YMap(Vector.empty)
  def of(kvs: (String, Y)*): YMap = YMap(kvs.toVector)
}
object YList { def of(ys: Y*): YList = YList(ys.toVector) }

object Yaml {

  /** No document-size cap: snakeyaml's default rejects documents over
    * 3 MiB of code points, which a single `schema.yml` of an ordinary
    * large dbt project exceeds (dbt-core's PyYAML loader has no cap). */
  private def loaderOptions: LoaderOptions = {
    val o = new LoaderOptions
    o.setCodePointLimit(Int.MaxValue)
    o
  }

  /** Safe construction, with timestamps kept as their source text: an
    * unquoted `2023-01-01` stays that string, not a `java.util.Date`. */
  private final class TextTimestamps extends SafeConstructor(loaderOptions) {
    yamlConstructors.put(Tag.TIMESTAMP, new ConstructYamlStr)
  }

  /** Parse YAML text (snakeyaml) into the Y ADT, preserving key order. */
  def parse(text: String): Y =
    fromJava(new org.yaml.snakeyaml.Yaml(new TextTimestamps).load[AnyRef](text))

  def parseMap(text: String): YMap = parse(text) match {
    case m: YMap => m
    case YNull => YMap.empty
    case other => throw new IllegalArgumentException(s"expected map, got $other")
  }

  def fromJava(o: AnyRef): Y = o match {
    case null => YNull
    case s: String => YStr(s)
    case b: java.lang.Boolean => YBool(b)
    case i: java.lang.Integer => YInt(i.longValue)
    case l: java.lang.Long => YInt(l)
    case d: java.lang.Double => YDbl(d)
    case f: java.lang.Float => YDbl(f.doubleValue)
    case bd: java.math.BigDecimal => YDbl(bd.doubleValue)
    case bi: java.math.BigInteger => YInt(bi.longValue)
    case m: java.util.Map[_, _] =>
      YMap(m.asScala.toVector.map { case (k, v) =>
        String.valueOf(k) -> fromJava(v.asInstanceOf[AnyRef])
      })
    case l: java.util.List[_] =>
      YList(l.asScala.toVector.map(v => fromJava(v.asInstanceOf[AnyRef])))
    case other => YStr(other.toString)
  }

  /** dbt-style emitter: 2-space map indent, list items indented 2 with
    * `- ` (ruamel mapping=2/sequence=4/offset=2 look), unbounded width. */
  def dump(y: Y): String = {
    val sb = new StringBuilder
    def scalar(v: Y): String = v match {
      case YStr(s) => quoteIfNeeded(s)
      case YInt(i) => i.toString
      case YDbl(d) =>
        if (d == d.floor && !d.isInfinite) "%.1f".formatLocal(java.util.Locale.ROOT, d)
        else d.toString
      case YBool(b) => b.toString
      case YNull => "null"
      case _ => throw new IllegalStateException("not a scalar")
    }
    def write(v: Y, indent: Int, inline: Boolean): Unit = v match {
      case m: YMap if m.entries.isEmpty => sb.append(" {}\n")
      case m: YMap =>
        if (inline) sb.append("\n")
        m.entries.foreach { case (k, value) =>
          sb.append(" " * indent).append(k).append(":")
          value match {
            case _: YMap | _: YList => write(value, indent + 2, inline = true)
            case s => sb.append(" ").append(scalar(s)).append("\n")
          }
        }
      case YList(items) if items.isEmpty => sb.append(" []\n")
      case YList(items) =>
        if (inline) sb.append("\n")
        items.foreach {
          case m: YMap if m.entries.nonEmpty =>
            // the map's entries at +2, its first entry on the dash line
            val start = sb.length
            write(m, indent + 2, inline = false)
            sb.replace(start, start + indent + 2, " " * indent + "- ")
          case l: YList =>
            sb.append(" " * indent).append("-")
            write(l, indent + 2, inline = true)
          case s => sb.append(" " * indent).append("- ").append(scalar(s)).append("\n")
        }
      case s => sb.append(scalar(s)).append("\n")
    }
    write(y, 0, inline = false)
    sb.toString
  }

  private val plainRe = "^[A-Za-z0-9_][A-Za-z0-9_\\- ./()<>=]*$".r
  private val resolver = new Resolver
  private val escapes = Map('\\' -> "\\\\", '"' -> "\\\"", '\n' -> "\\n", '\r' -> "\\r", '\t' -> "\\t")

  /** Plain only when the scalar reads back as this same string (not a
    * number, bool, null or date); otherwise double-quoted with every
    * character YAML would fold or reject escaped. */
  private def quoteIfNeeded(s: String): String =
    if (s.isEmpty) "''"
    else if (plainRe.matches(s) && s.trim == s &&
      resolver.resolve(NodeId.scalar, s, true) == Tag.STR) s
    else s.map(c => escapes.getOrElse(c,
      if (Character.isISOControl(c) || "\u2028\u2029\ufeff\ufffe\uffff".contains(c))
        "\\u%04x".format(c.toInt)
      else c.toString)).mkString("\"", "", "\"")
}
