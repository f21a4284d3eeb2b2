package graft.engine

import graft.core.parse.JinjaLite
import graft.core.parse.JinjaLite.{CallTarget, Framing, RefCall, SourceCall}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statement-level port of dbt Python models to Spark DataFrame
  * transforms.
  *
  * The reference runs arbitrary pandas through dbt-core's Python-model
  * submission (`customer_status_histories.py` is its fixture); a JVM
  * library cannot host CPython, so — in the same bounded-surface spirit
  * as [[graft.core.parse.JinjaLite]] — this interprets the pandas idioms
  * dbt models actually use, mapping each to the equivalent DISTRIBUTED
  * transform (pandas is single-node; the translation is what makes the
  * model survive 100 TB):
  *
  *  - `x = dbt.ref(..)` / `dbt.source(..)`, read by JinjaLite's call
  *    grammar (so `dbt.ref("p", "m", v=1)` too), `.df()` conversions
  *  - `df.sort_values(by=..., ascending=..., inplace=True)`
  *  - `df["c"] = df.groupby(k)[c].shift(±n)`  → lag/lead window
  *  - `df["c"] = df.groupby(k)[c].cumsum()`   → running-sum window
  *  - `df["c"] = df.groupby(k)[c].transform("sum"|"mean"|"max"|"min"|"count")`
  *  - `df = df.merge(other, on=..., how=...)` → join
  *  - `df = df.rename(columns={...})`, `df.drop(columns=[...])`
  *  - `df = df.drop_duplicates(subset=[...])`
  *  - `df = df[df["c"] <op> <lit>]`           → filter
  *  - `df["c"] = df["a"] <op> df["b"] | <lit>` → projection arithmetic
  *  - `df["c"] = df["c"].fillna(<lit>)`, `df.fillna(<lit>, inplace=True)`
  *  - `df = df[["a", "b"]]` projection; `df["c"] = df["c"].astype(t)`
  *  - `df = df.groupby(k, as_index=False).agg(out=("col", "fn"))`
  *  - `df = pd.concat([a, b])`, `df.reset_index()`, `df.nlargest(n, c)`
  *  - `df = pd.merge(a, b, on=..., how=...)` (function form of merge)
  *  - `df["c"] = np.where(df["a"] <op> <lit>, <col|lit>, <col|lit>)`
  *  - `df = df.query("a <op> lit")` (single-predicate form)
  *  - `return df`
  *
  * Anything outside the surface raises with the offending line — the
  * model fails loudly (like dbt's Python submission surfacing a stack
  * trace), never silently wrong. Pure-Python side effects with no frame
  * semantics (imports, `pd.Timedelta(...)`, `dbt.config(...)`, comments)
  * are skipped, matching how the reference's own fixture uses them. */
object PyModelPort {

  private val q = """["']([^"']+)["']"""

  /** `x = <call>` or `x = <call>.df()`, where `<call>` is one
    * `dbt.ref(..)` / `dbt.source(..)` as [[JinjaLite.scan]] reads it. */
  private object CallStmt {
    private val assignRe = """(\w+)\s*=\s*(.+)""".r
    def unapply(line: String): Option[(String, CallTarget)] = line match {
      case assignRe(v, rhs) => JinjaLite.scan(rhs, Framing.Python) match {
        case Vector(c) if c.start == 0 && Set("", ".df()")(rhs.substring(c.end)) =>
          Some(v -> c.target)
        case _ => None
      }
      case _ => None
    }
  }

  // statement regexes (anchored, whitespace-tolerant)
  private val toDfRe = """(\w+)\s*=\s*(\w+)\.(?:df|to_df)\(\)""".r
  private val sortRe =
    """(?:(\w+)\s*=\s*)?(\w+)\.sort_values\(\s*by\s*=\s*([^,)]+|\[[^\]]*\])\s*(?:,\s*ascending\s*=\s*(True|False))?\s*(?:,\s*inplace\s*=\s*True)?\s*\)""".r
  private val shiftRe =
    s"""(\\w+)\\[$q\\]\\s*=\\s*(\\w+)\\.groupby\\(\\s*([^)]+)\\)\\[$q\\]\\.shift\\(\\s*(-?\\d+)\\s*\\)""".r
  private val cumsumRe =
    s"""(\\w+)\\[$q\\]\\s*=\\s*(\\w+)\\.groupby\\(\\s*([^)]+)\\)\\[$q\\]\\.cumsum\\(\\s*\\)""".r
  private val transformRe =
    s"""(\\w+)\\[$q\\]\\s*=\\s*(\\w+)\\.groupby\\(\\s*([^)]+)\\)\\[$q\\]\\.transform\\(\\s*$q\\s*\\)""".r
  private val mergeRe =
    """(\w+)\s*=\s*(\w+)\.merge\(\s*(\w+)\s*,\s*on\s*=\s*([^,)]+|\[[^\]]*\])\s*(?:,\s*how\s*=\s*["'](\w+)["'])?\s*\)""".r
  private val mergeFnRe =
    """(\w+)\s*=\s*pd\.merge\(\s*(\w+)\s*,\s*(\w+)\s*,\s*on\s*=\s*([^,)]+|\[[^\]]*\])\s*(?:,\s*how\s*=\s*["'](\w+)["'])?\s*\)""".r
  private val npWhereRe =
    s"""(\\w+)\\[$q\\]\\s*=\\s*np\\.where\\(\\s*(\\w+)\\[$q\\]\\s*(==|!=|<=|>=|<|>)\\s*(["'][^"']*["']|[-\\d.]+)\\s*,\\s*(\\w+\\[$q\\]|["'][^"']*["']|[-\\d.]+)\\s*,\\s*(\\w+\\[$q\\]|["'][^"']*["']|[-\\d.]+)\\s*\\)""".r
  private val queryRe =
    s"""(\\w+)\\s*=\\s*(\\w+)\\.query\\(\\s*["'](\\w+)\\s*(==|!=|<=|>=|<|>)\\s*('[^']*'|[-\\d.]+)["']\\s*\\)""".r
  private val renameRe =
    """(?:(\w+)\s*=\s*)?(\w+)\.rename\(\s*columns\s*=\s*\{([^}]*)\}\s*(?:,\s*inplace\s*=\s*True)?\s*\)""".r
  private val dropColsRe =
    """(?:(\w+)\s*=\s*)?(\w+)\.drop\(\s*columns\s*=\s*(\[[^\]]*\])\s*(?:,\s*inplace\s*=\s*True)?\s*\)""".r
  private val dropDupRe =
    """(?:(\w+)\s*=\s*)?(\w+)\.drop_duplicates\(\s*(?:subset\s*=\s*(\[[^\]]*\]|["'][^"']+["']))?\s*(?:,?\s*inplace\s*=\s*True)?\s*\)""".r
  private val filterRe =
    s"""(\\w+)\\s*=\\s*(\\w+)\\[\\s*\\2\\[$q\\]\\s*(==|!=|<=|>=|<|>)\\s*([^\\]]+)\\]""".r
  private val colBinRe =
    s"""(\\w+)\\[$q\\]\\s*=\\s*(\\w+)\\[$q\\]\\s*([+\\-*/])\\s*(?:(\\w+)\\[$q\\]|([-\\d.]+))""".r
  private val colLitRe = s"""(\\w+)\\[$q\\]\\s*=\\s*(["'][^"']*["']|[-\\d.]+)""".r
  private val colFillRe = s"""(\\w+)\\[$q\\]\\s*=\\s*(\\w+)\\[$q\\]\\.fillna\\(\\s*(["'][^"']*["']|[-\\d.]+)\\s*\\)""".r
  private val fillAllRe =
    """(?:(\w+)\s*=\s*)?(\w+)\.fillna\(\s*(["'][^"']*["']|[-\d.]+)\s*(?:,\s*inplace\s*=\s*True)?\s*\)""".r
  private val selectColsRe = """(\w+)\s*=\s*(\w+)\[\[([^\]]*)\]\]""".r
  private val astypeRe =
    s"""(\\w+)\\[$q\\]\\s*=\\s*(\\w+)\\[$q\\]\\.astype\\(\\s*$q\\s*\\)""".r
  private val groupAggRe =
    """(\w+)\s*=\s*(\w+)\.groupby\(\s*([^)]+?)\s*(?:,\s*as_index\s*=\s*False\s*)?\)\.agg\(([\s\S]*?)\)""".r
  private val namedAggRe =
    s"""(\\w+)\\s*=\\s*\\(\\s*$q\\s*,\\s*$q\\s*\\)""".r
  private val concatRe =
    """(\w+)\s*=\s*pd\.concat\(\s*\[([^\]]*)\]\s*(?:,\s*ignore_index\s*=\s*True)?\s*\)""".r
  private val resetIndexRe =
    """(?:(\w+)\s*=\s*)?(\w+)\.reset_index\(\s*(?:drop\s*=\s*True)?\s*\)""".r
  private val nlargestRe =
    s"""(\\w+)\\s*=\\s*(\\w+)\\.nlargest\\(\\s*(\\d+)\\s*,\\s*$q\\s*\\)""".r
  private val headRe =
    """(\w+)\s*=\s*(\w+)\.head\(\s*(\d+)\s*\)""".r
  private val pivotRe =
    s"""(\\w+)\\s*=\\s*(\\w+)\\.pivot_table\\(\\s*index\\s*=\\s*$q\\s*,\\s*columns\\s*=\\s*$q\\s*,\\s*values\\s*=\\s*$q\\s*,\\s*aggfunc\\s*=\\s*$q\\s*(?:,\\s*fill_value\\s*=\\s*([-\\d.]+))?\\s*\\)(?:\\.reset_index\\(\\))?""".r
  private val returnRe = """return\s+(\w+)""".r
  private val skipRe =
    """(?:import\s+.*|from\s+.*|dbt\.config\(.*|pd\.\w+\(.*|#.*)?""".r

  private def strList(s: String): Seq[String] = {
    val t = s.trim
    val quoted = """["']([^"']+)["']""".r.findAllMatchIn(t).map(_.group(1)).toSeq
    if (quoted.nonEmpty) quoted
    else t.stripPrefix("[").stripSuffix("]").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  private def lit_(s: String): Column = {
    val t = s.trim
    if (t.startsWith("\"") || t.startsWith("'"))
      lit(t.substring(1, t.length - 1))
    else if (t.contains('.')) lit(t.toDouble)
    else lit(t.toLong)
  }

  /** Interpret the `def model(dbt, session):` body of `code`. */
  def run(code: String,
      resolveRef: RefCall => DataFrame,
      resolveSource: SourceCall => DataFrame): DataFrame = {
    val lines = code.split("\n").toVector
    val defIdx = lines.indexWhere(_.matches("""\s*def\s+model\s*\(.*\)\s*:\s*"""))
    require(defIdx >= 0, "python model: no `def model(dbt, session):` found")
    val body = lines.drop(defIdx + 1)
    val env = scala.collection.mutable.Map.empty[String, DataFrame]
    // pandas shift/cumsum/drop_duplicates follow the frame's CURRENT row
    // order, which dbt models establish with an explicit sort_values
    // first; record those keys PER FRAME (a sort on df1 must not leak
    // into df2's windows) and use them as the window ordering. Falls
    // back to the shifted column itself — the fixture's
    // `sort_values(by=ts)` + `shift(ts)` idiom either way.
    val sortKeys = scala.collection.mutable.Map.empty[String, Seq[Column]]
    def orderFor(frame: String, shiftCol: String): Seq[Column] =
      sortKeys.getOrElse(frame, Seq(col(shiftCol)))

    def win(keys: Seq[String], order: Seq[Column]) = {
      val base = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      if (order.nonEmpty) base.orderBy(order: _*) else base
    }

    // quote-aware comment strip: a '#' inside a string literal (e.g.
    // df["tag"] = "#promo") is content, not a comment
    def stripComment(raw: String): String = {
      var quote: Char = 0
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (quote != 0) { if (c == quote) quote = 0 }
        else if (c == '\'' || c == '"') quote = c
        else if (c == '#') return raw.substring(0, i)
        i += 1
      }
      raw
    }

    body.foreach { raw =>
      val line = stripComment(raw).trim
      if (line.nonEmpty) line match {
        case CallStmt(v, r: RefCall) => env(v) = resolveRef(r)
        case CallStmt(v, sc: SourceCall) => env(v) = resolveSource(sc)
        case toDfRe(v, src) => env(v) = env(src)
        case sortRe(out, v, by, asc) =>
          val cols = strList(by).map(c =>
            if (asc == "False") col(c).desc else col(c))
          val target = Option(out).getOrElse(v)
          sortKeys(target) = cols
          env(target) = env(v).orderBy(cols: _*)
        case shiftRe(out, nc, v, keys, c, n) =>
          val w = win(strList(keys), orderFor(v, c))
          val nn = n.toInt
          val e = if (nn >= 0) lag(col(c), nn).over(w) else lead(col(c), -nn).over(w)
          env(out) = env(v).withColumn(nc, e)
        case cumsumRe(out, nc, v, keys, c) =>
          import org.apache.spark.sql.expressions.Window
          val w = win(strList(keys), orderFor(v, c))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          env(out) = env(v).withColumn(nc, sum(col(c)).over(w))
        case transformRe(out, nc, v, keys, c, fn) =>
          val w = win(strList(keys), Seq.empty)
          val e = fn match {
            case "sum" => sum(col(c)).over(w)
            case "mean" => avg(col(c)).over(w)
            case "max" => max(col(c)).over(w)
            case "min" => min(col(c)).over(w)
            case "count" => count(col(c)).over(w)
            case other => throw new UnsupportedOperationException(
              s"python model: groupby.transform('$other') not in the ported surface")
          }
          env(out) = env(v).withColumn(nc, e)
        case mergeRe(out, l, r, on, how) =>
          env(out) = env(l).join(env(r), strList(on),
            Option(how).getOrElse("inner") match {
              case "left" => "left"; case "right" => "right"
              case "outer" => "full"; case _ => "inner"
            })
        case mergeFnRe(out, l, r, on, how) =>
          env(out) = env(l).join(env(r), strList(on),
            Option(how).getOrElse("inner") match {
              case "left" => "left"; case "right" => "right"
              case "outer" => "full"; case _ => "inner"
            })
        case npWhereRe(v, nc, v2, c, op, condLit, tWhole, tCol, eWhole, eCol)
            if v == v2 =>
          val l = col(c); val r = lit_(condLit)
          val pred = op match {
            case "==" => l === r; case "!=" => l =!= r
            case "<=" => l <= r; case ">=" => l >= r
            case "<" => l < r; case ">" => l > r
          }
          // an arm referencing a DIFFERENT frame (np.where(cond,
          // other["x"], df["b"])) must fail loudly, not silently resolve
          // "x" against the target frame (the module's contract:
          // anything outside the surface raises)
          def arm(whole: String, cName: String): Column =
            if (cName != null) {
              val frame = whole.takeWhile(_ != '[')
              if (frame != v) throw new UnsupportedOperationException(
                s"python model: np.where arm references frame '$frame' " +
                  s"but the target frame is '$v': $whole")
              col(cName)
            } else lit_(whole)
          env(v) = env(v).withColumn(nc,
            when(pred, arm(tWhole, tCol)).otherwise(arm(eWhole, eCol)))
        case queryRe(out, v, c, op, rhs) =>
          val l = col(c); val r = lit_(rhs)
          val pred = op match {
            case "==" => l === r; case "!=" => l =!= r
            case "<=" => l <= r; case ">=" => l >= r
            case "<" => l < r; case ">" => l > r
          }
          env(out) = env(v).filter(pred)
        case renameRe(out, v, pairs) =>
          val m = s"""$q\\s*:\\s*$q""".r.findAllMatchIn(pairs)
            .map(x => x.group(1) -> x.group(2)).toSeq
          env(Option(out).getOrElse(v)) =
            m.foldLeft(env(v)) { case (d, (a, b)) => d.withColumnRenamed(a, b) }
        case dropColsRe(out, v, cols) =>
          env(Option(out).getOrElse(v)) = env(v).drop(strList(cols): _*)
        case dropDupRe(out, v, subset) =>
          // pandas keeps the FIRST row per key in the frame's current
          // order; after a recorded sort_values that is a deterministic
          // row_number pick over the sort keys. Without a sort, Spark's
          // dropDuplicates (arbitrary survivor) matches pandas' equally
          // order-dependent file-order "first" as closely as a
          // distributed engine can.
          env(Option(out).getOrElse(v)) = (Option(subset), sortKeys.get(v)) match {
            case (Some(sub), Some(order)) =>
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(strList(sub).map(col): _*).orderBy(order: _*)
              env(v).withColumn("__rn", row_number().over(w))
                .filter(col("__rn") === 1).drop("__rn")
            case (Some(sub), None) => env(v).dropDuplicates(strList(sub))
            case (None, _) => env(v).distinct()
          }
        case filterRe(out, v, c, op, rhs) =>
          val l = col(c); val r = lit_(rhs)
          val pred = op match {
            case "==" => l === r; case "!=" => l =!= r
            case "<=" => l <= r; case ">=" => l >= r
            case "<" => l < r; case ">" => l > r
          }
          env(out) = env(v).filter(pred)
        case colFillRe(v, nc, v2, c, value) if v == v2 =>
          env(v) = env(v).withColumn(nc, coalesce(col(c), lit_(value)))
        case colBinRe(v, nc, v2, a, op, bCol, bColName, litV) if v == v2 =>
          val l = col(a)
          val r = if (bColName != null) col(bColName) else lit_(litV)
          val e = op match {
            case "+" => l + r; case "-" => l - r
            case "*" => l * r; case "/" => l / r
          }
          env(v) = env(v).withColumn(nc, e)
        case colLitRe(v, nc, value) => env(v) = env(v).withColumn(nc, lit_(value))
        case fillAllRe(out, v, value) =>
          val d = env(v)
          val t = value.trim
          env(Option(out).getOrElse(v)) =
            if (t.startsWith("\"") || t.startsWith("'"))
              d.na.fill(t.substring(1, t.length - 1))
            else d.na.fill(t.toDouble)
        case selectColsRe(out, v, cols) =>
          env(out) = env(v).select(strList(cols).map(col): _*)
        case astypeRe(v, nc, v2, c, ty) if v == v2 =>
          val spark = ty match {
            case "int64" | "int" | "int32" => "long"
            case "float64" | "float" | "float32" => "double"
            case "str" | "string" | "object" => "string"
            case other => throw new UnsupportedOperationException(
              s"python model: astype('$other') not in the ported surface")
          }
          env(v) = env(v).withColumn(nc, col(c).cast(spark))
        case groupAggRe(out, v, keys, aggs) =>
          val fns = namedAggRe.findAllMatchIn(aggs).map { m =>
            val (as, c, fn) = (m.group(1), m.group(2), m.group(3))
            (fn match {
              case "sum" => sum(col(c))
              case "mean" => avg(col(c))
              case "max" => max(col(c))
              case "min" => min(col(c))
              case "count" => count(col(c))
              case "nunique" => countDistinct(col(c))
              case other => throw new UnsupportedOperationException(
                s"python model: agg '$other' not in the ported surface")
            }).as(as)
          }.toSeq
          if (fns.isEmpty) throw new UnsupportedOperationException(
            s"python model: only the named-agg form new_col=(\"col\", \"fn\") is ported: `$aggs`")
          env(out) = env(v).groupBy(strList(keys).map(col): _*)
            .agg(fns.head, fns.tail: _*)
        case concatRe(out, frames) =>
          val fs = frames.split(",").map(_.trim).filter(_.nonEmpty).map(env(_))
          env(out) = fs.reduce(_.unionByName(_))
        case resetIndexRe(out, v) =>
          env(Option(out).getOrElse(v)) = env(v) // frames carry no index
        case nlargestRe(out, v, n, c) =>
          env(out) = env(v).orderBy(col(c).desc).limit(n.toInt)
        case headRe(out, v, n) =>
          // pandas head takes the first n of the CURRENT order — after a
          // sort_values this lowers to TakeOrdered, deterministic
          env(out) = env(v).limit(n.toInt)
        case pivotRe(out, v, idx, cols, values, fn, fillV) =>
          // pandas pivot_table → one-shuffle groupBy().pivot().agg();
          // both engines emit pivot columns in sorted distinct order
          val agg = fn match {
            case "sum" => sum(col(values))
            case "mean" => avg(col(values))
            case "max" => max(col(values))
            case "min" => min(col(values))
            case "count" => count(col(values))
            case other => throw new UnsupportedOperationException(
              s"python model: pivot aggfunc '$other' not in the ported surface")
          }
          // pandas parity: pivot_table drops null-index groups
          // (dropna=True default) and fill_value fills only the CELLS —
          // never the index column itself
          val piv = env(v).filter(col(idx).isNotNull)
            .groupBy(col(idx)).pivot(cols).agg(agg)
          val cells = piv.columns.filterNot(_ == idx).toSeq
          env(out) = Option(fillV) match {
            case Some(f) if f.contains('.') => piv.na.fill(f.toDouble, cells)
            case Some(f) => piv.na.fill(f.toLong, cells)
            case None => piv
          }
        case returnRe(v) =>
          return env.getOrElse(v, throw new IllegalArgumentException(
            s"python model returns unbound frame `$v`"))
        case other if skipRe.pattern.matcher(other).matches() => ()
        case other => throw new UnsupportedOperationException(
          s"python model: statement outside the ported pandas surface: `$other`")
      }
    }
    throw new IllegalArgumentException("python model: no `return <frame>`")
  }
}
