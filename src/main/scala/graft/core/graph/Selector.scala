package graft.core.graph

import graft.core.model.Manifest

/** dbt node-selection syntax, evaluated natively over the adjacency maps
  * (the reference shells to `dbt ls`, `dbt_projects.py:351-376`).
  *
  * Supported grammar (the subset dbt projects actually lean on):
  *  - `name` — by resource name or unique_id; Unix wildcards match
  *    (`stg_*`, `orders?`) like dbt's fnmatch selection
  *  - `+name` / `name+` / `+name+` — ancestors / descendants / both
  *  - `@name` — name, its descendants, and all ancestors of those
  *  - `tag:x` — models carrying tag x
  *  - `path:models/staging` — resources under a path prefix (wildcards ok)
  *  - `source:raw` / `source:raw.orders` — source nodes by source or
  *    source.table name (wildcards ok)
  *  - `resource_type:model` / `group:g` / `package:p` / `exposure:e` /
  *    `test_name:unique` / `version:{latest|prerelease|old|none|N}` —
  *    the `dbt ls` method vocabulary (manifest-attribute lookups)
  *  - `result:{success|error|fail|warn|skipped|pass}` — last-invocation
  *    status from the `--state` directory's `run_results.json` (the
  *    `dbt retry` flow: `--select result:error+ --state ./target`)
  *  - space-separated tokens union; `a,b` intersects criteria
  *  - `--exclude` is set-minus over the same grammar
  * Anything else fails loudly rather than silently selecting nothing
  * (SURVEY §7).
  */
object Selector {

  final case class Criterion(
      ancestors: Boolean, ancestorDepth: Int, atOp: Boolean,
      method: Option[String], name: String,
      descendants: Boolean, descendantDepth: Int)

  private val knownMethods = Set("tag", "path", "source", "state",
    "resource_type", "group", "version", "test_name", "package", "exposure",
    "result")

  private def isKnownMethod(m: String): Boolean =
    knownMethods(m) || m.startsWith("config.")

  /** Unix-style wildcard (fnmatch) predicate; plain names compare equal. */
  private def matches(pattern: String)(value: String): Boolean =
    if (pattern.exists(c => c == '*' || c == '?')) {
      val rx = pattern.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".contains(c) => s"\\$c"
        case c => c.toString
      }
      value.matches(rx)
    } else value == pattern
  private val ancRe = """^(\d*)\+""".r
  private val descRe = """\+(\d*)$""".r

  def parseCriterion(token: String): Criterion = {
    val atOp = token.startsWith("@")
    val t0 = token.stripPrefix("@")
    if (atOp && (t0.contains("+")))
      throw new IllegalArgumentException(s"cannot combine @ with +: '$token'")
    // dbt graph operators: `+m`, `m+`, and depth-limited `N+m` / `m+N`
    val ancM = ancRe.findFirstMatchIn(t0)
    val anc = ancM.isDefined
    val ancDepth = ancM.map(_.group(1)).filter(_.nonEmpty)
      .map(_.toInt).getOrElse(Int.MaxValue)
    val t0a = ancM.fold(t0)(m => t0.substring(m.end))
    val descM = descRe.findFirstMatchIn(t0a)
    val desc = descM.isDefined
    val descDepth = descM.map(_.group(1)).filter(_.nonEmpty)
      .map(_.toInt).getOrElse(Int.MaxValue)
    val t1 = descM.fold(t0a)(m => t0a.substring(0, m.start))
    val (method, name) = t1.split(":", 2) match {
      case Array(m, n) if isKnownMethod(m) => (Some(m), n)
      case Array(m, _) => throw new IllegalArgumentException(
        s"unsupported selector method '$m:' in '$token' " +
          "(supported: tag:, path:, source:, config.<key>:, state:, " +
          "resource_type:, group:, version:, test_name:, package:, " +
          "exposure:, result:)")
      case Array(n) => (None, n)
    }
    require(name.nonEmpty, s"empty selector token: '$token'")
    Criterion(anc, ancDepth, atOp, method, name, desc, descDepth)
  }

  /** The semantic fields `state:modified` compares — deliberately NOT
    * full structural equality: the same project loaded through different
    * front ends (native JinjaLite parse vs a dbt-core manifest.json)
    * differs in incidental carrier fields (the raw config YMap, macro
    * body whitespace), and those must not read as modifications. dbt's
    * own state:modified similarly hashes content + a fixed config list. */
  private def fingerprint(r: graft.core.model.Resource): Any = r match {
    case m: graft.core.model.ModelNode =>
      // rawCode is TRIMMED: dbt-core strips file contents when populating
      // raw_code (`load_file_contents(strip=True)`) while the native
      // loader keeps the file verbatim — without trimming, every model
      // with a trailing newline would read as modified against a
      // dbt-produced --state manifest, silently defeating slim-CI
      (m.rawCode.trim, m.materialized, m.uniqueKey, m.partitionBy, m.access,
        m.group, m.version, m.latestVersion, m.tags.sorted,
        m.contractEnforced, m.patchPath, m.language)
    case s: graft.core.model.SourceDefinition =>
      // quoting-normalized: dbt-core writes relation_name as
      // "db"."schema"."tbl" while the native loader builds db.schema.tbl
      // — a raw compare would mark EVERY source modified against a real
      // dbt --state manifest and rebuild the whole DAG (the cross-front-
      // end hazard the rawCode trim above exists to prevent)
      (s.sourceName, s.name,
        s.relationName.map(_.replace("\"", "").replace("`", "")),
        s.external)
    case mc: graft.core.model.MacroNode => mc.macroSql.trim
    case d: graft.core.model.Documentation => d.blockContents.trim
    case t: graft.core.model.TestNode => (t.testType, t.column, t.dependsOn)
    case other => other.filePath
  }

  /** Resolve one criterion's base set (before graph operators). */
  private def resolve(manifest: Manifest, c: Criterion,
      state: Option[Manifest],
      results: Option[Map[String, String]]): Set[String] = c.method match {
    case Some("result") =>
      // dbt retry flow: `--select result:error+ --state ./target` re-runs
      // what last failed. The artifact rides in with --state; ids the
      // current manifest no longer carries are dropped (a deleted model's
      // stale failure must not select a ghost).
      val rs = results.getOrElse(throw new IllegalArgumentException(
        s"'result:${c.name}' requires a run_results artifact " +
          "(--state <dir containing run_results.json>)"))
      rs.collect {
        case (id, status) if matches(c.name)(status) &&
          manifest.allResources.contains(id) => id
      }.toSet
    case Some("tag") =>
      // fnmatch like every other method: tag:night* must match 'nightly'
      // instead of silently selecting nothing
      manifest.nodes.collect {
        case (id, n) if n.tags.exists(matches(c.name)) => id }.toSet
    case Some("path") =>
      // dbt's path method matches whole path COMPONENTS: path:models must
      // not select models_archive/. A prefix only matches at a separator
      // (or exactly); wildcards go through fnmatch as before.
      val prefix = c.name.stripSuffix("/")
      manifest.allResources.collect {
        case (id, r) if r.filePath == prefix ||
          r.filePath.startsWith(prefix + "/") ||
          matches(c.name)(r.filePath) => id
      }.toSet
    case Some("source") =>
      manifest.sources.collect {
        case (id, s) if matches(c.name)(s.sourceName) ||
          matches(c.name)(s"${s.sourceName}.${s.name}") => id
      }.toSet
    case Some("state") =>
      val st = state.getOrElse(throw new IllegalArgumentException(
        s"'state:${c.name}' requires a comparison manifest " +
          "(--state <path to a dbt manifest.json or its directory>)"))
      c.name match {
        case "new" => manifest.allResources.keySet -- st.allResources.keySet
        case "modified" =>
          // dbt semantics: modified INCLUDES new nodes
          val old = st.allResources
          manifest.allResources.collect {
            case (id, r) if !old.get(id).map(fingerprint).contains(fingerprint(r)) => id
          }.toSet
        case other => throw new IllegalArgumentException(
          s"unsupported state sub-method 'state:$other' (supported: modified, new)")
      }
    case Some(m) if m.startsWith("config.") =>
      val key = m.stripPrefix("config.")
      manifest.nodes.collect {
        case (id, n) if configValue(n, key).exists(matches(c.name)) => id
      }.toSet
    // `dbt ls`-vocabulary methods (node_selector_methods in dbt-core;
    // the unique_id prefix IS the resource type across this codebase)
    case Some("resource_type") =>
      manifest.allResources.keySet.filter(_.startsWith(c.name + "."))
    case Some("group") =>
      manifest.nodes.collect {
        case (id, n) if n.group.exists(matches(c.name)) => id
      }.toSet
    case Some("package") =>
      manifest.allResources.collect {
        case (id, r) if matches(c.name)(r.packageName) => id
      }.toSet
    case Some("exposure") =>
      manifest.exposures.collect {
        case (id, e) if matches(c.name)(e.name) => id
      }.toSet
    case Some("test_name") =>
      manifest.tests.collect {
        case (id, t) if matches(c.name)(t.testType) => id
      }.toSet
    case Some("version") =>
      // dbt sub-methods: latest / prerelease / old / none / a number
      manifest.nodes.collect {
        case (id, n) if (c.name match {
          case "none" => n.version.isEmpty
          case "latest" => n.version.isDefined &&
            n.latestVersion.forall(lv => n.version.contains(lv))
          case "prerelease" =>
            (for (v <- n.version; lv <- n.latestVersion) yield v > lv)
              .getOrElse(false)
          case "old" =>
            (for (v <- n.version; lv <- n.latestVersion) yield v < lv)
              .getOrElse(false)
          case num => n.version.exists(_.toString == num)
        }) => id
      }.toSet
    case _ =>
      val all = manifest.allResources
      if (all.contains(c.name)) Set(c.name)
      else all.collect {
        case (id, r) if matches(c.name)(r.name) => id
      }.toSet
  }

  /** Model config lookup for `config.<key>:` — the dedicated typed
    * fields first (materialized lives there), then the resolved config
    * map (inline `config()` values included). */
  private def configValue(n: graft.core.model.ModelNode, key: String): Option[String] =
    key match {
      case "materialized" => Some(n.materialized)
      case "unique_key" => n.uniqueKey
      case "group" => n.group
      case k => n.config.get(k).collect {
        case s: graft.core.yaml.YStr => s.s
        case y: graft.core.yaml.YInt => y.i.toString
        case y: graft.core.yaml.YBool => y.b.toString
      }
    }

  private def evalCriterion(manifest: Manifest, c: Criterion,
      state: Option[Manifest],
      results: Option[Map[String, String]]): Set[String] = {
    val base = resolve(manifest, c, state, results)
    if (c.atOp) {
      // @x = x ∪ descendants(x) ∪ ancestors(x ∪ descendants(x))
      val down = base ++ base.flatMap(Dag.descendants(manifest.childMap, _))
      down ++ down.flatMap(Dag.ancestors(manifest.parentMap, _))
    } else base ++
      (if (c.ancestors)
        base.flatMap(Dag.ancestorsTo(manifest.parentMap, _, c.ancestorDepth))
      else Set.empty) ++
      (if (c.descendants)
        base.flatMap(Dag.descendantsTo(manifest.childMap, _, c.descendantDepth))
      else Set.empty)
  }

  /** Evaluate `--select` / `--exclude` to a set of unique ids (A1).
    * Each token unions; `,`-joined criteria within a token intersect. */
  def select(manifest: Manifest, select: Seq[String], exclude: Seq[String] = Nil,
      state: Option[Manifest] = None,
      results: Option[Map[String, String]] = None): Set[String] = {
    def evalToken(tok: String): Set[String] =
      tok.split(",").filter(_.nonEmpty).toSeq match {
        case Seq() => Set.empty
        case parts => parts
          .map(p => evalCriterion(manifest, parseCriterion(p), state, results))
          .reduce(_ intersect _)
      }
    def eval(tokens: Seq[String]): Set[String] =
      tokens.flatMap(evalToken).toSet
    eval(select) -- eval(exclude)
  }

  /** Subproject selection = parent selection minus what's already in the
    * subproject (A2, `dbt_projects.py:539-555`). */
  def selectForSubproject(manifest: Manifest, already: Set[String],
      sel: Seq[String], exclude: Seq[String] = Nil): Set[String] =
    select(manifest, sel, exclude) -- already

  import graft.core.yaml._

  /** Named selectors (`selectors.yml`) — the `--selector` flag the
    * reference forwards to `dbt ls`. Supported definition forms (the
    * documented dbt subset projects actually write):
    *  - a selection string (full string grammar above)
    *  - `{method, value [, children, parents, childrens_parents,
    *    parents_depth, children_depth]}`
    *  - `{union: [defs]}` / `{intersection: [defs]}`
    *  - `{exclude: [defs]}` inside a union/intersection list
    */
  def namedSelector(manifest: Manifest, selectorsYaml: String,
      name: String): Set[String] = {
    val doc = Yaml.parseMap(selectorsYaml)
    val defs = doc.get("selectors").collect { case YList(ss) => ss }
      .getOrElse(Vector.empty).collect { case m: YMap => m }
    val entry = defs.find(_.get("name").exists(_.asStr == name)).getOrElse(
      throw new IllegalArgumentException(
        s"selector '$name' not found (have: ${defs.flatMap(_.get("name")).map(_.asStr).mkString(", ")})"))
    evalDefinition(manifest, entry("definition"))
  }

  private def evalDefinition(manifest: Manifest, d: Y): Set[String] = d match {
    case YStr(s) => select(manifest, s.split("\\s+").toSeq.filter(_.nonEmpty))
    case m: YMap if m.contains("union") =>
      val (ex, in) = partitionExcludes(m("union").asList.items)
      in.map(evalDefinition(manifest, _)).foldLeft(Set.empty[String])(_ ++ _) --
        ex.map(evalDefinition(manifest, _)).foldLeft(Set.empty[String])(_ ++ _)
    case m: YMap if m.contains("intersection") =>
      val (ex, in) = partitionExcludes(m("intersection").asList.items)
      require(in.nonEmpty,
        "intersection needs at least one non-exclude definition")
      val base = in.map(evalDefinition(manifest, _)).reduceLeft(_ intersect _)
      base -- ex.map(evalDefinition(manifest, _)).foldLeft(Set.empty[String])(_ ++ _)
    case m: YMap if m.contains("method") =>
      val method = m("method").asStr
      val value = m("value").asStr
      val tokenCore = method match {
        case "fqn" | "name" => value
        case other => s"$other:$value"
      }
      val at = m.get("childrens_parents").contains(YBool(true))
      val anc = m.get("parents").contains(YBool(true))
      val desc = m.get("children").contains(YBool(true))
      val ancD = m.get("parents_depth").map(_.asStr).getOrElse("")
      val descD = m.get("children_depth").map(_.asStr).getOrElse("")
      val token =
        if (at) s"@$tokenCore"
        else (if (anc) s"$ancD+" else "") + tokenCore +
          (if (desc) s"+$descD" else "")
      select(manifest, Seq(token))
    case other => throw new IllegalArgumentException(
      s"unsupported selector definition: ${Yaml.dump(other)}")
  }

  private def partitionExcludes(items: Vector[Y]): (Vector[Y], Vector[Y]) = {
    val (exM, in) = items.partition {
      case m: YMap => m.contains("exclude")
      case _ => false
    }
    val ex = exM.flatMap { case m: YMap => m("exclude").asList.items; case _ => Nil }
    (ex, in)
  }
}
