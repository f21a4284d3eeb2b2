package graft.core.parse

import graft.core.catalog.Contracts
import graft.core.parse.JinjaLite.{Framing, RefCall, SourceCall}
import graft.core.model._
import graft.core.yaml._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Native project loader: replaces the reference's `dbt parse` process
  * boundary (`dbt_projects.py:272-298`) with direct file walking + the
  * JinjaLite extraction passes. Produces a Manifest with resolved
  * depends_on edges and adjacency maps.
  */
object ProjectLoader {

  def load(root: Path): (ProjectConfig, Manifest) =
    load(root, visited = Set(root.toAbsolutePath.normalize))

  /** `visited` carries the canonical roots already on the load path:
    * circular `local:` references (two meshed projects installing each
    * other — exactly what connect creates) terminate instead of recursing
    * unboundedly, while legitimate transitive chains (A installs B
    * installs C) still load to full depth. */
  private def load(root: Path, visited: Set[Path]): (ProjectConfig, Manifest) = {
    val projFile = root.resolve("dbt_project.yml")
    require(Files.exists(projFile), s"no dbt_project.yml under $root")
    val projYaml = Yaml.parseMap(Files.readString(projFile))
    val cfg = ProjectConfig(
      name = projYaml("name").asStr,
      modelPaths = strList(projYaml.get("model-paths")).getOrElse(Vector("models")),
      seedPaths = strList(projYaml.get("seed-paths")).getOrElse(Vector("seeds")),
      macroPaths = strList(projYaml.get("macro-paths")).getOrElse(Vector("macros")),
      testPaths = strList(projYaml.get("test-paths")).getOrElse(Vector("tests")),
      vars = projYaml.get("vars").collect { case m: YMap => m }.getOrElse(YMap.empty),
      raw = projYaml)
    (cfg, buildManifest(root, cfg, visited))
  }

  /** Target schema from profiles.yml (profile named by dbt_project.yml's
    * `profile:` or the project name; `outputs[target].schema`, "main"
    * when absent — the duckdb default the reference fixtures rely on).
    * Relation names are built from THIS, like dbt: a project-name schema
    * default would make equal relations in different projects never
    * match, breaking the linker's relation intersection (B1). */
  private def targetSchema(root: Path, cfg: ProjectConfig): String = {
    val profName = cfg.raw.get("profile").map(_.asStr).getOrElse(cfg.name)
    val profFile = root.resolve("profiles.yml")
    val parsed =
      if (!Files.exists(profFile)) None
      else scala.util.Try(Yaml.parseMap(Files.readString(profFile))).toOption
    val out = for {
      doc <- parsed
      prof <- doc.get(profName).collect { case m: YMap => m }
      target = prof.get("target").map(_.asStr).getOrElse("dev")
      outputs <- prof.get("outputs").collect { case m: YMap => m }
      tgt <- outputs.get(target).collect { case m: YMap => m }
      sch <- tgt.get("schema").map(_.asStr)
    } yield sch
    out.getOrElse("main")
  }

  private def strList(y: Option[Y]): Option[Vector[String]] = y.collect {
    case YList(items) => items.map(_.asStr)
    case YStr(s) => Vector(s)
  }

  /** The config keys that accumulate (patch first, then inline) rather
    * than override. */
  private val appendKeys = Set("pre-hook", "post-hook", "tags")

  /** A model's (or seed's) resolved config — the map dbt-core's Manifest
    * carries as `config`, and the ONLY place config precedence is
    * decided: the Runner, the Selector and the manifest writer read it
    * as-is. dbt's rule: start from the `dbt_project.yml` tree entries
    * (see [[treeConfig]]), lay the patch YAML `config:` over them, then
    * the inline `config()` / `dbt.config()` kwargs; `pre-hook`,
    * `post-hook` and `tags` append instead (tree first), with the
    * `pre_hook`/`post_hook` spellings folded onto the dash key. A string
    * holding a `['a', 'b']` literal becomes a YList, and an inline
    * `true`/`false` a YBool, so every reader sees YAML-shaped values. */
  private def resolveConfig(tree: Vector[(String, Y)], patch: YMap,
      inline: Map[String, String]): YMap = {
    val inlineYs = inline.toVector.map { case (k, v) =>
      k -> (v.toLowerCase match {
        case "true" => YBool(true)
        case "false" => YBool(false)
        case _ => YStr(v)
      })
    }
    (tree ++ patch.entries ++ inlineYs).foldLeft(YMap.empty) { case (acc, (k0, y)) =>
      val k = k0 match {
        case "pre_hook" => "pre-hook"
        case "post_hook" => "post-hook"
        case other => other
      }
      val v = y match {
        case YStr(s) => JinjaLite.parseList(s).fold(y)(is => YList(is.map(YStr)))
        case other => other
      }
      if (appendKeys(k)) acc.updated(k, YList(acc.get(k).toVector.flatMap(items) ++ items(v)))
      else acc.updated(k, v)
    }
  }

  /** The config entries the `dbt_project.yml` `models:` tree sets for a
    * model of project `proj` in directory `dirs` (its directory under its
    * model-path), outermost level first, so deeper paths win in
    * [[resolveConfig]]. At each level, under the project's key, a `+key`
    * is a config (whatever its value) and a key with a map value is a
    * sub-directory. */
  private def treeConfig(models: Option[Y], proj: String, dirs: Seq[String]): Vector[(String, Y)] = {
    def level(node: YMap, rest: Seq[String]): Vector[(String, Y)] =
      node.entries.collect { case (k, v) if k.startsWith("+") => k.drop(1) -> v } ++
        rest.headOption.flatMap(node.get).collect {
          case sub: YMap => level(sub, rest.tail)
        }.getOrElse(Vector.empty)
    models.collect { case m: YMap => m }.flatMap(_.get(proj))
      .collect { case m: YMap => level(m, dirs) }.getOrElse(Vector.empty)
  }

  /** A list value's items; a scalar is a list of one. */
  private def items(y: Y): Vector[Y] = y match {
    case YList(is) => is
    case other => Vector(other)
  }

  private def walk(dir: Path, ext: String): Vector[Path] =
    if (!Files.exists(dir)) Vector.empty
    // Using: a Files.walk stream holds directory handles until closed —
    // abandoning it leaks FDs on every project (and package) load
    else scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(ext))
      .toVector.sortBy(_.toString))

  /** Installed-package project roots: `local:` entries in packages.yml
    * (resolved without vendoring — dbt would copy them into dbt_packages
    * via `dbt deps`) plus any already-vendored `dbt_packages/<pkg>`
    * checkouts. Transitive packages are followed to full depth; the
    * caller's visited set terminates cycles. */
  private def packageRoots(root: Path): Vector[Path] = {
    val fromYml = (for {
      txt <- scala.util.Try(Files.readString(root.resolve("packages.yml"))).toOption
      doc <- scala.util.Try(Yaml.parseMap(txt)).toOption
      items <- doc.get("packages").collect { case YList(is) => is }
    } yield items.flatMap {
      case m: YMap => m.get("local").map(l => root.resolve(l.asStr).normalize())
      case _ => None
    }).getOrElse(Vector.empty)
    val vendorDir = root.resolve("dbt_packages")
    val vendored =
      if (!Files.isDirectory(vendorDir)) Vector.empty
      else scala.util.Using.resource(Files.list(vendorDir))(
        _.iterator().asScala.toVector)
    (fromYml ++ vendored).filter(p => Files.exists(p.resolve("dbt_project.yml")))
  }

  private def buildManifest(root: Path, cfg: ProjectConfig,
      visited: Set[Path]): Manifest = {
    val baseSchema = targetSchema(root, cfg)
    val proj = cfg.name

    // ---- installed packages load as foreign-package resources (the view
    // dbt's Manifest has after `dbt deps` + parse: package models are
    // ref()-able by bare name and carry their own package_name) — the
    // basis for the linker's `installs` predicate and B3 package deps
    val pkgManifests: Vector[Manifest] =
      packageRoots(root).map(_.toAbsolutePath.normalize)
        .filterNot(visited) // cycle: already on this load path
        .flatMap { pr =>
          scala.util.Try(load(pr, visited + pr)).toOption.map(_._2)
        }.filter(_.projectName != proj).distinctBy(_.projectName)

    // ---- macros + custom generic test definitions ({% test %} blocks
    // under test-paths share the macro namespace, like dbt)
    val macroDefs =
      cfg.macroPaths.flatMap(mp => walk(root.resolve(mp), ".sql")).flatMap { p =>
        val text = Files.readString(p)
        JinjaLite.findMacroDefs(text).map(md => (md, root.relativize(p).toString, text))
      } ++
        cfg.testPaths.flatMap(tp => walk(root.resolve(tp), ".sql")).flatMap { p =>
          val text = Files.readString(p)
          JinjaLite.findTestDefs(text).map(md => (md, root.relativize(p).toString, text))
        }
    val macroNames = macroDefs.map(_._1.name).toSet
    // built ONCE: the compile pre-pass consults it per model file
    val macroByName = macroDefs.map(_._1).map(md => md.name -> md).toMap
    val macros = macroDefs.map { case (md, rel, _) =>
      val id = s"macro.$proj.${md.name}"
      id -> MacroNode(id, md.name, proj, rel, md.body, params = md.params,
        dependsOnMacros = JinjaLite.findMacroCalls(md.body)
          .filter(macroNames).map(n => s"macro.$proj.$n"))
    }.toMap

    // ---- docs blocks (.md files under model paths)
    val docs = cfg.modelPaths.flatMap(mp => walk(root.resolve(mp), ".md")).flatMap { p =>
      val text = Files.readString(p)
      JinjaLite.findBlocks(text, "docs").map { b =>
        val id = s"doc.$proj.${b.name}"
        id -> Documentation(id, b.name, proj, root.relativize(p).toString, b.content)
      }
    }.toMap

    // ---- YAML property files (dbt scans seed-paths for properties too —
    // that is where `seeds:` entries with column_types conventionally live)
    val ymlFiles = (cfg.modelPaths ++ cfg.seedPaths).distinct.flatMap { mp =>
      walk(root.resolve(mp), ".yml") ++ walk(root.resolve(mp), ".yaml")
    }
    var sources = Map.empty[String, SourceDefinition]
    var groups = Map.empty[String, GroupNode]
    var exposures = Map.empty[String, Exposure]
    var semanticModels = Map.empty[String, SemanticModel]
    var metrics = Map.empty[String, MetricNode]
    var modelPatches = Map.empty[String, (String, YMap)] // model name -> (patch path, entry)
    var seedPatches = Map.empty[String, (String, YMap)] // seed name -> (patch path, entry)
    var unitTests = Map.empty[String, UnitTestNode]

    ymlFiles.foreach { p =>
      val rel = root.relativize(p).toString
      val doc = Yaml.parseMap(Files.readString(p))
      doc.get("sources").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case src: YMap =>
          val srcName = src("name").asStr
          val db = src.get("database").map(_.asStr).getOrElse("main")
          val schema = src.get("schema").map(_.asStr).getOrElse(srcName)
          // dbt freshness config: table-level overrides source-level, and
          // an explicit `freshness:` null at the table OPTS OUT (outer
          // Option = key present, inner = enabled)
          def freshOf(m: YMap): Option[Option[Freshness]] =
            m.get("freshness").map {
              case f: YMap =>
                def rule(k: String) = f.get(k).collect { case r: YMap =>
                  FreshnessRule(
                    r("count").asStr.toLong, r("period").asStr)
                }
                Some(Freshness(rule("warn_after"), rule("error_after")))
              case _ => None // explicit null: freshness disabled
            }
          val srcFresh = freshOf(src).flatten
          val srcLoadedAt = src.get("loaded_at_field").map(_.asStr)
          src.get("tables").collect { case YList(ts) => ts }.getOrElse(Vector.empty).foreach {
            case t: YMap =>
              val tn = t("name").asStr
              val ident = t.get("identifier").map(_.asStr).getOrElse(tn)
              val id = s"source.$proj.$srcName.$tn"
              // dbt-external-tables: `external: {location, file_format,
              // options: {...}}` under the table makes the source read
              // files instead of a pre-registered warehouse table
              val external = t.get("external").collect { case e: YMap =>
                ExternalSource(
                  location = e("location").asStr,
                  format = e.get("file_format").map(_.asStr).getOrElse("parquet"),
                  options = e.get("options").collect { case o: YMap =>
                    o.entries.map { case (k, v) => k -> v.asStr }.toMap
                  }.getOrElse(Map.empty))
              }
              sources += id -> SourceDefinition(id, tn, srcName, proj, rel,
                relationName = Some(s"$db.$schema.$ident"),
                external = external,
                loadedAtField =
                  t.get("loaded_at_field").map(_.asStr).orElse(srcLoadedAt),
                freshness = freshOf(t).getOrElse(srcFresh))
            case _ =>
          }
        case _ =>
      }
      doc.get("groups").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case g: YMap =>
          val n = g("name").asStr
          val owner = g.get("owner").collect { case o: YMap =>
            Owner(o.get("name").map(_.asStr), o.get("email").map(_.asStr))
          }.getOrElse(Owner())
          val id = s"group.$proj.$n"
          groups += id -> GroupNode(id, n, proj, rel, owner)
        case _ =>
      }
      doc.get("exposures").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case e: YMap =>
          val n = e("name").asStr
          val refStrings = e.get("depends_on").collect { case YList(ds) => ds.map(_.asStr) }
            .getOrElse(Vector.empty)
          // YAML ref strings are bare ref('x'), not {{ ref('x') }}
          val deps = refStrings.flatMap(JinjaLite.refs(_, Framing.Bare))
            .map(r => s"model.$proj.${r.name}").distinct
          val id = s"exposure.$proj.$n"
          exposures += id -> Exposure(id, n, proj, rel, DependsOn(nodes = deps), refStrings)
        case _ =>
      }
      doc.get("semantic_models").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case sm: YMap =>
          val n = sm("name").asStr
          val modelRef = sm.get("model").map(_.asStr).getOrElse("")
          val deps = JinjaLite.refs(modelRef, Framing.Bare)
            .map(r => s"model.$proj.${r.name}").distinct
          val id = s"semantic_model.$proj.$n"
          semanticModels += id -> SemanticModel(id, n, proj, rel, modelRef, DependsOn(nodes = deps))
        case _ =>
      }
      doc.get("metrics").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case met: YMap =>
          val n = met("name").asStr
          // metric model refs: `model: ref('x')` (simple metrics) or
          // nested measures — resolve whatever bare ref() strings appear
          val deps = JinjaLite.refs(Yaml.dump(met), Framing.Bare)
            .map(r => s"model.$proj.${r.name}").distinct
          val id = s"metric.$proj.$n"
          metrics += id -> MetricNode(id, n, proj, rel, DependsOn(nodes = deps))
        case _ =>
      }
      doc.get("models").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case m: YMap => modelPatches += m("name").asStr -> (rel, m)
        case _ =>
      }
      doc.get("seeds").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case m: YMap => seedPatches += m("name").asStr -> (rel, m)
        case _ =>
      }
      // dbt 1.8 `unit_tests:` blocks — given/expect fixtures the Runner
      // executes against temp-view stand-ins (Runner.runUnitTests). Only
      // the dict row format is supported; csv/sql fixture formats fail
      // loudly here rather than silently yielding wrong comparisons.
      doc.get("unit_tests").collect { case YList(items) => items }.getOrElse(Vector.empty).foreach {
        case ut: YMap =>
          val n = ut("name").asStr
          val modelName = ut("model").asStr
          def rowsOf(m: YMap, what: String): Vector[YMap] = {
            m.get("format").map(_.asStr).filter(_ != "dict").foreach { f =>
              throw new IllegalArgumentException(
                s"unit test $n: unsupported $what format '$f' (only dict rows)")
            }
            m.get("rows").collect { case YList(rs) => rs.collect {
              case r: YMap => r } }.getOrElse(Vector.empty)
          }
          val given = ut.get("given").collect { case YList(gs) => gs.collect {
            case g: YMap => UnitTestGiven(g("input").asStr, rowsOf(g, "given"))
          } }.getOrElse(Vector.empty)
          val expect = ut.get("expect").collect { case e: YMap =>
            rowsOf(e, "expect") }.getOrElse(Vector.empty)
          val id = s"unit_test.$proj.$n"
          // depends on the tested model (selection graph: model+ pulls
          // its unit tests); given-inputs are REPLACED by fixtures at run
          // time, so they are not execution dependencies
          unitTests += id -> UnitTestNode(id, n, proj, rel, modelName,
            given, expect,
            DependsOn(nodes = Vector(s"model.$proj.$modelName")),
            config = ut.get("config").collect { case c: YMap => c }
              .getOrElse(YMap.empty))
        case _ =>
      }
    }

    // ---- seeds: CSV files under seed-paths become table-like nodes
    // (`seed-paths`, SURVEY §2.F "Table scan of seed/source (CSV→table)")
    val seedNodes: Map[String, ModelNode] =
      cfg.seedPaths.flatMap(sp => walk(root.resolve(sp), ".csv")).map { p =>
        val name = baseName(p)
        val id = s"seed.$proj.$name"
        // seed properties (`seeds:` YAML section): config carries dbt's
        // column_types — the CSV dtype override the Runner applies
        val patch = seedPatches.get(name)
        val patchConfig = patch.map(_._2).flatMap(_.get("config")).collect {
          case c: YMap => c
        }.getOrElse(YMap.empty)
        id -> ModelNode(
          uniqueId = id, name = name, packageName = proj,
          filePath = root.relativize(p).toString, rawCode = "",
          materialized = "seed",
          patchPath = patch.map(_._1),
          relationName = Some(s"main.$baseSchema.$name"),
          config = resolveConfig(Vector.empty, patchConfig, Map.empty))
      }.toMap

    // ---- model files
    val sourceByPair = sources.values.map(s => (s.sourceName, s.name) -> s.uniqueId).toMap
    val modelFiles = cfg.modelPaths.flatMap { mp =>
      walk(root.resolve(mp), ".sql") ++ walk(root.resolve(mp), ".py")
    }
    // versioned-model file resolution (dbt-core naming): a patch entry
    // with `versions` maps files `{name}_v{n}.{ext}` — or the version's
    // `defined_in` name — back to the base model. The LATEST version's
    // file becomes the base-named node (what ref('name') and the CLI
    // resolve, mirroring get_manifest_node → latest); older versions load
    // as distinct `{name}.v{n}` nodes.
    val versionFile: Map[String, (String, Long, Boolean)] =
      modelPatches.flatMap { case (mname, (_, entry)) =>
        // lenient like the reference: non-integer versions (e.g. the
      // reference's model_yml_string_version fixture) only error when the
      // model is actually versioned, never at project load
      val vs = entry.get("versions").collect { case YList(items) =>
          items.flatMap {
            case vm: YMap =>
              val vOpt = vm.get("v").flatMap {
                case YInt(i) => Some(i)
                case other => scala.util.Try(other.asStr.toLong).toOption
              }
              vOpt.map(v =>
                (vm.get("defined_in").map(_.asStr).getOrElse(s"${mname}_v$v"), v))
            case _ => None
          }
        }.getOrElse(Vector.empty)
        val latest = entry.get("latest_version").collect { case YInt(i) => i }
          .orElse(vs.map(_._2).maxOption).getOrElse(0L)
        vs.map { case (base, v) => base -> ((mname, v, v == latest)) }
      }.toMap
    def resolvedName(fileBase: String): String = versionFile.get(fileBase) match {
      case Some((base, _, true)) => base
      case Some((base, v, false)) => s"$base.v$v"
      case None => fileBase
    }
    // ref() resolves to models AND seeds by name — including installed
    // package models (dbt lets `ref('x')` reach package resources)
    val nameToId: Map[String, String] =
      pkgManifests.flatMap(_.nodes.values.map(n => n.name -> n.uniqueId)).toMap ++
        modelFiles.map { p =>
          val n = resolvedName(baseName(p)); n -> s"model.$proj.$n"
        }.toMap ++
        seedNodes.values.map(n => n.name -> n.uniqueId)

    var nodes: Map[String, ModelNode] = seedNodes
    var tests = Map.empty[String, TestNode]

    modelFiles.foreach { p =>
      val name = resolvedName(baseName(p))
      val rel = root.relativize(p).toString
      val code = Files.readString(p)
      val lang = if (p.toString.endsWith(".py")) "python" else "sql"
      val id = s"model.$proj.$name"
      // Python models use dbt.ref()/dbt.source() instead of jinja forms.
      // For SQL models, a compile-style pre-pass (macro expansion +
      // control-flow evaluation over project vars) surfaces refs that
      // only exist after rendering — `{% for t in [...] %}{{ ref(t) }}`
      // loops produce literal ref() calls dbt's own compile would see.
      // Best-effort: anything unrenderable falls back to the raw code.
      // Calls inside `{% %}` tags become string literals first, as
      // render() resolves them, so a `{% set rel = ref('x') %}` does not
      // stop the evaluator (the depCode scan records that call).
      // {# ... #} comments vanish BEFORE dependency extraction — a
      // commented-out {{ ref('legacy') }} must not create a phantom DAG
      // edge (render() strips comments first for the same reason)
      val depCode =
        if (lang == "python") code
        else JinjaLite.commentRe.replaceAllIn(code, "")
      val compiled =
        if (lang == "python") code
        else scala.util.Try {
          JinjaLite.renderControlFlow(
            JinjaLite.rewrite(JinjaLite.expandMacros(depCode, macroByName), Framing.Sql)(c =>
              if (c.framing == Framing.Bare) Some("''") else None),
            JinjaLite.typedEnv(cfg.vars.entries.map {
              case (k, v) => k -> v.asStr
            }.toMap))
        }.getOrElse(code)
      val pkgNames = pkgManifests.map(_.projectName).toSet + proj
      // refs/sources inside called macros (transitively) are the model's
      // dependencies too — dbt resolves them at compile time (e.g. the
      // fixture's redirect() macro body is `{{ ref('orders') }}`)
      val macroClosureIds = {
        var seen = JinjaLite.findMacroCalls(code).filter(macroNames)
          .map(n => s"macro.$proj.$n").toSet
        var grown = true
        while (grown) {
          val next = seen ++ seen.flatMap(i =>
            macros.get(i).toSeq.flatMap(_.dependsOnMacros))
          grown = next.size != seen.size
          seen = next
        }
        seen
      }
      val macroBodies = macroClosureIds.toVector.flatMap(macros.get).map(_.macroSql)
      val calls = (Vector(depCode, compiled).distinct
        .flatMap(JinjaLite.scan(_, Framing.of(lang))) ++
        macroBodies.flatMap(JinjaLite.scan(_, Framing.Sql))).map(_.target)
      val refDeps = calls.collect {
        case r: RefCall if r.project.forall(pkgNames) => nameToId.get(r.name)
      }.flatten
      val srcDeps = calls.collect {
        case sc: SourceCall => sourceByPair.get((sc.sourceName, sc.table))
      }.flatten
      val macroDeps = JinjaLite.findMacroCalls(code).filter(macroNames).map(n => s"macro.$proj.$n")
      val patch = modelPatches.get(name)
      val patchEntry = patch.map(_._2).getOrElse(YMap.empty)
      val patchConfig = patchEntry.get("config").collect { case m: YMap => m }.getOrElse(YMap.empty)
      val dirs = cfg.modelPaths.map(root.resolve).find(p.startsWith).toSeq
        .flatMap(_.relativize(p.getParent).iterator.asScala.map(_.toString)).filter(_.nonEmpty)
      val config = resolveConfig(treeConfig(cfg.raw.get("models"), proj, dirs), patchConfig,
        if (lang == "python") JinjaLite.findPythonConfig(code)
        else JinjaLite.findConfig(code))
      // a scalar config value; a list (e.g. a composite unique_key) joins
      def str(k: String): Option[String] = config.get(k).map {
        case YList(is) => is.map(_.asStr).mkString(",")
        case y => y.asStr
      }
      // dbt drops disabled models from the manifest — whether disabled
      // inline (the fixture's dbt.config(enabled=False)) or via the
      // properties yml `config: {enabled: false}`
      if (str("enabled").exists(_.equalsIgnoreCase("false"))) ()
      else {
      val access = patchEntry.get("access").map(a => AccessType.parse(a.asStr))
        .getOrElse(AccessType.Protected)
      // dbt's default generate_schema_name: the target schema, or
      // `<target>_<custom>` when the model sets a custom schema
      val schema = str("schema").map(c => s"${baseSchema}_$c")
        .getOrElse(baseSchema)
      // Contract columns are parsed only for enforced contracts: a
      // non-enforced model's data_type strings are docs/catalog vocabulary
      // (varchar(255), array<string>, …) that must not abort the load.
      // For enforced contracts, every declared column needs a data_type
      // (dbt-core errors on partially-typed contracts too). Read from the
      // patch: the inline kwarg regex cannot parse a dict value.
      val contractEnforced = patchConfig.get("contract").collect {
        case cm: YMap => cm.get("enforced").contains(YBool(true))
      }.getOrElse(false)
      val contract =
        if (contractEnforced) Some(Contracts.enforcedFromYaml(name, patchEntry))
        else None
      nodes += id -> ModelNode(
        uniqueId = id, name = name, packageName = proj, filePath = rel,
        rawCode = code, language = lang,
        dependsOn = DependsOn(nodes = (refDeps ++ srcDeps).distinct, macros = macroDeps.distinct),
        patchPath = patch.map(_._1),
        access = access,
        group = patchEntry.get("group").map(_.asStr),
        // the base node REPRESENTS the latest version: an explicit
        // latest_version pin (dbt's prerelease pattern — versions [1, 2]
        // with latest_version: 1) wins over max(versions), which would
        // label the pinned code with the prerelease's number
        version = patchEntry.get("latest_version").collect { case YInt(i) => i }
          .orElse(patchEntry.get("versions").collect { case YList(vs) =>
            // lenient: non-integer versions only error in the Versioner
            vs.collect { case vm: YMap => vm("v").asStr }
              .flatMap(v => scala.util.Try(v.toLong).toOption).maxOption
          }.flatten),
        latestVersion = patchEntry.get("latest_version").collect { case YInt(i) => i },
        materialized = str("materialized").getOrElse("view"),
        uniqueKey = str("unique_key"),
        partitionBy = config.get("partition_by").toVector.flatMap(items).map(_.asStr),
        contractEnforced = contractEnforced,
        contract = contract,
        tags = (patchEntry.get("tags") ++ config.get("tags")).toVector
          .flatMap(items).map(_.asStr).distinct,
        relationName = Some(s"main.$schema.$name"),
        config = config)

      // generic tests declared on columns of this model's patch
      patchEntry.get("columns").collect { case YList(cols) => cols }.getOrElse(Vector.empty).foreach {
        case colEntry: YMap =>
          val colName = colEntry("name").asStr
          val testList = colEntry.get("tests").orElse(colEntry.get("data_tests"))
            .collect { case YList(ts) => ts }.getOrElse(Vector.empty)
          testList.foreach { t =>
            val (tType, tConf) = t match {
              case YStr(s) => (s, YMap.empty)
              case m: YMap if m.entries.size == 1 =>
                (m.entries.head._1, m.entries.head._2 match {
                  case c: YMap => c
                  case _ => YMap.empty
                })
              case _ => ("custom", YMap.empty)
            }
            val tid = s"test.$proj.${tType}_${name}_$colName"
            // YAML `to:` strings are bare ref('x'), not {{ ref('x') }}
            // (same convention the exposure loader documents); the braced
            // form still matches
            val extraDeps = tConf.get("to").toSeq.flatMap(to =>
              JinjaLite.refs(to.asStr, Framing.Bare).map(r => s"model.$proj.${r.name}"))
            tests += tid -> TestNode(tid, s"${tType}_${name}_$colName", proj,
              patch.map(_._1).getOrElse(rel),
              DependsOn(nodes = (id +: extraDeps).distinct.toVector),
              testType = tType, column = Some(colName), config = tConf)
          }
        case _ =>
      }
      } // enabled guard
    }

    val pkgNodes = pkgManifests.flatMap(_.nodes).toMap
    val pkgSources = pkgManifests.flatMap(_.sources).toMap
    val pkgMacros = pkgManifests.flatMap(_.macros).toMap
    Manifest(proj, pkgNodes ++ nodes, pkgSources ++ sources,
      pkgMacros ++ macros, docs, exposures, semanticModels,
      groups, tests, metrics, unitTests)
  }

  private def baseName(p: Path): String = {
    val f = p.getFileName.toString
    f.substring(0, f.lastIndexOf('.'))
  }
}
