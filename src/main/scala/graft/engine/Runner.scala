package graft.engine

import graft.core.catalog.Contracts
import graft.core.graph.Dag
import graft.core.model._
import graft.core.parse.JinjaLite
import graft.enforce.AccessControl
import graft.core.yaml.YList
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, TimestampType}
import java.nio.file.{Files, Path}

/** Data-plane executor (SURVEY §4 item 4): runs a loaded project's models
  * in DAG order on Spark — `ref()`/`source()` resolve to temp views,
  * materializations map to view/table/incremental, generic tests compile
  * to violation queries, contracts are checked against the produced
  * schema, and access governance is enforced per model before execution.
  *
  * The reference never executes models itself (delegates to `dbt run`);
  * this is the new-but-required plumbing for "same capabilities" on Spark.
  * Scale: per-model jobs are independent Spark actions; independent DAG
  * subtrees can run concurrently (executors stay busy); incremental
  * materialization appends only the post-watermark batch.
  */
final class Runner(
    /** By-name + lazy: commands that never execute anything (`graft
      * compile` renders pure strings) construct a Runner without paying
      * SparkSession startup; the session materializes on first use. */
    spark0: => SparkSession,
    manifest: Manifest,
    cfg: ProjectConfig,
    /** where table/incremental materializations persist (parquet). */
    warehouseDir: Path,
    /** resolve a source definition to an existing Spark view/table name. */
    sourceView: SourceDefinition => String = _.name,
    enforceAccess: Boolean = true,
    /** project root for reading seed CSVs (required to run seeds). */
    projectRoot: Option[Path] = None,
    /** the reference's `--read-catalog` lever (cli.py:98-104): when true,
      * a table/incremental/snapshot model whose warehouse output already
      * exists is READ, not recomputed — a repeat `contract`/`group` over
      * an unchanged project does zero Spark jobs for materialized models
      * (views are lazy and cost nothing either way). */
    readCatalog: Boolean = false,
    /** dbt's `--full-refresh`: incremental and snapshot models rebuild
      * from scratch (the non-incremental SQL, a fresh SCD2 baseline)
      * instead of advancing existing state; wins over `readCatalog`. */
    fullRefresh: Boolean = false,
    /** Version-stamp clock for `strategy='check'` snapshots (which have
      * no source event time). None = wall clock; tests inject a fixed
      * instant for reproducible valid_from/valid_to values. */
    snapshotAt: Option[java.sql.Timestamp] = None,
    /** dbt's `--vars '{k: v}'`: per-invocation overrides layered over
      * dbt_project.yml `vars:` (CLI wins, like dbt). */
    varOverrides: Map[String, String] = Map.empty,
    /** dbt's `--defer --state`: when running a SELECTION, refs to models
      * outside it resolve to the state manifest's `relation_name` (the
      * production table) instead of requiring the upstream to run — the
      * slim-CI pattern: build only what changed, read the rest from
      * prod. An unselected model with no state relation still runs
      * locally. Only meaningful with a selection. */
    defer: Option[Manifest] = None,
    /** Observability seam for hook execution (dbt's per-hook log line):
      * called with each hook's RENDERED SQL after it executes
      * successfully. Default: silent. */
    onHookRun: String => Unit = _ => ()) {

  private lazy val spark: SparkSession = spark0

  /** model name → deferred relation, populated per run(). */
  @volatile private var deferTargets: Map[String, String] = Map.empty

  def viewName(model: String): String = s"${manifest.projectName}__$model"

  /** Cross-project refs (`ref('proj', 'model')`) resolve to the upstream
    * project's published view under the same naming convention; bare refs
    * stay project-local. */
  private def refView(rc: JinjaLite.RefCall): String =
    rc.project.filter(_ != manifest.projectName) match {
      case Some(p) => s"${p}__${rc.name}"
      case None => viewName(rc.name)
    }

  /** Register (once) and name the temp view for an `external:` source —
    * a file-backed source table read straight off its location
    * (dbt-external-tables pattern). Relative locations resolve against
    * the project root, absolute ones (s3://, /abs) pass through. The
    * view is schema-only until a model action scans it, and Catalyst
    * pushes filters/pruning into the csv/json/parquet scan like any
    * other file source. */
  private def externalView(src: graft.core.model.SourceDefinition): String = {
    val ext = src.external.getOrElse(throw new IllegalStateException(
      s"${src.uniqueId} is not an external source"))
    val view = s"${manifest.projectName}__ext__${src.sourceName}__${src.name}"
    val loc =
      if (ext.location.contains("://") ||
          java.nio.file.Paths.get(ext.location).isAbsolute) ext.location
      else projectRoot.map(_.resolve(ext.location).toString)
        .getOrElse(ext.location)
    // key the registration on the RESOLVED (location, format, options) —
    // a mere tableExists check would keep serving a stale registration
    // when a re-parsed project changes any of them within one Spark
    // session (Tables.load keys its views on dir for the same reason);
    // unchanged configs skip the re-read (csv/json registration pays a
    // schema-inference job)
    val key = (loc, ext.format, ext.options.toSeq.sorted)
    val registered = Runner.externalKeys(spark)
    // belt-and-braces tableExists: even with a matching key, re-register
    // if the temp view was dropped out from under us
    if (!registered.get(view).contains(key) ||
        !spark.catalog.tableExists(view)) {
      spark.read.format(ext.format).options(ext.options).load(loc)
        .createOrReplaceTempView(view)
      registered(view) = key
    }
    view
  }

  private val macroDefs: Map[String, JinjaLite.MacroDef] =
    manifest.macros.values.map(m =>
      m.name -> JinjaLite.MacroDef(m.name, m.params, m.macroSql)).toMap

  private def vars: Map[String, String] =
    cfg.vars.entries.map { case (k, v) => k -> v.asStr }.toMap ++ varOverrides

  /** Render a model's SQL to executable Spark SQL. */
  def renderSql(m: ModelNode, isIncremental: Boolean): String =
    renderStr(m.rawCode, Some(viewName(m.name)), m.name,
      isIncremental = isIncremental)

  /** The shared Jinja→Spark-SQL rendering for ANY project-owned SQL
    * string (model bodies, pre/post-hooks, on-run-start/end hooks):
    * ref()/source() resolve exactly as in models, project vars apply,
    * and `{{ this }}` binds to `thisRel` when given. (The on-run-end
    * `{{ results }}` binding is a bare-identifier substitution done by
    * the caller BEFORE this render — `vars` only feeds `var()`.) */
  private def renderStr(code: String, thisRel: Option[String],
      where: String,
      isIncremental: Boolean = false): String =
    JinjaLite.render(
      code,
      resolveRef = refResolver,
      resolveSource = sourceRelation(_, where),
      vars = vars,
      thisRelation = thisRel,
      macros = macroDefs,
      isIncremental = isIncremental)

  /** The canonical ref() resolution every rendered SQL string uses. */
  private def refResolver: JinjaLite.RefCall => String = rc =>
    if (rc.project.forall(_ == manifest.projectName))
      deferTargets.getOrElse(rc.name, refView(rc))
    else refView(rc)

  /** (source name, table) → definition, built once per Runner. */
  private val sourcesByName: Map[(String, String), SourceDefinition] =
    manifest.sources.values.map(s => (s.sourceName, s.name) -> s).toMap

  /** The same-project seed whose table a source call names, if any (the
    * jaffle pattern: seeds stand in for raw tables). */
  private def sourceSeed(src: SourceDefinition): Option[String] =
    Some(s"seed.${manifest.projectName}.${src.name}").filter(manifest.nodes.contains)

  /** The canonical source() resolution, for SQL and Python models alike:
    * a same-project seed materializes the table in-session; an
    * `external:` source registers its file read; otherwise the
    * configured resolver (default: raw table name). */
  private def sourceRelation(sc: JinjaLite.SourceCall, where: String): String = {
    val src = sourcesByName.getOrElse((sc.sourceName, sc.table),
      throw new IllegalArgumentException(
        s"unknown source ${sc.sourceName}.${sc.table} in $where"))
    if (sourceSeed(src).isDefined) viewName(src.name)
    else if (src.external.isDefined) externalView(src)
    else sourceView(src)
  }

  // ------------------------------------------------------------- hooks
  /** dbt's hook surface (the reference's own source-hack fixture declares
    * `on-run-end: "select true as col"`, dbt_project.yml:27 — dbt runs it,
    * so graft must too):
    *
    *  - model-level `pre-hook` / `post-hook`, read from the resolved
    *    config (the loader appends inline `config(pre_hook=...)` hooks
    *    after the patch-YAML ones and folds both spellings onto the
    *    dash key). Pre-hooks run immediately before the
    *    model executes, post-hooks after it materializes and its view is
    *    registered; both render through the model's full Jinja context
    *    ({{ this }} = the model's relation) and a throwing hook fails
    *    the node exactly like a throwing model (dbt's behavior).
    *    `dbt_project.yml` `models:` tree hooks run first, then patch
    *    hooks, then inline hooks (dbt accumulates outer→inner).
    *    Ephemeral models never run hooks (dbt: nothing materializes).
    *  - project-level `on-run-start` / `on-run-end` (dbt_project.yml;
    *    string or list): start hooks run before any node (a failure
    *    aborts the run), end hooks run after every node settles — on the
    *    continue-on-error path they see the run's outcomes as
    *    `{{ results }}`, rendered as "uniqueId=status" pairs
    *    comma-joined in id order. On the fail-fast library path
    *    (`continueOnError = false`) a model failure propagates
    *    immediately and end hooks do NOT run (there is no settled result
    *    set to report).
    *
    * Hooks execute eagerly (`.collect()`): DDL/DML runs on `spark.sql`
    * anyway, and a SELECT-shaped hook (the fixture's) must actually
    * execute, not lazily construct a frame. */
  private def runHookSql(rendered: String): Unit = {
    spark.sql(rendered).collect()
    onHookRun(rendered)
  }

  /** dbt `run-operation <macro> --args '{...}'`: render `{{ macro(k=v) }}`
    * through the same Jinja context hooks use (ref()/source()/var()
    * resolve; no `{{ this }}`) and execute the rendered SQL eagerly via
    * the hook executor. Numeric argument values pass as bare literals,
    * everything else as quoted strings (matching `--vars` typing). An
    * unknown macro fails LOUDLY with the known names; a macro rendering
    * to blank is a no-op (dbt allows log-only operations). Returns the
    * rendered SQL for observability. Like dbt, the operation runs
    * against whatever relations already exist — nothing materializes
    * first, so a ref() to a never-built model errors at execution. */
  def runOperation(macroName: String,
      macroArgs: Map[String, String] = Map.empty): String = {
    if (!macroDefs.contains(macroName))
      throw new IllegalArgumentException(
        s"run-operation: no macro named '$macroName' (known: " +
          s"${macroDefs.keys.toSeq.sorted.mkString(", ")})")
    val kwargs = macroArgs.toSeq.sortBy(_._1).map { case (k, v) =>
      val lit =
        if (v.matches("""-?\d+(\.\d+)?""")) v
        else s"'${v.replace("'", "''")}'"
      s"$k=$lit"
    }.mkString(", ")
    val rendered = renderStr(s"{{ $macroName($kwargs) }}", None,
      s"run-operation $macroName").trim
    if (rendered.nonEmpty) runHookSql(rendered)
    rendered
  }

  /** Project-level hooks from dbt_project.yml (string or list). */
  private def projectHooks(dashKey: String): Seq[String] =
    Seq(dashKey, dashKey.replace('-', '_'))
      .flatMap(k => cfg.raw.get(k)).flatMap {
        case YList(items) => items.map(_.asStr)
        case y => Seq(y.asStr)
      }

  /** Execute all models in dependency order; returns produced frames.
    * A model becomes ready once every in-run parent has settled, and up
    * to `parallelism` ready models run as concurrent Spark jobs on this
    * session (sessions are thread-safe). There is no level barrier: a
    * model never waits for unrelated models at its depth, so independent
    * subtrees keep the executors busy while slow models materialize. At
    * `parallelism = 1` the run order is exactly the topological order. */
  def run(selected: Option[Set[String]] = None,
      parallelism: Int = 1): Map[String, DataFrame] =
    runWithStatus(selected, parallelism, continueOnError = false)._1

  /** Like [[run]], but dbt-faithful on failure when `continueOnError`:
    * a model that throws records status 'error', its in-run descendants
    * record 'skipped' and never execute, and independent branches keep
    * running — the statuses feed target/run_results.json, which
    * `graft retry` and `result:` selectors consume. With
    * `continueOnError = false` the first failure propagates (the
    * library contract [[run]] keeps): no further model starts, the
    * models already running settle, then that failure is rethrown. */
  def runWithStatus(selected: Option[Set[String]] = None,
      parallelism: Int = 1, continueOnError: Boolean = true,
      /** Pre-materialization gate (dbt 1.8 build: a model's unit tests
        * run BEFORE it builds; on failure the model records `skipped`
        * and never writes the warehouse). Called only when the model
        * would otherwise execute (parents healthy); Some(reason) skips
        * it — and, through the normal parent cascade, its descendants.
        * Must be thread-safe under `parallelism > 1`. */
      gate: ModelNode => Option[String] = _ => None,
      /** dbt-retry parity (main divergence closed, VERDICT r14 item 5):
        * ids here whose persisted warehouse table EXISTS are served by
        * reading that table back — no re-materialization and, crucially,
        * no pre/post hook re-fire (dbt never re-executes a succeeded
        * node; its hooks fired once, in the run that built it). Callers
        * pass the previously-successful parents a retry pulls in only so
        * a test's ref resolves. Ids with no table (view-materialized
        * parents, or a throwaway temp warehouse without --read-catalog)
        * fall back to a normal hooked run — session views don't survive
        * processes, so that residual divergence is inherent to a
        * session-view engine and documented at the retry call site. */
      reuseHealthy: Set[String] = Set.empty)
      : (Map[String, DataFrame], Map[String, String]) = {
    // only table-backed materializations reuse: a model changed from
    // table to view since the failed run leaves a stale table dir in a
    // persistent warehouse, and serving it would resurrect dead data —
    // same condition the readCatalog cached-read path applies
    val reused: Set[String] = reuseHealthy.filter(id =>
      manifest.nodes.get(id).exists(n =>
        Set("table", "incremental")(n.materialized) &&
          Files.exists(tablePath(n))))
    if (enforceAccess)
      AccessControl.forSession(spark).registerManifest(manifest, viewName)
    // on-run-start: before ANY node; a failure aborts the whole run
    // (dbt's behavior — the project declared a precondition)
    projectHooks("on-run-start").foreach(h =>
      runHookSql(renderStr(h, None, "on-run-start")))
    val modelIds = manifest.nodes.keySet
      .filter(id => selected.forall(_.contains(id)))
    // --defer: every UNSELECTED model whose state manifest carries a
    // relation_name resolves to that relation instead of running; its
    // own upstream closure is skipped with it. No state relation → the
    // model still builds locally (dbt's fallback).
    deferTargets = (defer, selected) match {
      case (Some(state), Some(_)) =>
        manifest.nodes.collect {
          case (id, m) if !modelIds.contains(id) =>
            state.nodes.get(id).flatMap(_.relationName).map(m.name -> _)
        }.flatten.toMap
      case _ => Map.empty
    }
    // rehydrate deferred relations that are not resolvable in THIS
    // session: a `graft clone` artifact records the clone's view names,
    // which die with the clone process — but the cloned table itself
    // lives in the warehouse under the model's own path, so a fresh
    // process re-registers it here (this run's warehouse first, then the
    // project-local catalog clone writes to). An unresolvable relation
    // with no warehouse table is left alone and fails loudly at use,
    // exactly as before.
    deferTargets.foreach { case (name, rel) =>
      // only plain view names rehydrate — a qualified relation
      // (db.schema.table) belongs to a real catalog, not this warehouse
      if (!rel.contains('.') &&
        !scala.util.Try(spark.catalog.tableExists(rel)).getOrElse(false)) {
        val candidates = warehouseDir.resolve(name) +:
          projectRoot.map(_.resolve(".graft").resolve("warehouse")
            .resolve(name)).toSeq
        candidates.find(Files.exists(_)).foreach(p =>
          readTable(p).createOrReplaceTempView(rel))
      }
    }
    // scheduling edges: the manifest's depends_on, plus an implicit edge
    // from any model reading a source whose table a same-project seed
    // materializes (the jaffle pattern — dbt orders this via `dbt seed`
    // before `dbt run`; one scheduler here, so it's a real dependency)
    val parentMapSched: Map[String, Set[String]] =
      manifest.nodes.foldLeft(manifest.parentMap) { case (pm, (id, m)) =>
        val seeds = m.dependsOn.nodes.flatMap(manifest.sources.get).flatMap(sourceSeed)
        if (seeds.isEmpty) pm else pm.updated(id, pm.getOrElse(id, Set.empty) ++ seeds)
      }
    // ancestors pulled into the run stop at a deferred boundary: a
    // deferred parent serves from its state relation, so neither it nor
    // anything above it executes
    val deferredIds: String => Boolean = id =>
      manifest.nodes.get(id).exists(n => deferTargets.contains(n.name))
    // a reused node is a boundary like a deferred one: it serves from
    // its table, so nothing above it needs to execute
    val all = modelIds.flatMap(id =>
      Dag.ancestorsTo(parentMapSched, id, Int.MaxValue,
        stopAt = i => deferredIds(i) || reused(i))
        .filter(manifest.nodes.contains)) ++ modelIds
    val order = Dag.topoSort(all, parentMapSched)
    val status = scala.collection.concurrent.TrieMap.empty[String, String]
    val out = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    def parentBad(id: String): Boolean =
      parentMapSched.getOrElse(id, Set.empty).exists(pid =>
        status.get(pid).exists(s => s == "error" || s == "skipped"))
    def settle(id: String, body: => DataFrame): Unit =
      try { out(id) = body; status(id) = "success" }
      catch {
        case e: Throwable if continueOnError =>
          System.err.println(s"[run] $id failed: ${e.getMessage}")
          status(id) = "error"
      }
    // a reused node reads its table back and runs NO hooks; a corrupt /
    // partially-written table or a contract mismatch marks it "error"
    // (descendants skip via parentBad) like any failing model
    def execute(id: String, m: ModelNode): Unit =
      if (reused(id)) settle(id, runModelBody(m, reuse = true))
      else if (parentBad(id)) status(id) = "skipped"
      else gate(m) match {
        case Some(reason) =>
          System.err.println(s"[run] $id skipped: $reason")
          status(id) = "skipped"
        case None => settle(id, runModel(m))
      }
    // a model starts only after all its in-run parents settled, so
    // parentBad inside execute reads final statuses
    Runner.schedule(order, parentMapSched.getOrElse(_, Set.empty),
      parallelism)(id => manifest.nodes.get(id).foreach(execute(id, _)))
    // on-run-end: after every node settles; {{ results }} carries the
    // run's outcomes (id=status, comma-joined in id order). Reaching
    // this line on the fail-fast path means nothing threw, so running
    // the end hooks is correct there too.
    val endHooks = projectHooks("on-run-end")
    if (endHooks.nonEmpty) {
      val results = status.toSeq.sorted
        .map { case (id, st) => s"$id=$st" }.mkString(",")
      endHooks.foreach { h =>
        val bound = h.replaceAll("""\{\{\s*results\s*\}\}""",
          java.util.regex.Matcher.quoteReplacement(results))
        runHookSql(renderStr(bound, None, "on-run-end"))
      }
    }
    (out.toMap, status.toMap)
  }

  /** Execute one model with its pre/post-hooks (see the hooks scaladoc
    * above): pre-hooks → body → post-hooks, any failure failing the
    * node. `{{ this }}` in a hook binds to the model's relation. */
  def runModel(m: ModelNode): DataFrame = {
    val hooksOn = m.materialized != "ephemeral"
    if (hooksOn)
      strListConfig(m, "pre-hook").foreach(h =>
        runHookSql(renderStr(h, Some(viewName(m.name)), s"pre-hook of ${m.name}")))
    val out = runModelBody(m)
    if (hooksOn)
      strListConfig(m, "post-hook").foreach(h =>
        runHookSql(renderStr(h, Some(viewName(m.name)), s"post-hook of ${m.name}")))
    out
  }

  /** The model body and its one tail: the contract check and the
    * session view. `reuse` serves a table-backed model from its
    * warehouse table (retry's healthy parents). */
  private def runModelBody(m: ModelNode, reuse: Boolean = false): DataFrame = {
    // --read-catalog: any already-materialized persistent model is read
    // back instead of recomputed (and, for incremental/snapshot, not
    // advanced — the catalog is treated as current, like the reference
    // skipping `dbt docs generate`); language-independent
    def cached: Option[DataFrame] = {
      val p = tablePath(m)
      if ((reuse || readCatalog && !fullRefresh) && Files.exists(p))
        Some(readTable(p))
      else None
    }
    val python = m.language == "python"
    val out = m.materialized match {
      case "table" | "incremental" if python =>
        cached.getOrElse(persist(m, runPython(m)))
      case _ if python => runPython(m)
      // Ephemeral lowers to a session TEMP VIEW rather than dbt's CTE
      // inlining — semantically equivalent on Spark: a temp view is a
      // named LAZY logical plan, so referencing models splice the
      // ephemeral's plan into their own exactly where dbt would splice
      // CTE text, Catalyst optimizes across the boundary identically
      // (filter/projection pushdown through views is unrestricted), and
      // nothing materializes. What differs is only NAME SCOPING: dbt's
      // inlined CTE is invisible outside the consuming model, while the
      // session view is visible session-wide under viewName() — the
      // same visibility every other materialization gets here, and
      // access control still guards cross-group reads.
      case "view" | "ephemeral" => execSql(m, isIncremental = false)
      case "table" =>
        cached.getOrElse(persist(m, execSql(m, isIncremental = false)))
      case "incremental" => cached.getOrElse(runIncremental(m))
      case "seed" =>
        val root = projectRoot.getOrElse(throw new IllegalStateException(
          s"seed ${m.name}: Runner needs projectRoot to read seed CSVs"))
        val path = root.resolve(m.filePath).toString
        def reader = spark.read.option("header", "true")
        // dbt's seed column_types (contract type vocabulary): declared
        // columns parse as the declared type DURING the CSV read — a
        // post-hoc cast would run after inference already destroyed e.g.
        // leading zeros on a numeric-looking varchar column
        val colTypes = m.config.get("column_types").collect {
          case ct: graft.core.yaml.YMap =>
            ct.entries.map { case (c, t) => c -> Contracts.parseType(t.asStr) }.toMap
        }.getOrElse(Map.empty[String, DataType])
        if (colTypes.isEmpty) reader.option("inferSchema", "true").csv(path)
        else {
          val inferred = reader.option("inferSchema", "true").csv(path).schema
          val schema = org.apache.spark.sql.types.StructType(inferred.map(f =>
            f.copy(dataType = colTypes.getOrElse(f.name, f.dataType))))
          reader.schema(schema).csv(path)
        }
      case "snapshot" => cached.getOrElse(runSnapshot(m))
      case other => throw new IllegalArgumentException(s"unknown materialization: $other")
    }
    // contract check against the produced schema (SURVEY §4 item 2)
    for (contract <- m.contract if m.contractEnforced)
      Contracts.check(m.name, out.schema, contract)
    out.createOrReplaceTempView(viewName(m.name))
    out
  }

  /** A Python model's body: the pandas-idiom interpreter resolves
    * dbt.ref/dbt.source through the same [[refResolver]] and
    * [[sourceRelation]] as SQL models (defer targets, cross-project
    * views), so mixed-language DAGs chain. Access enforcement mirrors the
    * SQL path: SQL models are checked by the analysis rule over the
    * rendered plan; python refs resolve here, so each resolved view is
    * checked at resolution time — a private cross-group ref fails
    * identically in both languages. */
  private def runPython(m: ModelNode): DataFrame =
    PyModelPort.run(
      m.rawCode,
      resolveRef = rc => {
        val rel = refResolver(rc)
        if (enforceAccess)
          AccessControl.forSession(spark).checkRelation(rel,
            AccessControl.Context(m.packageName, m.group))
        spark.table(rel)
      },
      resolveSource = sc => spark.table(sourceRelation(sc, m.name)))

  private def execSql(m: ModelNode, isIncremental: Boolean): DataFrame = {
    val sql = renderSql(m, isIncremental)
    // explicit per-model identity — no ambient mutable context, so
    // concurrent DAG subtrees on this session cannot interleave identities
    if (enforceAccess)
      AccessControl.forSession(spark)
        .checkSql(spark, sql, AccessControl.Context(m.packageName, m.group))
    spark.sql(sql)
  }

  private def tablePath(m: ModelNode): Path = warehouseDir.resolve(m.name)

  private def schemaSidecar(p: Path): Path = p.resolve("_graft_schema.json")

  /** dbt-spark's `file_format` config: the storage format a `table`
    * model materializes as. Parquet (default) everywhere; csv/json/orc
    * are honored for plain table materializations only — the
    * incremental/snapshot merge paths stay parquet (their partition
    * overwrite + sidecar machinery is parquet-shaped, and that is also
    * dbt-spark's own v2-format restriction in spirit). */
  private def fileFormat(m: ModelNode): String =
    strConfig(m, "file_format").getOrElse("parquet")

  private def formatSidecar(p: Path): Path = p.resolve("_graft_format")

  /** Write a persisted table, honoring `partition_by` (Hive directory
    * layout — downstream filters on the partition columns land in
    * PartitionFilters and skip whole directories). The written schema is
    * pinned in an underscore-prefixed sidecar (ignored by Spark's file
    * index, like _SUCCESS) and re-applied on every read-back: partitioned
    * reads would otherwise re-infer partition-column types from the
    * directory names and move those columns last. */
  private def writeTable(m: ModelNode, df: DataFrame, p: Path): Unit = {
    val fmt = fileFormat(m)
    if (fmt != "parquet" && m.materialized != "table")
      throw new IllegalArgumentException(
        s"model ${m.name}: file_format='$fmt' is supported for " +
          s"materialized='table' only (got '${m.materialized}')")
    val w0 = df.write.mode("overwrite").format(fmt)
    val w = if (fmt == "csv") w0.option("header", "true") else w0
    (if (m.partitionBy.nonEmpty) w.partitionBy(m.partitionBy: _*) else w)
      .save(p.toString)
    // schema-lossy formats (csv: all strings; json: no decimals/ordering
    // guarantees) and partitioned layouts need the sidecar; for plain
    // parquet it spares the read-back a schema-inference job
    Files.writeString(schemaSidecar(p), df.schema.json)
    if (fmt != "parquet") Files.writeString(formatSidecar(p), fmt)
  }

  private def readTable(p: Path): DataFrame = {
    val fmtSc = formatSidecar(p)
    val fmt = if (Files.exists(fmtSc)) Files.readString(fmtSc).trim else "parquet"
    val sc = schemaSidecar(p)
    // only a parquet table written before every table carried the
    // sidecar lacks one; its schema is inferred (a Spark job)
    val st =
      if (Files.exists(sc))
        DataType.fromJson(Files.readString(sc))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      else spark.read.format(fmt).load(p.toString).schema
    // the user-provided schema pins partition-column TYPES (no
    // inference), but Spark still appends partition columns last — the
    // select restores the model's declared column order. File sources
    // read every column as nullable, as inference would.
    val r0 = spark.read.schema(st).format(fmt)
    val r = if (fmt == "csv") r0.option("header", "true") else r0
    r.load(p.toString).select(st.fieldNames.map(col): _*)
  }

  /** dbt's `clone`: materialize `df` (a state relation's current rows)
    * as this model's relation in THIS project's warehouse WITHOUT
    * running the model — the adapter-portable create-table-as-select
    * fallback (local parquet has no zero-copy snapshot; on a warehouse
    * with one, only this write changes). The clone is indistinguishable
    * from a ran model: same table path, same partition/sidecar handling,
    * same session view — so a later `run --read-catalog` serves it from
    * the catalog instead of recomputing, and a `run --defer` against a
    * manifest that records the clone views resolves unselected refs to
    * them. */
  def cloneRelation(m: ModelNode, df: DataFrame): DataFrame = {
    val out = persist(m, df)
    out.createOrReplaceTempView(viewName(m.name))
    out
  }

  private def persist(m: ModelNode, df: DataFrame): DataFrame = {
    val p = tablePath(m)
    writeTable(m, df, p)
    readTable(p)
  }

  /** dbt's `on_schema_change` policy for incremental models. Returns the
    * (existing, batch) pair aligned onto ONE column set and order:
    *  - ignore (default): the target schema wins — new batch columns are
    *    dropped; a column the batch stopped producing is a hard error
    *    (existing rows cannot be backfilled from nothing);
    *  - fail: any difference aborts the run;
    *  - append_new_columns: new columns join the target (existing rows
    *    null), removed columns stay (new rows null);
    *  - sync_all_columns: the batch schema wins — new columns join,
    *    removed columns drop. */
  private def alignSchemas(m: ModelNode, existing: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame) = {
    val ex = existing.schema.fieldNames.toSeq
    val b = batch.schema.fieldNames.toSeq
    if (ex == b) return (existing, batch)
    val added = b.filterNot(ex.contains)
    val removed = ex.filterNot(b.contains)
    strConfig(m, "on_schema_change").getOrElse("ignore") match {
      case "fail" => throw new IllegalStateException(
        s"incremental model ${m.name}: schema changed (added: [${added.mkString(", ")}], " +
          s"removed: [${removed.mkString(", ")}]) and on_schema_change=fail")
      case "append_new_columns" =>
        val exPlus = added.foldLeft(existing)((df, c) =>
          df.withColumn(c, lit(null).cast(batch.schema(c).dataType)))
        val bPlus = removed.foldLeft(batch)((df, c) =>
          df.withColumn(c, lit(null).cast(existing.schema(c).dataType)))
        val order = ex ++ added
        (exPlus.select(order.map(col): _*), bPlus.select(order.map(col): _*))
      case "sync_all_columns" =>
        val exPlus = added.foldLeft(existing)((df, c) =>
          df.withColumn(c, lit(null).cast(batch.schema(c).dataType)))
        (exPlus.select(b.map(col): _*), batch)
      case "ignore" =>
        if (removed.nonEmpty) throw new IllegalStateException(
          s"incremental model ${m.name}: batch no longer produces column(s) " +
            s"[${removed.mkString(", ")}] (on_schema_change=ignore)")
        (existing, batch.select(ex.map(col): _*))
      case other => throw new IllegalArgumentException(
        s"incremental model ${m.name}: unknown on_schema_change '$other'")
    }
  }

  /** Config readers over the loader-resolved `m.config` (inline config
    * already laid over the patch, list literals already YLists). */
  private def strConfig(m: ModelNode, key: String): Option[String] =
    m.config.get(key).map(_.asStr)

  /** A list-or-scalar config value (hooks, check_cols,
    * merge_exclude_columns); a scalar is a list of one. */
  private def strListConfig(m: ModelNode, key: String): Seq[String] =
    m.config.get(key).toSeq.flatMap {
      case YList(items) => items.map(_.asStr)
      case y => Seq(y.asStr)
    }

  private def boolConfig(m: ModelNode, key: String): Boolean =
    strConfig(m, key).exists(_.equalsIgnoreCase("true"))

  /** Incremental: first run = full build; subsequent runs compute the
    * post-watermark batch (with `{{ this }}` bound to the existing table)
    * and merge by unique_key (delete-insert semantics — the parquet
    * analog of MERGE; with a Delta-style sink this becomes MERGE INTO).
    *
    * `incremental_strategy='insert_overwrite'` (dbt-spark spelling, needs
    * `partition_by`) replaces ONLY the partitions present in the batch —
    * Spark's dynamic partition overwrite — which is the backfill-safe
    * shape at scale: re-running one day rewrites one directory, never
    * the table, and needs no key join against the existing data. */
  private def runIncremental(m: ModelNode): DataFrame = {
    recoverSwap(m)
    val p = tablePath(m)
    val strategy = strConfig(m, "incremental_strategy")
    // dbt-spark's strategy vocabulary — an unknown spelling must fail
    // loudly (a typo silently landing in the merge path would change
    // row counts), and 'append' must NOT dedupe by unique_key
    strategy.foreach { s =>
      if (!Set("append", "merge", "delete+insert", "insert_overwrite")(s))
        throw new IllegalArgumentException(
          s"incremental model ${m.name}: unknown incremental_strategy '$s'")
    }
    if (fullRefresh || !Files.exists(p))
      return persist(m, execSql(m, isIncremental = false))
    val existing0 = readTable(p)
    existing0.createOrReplaceTempView(viewName(m.name))
    val (existing, batch) = alignSchemas(m, existing0,
      execSql(m, isIncremental = true))
    strategy match {
      case Some("insert_overwrite") =>
        if (m.partitionBy.isEmpty) throw new IllegalArgumentException(
          s"incremental model ${m.name}: insert_overwrite needs partition_by")
        overwritePartitions(m, batch, p)
        readTable(p)
      // dbt-spark 'append': insert the batch as-is, even when a
      // unique_key is configured (the key is merge-path metadata)
      case Some("append") => replace(m, existing.unionByName(batch))
      case _ if m.partitionBy.nonEmpty && m.uniqueKey.isDefined =>
        // Partition-scoped MERGE — the 100 TB shape: only the partitions
        // the batch touches are read, merged and dynamically overwritten;
        // every other partition's files are never opened (the touched-
        // values filter is a literal OR-of-ANDs, so it lands in
        // PartitionFilters and prunes directories). The touched-value
        // collect is bounded by the batch's partition spread — an
        // incremental batch touches few partitions by construction.
        // Caveat (dbt-spark's own for partitioned merges): a key's
        // partition value must be stable across runs — a key that moves
        // partitions would leave its old row in an untouched directory.
        val (pinnedBatch, batchIds) = trackedCheckpoint(batch)
        val touched = pinnedBatch
          .select(m.partitionBy.map(col): _*).distinct().collect()
        val touchedFilter = touched.map { r =>
          m.partitionBy.zipWithIndex.map { case (c, i) =>
            if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
          }.reduce(_ && _)
        }.reduceOption(_ || _).getOrElse(lit(false))
        // Checkpoint: merged reads the touched partitions of the very
        // path the dynamic overwrite rewrites — materializing it FULLY
        // before the write (bounded by the touched partitions, not the
        // table) breaks the file-source lineage so the writer sees no
        // self-read and no task retry can rescan replaced files.
        // Checkpoint blocks free only on driver GC (the CLAUDE.md
        // eviction lesson), so the ids THIS call registered are
        // unpersisted before returning — ownership-tracked under
        // trackedCheckpoint's lock, never a time-window diff that would
        // claim a concurrently-running model's blocks (run --threads).
        val (merged, mergedIds) =
          trackedCheckpoint(mergeByKey(m, existing.filter(touchedFilter), pinnedBatch))
        merged.queryExecution.toRdd.count() // materialize pre-write
        overwritePartitions(m, merged, p)
        val out = readTable(p)
        (batchIds ++ mergedIds).foreach(id =>
          spark.sparkContext.getPersistentRDDs.get(id)
            .foreach(_.unpersist(blocking = false)))
        out
      case _ => replace(m, mergeByKey(m, existing, batch))
    }
  }

  /** A LAZY localCheckpoint plus the persistent-RDD ids it registered,
    * captured under a lock so ids created by a concurrently-running
    * model (run --threads) are never attributed to this one. Creation
    * registers persistence immediately (no job runs inside the lock);
    * the caller materializes with an action when it needs the blocks. */
  private val checkpointLock = new Object
  private def trackedCheckpoint(df: DataFrame): (DataFrame, Set[Int]) =
    checkpointLock.synchronized {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint(eager = false)
      (out, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
    }

  /** The shared partitioned-overwrite sink (insert_overwrite + the
    * partition-scoped merge): dynamic partition overwrite replaces ONLY
    * the partitions present in `df`, and the sidecar pins the aligned
    * schema — files from older partitions missing an appended column
    * read as null under the explicit sidecar schema. Parquet by
    * construction: both callers sit behind writeTable's file_format
    * guard on the first full build. */
  private def overwritePartitions(m: ModelNode, df: DataFrame, p: Path): Unit = {
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(m.partitionBy: _*)
      .parquet(p.toString)
    Files.writeString(schemaSidecar(p), df.schema.json)
  }

  /** dbt's MERGE semantics on aligned frames: delete-insert by
    * unique_key, with `merge_exclude_columns` keeping the stored value
    * for keys that already exist (the created_at/inserted_at
    * audit-column pattern — MERGE with those columns dropped from the
    * UPDATE SET list); brand-new keys take the batch row whole. No key →
    * plain append. */
  private def mergeByKey(m: ModelNode, existing: DataFrame,
      batch: DataFrame): DataFrame = {
    val mergeExclude = strListConfig(m, "merge_exclude_columns")
    m.uniqueKey match {
      case Some(k) if mergeExclude.nonEmpty =>
        val kept = existing.join(batch.select(col(k)), Seq(k), "left_anti")
        val stored = existing.select(
          col(k).as("_mk") +: mergeExclude.map(c => col(c).as(s"_ex_$c")): _*)
        // match-flag, not coalesce: a stored NULL in an excluded column
        // must stay NULL, not fall through to the batch value
        val upserted = batch.join(stored, col(k) === col("_mk"), "left")
          .select(batch.columns.toSeq.map { c =>
            if (mergeExclude.contains(c))
              when(col("_mk").isNotNull, col(s"_ex_$c")).otherwise(col(c)).as(c)
            else col(c)
          }: _*)
        kept.unionByName(upserted)
      case Some(k) => existing.join(batch.select(col(k)), Seq(k), "left_anti")
        .unionByName(batch)
      case None => existing.unionByName(batch)
    }
  }

  /** Snapshot materialization (dbt's SCD2): track row versions over
    * time. The target carries `dbt_valid_from` / `dbt_valid_to` (null =
    * current). The two strategies differ only in when a version starts
    * and when a key's incoming row counts as changed:
    *  - `timestamp` (default): a version starts at the row's `updated_at`;
    *    a row changed when `updated_at` advanced;
    *  - `check` (for sources with NO reliable updated_at): a version
    *    starts at the run's clock (`snapshotAt`, injectable for
    *    determinism); a row changed when any `check_cols` column differs
    *    null-safely (NULL→value and value→NULL are changes);
    *    `check_cols='all'` compares every non-key column.
    * Both then share one merge, [[scd2]]. */
  private def runSnapshot(m: ModelNode): DataFrame = {
    val key = m.uniqueKey.getOrElse(throw new IllegalArgumentException(
      s"snapshot ${m.name} needs unique_key"))
    val updatedAt = strConfig(m, "strategy") match {
      case Some("check") => None
      case _ => Some(strConfig(m, "updated_at").getOrElse(
        throw new IllegalArgumentException(s"snapshot ${m.name} needs updated_at")))
    }
    recoverSwap(m)
    val p = tablePath(m)
    val runClock = lit(snapshotAt.getOrElse(
      new java.sql.Timestamp(System.currentTimeMillis())))
    val source = execSql(m, isIncremental = false)
    val (validFrom, changed) = updatedAt match {
      case Some(u) => (col(u), col("in.dbt_valid_from") > col("cur.dbt_valid_from"))
      case None =>
        val checkCols: Seq[String] = strListConfig(m, "check_cols") match {
          case Seq("all") => source.columns.filterNot(_ == key).toSeq
          case cols if cols.nonEmpty => cols
          case _ => throw new IllegalArgumentException(
            s"snapshot ${m.name}: strategy='check' needs check_cols")
        }
        (runClock.cast(TimestampType),
          checkCols.map(c => !(col("cur." + c) <=> col("in." + c)))
            .reduceOption(_ || _).getOrElse(lit(false)))
    }
    val stampType =
      updatedAt.fold[DataType](TimestampType)(source.schema(_).dataType)
    val stamped = source
      .withColumn("dbt_valid_from", validFrom)
      .withColumn("dbt_valid_to", lit(null).cast(stampType))
    // a NULL updated_at would NULL every <=/>-comparison in the SCD2
    // merge and silently DROP that key's rows from the rewritten
    // snapshot (it falls out of keptCurrent, closedNow and inserted
    // alike) — data loss must be loud, like the numeric-updated_at case
    updatedAt.foreach { u =>
      if (source.schema(u).nullable &&
          stamped.filter(col(u).isNull).limit(1).count() > 0)
        throw new IllegalArgumentException(
          s"snapshot ${m.name}: updated_at '$u' is NULL for some " +
            "source rows — their keys would silently vanish from the " +
            "snapshot; filter or coalesce them in the snapshot query")
    }
    if (fullRefresh || !Files.exists(p)) persist(m, stamped)
    else {
      // dbt's invalidate_hard_deletes: a current row whose key vanished
      // from the source closes at the RUN's clock (the source carries no
      // event time for a deletion); default false = deleted keys stay
      // open, dbt's default
      val hardDelete = boolConfig(m, "invalidate_hard_deletes")
      // The deletion stamp is the run clock cast to the version stamp's
      // dtype. For a NUMERIC updated_at (e.g. an epoch-nanos long) that
      // cast yields epoch SECONDS — dbt_valid_to would land in different
      // units than dbt_valid_from, closing rows decades in the past. No
      // encoding metadata exists to scale by, so fail loudly: normalize
      // updated_at to a timestamp (see graft.ops.Tables.normalizeTs)
      // before enabling invalidate_hard_deletes. Timestamp/date/string
      // casts are unit-safe.
      if (hardDelete && stampType.isInstanceOf[NumericType])
        throw new IllegalArgumentException(
          s"snapshot ${m.name}: invalidate_hard_deletes requires a " +
            s"timestamp/date updated_at column; '${updatedAt.mkString}' is " +
            s"${stampType.simpleString}. Cast it in the snapshot query " +
            "(epoch-long encodings are ambiguous: sec/ms/ns).")
      replace(m, scd2(readTable(p), stamped, key, changed,
        if (hardDelete) Some(runClock.cast(stampType)) else None))
    }
  }

  /** dbt's SCD2 merge of a snapshot's stamped source rows into its stored
    * versions, shared by both strategies. Against the CURRENT rows:
    *  - new keys insert as current;
    *  - keys whose incoming row is `changed` (a predicate over the
    *    joined `cur.` and `in.` columns) close the old version at the new
    *    version's dbt_valid_from and insert the new one;
    *  - with `deleteAt` set (invalidate_hard_deletes), a current key gone
    *    from the source closes at that stamp;
    *  - unchanged rows and already-closed history pass through untouched.
    * One shuffle on the key; history never rewrites more than the touched
    * keys' rows (the full-outer join is key-partitioned). */
  private def scd2(existing: DataFrame, stamped: DataFrame, key: String,
      changed: Column, deleteAt: Option[Column]): DataFrame = {
    val closed = existing.filter(col("dbt_valid_to").isNotNull)
    val current = existing.filter(col("dbt_valid_to").isNull)
    val joined = current.as("cur").join(
      stamped.select(col(key).as("_k"), col("*")).as("in"),
      col("cur." + key) === col("_k"), "full_outer")
    val isCur = col("cur." + key).isNotNull
    val isIn = col("_k").isNotNull
    def closedAt(validTo: Column) = current.columns.toSeq.map {
      case "dbt_valid_to" => validTo.as("dbt_valid_to")
      case c => col("cur." + c)
    }
    val keptCurrent = joined // unchanged or no new row: keep as-is
      .filter(isCur && (!isIn || !changed) && (if (deleteAt.isDefined) isIn else lit(true)))
      .select(current.columns.toSeq.map(c => col("cur." + c)): _*)
    val hardClosed = deleteAt.map(at => joined // key gone from the source
      .filter(isCur && !isIn).select(closedAt(at): _*))
    val closedNow = joined // superseded: close at the new version's start
      .filter(isCur && isIn && changed)
      .select(closedAt(col("in.dbt_valid_from")): _*)
    val inserted = joined // new key or new version: insert as current
      .filter(isIn && (!isCur || changed))
      .select(current.columns.toSeq.map(c => col("in." + c)): _*)
    (Seq(closed, keptCurrent) ++ hardClosed ++ Seq(closedNow, inserted))
      .reduce(_ unionByName _)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
    }

  /** The sibling directories a table replace stages through. */
  private def tmpPath(m: ModelNode): Path = warehouseDir.resolve(m.name + "__tmp")
  private def oldPath(m: ModelNode): Path = warehouseDir.resolve(m.name + "__old")

  /** Replace a model's table with `df`, which may read from it (so the
    * table cannot be overwritten in place): write a sibling `__tmp`, then
    * swap it in crash-safely by move-aside (p → __old, tmp → p, drop
    * __old) — never delete-then-move, whose crash window leaves NO table
    * at p (for a snapshot that silently rebuilt a fresh baseline, losing
    * all SCD2 history). Every window here leaves a complete table
    * recoverable by [[recoverSwap]] on the next run. The swap costs
    * renames instead of a second full write. */
  private def replace(m: ModelNode, df: DataFrame): DataFrame = {
    val (p, tmp, old) = (tablePath(m), tmpPath(m), oldPath(m))
    writeTable(m, df, tmp)
    deleteTree(old)
    Files.move(p, old)
    Files.move(tmp, p)
    deleteTree(old)
    readTable(p)
  }

  /** Finish an interrupted [[replace]] before any exists(p) decision:
    * p missing + complete leftovers ⇒ restore (tmp is newest — it was
    * complete before p moved aside; __old is the pre-swap table); p
    * intact ⇒ any leftover __old is stale and any leftover __tmp is an
    * incomplete write the coming overwrite replaces anyway. */
  private def recoverSwap(m: ModelNode): Unit = {
    val (p, tmp, old) = (tablePath(m), tmpPath(m), oldPath(m))
    if (!Files.exists(p)) {
      if (Files.exists(tmp)) Files.move(tmp, p)
      else if (Files.exists(old)) Files.move(old, p)
    } else deleteTree(old)
  }

  // --------------------------------------------------------- freshness
  /** dbt `source freshness`: for every source carrying `freshness:` +
    * `loaded_at_field`, compute max(loaded_at_field) and classify the
    * age against warn_after/error_after. Returns
    * sourceId → (status ∈ pass|warn|error|runtime error, max loaded_at).
    * One MAX aggregate per source — combinable, no shuffle beyond the
    * scalar collect; `now` is injectable for deterministic tests. */
  def sourceFreshness(
      now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())
  ): Map[String, (String, Option[java.sql.Timestamp])] =
    manifest.sources.collect {
      case (id, src) if src.freshness.isDefined && src.loadedAtField.isDefined =>
        val f = src.freshness.get
        val view =
          if (src.external.isDefined) externalView(src) else sourceView(src)
        val res = try {
          val table = spark.table(view)
          // an epoch-long loaded_at_field casts as SECONDS — a ms/ns
          // encoding lands millennia ahead, the age goes negative and a
          // stale source reports 'pass' forever; ambiguous units fail
          // loudly like the snapshot invalidate_hard_deletes path
          val dt = table.schema(src.loadedAtField.get).dataType
          if (dt.isInstanceOf[NumericType])
            throw new IllegalArgumentException(
              s"source freshness $id: loaded_at_field " +
                s"'${src.loadedAtField.get}' is ${dt.simpleString} — " +
                "epoch-long encodings are ambiguous (sec/ms/ns); cast it " +
                "to a timestamp in the source or a staging model")
          val row = table
            .agg(max(col(src.loadedAtField.get).cast("timestamp"))).head()
          if (row.isNullAt(0)) ("error", None) // empty source: stale by definition
          else {
            val maxTs = row.getTimestamp(0)
            val age = (now.getTime - maxTs.getTime) / 1000L
            val status =
              if (f.errorAfter.exists(r => age > r.seconds)) "error"
              else if (f.warnAfter.exists(r => age > r.seconds)) "warn"
              else "pass"
            (status, Some(maxTs))
          }
        } catch {
          case e: Exception => (s"runtime error: ${e.getMessage}", None)
        }
        id -> res
    }

  // ------------------------------------------------------------- tests
  /** Run generic data tests as violation queries; returns violations per
    * test id (0 = pass), mirroring dbt test semantics (SURVEY §2.F). */
  def runTests(onModels: Option[Set[String]] = None): Map[String, Long] =
    testsInScope(onModels).map { case (tid, t) => tid -> runOneTest(tid, t) }

  // -------------------------------------------------------- unit tests
  /** dbt 1.8 `unit_tests:` execution: render the tested model with each
    * `given:` input swapped for a fixture temp view, run the SQL, and
    * diff the output against `expect:` EXACTLY on the expect rows'
    * column set (dbt compares only the columns you list). Returns
    * uniqueId → (status, detail): `pass`; `fail` with a row diff;
    * `skipped` when `modelStatus` says the tested model errored/was
    * skipped this invocation; `error` for resolution/config problems.
    *
    * Fixture typing: when the REAL input relation resolves in this
    * session (the normal case — test/build materialize the DAG first),
    * fixture rows are cast to its schema and unlisted columns become
    * typed NULLs (dbt's semantics). Otherwise types are inferred from
    * the fixture literals (int→bigint, float→double, bool, else
    * string). Inputs with no `given:` entry read the real relation.
    * Scalar column types only — array/struct fixture literals are not
    * castable from strings and fail loudly. */
  def runUnitTests(selected: Option[Set[String]] = None,
      modelStatus: Map[String, String] = Map.empty)
      : Map[String, (String, String)] =
    manifest.unitTests
      .filter { case (uid, ut) => selected.forall(sel =>
        sel(uid) || ut.dependsOn.nodes.exists(sel)) }
      .map { case (uid, ut) =>
        val blocked = ut.dependsOn.nodes.exists(d =>
          modelStatus.get(d).exists(s => s == "error" || s == "skipped"))
        uid -> {
          if (blocked) ("skipped", "model not built")
          else
            try runOneUnitTest(ut)
            catch {
              case scala.util.control.NonFatal(e) =>
                ("error", Option(e.getMessage).getOrElse(e.toString))
            }
        }
      }

  /** The session view a `given:` input string stands for. */
  private def inputView(input: String, utName: String): String = {
    JinjaLite.scan(input, JinjaLite.Framing.Bare).headOption.map(_.target) match {
      case Some(r: JinjaLite.RefCall) => refResolver(r)
      case Some(sc: JinjaLite.SourceCall) => sourceRelation(sc, s"unit test $utName")
      case None => throw new IllegalArgumentException(
        s"unit test $utName: given input '$input' is neither ref() nor source()")
    }
  }

  /** Build one fixture frame: provided values parse as strings and cast
    * to the target column types; unlisted target columns become typed
    * NULLs. A provided column the target schema doesn't have is a LOUD
    * config error (dbt errors on unknown fixture columns — silently
    * dropping it would turn a fixture typo into a typed-NULL test). */
  private def fixtureFrame(target: String, utName: String,
      rows: Vector[graft.core.yaml.YMap]): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core.yaml.{YBool, YDbl, YInt}
    val realSchema: Option[StructType] =
      if (scala.util.Try(spark.catalog.tableExists(target)).getOrElse(false))
        Some(spark.table(target).schema)
      else None
    val schema = realSchema.getOrElse {
      // no live relation: infer each provided column's type from its
      // first non-null literal
      val cols = rows.flatMap(_.entries.map(_._1)).distinct
      StructType(cols.map { c =>
        val t = rows.iterator.flatMap(_.get(c)).collectFirst {
          case YInt(_) => LongType
          case YDbl(_) => DoubleType
          case YBool(_) => BooleanType
        }.getOrElse(StringType)
        StructField(c, t)
      })
    }
    val known = schema.map(_.name).toSet
    val unknown = rows.flatMap(_.entries.map(_._1)).distinct
      .filterNot(known)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unit test $utName: fixture column(s) ${unknown.mkString(", ")} " +
        s"not in $target's schema (has: ${schema.map(_.name).mkString(", ")})")
    fixtureFrameFrom(schema, rows)
  }

  private def runOneUnitTest(ut: graft.core.model.UnitTestNode)
      : (String, String) = {
    val m = manifest.nodes.values
      .find(n => n.name == ut.model && n.uniqueId.startsWith("model."))
      .getOrElse(throw new IllegalArgumentException(
        s"unit test ${ut.name}: unknown model '${ut.model}'"))
    if (m.language != "sql") throw new UnsupportedOperationException(
      s"unit test ${ut.name}: only SQL models are unit-testable")
    // given inputs → uniquely named fixture views; the model renders with
    // resolvers that substitute them, so NO shared session view mutates
    // (concurrent runs on this session stay correct)
    // view-safe name: YAML allows unit-test names Spark identifiers
    // don't (dashes, dots) — sanitized here so such a test still RUNS
    // instead of erroring on view creation. The raw name's hash rides
    // along because sanitization is lossy ('a-b' and 'a.b' both map to
    // a_b): under build --threads>1 two such tests would otherwise
    // createOrReplace/drop EACH OTHER'S fixture views mid-evaluation —
    // a silent wrong pass/fail, not an error.
    val safe = ut.name.replaceAll("[^A-Za-z0-9_]", "_") +
      f"_${ut.name.hashCode & 0xffffff}%06x"
    // duplicate given: blocks for the same input would silently override
    // each other in the Map (and leak the earlier fixture view) — dbt
    // errors on duplicate inputs, so reject BEFORE creating any view
    val targets = ut.given.map(g => inputView(g.input, ut.name))
    val dups = targets.diff(targets.distinct).distinct
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"unit test ${ut.name}: duplicate given input(s) ${dups.mkString(", ")}")
    val fixtures: Map[String, String] = ut.given.zip(targets).zipWithIndex.map {
      case ((g, target), i) =>
        val fix = s"__graft_ut_${safe}_$i"
        fixtureFrame(target, ut.name, g.rows).createOrReplaceTempView(fix)
        target -> fix
    }.toMap
    try {
      val where = s"unit test ${ut.name}"
      val sql = JinjaLite.render(m.rawCode,
        resolveRef = rc => { val v = refResolver(rc); fixtures.getOrElse(v, v) },
        resolveSource = sc => {
          val v = sourceRelation(sc, where); fixtures.getOrElse(v, v) },
        vars = vars,
        thisRelation = Some(viewName(m.name)),
        macros = macroDefs,
        isIncremental = false)
      val actual = spark.sql(sql)
      val expectCols = ut.expect.flatMap(_.entries.map(_._1)).distinct
      val missing = expectCols.filterNot(actual.columns.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"unit test ${ut.name}: expect column(s) ${missing.mkString(", ")} " +
          s"not produced by ${ut.model} (has: ${actual.columns.mkString(", ")})")
      if (expectCols.isEmpty && ut.expect.nonEmpty)
        throw new IllegalArgumentException(
          s"unit test ${ut.name}: expect rows carry no columns")
      if (ut.expect.isEmpty) {
        // expect: {rows: []} — the model must produce ZERO rows
        val n = actual.count()
        return (if (n == 0) ("pass", "")
                else ("fail", s"expected 0 rows, got $n"))
      }
      // compare EXACTLY, as value strings of the model's own output types
      // (expected literals cast to those types first, so 1 == 1.0 when
      // the column is double — dbt type-coerces fixture literals too)
      val proj: Seq[org.apache.spark.sql.Column] =
        expectCols.map(c => col(c).cast("string").as(c))
      // escaped join: a raw '|' join would let ('x|y','z') equal
      // ('x','y|z') — a false PASS. Backslash-escape the separator (and
      // itself) in values; a bare NUL marks NULL. A GENUINE NUL inside a
      // value (SQL chr(0) — reachable from model output even though YAML
      // can't spell one) escapes to \0 so it can never alias the NULL
      // sentinel into a false pass.
      def key(r: org.apache.spark.sql.Row): String =
        (0 until r.length).map(i =>
          if (r.isNullAt(i)) "\u0000"
          else r.getString(i).replace("\\", "\\\\").replace("|", "\\|")
            .replace("\u0000", "\\0"))
          .mkString("|")
      val actualRows = actual.select(proj: _*).collect().toSeq.map(key)
      val expSchema = org.apache.spark.sql.types.StructType(
        expectCols.map(c => actual.schema(c).copy(name = c)))
      val expectedRows = fixtureFrameFrom(expSchema, ut.expect)
        .select(proj: _*).collect().toSeq.map(key)
      if (actualRows.sorted == expectedRows.sorted) ("pass", "")
      else {
        val a = actualRows.groupBy(identity).view.mapValues(_.size).toMap
        val e = expectedRows.groupBy(identity).view.mapValues(_.size).toMap
        val onlyA = actualRows.filter(r => a(r) > e.getOrElse(r, 0)).distinct
        val onlyE = expectedRows.filter(r => e(r) > a.getOrElse(r, 0)).distinct
        ("fail",
          s"rows differ on (${expectCols.mkString(", ")}) — " +
            s"unexpected: [${onlyA.take(5).mkString("; ")}] " +
            s"missing: [${onlyE.take(5).mkString("; ")}]")
      }
    } finally
      fixtures.values.foreach(spark.catalog.dropTempView(_))
  }

  /** [[fixtureFrame]] against an explicit schema (the expect compare). */
  private def fixtureFrameFrom(schema: org.apache.spark.sql.types.StructType,
      rows: Vector[graft.core.yaml.YMap]): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core.yaml.YNull
    val strSchema = StructType(schema.map(f => f.copy(dataType = StringType,
      nullable = true)))
    val data = rows.map { r =>
      org.apache.spark.sql.Row.fromSeq(schema.map(f =>
        r.get(f.name) match {
          case None | Some(YNull) => null
          case Some(y) => y.asStr
        }))
    }
    val out = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), strSchema)
      .select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    // loud casts: fixtures are tiny, so eagerly catch a provided literal
    // that the (non-ANSI) cast silently turned into NULL — 'abc' on a
    // bigint column must be a config error, not a surprise NULL test
    out.collect().zip(data).foreach { case (cast, raw) =>
      schema.indices.foreach { i =>
        if (cast.isNullAt(i) && raw.get(i) != null)
          throw new IllegalArgumentException(
            s"fixture value '${raw.get(i)}' is not a valid " +
              s"${schema(i).dataType.simpleString} for column " +
              s"'${schema(i).name}'")
      }
    }
    out
  }

  /** dbt-faithful test execution for the CLI: per-test terminal status
    * instead of propagate-first-exception. A test whose model dependency
    * the SAME invocation left in error/skipped state (per `modelStatus`)
    * records `skipped` WITHOUT executing — dbt build marks such tests
    * skipped rather than crashing on the never-materialized relation —
    * and a test that itself throws (missing relation, bad config)
    * records `error` with violations −1. Everything else is pass/fail
    * by violation count. */
  def runTestsDetailed(onModels: Option[Set[String]] = None,
      modelStatus: Map[String, String] = Map.empty,
      storeFailures: Boolean = false)
      : Map[String, (String, Long)] =
    testsInScope(onModels).map { case (tid, t) =>
      val depBlocked = t.dependsOn.nodes.exists(d =>
        modelStatus.get(d).exists(s => s == "error" || s == "skipped"))
      tid -> {
        if (depBlocked) ("skipped", 0L)
        else
          try {
            val frame = violationFrame(tid, t)
            // dbt store_failures: the violating rows persist to an audit
            // relation (<warehouse>/dbt_test__audit/<test_name>) for the
            // debugging workflow; per-test config wins over the CLI flag
            // in BOTH directions (store_failures: false opts a test out
            // of --store-failures, like dbt). The count then reads off
            // the written parquet so the violation query runs once.
            val store = testConfOpt(t, "store_failures")
              .map(s => s.trim.equalsIgnoreCase("true"))
              .getOrElse(storeFailures)
            val v =
              if (store) {
                val p = storeFailuresPath(t)
                Files.createDirectories(p.getParent)
                frame.write.mode("overwrite").parquet(p.toString)
                spark.read.schema(frame.schema).parquet(p.toString).count()
              } else frame.count()
            (testStatus(t, v), v)
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[test] $tid errored: ${e.getMessage}")
              ("error", -1L)
          }
      }
    }

  /** Audit relation for a test's stored failures — dbt's
    * `<schema>_dbt_test__audit.<test_name>` mapped onto the file
    * warehouse. Sanitized like view names so any YAML test name lands on
    * a writable path; suffixed with a uniqueId hash (same scheme as
    * unit-test fixture views) because sanitization is lossy — 'a-b' and
    * 'a.b' both map to a_b and would silently overwrite each other's
    * audit parquet otherwise. */
  def storeFailuresPath(t: graft.core.model.TestNode): Path =
    warehouseDir.resolve("dbt_test__audit")
      .resolve(t.name.replaceAll("[^A-Za-z0-9_]", "_") +
        f"_${t.uniqueId.hashCode & 0xffffff}%06x")

  /** A test-config key, read from the kwargs map or its nested `config:`
    * block (dbt accepts both spellings). */
  private def testConfOpt(t: graft.core.model.TestNode,
      key: String): Option[String] =
    t.config.get(key)
      .orElse(t.config.get("config")
        .collect { case c: graft.core.yaml.YMap => c }.flatMap(_.get(key)))
      .map(_.asStr)

  /** dbt severity semantics: `severity: error` (default) checks
    * `error_if` (default `!=0`) first → fail, then `warn_if` (default
    * `!=0`) → warn; `severity: warn` skips error_if entirely and only
    * ever warns. Conditions are the dbt comparison strings ('>5',
    * '>=10', '!=0', '=0'); anything else is a LOUD config error — a
    * typo'd threshold must not silently pass a failing test. */
  private def testStatus(t: graft.core.model.TestNode,
      violations: Long): String = {
    def met(key: String): Boolean = {
      val cond = testConfOpt(t, key).getOrElse("!=0")
      val m = """^(>=|<=|!=|<>|==|=|>|<)\s*(-?\d+)$""".r
      cond.trim match {
        case m(op, num) =>
          val k = num.toLong
          op match {
            case ">" => violations > k
            case "<" => violations < k
            case ">=" => violations >= k
            case "<=" => violations <= k
            case "=" | "==" => violations == k
            case "!=" | "<>" => violations != k
          }
        case other => throw new IllegalArgumentException(
          s"test ${t.uniqueId}: unparseable $key condition '$other' " +
            "(expected e.g. '>10', '>=1', '!=0')")
      }
    }
    testConfOpt(t, "severity").map(_.trim.toLowerCase)
      .getOrElse("error") match {
      case "warn" => if (met("warn_if")) "warn" else "pass"
      case "error" =>
        if (met("error_if")) "fail"
        else if (met("warn_if")) "warn"
        else "pass"
      case other => throw new IllegalArgumentException(
        s"test ${t.uniqueId}: severity must be warn or error, got '$other'")
    }
  }

  /** `graft build` scopes tests to the models it materialized; the
    * bare `graft test` keeps the full suite (onModels = None). A test is
    * in scope when a node it depends on was selected OR when the test
    * ITSELF was (dbt build --select some_test must run it, not silently
    * no-op). */
  private def testsInScope(onModels: Option[Set[String]])
      : Map[String, graft.core.model.TestNode] =
    manifest.tests.filter { case (tid, t) =>
      onModels.forall(sel => sel(tid) || t.dependsOn.nodes.exists(sel)) }

  private def runOneTest(tid: String, t: graft.core.model.TestNode): Long =
    violationFrame(tid, t).count()

  /** The violating-rows frame a generic test compiles to (what dbt's
    * rendered test SELECTs); `count()` of it is the violation count and
    * `store_failures` persists it as-is. */
  private def violationFrame(tid: String,
      t: graft.core.model.TestNode): DataFrame = {
      val modelId = t.dependsOn.nodes.find(_.startsWith("model."))
        .getOrElse(throw new IllegalStateException(s"test $tid has no model dep"))
      val df = spark.table(viewName(manifest.nodes(modelId).name))
      val colName = t.column.getOrElse("id")
      t.testType match {
        case "not_null" => df.filter(col(colName).isNull)
        case "unique" =>
          // dbt's compiled test filters NULLs before grouping (pairing
          // unique + not_null is the standard pattern; double-reporting
          // the NULLs here would fail a green-in-dbt project)
          df.filter(col(colName).isNotNull)
            .groupBy(col(colName)).count().filter(col("count") > 1)
        case "accepted_values" =>
          // a parsed YAML list, a `['a', 'b']` literal the lite parser
          // surfaces as a bare string (split quote-aware), or a single
          // value — and fail loudly when values are missing (an empty
          // list would flag EVERY non-null row)
          val vals = t.config.get("values") match {
            case Some(YList(vs)) => vs.map(_.asStr)
            case Some(y) => JinjaLite.parseList(y.asStr).getOrElse(Vector(y.asStr))
            case None => throw new IllegalArgumentException(
              s"accepted_values test $tid needs `values`")
          }
          df.filter(!col(colName).cast("string").isin(vals: _*))
        case "relationships" =>
          // the TESTED model vs the `to` target: dep ORDER is not a
          // contract (dbt-core manifests list refs arbitrarily), so the
          // target resolves from the test's own `to: ref(...)` config
          // when present; the tested frame is then the OTHER model dep
          val modelDeps = t.dependsOn.nodes.filter(_.startsWith("model."))
          val toModel = t.config.get("to").toSeq
            .flatMap(to => JinjaLite.refs(to.asStr, JinjaLite.Framing.Bare).map(_.name))
            .flatMap(nm => modelDeps.find(d =>
              manifest.nodes.get(d).exists(_.name == nm)))
            .headOption
            .orElse(modelDeps.find(_ != modelId))
            .getOrElse(throw new IllegalArgumentException(
              s"relationships test $tid needs `to`"))
          val tested = modelDeps.find(_ != toModel).getOrElse(modelId)
          val tdf = spark.table(viewName(manifest.nodes(tested).name))
          val field = t.config.get("field").map(_.asStr).getOrElse("id")
          val target = spark.table(viewName(manifest.nodes(toModel).name))
          tdf.filter(col(colName).isNotNull)
            .join(target, col(colName) === target(field), "left_anti")
        case custom =>
          // custom generic test: a {% test %} block returning violating
          // rows; `model` binds to the model's view, `column_name` to the
          // tested column (`tests/generic/custom_generic_test.sql`)
          val td = macroDefs.getOrElse(custom,
            throw new UnsupportedOperationException(
              s"generic test type $custom: no {% test $custom %} definition found"))
          var sql = td.body
            .replaceAll("""\{\{\s*model\s*\}\}""",
              viewName(manifest.nodes(modelId).name))
            .replaceAll("""\{\{\s*column_name\s*\}\}""", colName)
          sql = JinjaLite.render(sql,
            resolveRef = rc => viewName(rc.name),
            resolveSource = _ => throw new IllegalArgumentException(
              s"source() unsupported in generic test $custom"),
            vars = vars)
          spark.sql(sql)
      }
  }
}

object Runner {
  private type ExtKey = (String, String, Seq[(String, String)])

  /** Ready-queue DAG scheduler (Kahn's algorithm with bounded
    * concurrency): `order` is a topological order of the nodes to run;
    * a node is ready once every parent in `order` has settled, and ready
    * nodes start in `order` position, at most `parallelism` at once. At
    * `parallelism = 1` nodes therefore run exactly in `order`. After the
    * first throw no node starts; the running ones settle and then that
    * throw is rethrown, so nothing writes after the caller sees it. */
  private[engine] def schedule(order: Vector[String],
      parents: String => Set[String], parallelism: Int)(
      run: String => Unit): Unit = {
    val pos = order.zipWithIndex.toMap
    val waiting = scala.collection.mutable.Map.empty[String, Int]
    val children = scala.collection.mutable.Map.empty[String, List[String]]
    order.foreach { id =>
      val ps = parents(id).filter(pos.contains)
      waiting(id) = ps.size
      ps.foreach(p => children(p) = id :: children.getOrElse(p, Nil))
    }
    val ready = scala.collection.mutable.PriorityQueue
      .from(order.indices.filter(i => waiting(order(i)) == 0))(Ordering[Int].reverse)
    val slots = math.max(1, parallelism)
    val settled = new java.util.concurrent.LinkedBlockingQueue[(String, Option[Throwable])]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    var running = 0
    var failure: Option[Throwable] = None
    def launch(): Unit =
      while (failure.isEmpty && running < slots && ready.nonEmpty) {
        val id = order(ready.dequeue())
        running += 1
        pool.execute(() => settled.put(id ->
          (try { run(id); None } catch { case e: Throwable => Some(e) })))
      }
    try {
      launch()
      while (running > 0) {
        val (id, err) = settled.take()
        running -= 1
        if (err.isDefined) failure = failure.orElse(err)
        else children.getOrElse(id, Nil).foreach { c =>
          waiting(c) -= 1
          if (waiting(c) == 0) ready.enqueue(pos(c))
        }
        launch()
      }
    } finally pool.shutdown()
    failure.foreach(throw _)
  }

  /** Per-session view name → the resolved (location, format, options)
    * the external-source temp view was registered from. See
    * [[Runner.externalView]]: registration must re-run when any of the
    * three changes within a session, and must NOT re-run (schema
    * inference job) when none did. Keyed on the session OBJECT through a
    * WeakHashMap (reference identity, auto-evicted when a stopped
    * session is GC'd) — an identityHashCode key could collide with a
    * later session after GC and silently skip registration. */
  private[engine] val externalRegistered =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, ExtKey]]()

  private[engine] def externalKeys(
      spark: SparkSession): scala.collection.concurrent.TrieMap[String, ExtKey] =
    externalRegistered.synchronized {
      var m = externalRegistered.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, ExtKey]
        externalRegistered.put(spark, m)
      }
      m
    }
}
