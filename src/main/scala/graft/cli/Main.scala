package graft.cli

import graft.core.changes.{ChangeSet, ChangeSetProcessor}
import graft.core.graph.Selector
import graft.core.model.{ModelNode, Owner}
import graft.core.parse.{ManifestJson, ProjectLoader, RunResultsJson}
import graft.engine.Runner
import graft.mesh._
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** CLI mirroring the reference's command surface (`main.py`):
  *
  * {{{
  * graft run           [--select S]*             (execute the DAG)
  * graft build         [--select S]*             (run + data and unit tests)
  * graft test          [--select S]* [--store-failures]
  * graft retry         [--state D]               (rerun what run_results.json
  *                                                left in error/fail/skipped)
  * graft seed          [--select S]*             (only the seeds)
  * graft snapshot      [--select S]*             (only the snapshots)
  * graft compile       [--select S]*             (rendered SQL, nothing runs)
  * graft show           --select S [--limit N]   (preview rows, nothing kept)
  * graft run-operation MACRO [--args Y]
  * graft source freshness
  * graft ls|list       [--select S]*             (matching unique_ids)
  * graft clone          --state D [--select S]*
  * graft docs generate [--no-compile]            (manifest.json + catalog.json)
  * graft split NAME      --select S [--target-dir D]
  * graft create-group G  --select S [--owner-name N] [--group-yml-path F]
  * graft group G         --select S [--owner-name N]   (create-group + contracts)
  * graft contract|add-contract --select S [--public-only]
  * graft version      MODEL|--select S [--increment|--latest] [--defined-in F]
  * graft add-version  MODEL|--select S [--defined-in F]
  * graft bump-version MODEL|--select S [--increment|--latest] [--defined-in F]
  *                    (default latest_version behavior: prerelease)
  * graft connect         --project-paths P1 P2 | --projects-dir D
  *                       [--exclude-projects N]*
  * }}}
  *
  * Every selecting command also accepts `--selector NAME` (named selector
  * from `selectors.yml`), `--exclude` and `--state D` (a dbt-core
  * artifact directory, for `state:` and `result:` methods). Every command
  * that executes models takes dbt's `--threads N`, `--full-refresh`,
  * `--vars '{k: v}'` and `--defer --state D`. Global flags mirror the
  * reference group (`main.py:78-90`): `--version` prints the version and
  * exits, `--debug` raises log verbosity, `--dry-run` plans without
  * editing. `--project-path` (reference spelling, `cli.py:8`) and
  * `--project-dir` are interchangeable; `split` takes `--create-path` or
  * `--target-dir`. `--read-catalog` (or env `GRAFT_READ_CATALOG`) reuses
  * the project-local `.graft/warehouse` instead of re-materializing into
  * a temp dir (the reference's catalog-cache lever, `cli.py:98-104`);
  * `contract --public-only` restricts contracting to public models.
  *
  * All commands are pure planners; `--dry-run` prints the plan and stages
  * it against the files (so it fails on the same step a real run would)
  * without editing them (the reference's plan/execute split,
  * `main.py:99-110`).
  * Commands that need physical schemas (group/contract/docs) build the
  * project on a local SparkSession first (`materialize`); commands that
  * execute models share one run-and-report path (`execute`).
  */
object Main {

  private case class Args(
      positional: Vector[String],
      flags: Map[String, Vector[String]],
      switches: Set[String])

  /** Mirrors the reference's published version (dbt-meshify 0.5.5); the
    * reference prints the bare version string (`main.py:88-90`). */
  private val Version = "0.5.5"

  private def parse(argv: Array[String]): Args = {
    var pos = Vector.empty[String]
    var flags = Map.empty[String, Vector[String]].withDefaultValue(Vector.empty)
    var switches = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val a = argv(i)
      if (a == "--dry-run" || a == "--prerelease" || a == "--increment" ||
        a == "--latest" || a == "--debug" || a == "--read-catalog" ||
        a == "--public-only" || a == "--full-refresh" || a == "--defer" ||
        a == "--no-compile" || a == "--store-failures")
        switches += a.stripPrefix("--")
      else if (a.startsWith("--")) {
        val key = a.stripPrefix("--")
        val vals = Vector.newBuilder[String]
        while (i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
          i += 1; vals += argv(i)
        }
        flags = flags.updated(key, flags(key) ++ vals.result())
      } else pos :+= a
      i += 1
    }
    Args(pos, flags, switches)
  }

  def main(argv: Array[String]): Unit = {
    val code = run(argv)
    if (code != 0) sys.exit(code)
  }

  /** `--read-catalog` resolution: the flag, or either env-var spelling —
    * graft's own GRAFT_READ_CATALOG and the reference's
    * DBT_MESHIFY_READ_CATALOG (cli.py:98-104 reads the env var as an
    * alias of the flag). The env VALUE is coerced to bool the way
    * click's is_flag+envvar does — so `DBT_MESHIFY_READ_CATALOG=0`
    * (or false/no/off/empty) disables rather than enables. Pure over an
    * env map so specs can exercise both spellings without mutating
    * process env. */
  def readCatalogFrom(flag: Boolean, env: Map[String, String]): Boolean = {
    def truthy(v: String): Boolean =
      !Set("", "0", "false", "no", "off")(v.trim.toLowerCase)
    flag || env.get("GRAFT_READ_CATALOG").exists(truthy) ||
      env.get("DBT_MESHIFY_READ_CATALOG").exists(truthy)
  }

  /** [[main]] without the process exit: returns the would-be exit code so
    * embedders and specs can exercise failure paths (a sys.exit in a
    * forked test JVM aborts the whole suite). */
  def run(argv: Array[String]): Int = {
    // global --version prints the version string and exits, wherever it
    // appears (the reference's group-level flag, main.py:80,88-90)
    if (argv.contains("--version")) { println(Version); return 0 }
    // `operation <cmd>` is the reference's namespacing for the single-op
    // commands (main.py:114-118); accept and flatten it so invocations
    // port verbatim
    val argv1 = if (argv.headOption.contains("operation")) argv.drop(1) else argv
    val args = parse(argv1.drop(1))
    val command = argv1.headOption.getOrElse("help")
    // --project-path is the reference spelling (cli.py:8); --project-dir
    // is kept as the historical alias
    val root = Paths.get((args.flags("project-path") ++ args.flags("project-dir"))
      .headOption.getOrElse("."))
    val dryRun = args.switches("dry-run")
    // --debug maps the reference's DEBUG log level to Spark's (main.py:83)
    val logLevel = if (args.switches("debug")) "INFO" else "WARN"
    // --read-catalog (or the env-var forms: GRAFT_READ_CATALOG, plus the
    // reference's own spelling DBT_MESHIFY_READ_CATALOG — cli.py:98-104
    // reads the env var as an alias of the flag): reuse the project-local
    // warehouse across invocations instead of rebuilding into a throwaway
    // temp dir
    val readCatalog = Main.readCatalogFrom(
      args.switches("read-catalog"), sys.env)
    // integer flags: a value that is not an integer is a usage error,
    // reported in one line that names the flag (exit 2, like click)
    val Seq(threads, limit) = Seq("threads" -> 1, "limit" -> 5).map {
      case (flag, default) => args.flags(flag).headOption.fold(default)(v =>
        v.toIntOption.getOrElse {
          Console.err.println(s"graft: --$flag expects an integer, got '$v'")
          return 2
        })
    }
    def warehouse(): Path =
      if (readCatalog) Files.createDirectories(root.resolve(".graft").resolve("warehouse"))
      else Files.createTempDirectory("graft_wh")

    def apply(cs: ChangeSet, at: Path = root): Unit =
      new ChangeSetProcessor(at, dryRun = dryRun, log = println).process(Seq(cs))
    def readFile(p: String): String = Files.readString(root.resolve(p))
    // --state <path>: a directory of dbt artifacts, or one manifest file
    // whose directory holds the rest (dbt's --state convention)
    val statePath = args.flags("state").headOption.map(Paths.get(_))
    def stateDir(p: Path): Path =
      if (Files.isDirectory(p)) p else Option(p.getParent).getOrElse(Paths.get(""))
    def stateManifest: Option[Path] = statePath.map(p =>
      if (Files.isDirectory(p)) p.resolve("manifest.json") else p)
    // an inline-YAML map flag (`--vars '{key: value}'`, `--args`)
    def yamlMapFlag(flag: String): Map[String, String] =
      args.flags(flag).headOption.map(graft.core.yaml.Yaml.parseMap(_).entries
        .map { case (k, v) => k -> v.asStr }.toMap).getOrElse(Map.empty)
    // the project under --project-dir, loaded on first use (connect
    // loads its own projects)
    lazy val (cfg, m) = ProjectLoader.load(root)
    // selection = --select/--exclude grammar ∪ --selector (named selector
    // from selectors.yml, like the reference's pass-through to dbt ls)
    def selection: Set[String] = {
      // --state: comparison manifest for state:modified/state:new, loaded
      // through the artifact-interop front end. A --state dir may carry
      // only run_results.json (the retry flow); state:modified then fails
      // loudly in the selector rather than here with a bare
      // NoSuchFileException
      val state = stateManifest.filter(Files.isRegularFile(_))
        .map(ManifestJson.load)
      // run_results.json rides the same --state directory (dbt's retry
      // convention); absent file → None, and `result:` then fails loudly
      val results = statePath.flatMap(p => RunResultsJson.loadIfPresent(stateDir(p)))
      val bySelect =
        if (args.flags("select").nonEmpty)
          // --exclude is applied inside the select grammar here
          Selector.select(m, args.flags("select"), args.flags("exclude"),
            state, results)
        else Set.empty[String]
      val byName = args.flags("selector").headOption.map { name =>
        Selector.namedSelector(m, readFile("selectors.yml"), name)
      }.getOrElse(Set.empty)
      // lazy: the standalone exclude evaluation (a second full
      // fingerprint sweep for state: methods) only runs when something
      // actually consumes it — the named-selector subtraction or the
      // bare-exclude branch; the --select path already applied it inside
      // the grammar
      lazy val excluded =
        if (args.flags("exclude").nonEmpty)
          Selector.select(m, args.flags("exclude"), Nil, state, results)
        else Set.empty[String]
      if (args.flags("select").nonEmpty || args.flags("selector").nonEmpty)
        // --exclude narrows the named-selector set too (dbt subtracts the
        // exclusion from whatever was selected, never widens)
        bySelect ++ (if (byName.isEmpty) byName else byName -- excluded)
      else if (excluded.nonEmpty)
        // dbt: a bare --exclude applies against the FULL resource set
        // (`dbt ls --exclude x` = everything but x's selection)
        m.allResources.keySet -- excluded
      else Set.empty[String]
    }
    // any of --select/--selector/--exclude narrows the resource set
    def selectionActive: Boolean =
      args.flags("select").nonEmpty || args.flags("selector").nonEmpty ||
        args.flags("exclude").nonEmpty
    // a selected data or unit test pulls in the models it reads (dbt
    // builds what a test needs; otherwise a test-only selection
    // materializes nothing and the test errors on a missing relation)
    def withTestParents(sel: Set[String]): Set[String] = sel ++
      (m.tests.collect { case (tid, t) if sel(tid) => t.dependsOn.nodes } ++
        m.unitTests.collect { case (uid, ut) if sel(uid) => ut.dependsOn.nodes })
        .flatten.filter(_.startsWith("model."))
    // test-result report (pass/fail by violations; warn = advisory
    // severity/warn_if threshold, never affects the exit code; skipped =
    // model not built this invocation; error = the test itself threw)
    def printTestResults(results: Map[String, (String, Long)],
        ran: Option[Int]): Unit = {
      results.toSeq.sortBy(_._1).foreach { case (tid, (st, v)) =>
        println(st match {
          case "pass" => s"PASS $tid"
          // v < 0: no violation count applies (unit tests diff rows)
          case "fail" if v >= 0 => s"FAIL $tid ($v violations)"
          case "fail" => s"FAIL $tid"
          case "warn" if v >= 0 => s"WARN $tid ($v violations)"
          case "warn" => s"WARN $tid"
          case "skipped" => s"SKIP $tid (model not built)"
          case _ => s"ERROR $tid"
        })
      }
      val nPass = results.values.count(_._1 == "pass")
      val nFail = results.values.count(_._1 == "fail")
      val nWarn = results.values.count(_._1 == "warn")
      val nErr = results.values.count(_._1 == "error")
      val nSkip = results.values.count(_._1 == "skipped")
      // errors get their own bucket: '1 fail' when the test never ran
      // misreports an execution error as a data-quality failure
      val parts = Seq(s"$nPass pass", s"$nFail fail") ++
        (if (nWarn > 0) Seq(s"$nWarn warn") else Nil) ++
        (if (nErr > 0) Seq(s"$nErr error") else Nil) ++
        (if (nSkip > 0) Seq(s"$nSkip skipped") else Nil)
      println(ran.map(n => s"== $n ran, ").getOrElse("== ") +
        parts.mkString(", ") + " ==")
    }
    def spark(): SparkSession = {
      val s = graft.BenchConf.base()
        .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
        .appName("graft").config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel(logLevel)
      s
    }
    // dbt's --defer: refs outside the selection serve from the state
    // manifest's relations (requires --state, like state: selectors)
    lazy val deferTo =
      if (!args.switches("defer")) None
      else Some(ManifestJson.load(stateManifest.getOrElse(
        throw new IllegalArgumentException("--defer requires --state"))))
    // the one Runner factory: every Runner of this invocation carries its
    // flags (--full-refresh, --vars, --defer); clone passes its own
    // warehouse
    def runner(enforceAccess: Boolean = true, wh: Path = warehouse()): Runner =
      new Runner(spark(), m, cfg, wh, enforceAccess = enforceAccess,
        projectRoot = Some(root), readCatalog = readCatalog,
        fullRefresh = args.switches("full-refresh"),
        varOverrides = yamlMapFlag("vars"), defer = deferTo)
    // group/contract/docs read physical schemas: build the whole project
    // fail-fast with access checks off; returns model name → its view
    def materialize(): String => String = {
      val r = runner(enforceAccess = false)
      r.run()
      r.viewName
    }

    // The one path for the commands that execute models (run, seed,
    // snapshot, test, build, retry). It runs `sel` (None = the whole DAG)
    // dbt-style: a failing model records `error`, its descendants
    // `skipped`, and independent branches keep going. Then it prints the
    // statuses, runs the in-scope data and unit tests, prints one report,
    // writes target/run_results.json over `prior` (dbt writes it after
    // every invocation: it is what `graft retry` and the `result:`
    // selector methods read), and returns 1 iff a model errored or a
    // test failed or errored.
    //  - `tests`: None = no test phase; Some(scope) = the tests attached
    //    to a node in `scope` or selected themselves (None = all tests).
    //  - `quiet` (test): the DAG builds only so the tests' relations
    //    exist; no `ran` lines, and only failed models reach the artifact.
    //  - `reuseHealthy` (retry): see `Runner.runWithStatus`.
    //  - `which`: the command whose semantics apply, recorded in the
    //    artifact as dbt's `args.which` (retry passes the original one).
    //    `build` is dbt 1.8 build: a model's unit tests run BEFORE it
    //    materializes, and a failure skips it (its descendants skip
    //    through the parent cascade, nothing bad reaches the warehouse);
    //    the report counts the models run.
    def execute(sel: Option[Set[String]],
        tests: Option[Option[Set[String]]] = None, quiet: Boolean = false,
        reuseHealthy: Set[String] = Set.empty,
        prior: Map[String, String] = Map.empty, which: String = command): Int = {
      val build = which == "build"
      val r = runner()
      val unitInScope: String => Boolean = uid => tests.exists(_.forall(s =>
        s(uid) || m.unitTests(uid).dependsOn.nodes.exists(s)))
      val gated = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
      def unitGate(node: ModelNode): Option[String] = {
        val res = r.runUnitTests(Some(m.unitTests.collect {
          case (uid, ut) if ut.model == node.name && unitInScope(uid) => uid }.toSet))
        gated ++= res
        val bad = res.collect { case (uid, ("fail" | "error", _)) => uid }
        if (bad.isEmpty) None
        else Some(s"unit test(s) failed: ${bad.toSeq.sorted.mkString(", ")}")
      }
      val (ran, status) = r.runWithStatus(sel, parallelism = threads,
        gate = if (build) unitGate else _ => None, reuseHealthy = reuseHealthy)
      if (!quiet) {
        ran.keys.toSeq.sorted.foreach(id => println(s"ran $id"))
        status.toSeq.sorted.collect { case (id, st) if st != "success" =>
          println(s"$st $id") }
      }
      val data = tests.fold(Map.empty[String, (String, Long)])(scope =>
        r.runTestsDetailed(scope, status,
          storeFailures = args.switches("store-failures")))
      // build: an in-scope unit test whose model never reached the gate
      // (a parent failed) records skipped; one whose model was not part
      // of this run is left out, like dbt
      val units = gated.toMap ++ r.runUnitTests(Some(m.unitTests.keySet.filter(uid =>
        unitInScope(uid) && !gated.contains(uid) &&
          (!build || m.unitTests(uid).dependsOn.nodes.exists(status.contains)))),
        status)
      if (tests.nonEmpty) {
        printTestResults(data ++ units.map { case (uid, (st, _)) => uid -> (st, -1L) },
          ran = Option.when(build)(ran.size))
        units.toSeq.sorted.collect { case (uid, ("fail" | "error", d)) =>
          println(s"  $uid: $d") }
      }
      val outcomes = (if (quiet) status.filter(_._2 != "success") else status) ++
        data.map { case (tid, (st, _)) => tid -> st } ++
        units.map { case (uid, (st, _)) => uid -> st }
      RunResultsJson.write(root.resolve("target").resolve("run_results.json"),
        which, (prior ++ outcomes).toSeq.sorted)
      if (outcomes.values.exists(st => st == "error" || st == "fail")) 1 else 0
    }

    command match {
      case "run" =>
        // dbt's --threads: up to N models run at once on the shared
        // session, each starting as soon as its parents settle
        return execute(if (!selectionActive) None else Some(selection))

      case "split" =>
        val name = args.positional.head
        // --create-path is the reference spelling (cli.py:41-46)
        val target = (args.flags("create-path") ++ args.flags("target-dir"))
          .headOption.getOrElse(s"${name}_proj")
        apply(SubprojectCreator.initialize(m, cfg, name, selection, target, readFile))

      case "create-group" | "group" =>
        val name = args.positional.head
        val selected = selection
        val owner = Owner(
          name = args.flags("owner-name").headOption,
          email = args.flags("owner-email").headOption,
          extra = args.flags("owner-properties").headOption
            .map(y => graft.core.yaml.Yaml.parseMap(y).entries)
            .getOrElse(Vector.empty))
        // group YAML target: explicit flag > the unique existing
        // group-defining file > models/_groups.yml; multiple existing
        // group files are ambiguous (reference `main.py:592-604`)
        val path = args.flags("group-yml-path").headOption.getOrElse {
          val existing = cfg.modelPaths.flatMap { mp =>
            val dir = root.resolve(mp)
            if (!Files.isDirectory(dir)) Nil
            else {
              // Using: Files.walk streams hold directory handles open
              // until closed — abandoning the stream leaks FDs per
              // invocation in a long-lived embedding JVM
              scala.util.Using.resource(Files.walk(dir)) { stream =>
                val it = stream.iterator()
                val found = Vector.newBuilder[String]
                while (it.hasNext) {
                  val p = it.next()
                  val fn = p.getFileName.toString
                  if ((fn.endsWith(".yml") || fn.endsWith(".yaml")) &&
                    scala.util.Try(graft.core.yaml.Yaml
                      .parseMap(Files.readString(p)).contains("groups"))
                      .getOrElse(false))
                    found += root.relativize(p).toString
                }
                found.result()
              }
            }
          }
          existing match {
            case Vector() => "models/_groups.yml"
            case Vector(one) => one
            case many => sys.error(
              s"Unable to pick which group YAML file to use between " +
                s"${many.mkString(", ")}. Please specify --group-yml-path.")
          }
        }
        if (command == "create-group")
          apply(Grouper.addGroup(m, name, owner, selected, path))
        else {
          // group = create-group + contracts for non-private models; the
          // project materializes first so schemas exist (the reference
          // reads the warehouse catalog here)
          val view = materialize()
          apply(Commands.group(spark(), m, name, owner, selected, path,
            view, p => scala.util.Try(readFile(p)).toOption))
        }

      case "seed" | "snapshot" =>
        // dbt's dedicated entry points: run ONLY the seeds (resp. only
        // the snapshot models, plus whatever upstream they need — the
        // scheduler pulls ancestors automatically)
        val wanted = m.nodes.collect {
          case (id, n) if n.materialized == command => id }.toSet
        return execute(Some(if (!selectionActive) wanted else wanted intersect selection))

      case "source" if args.positional.headOption.contains("freshness") =>
        // dbt's `source freshness`: max(loaded_at_field) per configured
        // source vs its warn_after/error_after bounds; exit 1 on error
        val results = runner().sourceFreshness()
        results.toSeq.sortBy(_._1).foreach { case (id, (status, maxTs)) =>
          println(s"${status.toUpperCase} $id" +
            maxTs.map(t => s" (max loaded_at $t)").getOrElse(""))
        }
        if (results.values.exists(v => v._1.startsWith("error") || v._1.startsWith("runtime")))
          return 1

      case "ls" | "list" =>
        // dbt-ls shape: evaluate the selection grammar and print matching
        // unique_ids (the very surface the reference shells to for A1,
        // dbt_projects.py:351-376); no selection = every resource
        val ids = if (!selectionActive) m.allResources.keySet else selection
        ids.toSeq.sorted.foreach(println)

      case "test" =>
        // dbt-test shape: materialize the DAG, run every generic test as
        // a violation query, report per-test counts, exit 1 on failures.
        // A broken model does not stop the command: its tests record
        // `skipped` and its error rides the artifact for `graft retry`.
        // --select scopes the tests (dbt: tests attached to selected
        // nodes, plus directly selected tests); the DAG still
        // materializes in full so every test's relations exist. dbt 1.8
        // runs unit tests alongside data tests.
        return execute(None, tests = Some(Option.when(selectionActive)(selection)),
          quiet = true)

      case "build" =>
        // dbt build: materialize the (selected) DAG AND run its data
        // tests, one command, exit 1 on any test failure. dbt interleaves
        // each node's tests right after it; on a single-session engine a
        // later model cannot alter an earlier model's already-built
        // relation, so run-then-test yields the same verdicts. Tests
        // scope to the selection itself, not the models a selected test
        // pulled in: `build --select <test>` builds the test's parents
        // silently and does NOT run their other tests. A test whose model
        // errored or was skipped records `skipped`.
        val sel = Option.when(selectionActive)(selection)
        return execute(sel.map(withTestParents),
          tests = Some(Some(sel.getOrElse(m.nodes.keySet))))

      case "compile" =>
        // dbt compile: render every selected model's SQL — Jinja
        // expanded, ref()/source() resolved to the relation names a run
        // would use — into target/compiled/<project>/<model path>,
        // executing NOTHING. Slim-CI tooling and humans read these files;
        // the rendering is byte-identical to what `graft run` executes
        // (same renderSql, same --vars). is_incremental() renders false
        // (dbt's empty-state behavior); python models have no SQL form
        // and are listed-skipped loudly rather than silently omitted.
        val sel = if (!selectionActive) None else Some(selection)
        val r = runner(enforceAccess = false)
        val outDir = root.resolve("target").resolve("compiled")
          .resolve(m.projectName)
        var nWritten = 0
        m.nodes.toSeq.sortBy(_._1).foreach { case (id, node) =>
          if (sel.forall(_(id)) && node.packageName == m.projectName) {
            if (node.language == "python")
              println(s"skipped $id (python model, no compiled SQL form)")
            else if (node.materialized == "seed")
              () // seeds have no SQL to compile (dbt skips them too)
            else {
              val sql = r.renderSql(node, isIncremental = false)
              val p = outDir.resolve(node.filePath)
              Files.createDirectories(p.getParent)
              Files.writeString(p, sql)
              nWritten += 1
              println(s"compiled $id")
            }
          }
        }
        println(s"wrote $nWritten compiled models under " +
          s"${root.resolve("target").resolve("compiled")}")

      case "retry" =>
        // dbt retry: re-select the nodes the previous invocation left in
        // error/fail/skipped, from the run_results artifact (--state
        // dir; defaults to ./target, where `docs generate` and dbt
        // itself write artifacts). Upstream of the selection
        // re-materializes as in any selected run (idempotent views /
        // incremental merges) so refs resolve. The previous command's
        // semantics carry over (`args.which`): after a `build`, unit
        // tests gate their models again.
        val dir = stateDir(statePath.getOrElse(root.resolve("target")))
        val rs = RunResultsJson.loadIfPresent(dir)
          .getOrElse(throw new IllegalArgumentException(
            s"retry needs run_results.json under $dir " +
              "(pass --state <dir> to point at a previous run's artifacts)"))
        val which = RunResultsJson.which(dir.resolve("run_results.json"))
        val sel = Selector.select(m,
          Seq("result:error", "result:fail", "result:skipped"),
          Nil, None, Some(rs))
        if (sel.isEmpty) println("nothing to retry")
        else {
          // The retry rewrites the artifact with its OWN outcomes merged
          // over the previous ones: a retry that fails again records it,
          // and a successful one clears the stale entries (without this a
          // second `graft retry` re-ran already-fixed nodes forever).
          //
          // Selected tests pull their parent models into the run: a fresh
          // retry process has no session views, so a failed test whose
          // model previously SUCCEEDED would otherwise error on the
          // missing relation instead of re-running. Re-materializing a
          // healthy parent is idempotent (views are free; tables/
          // incrementals rebuild to the same state) — dbt reads the
          // existing warehouse table instead, which a session-view engine
          // doesn't have across processes. Parents whose table IS in the
          // warehouse (--read-catalog) are served hook-free via
          // runWithStatus(reuseHealthy=...) — dbt parity: a succeeded
          // node's hooks fired once, in the run that built it. RESIDUAL
          // DIVERGENCE, view parents only: a healthy view-materialized
          // parent re-renders (its session view died with the previous
          // process), which re-fires its hooks; idempotent hooks — the
          // dbt best practice — are unaffected.
          val selW = withTestParents(sel)
          // failed/skipped data and unit tests selected by result: re-run
          // too (dbt retry covers test nodes)
          val testIds = sel.filter(id => m.tests.contains(id) || m.unitTests.contains(id))
          return execute(Some(selW),
            tests = Option.when(testIds.nonEmpty)(Some(testIds)),
            // healthy = pulled in only for ref resolution AND previously
            // succeeded; the runner reuses those whose table exists
            reuseHealthy = (selW -- sel).filter(id => rs.get(id).contains("success")),
            prior = rs, which = which.getOrElse(command))
        }

      case "contract" | "add-contract" =>
        val selected = selection
        def contractable = selected.toSeq.sorted.flatMap(m.nodes.get)
          .filter(_.uniqueId.startsWith("model."))
          .collect { case node: ModelNode
            // --public-only contracts only public-access models
            // (`main.py:275,292-295`)
            if !args.switches("public-only") ||
              node.access == graft.core.model.AccessType.Public => node }
        // --read-catalog with a dbt-core target/catalog.json present:
        // generate contracts from the cached warehouse crawl, no Spark run
        // (`dbt_projects.py:279-290`). Otherwise materialize with Spark
        // and freeze the produced schemas.
        val catalogJson = root.resolve("target").resolve("catalog.json")
        val cs =
          if (readCatalog && Files.exists(catalogJson)) {
            val catalog = graft.core.parse.CatalogJson.load(catalogJson)
            contractable.map { node =>
              val entry = catalog.getOrElse(node.uniqueId,
                graft.core.parse.CatalogJson.Entry(node.uniqueId, Vector.empty))
              Contractor.generateContractFromCatalog(node, entry)
            }
          } else {
            val view = materialize()
            val s = spark()
            contractable.map(node =>
              Contractor.generateContract(s, node, view(node.name)))
          }
        apply(ChangeSet(cs.toVector))

      case "clone" =>
        // dbt clone: copy the --state manifest's relations for the
        // selected nodes into this project's warehouse WITHOUT
        // recomputing them. Persistent materializations only (a view
        // re-renders for free on its next run, exactly dbt's behavior of
        // recreating views from definitions); each clone lands at the
        // model's own table path + session view, and target/manifest.json
        // records the clone views as relation_name — so a subsequent
        // `run --defer --state <project>/target` serves unselected refs
        // from the clones, and `run --read-catalog` reuses them as
        // already-materialized catalog tables.
        val stateM = ManifestJson.load(stateManifest.getOrElse(
          throw new IllegalArgumentException("clone requires --state")))
        val sel = if (selectionActive) selection else m.nodes.keySet
        val persistent = Set("table", "incremental", "snapshot", "seed")
        val s = spark()
        // clones ALWAYS land in the durable project-local catalog — a
        // throwaway temp warehouse would defeat clone's purpose (the
        // artifact must survive this process so a later `run --defer`
        // or `run --read-catalog` can serve from it)
        val r = runner(enforceAccess = false, wh = Files.createDirectories(
          root.resolve(".graft").resolve("warehouse")))
        val cloned = sel.toSeq.sorted.flatMap { id =>
          for {
            node <- m.nodes.get(id)
            if persistent(node.materialized)
            rel <- stateM.nodes.get(id).flatMap(_.relationName)
            // a state relation may not resolve in THIS session (a
            // dbt-core manifest's db.schema.table against a local
            // session, or a dead view name): SKIP it loudly and keep
            // cloning the rest — a mid-run crash here would leave
            // partial warehouse tables with no manifest at all
            df <- scala.util.Try(s.table(rel)) match {
              case scala.util.Success(df) => Some(df)
              case scala.util.Failure(e) =>
                System.err.println(
                  s"clone: skipping $id — state relation '$rel' is not " +
                    s"resolvable here (${e.getMessage.linesIterator.next()})")
                None
            }
          } yield {
            r.cloneRelation(node, df)
            println(s"cloned $id from $rel")
            id
          }
        }.toSet
        val target = Files.createDirectories(root.resolve("target"))
        val outM = m.copy(nodes = m.nodes.map { case (id, n) =>
          id -> (if (cloned(id))
            n.copy(relationName = Some(r.viewName(n.name)))
          else n)
        })
        graft.core.parse.ManifestJsonWriter.write(
          outM, target.resolve("manifest.json"))
        println(s"wrote ${target.resolve("manifest.json")}")

      case "docs" if args.positional.headOption.contains("generate") =>
        // dbt docs generate: write target/manifest.json (+ catalog.json).
        // The manifest half needs no warehouse; the catalog half
        // materializes (or --read-catalog reuses) the project like the
        // contract flow, then crawls the produced schemas. --no-compile
        // (dbt's own flag) skips the catalog half.
        val target = root.resolve("target")
        graft.core.parse.ManifestJsonWriter.write(
          m, target.resolve("manifest.json"))
        println(s"wrote ${target.resolve("manifest.json")}")
        if (!args.switches("no-compile")) {
          val view = materialize()
          val s = spark()
          val entries = m.nodes.values.toSeq.sortBy(_.uniqueId).map { node =>
            (node.uniqueId, view(node.name), s.table(view(node.name)).schema)
          }
          graft.core.parse.CatalogJsonWriter.write(
            entries, target.resolve("catalog.json"))
          println(s"wrote ${target.resolve("catalog.json")}")
        }

      case "version" | "add-version" | "bump-version" =>
        // reference selects with --select; a bare positional model name is
        // accepted as a convenience. A bare --exclude is an active
        // selection here too (all-minus-exclusion), consistent with every
        // other command.
        val names: Seq[String] =
          if (selectionActive)
            selection.toSeq.sorted.flatMap(m.nodes.get)
              .filter(_.uniqueId.startsWith("model.")).map(_.name)
          else args.positional
        // default behavior is Prerelease (keep latest_version), matching
        // `main.py:469-473`; --latest / --increment override
        val behavior =
          if (args.switches("latest")) Versioner.Behavior.Latest
          else if (args.switches("increment")) Versioner.Behavior.Increment
          else Versioner.Behavior.Prerelease
        val definedIn = args.flags("defined-in").headOption
        names.foreach { modelName =>
          val node = m.nodes.values.find(_.name == modelName).getOrElse(
            sys.error(s"model $modelName not found"))
          val entry = node.patchPath.flatMap(pp =>
            graft.core.yaml.Yaml.parseMap(readFile(pp)).named("models").get(modelName))
            .getOrElse(graft.core.yaml.YMap.empty)
          val cs = command match {
            case "add-version" =>
              Versioner.addVersion(node, entry, definedIn)
            case "bump-version" =>
              Versioner.bumpVersion(node, entry, behavior,
                Versioner.latestPath(node, entry), definedIn)
            case _ =>
              Versioner.version(node, entry, behavior, definedIn)
          }
          apply(cs)
        }

      case "connect" =>
        val explicit = args.flags("project-paths").map(Paths.get(_))
        val projectsDir = args.flags("projects-dir").headOption.map(Paths.get(_))
        require(explicit.isEmpty || projectsDir.isEmpty,
          "Cannot specify both --project-paths and --projects-dir")
        // --projects-dir discovers every **/dbt_project.yml, skipping
        // installed-package trees (`main.py:153-168`); --exclude-projects
        // drops discovered projects by name
        val discovered = projectsDir.toVector.flatMap { dir =>
          scala.util.Using.resource(Files.walk(dir)) { stream =>
            val it = stream.iterator()
            val found = Vector.newBuilder[Path]
            while (it.hasNext) {
              val p = it.next()
              val parts = (0 until p.getNameCount).map(p.getName(_).toString)
              if (p.getFileName.toString == "dbt_project.yml" &&
                !parts.contains("dbt_packages") && !parts.contains("site-packages"))
                found += p.getParent
            }
            found.result()
          }
        }
        val excluded = args.flags("exclude-projects").toSet
        val paths = if (explicit.nonEmpty) explicit else discovered
        val loaded0 = paths.map(p => p -> ProjectLoader.load(p)._2)
        val loaded = loaded0.filterNot { case (_, m) => excluded(m.projectName) }
        require(loaded.size >= 2,
          "connect needs at least two projects (--project-paths P1 P2 or --projects-dir D)")
        val byName = loaded.map { case (p, m) => m.projectName -> p }.toMap
        val plans = Commands.connectPlans(loaded.map(_._2),
          // A installs B iff A's manifest carries resources owned by B —
          // the view `dbt deps` + parse gives the reference
          // (`installed_packages`, dbt_projects.py:150-170)
          installs = (aName, bName) => loaded.map(_._2)
            .find(_.projectName == aName)
            .exists(_.nodes.values.exists(_.packageName == bName)),
          contractData = _ => None,
          readFile = (proj, f) => Files.readString(byName(proj).resolve(f)))
        plans.toSeq.sortBy(_._1).foreach { case (proj, cs) =>
          println(s"-- $proj --")
          apply(cs, byName(proj))
        }

      case "run-operation" =>
        // dbt run-operation: invoke a project macro by name with --args
        // (an inline YAML map, parsed exactly like --vars) and execute
        // whatever SQL it renders to. The macro plumbing is the hook
        // executor (Runner.runOperation), so ref()/source()/var() resolve
        // as they do in hooks.
        val name = args.positional.headOption.getOrElse(
          throw new IllegalArgumentException(
            "run-operation requires a macro name"))
        runner().runOperation(name, yamlMapFlag("args"))
        println(s"ran operation $name")

      case "show" =>
        // dbt show: compile the selected model(s), execute the rendered
        // SQL, and print the first --limit rows — a preview that leaves
        // NOTHING behind (no warehouse table, no session view for the
        // shown model). Upstream models materialize first (a session
        // engine has no standing warehouse to read them from), into the
        // usual throwaway temp warehouse unless --read-catalog.
        if (!selectionActive)
          throw new IllegalArgumentException("show requires --select")
        val models = selection.toSeq.sorted.flatMap(m.nodes.get)
          .filter(n => n.uniqueId.startsWith("model."))
        if (models.isEmpty) {
          System.err.println("show: selection matches no models")
          return 1
        }
        val s = spark()
        val r = runner(enforceAccess = false)
        // ancestors of the WHOLE selection, materialized once up front —
        // per-model runner.run re-ran shared upstream tables once per
        // selected model (idempotent but wasteful; ADVICE r14). Each
        // model's own id stays OUT unless another selected model depends
        // on it (show previews, never materializes, the shown model).
        val allUp = models.filter(_.language != "python").map(node =>
          Selector.select(m, Seq(s"+${node.name}"), Nil, None) -
            node.uniqueId).foldLeft(Set.empty[String])(_ ++ _)
        if (allUp.nonEmpty) r.run(Some(allUp))
        models.foreach { node =>
          if (node.language == "python")
            println(s"skipped ${node.uniqueId} (python model, no SQL preview)")
          else {
            val df = s.sql(r.renderSql(node, isIncremental = false))
              .limit(limit)
            val rows = df.collect()
            println(s"-- ${node.uniqueId}")
            println(df.columns.mkString(" | "))
            rows.foreach(row => println((0 until row.length).map(i =>
              if (row.isNullAt(i)) "NULL" else row.get(i).toString)
              .mkString(" | ")))
          }
        }

      case other =>
        println(
          s"""unknown command: $other
             |usage: graft {run|build|test|retry|seed|snapshot|compile|show|run-operation|source freshness|ls|list|clone|docs generate|split|create-group|group|contract|add-contract|version|add-version|bump-version|connect} [options]
             |""".stripMargin)
        return if (other == "help") 0 else 1
    }
    0
  }

}
