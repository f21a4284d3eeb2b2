package graft.core.parse

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Loader for a dbt-core-produced `run_results.json` — the artifact
  * behind dbt's `result:<status>` selector method and `dbt retry`
  * (`dbt run --select result:error+ --state ./target` is the documented
  * re-run-what-failed flow). The reference's selection surface shells to
  * `dbt ls` (`dbt_projects.py:351-376`), where the same method reads the
  * same artifact; graft resolves it natively like [[ManifestJson]].
  *
  * Only the fields the selector needs are read: each entry's
  * `unique_id` and `status` (success / error / fail / warn / skipped /
  * pass / runtime error). Unknown fields are ignored (dbt adds fields
  * every minor release); a results entry missing either required field
  * fails loudly with its index so a truncated artifact cannot silently
  * select nothing.
  */
object RunResultsJson {

  def load(path: java.nio.file.Path): Map[String, String] =
    parse(java.nio.file.Files.readString(path))

  /** uniqueId → status of the last invocation. */
  def parse(json: String): Map[String, String] = {
    val root = new ObjectMapper().readTree(json)
    val results = Option(root.get("results")).getOrElse(
      throw new IllegalArgumentException(
        "run_results.json: missing 'results' array"))
    results.elements().asScala.zipWithIndex.map { case (r, i) =>
      def str(f: String): String =
        Option(r.get(f)).filterNot(_.isNull).map(_.asText).getOrElse(
          throw new IllegalArgumentException(
            s"run_results.json: results[$i] missing '$f'"))
      str("unique_id") -> str("status")
    }.toMap
  }

  /** dbt-core's top-level `args.which`: the command that wrote the
    * artifact (`run`, `build`, ...), which `graft retry` re-applies.
    * None when absent — dbt-core writes `"args": {}` for some
    * invocations. */
  def which(path: java.nio.file.Path): Option[String] =
    Some(new ObjectMapper().readTree(java.nio.file.Files.readString(path))
      .at("/args/which")).filter(_.isTextual).map(_.asText)

  /** Writer for the same artifact: first-party `graft run/build/test`
    * emit it so `graft retry` and `result:` selectors work without a
    * dbt-core invocation ever having produced one. Emits exactly the
    * fields the loader and [[which]] read; dbt-core's extra fields are
    * additive. */
  def write(path: java.nio.file.Path, which: String,
      results: Seq[(String, String)]): Unit = {
    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.putObject("args").put("which", which)
    val arr = root.putArray("results")
    results.foreach { case (id, status) =>
      val e = arr.addObject()
      e.put("unique_id", id)
      e.put("status", status)
    }
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(path, om.writeValueAsString(root))
  }

  /** The artifact conventionally sits next to manifest.json in the
    * --state directory; absent file → None (the selector then fails
    * loudly only when `result:` is actually used). */
  def loadIfPresent(stateDir: java.nio.file.Path): Option[Map[String, String]] = {
    val p = stateDir.resolve("run_results.json")
    if (java.nio.file.Files.isRegularFile(p)) Some(load(p)) else None
  }
}
