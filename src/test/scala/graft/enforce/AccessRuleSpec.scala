package graft.enforce

import graft.core.model.{AccessType, Manifest, ModelNode}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The injected Catalyst analysis rule (`MeshExtensions`) — ad-hoc SQL on
  * a session with an ambient identity is governed at analysis time, before
  * any execution (SURVEY §4 item 1). */
class AccessRuleSpec extends AnyFunSuite {

  /** A dedicated session carrying the injected extensions: getOrCreate
    * would silently return any existing default session (dropping the
    * extensions), so the default is cleared first and restored after. */
  private lazy val session: SparkSession = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    graft.BenchConf.base()
      .master("local[2]")
      .appName("graft-access-rule")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new MeshExtensions)
      .getOrCreate()
  }

  test("injected rule blocks foreign reads of private relations at analysis time") {
    val s = session
    import s.implicits._
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("core__secrets")
    Seq((1, "b")).toDF("id", "v").createOrReplaceTempView("core__published")

    val m = Manifest("core", nodes = Map(
      "model.core.secrets" -> ModelNode("model.core.secrets", "secrets",
        "core", "models/secrets.sql", "", access = AccessType.Private,
        group = Some("vault")),
      "model.core.published" -> ModelNode("model.core.published", "published",
        "core", "models/published.sql", "", access = AccessType.Public)))
    val reg = AccessControl.forSession(s)
    reg.registerManifest(m, name => s"core__$name")

    // identity: another project, no group
    reg.setContext(Some(AccessControl.Context("other", None)))
    try {
      // public is readable
      assert(s.sql("select * from core__published").collect().length == 1)
      // private is rejected during analysis, before execution
      val e = intercept[Throwable](s.sql("select * from core__secrets").collect())
      def hasViolation(t: Throwable): Boolean = t match {
        case null => false
        case _: AccessControl.MeshAccessViolation => true
        case other => hasViolation(other.getCause)
      }
      assert(hasViolation(e), s"expected MeshAccessViolation, got $e")

      // the owning group reads its own private model fine
      reg.setContext(Some(AccessControl.Context("core", Some("vault"))))
      assert(s.sql("select * from core__secrets").collect().length == 1)

      // no ambient identity -> ungoverned session, reads pass
      reg.setContext(None)
      assert(s.sql("select * from core__secrets").collect().length == 1)
    } finally {
      reg.clear()
      // don't stop(): the SparkContext is shared with other suites' session;
      // clearing default/active lets later fixtures build their own session
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
    }
  }
}
