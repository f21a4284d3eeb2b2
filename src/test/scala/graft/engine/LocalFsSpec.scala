package graft.engine

import graft.SparkFixture
import graft.core.parse.ProjectLoader
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `file:` file system every graft session writes through: no
  * process per write, and the files and modes Hadoop's stock local file
  * system leaves. */
class LocalFsSpec extends AnyFunSuite with SparkFixture {

  /** Two table models, the second partitioned (a directory per key). */
  private lazy val project: JPath = {
    val root = Files.createTempDirectory("graft_localfs")
    Seq(
      "dbt_project.yml" -> "name: fs\n",
      "models/base.sql" ->
        "{{ config(materialized='table') }}\nselect id, id % 3 as k from range(6)",
      "models/parts.sql" ->
        ("{{ config(materialized='table', partition_by='k') }}\n" +
          "select k, count(*) as n from {{ ref('base') }} group by k")
    ).foreach { case (rel, text) =>
      Files.createDirectories(root.resolve(rel).getParent)
      Files.writeString(root.resolve(rel), text)
    }
    root
  }

  /** Runs the project into a fresh warehouse and returns the warehouse. */
  private def run(): JPath = {
    val (cfg, m) = ProjectLoader.load(project)
    val wh = Files.createTempDirectory("graft_localfs_wh")
    new Runner(spark, m, cfg, wh).run()
    wh
  }

  /** A first run: it also takes the JVM's one-off probes (Spark's
    * `getconf PAGESIZE`), so a recorded run after it sees only per-write
    * process starts. */
  private lazy val firstRun: JPath = run()

  /** The command lines of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val f = Files.createTempFile("graft_localfs", ".jfr")
      rec.dump(f)
      try RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
      finally Files.delete(f)
    } finally rec.close()
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  test("the session's file: paths resolve to LocalFs, ahead of Hadoop's JVM-wide cache") {
    val wh = Files.createTempDirectory("graft_localfs_wh")
    val fs = new Path(wh.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[LocalFs], fs.getClass)
  }

  test("a Runner run of two table models starts no process") {
    firstRun
    val started = processStarts(run())
    assert(started.isEmpty, started.mkString("\n"))
  }

  test("setPermission leaves the modes the stock chmod path leaves") {
    val conf = spark.sparkContext.hadoopConfiguration
    def init(fs: RawLocalFileSystem) = { fs.initialize(URI.create("file:///"), conf); fs }
    val (ours, stock) = (init(new LocalFs.Raw), init(new RawLocalFileSystem))
    val dir = Files.createTempDirectory("graft_modes")
    // `pre` is the mode the path has before setPermission
    def twin(name: String, isDir: Boolean, pre: Int, m: Int): (Int, Int) = {
      val Seq(a, b) = Seq(ours, stock).map { fs =>
        val p = dir.resolve(s"${fs.getClass.getSimpleName}_$name")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setAttribute(p, "unix:mode", Int.box(pre))
        fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
        mode(p)
      }
      (a, b)
    }
    for (m <- Seq("0000", "0600", "0644", "0700", "0755", "0777"); isDir <- Seq(false, true)) {
      val name = s"${if (isDir) "d" else "f"}$m"
      assert(twin(name, isDir, oct("0644"), oct(m)) == (oct(m), oct(m)), name)
    }
    // the sticky bit is set, not dropped
    assert(twin("sticky", isDir = true, oct("0755"), oct("1777")) == (oct("1777"), oct("1777")))
    // chmod keeps a directory's setgid (inherited from a setgid parent)
    // under a four-digit mode and clears a file's
    assert(twin("sgid_d", isDir = true, oct("2775"), oct("0755")) == (oct("2755"), oct("2755")))
    assert(twin("sgid_f", isDir = false, oct("2775"), oct("0644")) == (oct("0644"), oct("0644")))
  }

  test("a table written through LocalFs has the stock file names and modes") {
    val ours = firstRun
    // the same run with the session's writes and reads on a fresh
    // instance of the class a session without the registration resolves
    // (the cached file: instance is LocalFs)
    val stockFs = FileSystem.getFileSystemClass("file", new Configuration())
    val stock = Seq("fs.file.impl" -> stockFs.getName, "fs.file.impl.disable.cache" -> "true")
    var theirs: JPath = null
    val started = processStarts {
      stock.foreach { case (k, v) => spark.conf.set(k, v) }
      try theirs = run() finally stock.foreach { case (k, _) => spark.conf.unset(k) }
    }
    assert(started.exists(_.startsWith("chmod")), s"$stockFs: $started") // the stock path ran
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def tree(wh: JPath): Map[String, Int] = Files.walk(wh).iterator().asScala
      .filter(_ != wh).map(p => wh.relativize(p).toString.replaceAll(uuid, "U") -> mode(p)).toMap
    val names = tree(ours).keySet
    assert(Seq("base/_SUCCESS", "base/._SUCCESS.crc", "base/_graft_schema.json",
      "parts/k=0/").forall(p => names.exists(_.startsWith(p))) &&
      names.exists(_.matches("""parts/k=0/\.part-.*\.crc""")), names)
    assert(tree(ours) == tree(theirs))
  }
}
