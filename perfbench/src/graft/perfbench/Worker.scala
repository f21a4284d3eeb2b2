package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.changes.ChangeSetProcessor
import graft.core.graph.Selector
import graft.core.model.{Manifest, Owner, ProjectConfig}
import graft.core.parse.ProjectLoader
import graft.engine.Runner
import graft.mesh.Commands
import java.io.{BufferedReader, FileDescriptor, FileOutputStream, InputStreamReader, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Benchmark worker: a long-lived JVM that takes one JSON command per stdin
  * line and answers with one `@@`-prefixed JSON line on stdout. The Python
  * driver (`run.py`) owns the closed loop, the inputs and the output checks;
  * this side only calls the program's public entry points and times them
  * from outside.
  *
  * With tracing on (the `trace` command), every call is also recorded as a
  * span and measured for allocation, GC, `/proc/self/io` and (through a
  * listener this class registers) Spark job/stage/task counters. With it
  * off, only wall clocks are read. */
object Worker {
  type Metrics = mutable.LinkedHashMap[String, Any]

  val jsonMapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val proto = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err) // stray prints from the program must not reach the protocol
    val w = new Worker(scratch = Paths.get(args(args.indexOf("--scratch") + 1)))
    val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
    Console.withOut(System.err) {
      var line = in.readLine()
      while (line != null) {
        val cmd = jsonMapper.readValue(line, classOf[Map[String, Any]])
        val reply: Metrics =
          try w.handle(cmd)
          catch { case e: Throwable =>
            e.printStackTrace()
            mutable.LinkedHashMap("error" -> s"${e.getClass.getName}: ${e.getMessage}")
          }
        proto.println("@@" + jsonMapper.writeValueAsString(reply))
        line = if (cmd("cmd") == "quit") null else in.readLine()
      }
    }
  }
}

/** Spark counters gathered by a listener the benchmark registers itself. */
final class SparkCounters extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shRead, shWrite, spill = 0L
  private val open = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobCount: Long = synchronized(jobs)

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0
    shRead = 0; shWrite = 0; spill = 0; intervals.clear()
  }

  /** Counters since [[reset]]; `job_active_s` is the union of the job
    * intervals, i.e. the time at least one job was running. */
  def snapshot(): Map[String, Double] = synchronized {
    var active, end = 0L
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { active += e - s; end = e }
      else if (e > end) { active += e - end; end = e }
    }
    val mb = 1024.0 * 1024.0
    Map("spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.task_run_s" -> runMs / 1e3,
      "spark.task_cpu_s" -> cpuNs / 1e9, "spark.job_active_s" -> active / 1e3,
      "spark.shuffle_read_mb" -> shRead / mb, "spark.shuffle_write_mb" -> shWrite / mb,
      "spark.spill_mb" -> spill / mb)
  }
}

final class Worker(scratch: Path) {
  import Worker.Metrics

  private var trace = false
  private var spark: SparkSession = _
  private var cores = 1
  private val counters = new SparkCounters
  private var governed: (ProjectConfig, Manifest) = _

  // ------------------------------------------------------------ tracing
  private final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = 0
  private var opSpans = 0
  private var overheadNs = 0L
  private var opGcMs = 0L
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def procIo(): (Long, Long) = {
    val kv = Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv("rchar"), kv("wchar"))
  }

  /** Run a probe (a count or a bus drain the untraced op would not do)
    * and charge its time to the op's tracing overhead. */
  private def probe[T](f: => T): T = {
    val p = System.nanoTime()
    try f finally overheadNs += System.nanoTime() - p
  }

  /** Run `f` as public call `span`, writing its wall seconds to `time`. In
    * trace mode also record the span and write the call's allocated MB
    * (`alloc`) and `/proc/self/io` read/written bytes (`io`). */
  private def call[T](m: Metrics, span: String, time: String,
      alloc: String = null, io: (String, String) = null)(f: => T): T = {
    if (!trace) {
      val t0 = System.nanoTime()
      val r = f
      m(time) = (System.nanoTime() - t0) / 1e9
      return r
    }
    val p0 = System.nanoTime()
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    spans += Span(id, parent, opId, span, 0L, 0L)
    val a0 = threads.getCurrentThreadAllocatedBytes
    val io0 = if (io != null) procIo() else null
    val t0 = System.nanoTime()
    overheadNs += t0 - p0
    val r = try f finally {
      val t1 = System.nanoTime()
      m(time) = (t1 - t0) / 1e9
      if (alloc != null)
        m(alloc) = (threads.getCurrentThreadAllocatedBytes - a0) / (1024.0 * 1024.0)
      if (io != null) {
        val (r1, w1) = procIo()
        m(io._1) = (r1 - io0._1).toDouble
        m(io._2) = (w1 - io0._2).toDouble
      }
      spans(id) = spans(id).copy(startNs = t0, endNs = t1)
      stack = stack.tail
      overheadNs += System.nanoTime() - t1
    }
    r
  }

  /** Open one op: reset per-op counters. */
  private def beginOp(): Metrics = {
    opId += 1
    opSpans = spans.size
    overheadNs = 0L
    val m: Metrics = mutable.LinkedHashMap("op" -> opId)
    if (trace) {
      opGcMs = gcMs
      if (spark != null) { drain(); counters.reset() }
    }
    m
  }

  /** Close one op: `op_s` plus, in trace mode, the Spark counters. */
  private def endOp(m: Metrics, t0: Long): Metrics = {
    m("op_s") = (System.nanoTime() - t0) / 1e9
    if (trace) {
      if (spark != null) { drain(); counters.snapshot().foreach { case (k, v) => m(k) = v } }
      m("jvm.gc_s") = (gcMs - opGcMs) / 1e3
      m("trace.overhead_s") = overheadNs / 1e9
      m("trace.spans_per_op") = spans.size - opSpans
    }
    m
  }

  private def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  // ----------------------------------------------------------- commands
  def handle(cmd: Map[String, Any]): Metrics = {
    def s(k: String): String = cmd(k).toString
    def strs(k: String): Seq[String] = cmd(k).asInstanceOf[Seq[Any]].map(_.toString)
    val t0 = System.nanoTime()
    val out: Metrics = cmd("cmd") match {
      case "session" => session(cmd("cores").toString.toInt)
      case "tables" => tables(s("dir"))
      case "catalog" => catalog(Paths.get(s("file")), s("project"))
      case "load" =>
        governed = ProjectLoader.load(Paths.get(s("root")))
        mutable.LinkedHashMap("models" -> governed._2.nodes.size)
      case "group" => group(Paths.get(s("root")), strs("select"), s("group"))
      case "run" => run(Paths.get(s("warehouse")))
      case "queries" => queries(s("dir"), strs("names"))
      case "collect" => collect(s("dir"), strs("names"))
      case "oracle_sql" =>
        val sql = graft.SparkEntry.oracleSql
        mutable.LinkedHashMap("sql" -> strs("names").map(n => n -> sql(n)).toMap)
      case "trace" => setTrace(cmd("on") == true)
      case "ref" => reference(cmd("yaml") == true)
      case "stats" => stats()
      case "spans" => writeSpans(Paths.get(s("file")))
      case "quit" => stopSession(); mutable.LinkedHashMap.empty
    }
    out("wall_s") = (System.nanoTime() - t0) / 1e9
    out
  }

  private def session(n: Int): Metrics = {
    stopSession()
    cores = n
    val local = Files.createDirectories(scratch.resolve("spark-local"))
    spark = graft.BenchConf.builder(n.toString)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(counters)
    mutable.LinkedHashMap("cores" -> n)
  }

  private def setTrace(on: Boolean): Metrics = {
    if (spark != null && on != trace) {
      if (on) spark.sparkContext.addSparkListener(counters)
      else spark.sparkContext.removeSparkListener(counters)
    }
    trace = on
    mutable.LinkedHashMap("trace" -> on)
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Register the registry tables and touch each once (parquet footers,
    * vectorized reader), the same warm-up `graft.Bench` does. */
  private def tables(dir: String): Metrics = {
    graft.ops.Tables.load(spark, dir)
    graft.ops.Tables.all.foreach(t => spark.table(t).limit(4).queryExecution.toRdd.count())
    mutable.LinkedHashMap("tables" -> graft.ops.Tables.all.size)
  }

  /** Typed, empty temp views standing in for the warehouse catalog: the
    * schema is all `group` reads from a model's relation. */
  private def catalog(file: Path, project: String): Metrics = {
    val cat = Worker.jsonMapper.readValue(Files.readString(file), classOf[Map[String, Seq[Seq[String]]]])
    val empty = java.util.Collections.emptyList[Row]()
    cat.foreach { case (model, cols) =>
      val schema = StructType.fromDDL(cols.map(c => s"`${c(0)}` ${c(1)}").mkString(", "))
      spark.createDataFrame(empty, schema).createOrReplaceTempView(s"${project}__$model")
    }
    mutable.LinkedHashMap("views" -> cat.size)
  }

  private def treeFiles(root: Path): Map[Path, (Long, Long)] =
    Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap
    }

  /** One `group` op: load, select, plan, apply. `changes.write_amp` is
    * bytes written during apply over the bytes of files whose size or
    * mtime changed (created files included). */
  private def group(root: Path, select: Seq[String], name: String): Metrics = {
    val m = beginOp()
    val t0 = System.nanoTime()
    if (trace) m("parse.files") = probe(treeFiles(root).size.toDouble)
    val (cfg, manifest) = call(m, "ProjectLoader.load", "parse.load_s",
      "parse.load_alloc_mb", ("parse.bytes_read", "parse.bytes_written")) {
      ProjectLoader.load(root)
    }
    val selected = call(m, "Selector.select", "graph.select_s") {
      Selector.select(manifest, select)
    }
    m("graph.selected") = selected.size
    val cs = call(m, "Commands.group", "mesh.plan_s", "mesh.plan_alloc_mb") {
      val viewName = new Runner(spark, manifest, cfg, scratch).viewName _
      Commands.group(spark, manifest, name, Owner(name = Some("perfbench")), selected,
        "models/_groups.yml", viewName,
        p => scala.util.Try(Files.readString(root.resolve(p))).toOption)
    }
    m("mesh.changes") = cs.changes.size
    val before = if (trace) probe(treeFiles(root)) else null
    call(m, "ChangeSetProcessor.process", "changes.apply_s", "changes.apply_alloc_mb",
      ("changes.bytes_read", "changes.bytes_written")) {
      new ChangeSetProcessor(root).process(Seq(cs))
    }
    if (trace) probe {
      m("changes.changed_bytes") = treeFiles(root).collect {
        case (f, (size, mt)) if !before.get(f).contains((size, mt)) => size
      }.sum.toDouble
    }
    endOp(m, t0)
  }

  private def run(warehouse: Path): Metrics = {
    val (cfg, manifest) = governed
    val m = beginOp()
    val t0 = System.nanoTime()
    val (_, status) = call(m, "Runner.runWithStatus", "engine.run_s") {
      new Runner(spark, manifest, cfg, warehouse, enforceAccess = true)
        .runWithStatus(None, parallelism = cores)
    }
    m("status") = status
    endOp(m, t0)
  }

  /** One pass over the query list: each query is built (`ops.build`,
    * which may run eager jobs) then executed through the full-plan
    * `toRdd.count()` sink `graft.Bench` uses. */
  private def queries(dir: String, names: Seq[String]): Metrics = {
    val m = beginOp()
    val t0 = System.nanoTime()
    val per = names.map { n =>
      val q: Metrics = mutable.LinkedHashMap("name" -> n)
      try {
        val j0 = if (trace) probe { drain(); counters.jobCount } else 0L
        val df = call(q, s"build:$n", "build_s") { graft.SparkEntry.queries(n)(spark, dir) }
        if (trace) probe { drain(); q("build_jobs") = counters.jobCount - j0 }
        q("rows") = call(q, s"exec:$n", "exec_s") { df.queryExecution.toRdd.count() }
        if (trace) probe {
          q("catalyst_s") = df.queryExecution.tracker.phases.values
            .map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
        }
        q("ok") = true
      } catch { case e: Throwable =>
        e.printStackTrace()
        q("ok") = false
        q("error") = String.valueOf(e.getMessage)
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      q
    }
    m("queries") = per
    endOp(m, t0)
  }

  /** Untimed: collect every query's result (column names, Spark types and
    * rows as plain JSON values) for the content check. */
  private def collect(dir: String, names: Seq[String]): Metrics = {
    def plain(v: Any): Any = v match {
      case r: Row => r.schema.fieldNames.zip(r.toSeq.map(plain)).toMap
      case s: scala.collection.Seq[_] => s.map(plain)
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> plain(x) }
      case d: java.math.BigDecimal => d.doubleValue
      case t: java.sql.Timestamp => t.toLocalDateTime.toString
      case d: java.sql.Date => d.toString
      case other => other
    }
    val failed = mutable.ArrayBuffer.empty[String]
    val results = names.flatMap { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val rows = df.collect().toSeq.map(r => r.toSeq.map(plain))
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        Some(n -> Map("columns" -> df.schema.fields.toSeq.map(f => Seq(f.name, f.dataType.simpleString)),
          "rows" -> rows))
      } catch { case e: Throwable => e.printStackTrace(); failed += n; None }
    }.toMap
    mutable.LinkedHashMap("results" -> results, "failed" -> failed.toSeq)
  }

  // ---------------------------------------------------------- reference
  private val refTable = Array.tabulate(1 << 16)(_ * 0x9E3779B1)
  private lazy val refDoc: String = {
    val sb = new StringBuilder("version: 2\nmodels:\n")
    for (i <- 0 until 200) {
      sb ++= s"  - name: model_$i\n    description: \"the data of model $i\"\n    columns:\n"
      for (c <- 0 until 5) sb ++= s"      - name: col_$c\n        description: \"col $c of model $i\"\n"
    }
    sb.toString
  }

  /** A fixed amount of work that uses nothing of the program and nothing
    * of the seed, timed right before each op so that the op can be reported
    * in units of it (`op_per_ref`): an integer hash loop over a table that
    * fits in L2 and, with `yaml`, a snakeyaml load and dump of a constant
    * document, the kind of work the control-plane op does. */
  private def reference(yaml: Boolean): Metrics = {
    val t0 = System.nanoTime()
    var h = 0
    var k = 0
    while (k < 280) {
      var i = 0
      while (i < refTable.length) { h = (h ^ refTable((i + h) & 0xffff)) * 16777619; i += 1 }
      k += 1
    }
    if (yaml) {
      val y = new org.yaml.snakeyaml.Yaml()
      for (_ <- 0 until 10) h ^= y.dump(y.load[Object](refDoc)).length
    }
    mutable.LinkedHashMap("ref_s" -> (System.nanoTime() - t0) / 1e9, "hash" -> h)
  }

  private def stats(): Metrics = {
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    def kb(k: String): Double = status.find(_.startsWith(k + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    mutable.LinkedHashMap("vm_hwm_mb" -> kb("VmHWM") / 1024, "vm_rss_mb" -> kb("VmRSS") / 1024)
  }

  private def writeSpans(file: Path): Metrics = {
    val rows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    Files.writeString(file, Worker.jsonMapper.writeValueAsString(rows))
    mutable.LinkedHashMap("spans" -> spans.size)
  }
}
