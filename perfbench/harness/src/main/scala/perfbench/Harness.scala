package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Session, SparkEntry, Tables}

/** One benchmark run in one JVM: a single client in a closed loop.
  *
  * Sets up a session, runs a cold pass, `--warmup` untimed passes, and then
  * warm passes over the workload's queries until `--seconds` of warm passes
  * have run (and at least `--min-warm` of them), then runs
  * each query once more untimed and writes its result for the output
  * check. Every pass runs the queries in an order drawn from `--seed`.
  * The engine is reached only through `Session.configure`, `Tables.load`
  * (the fixture schema load), `SparkEntry.queries` and the noop sink.
  *
  * Writes one JSON file (`--out`): the environment, the spans of the run
  * (run, pass, query, build, execute, and with `--trace 1` job and stage),
  * and on each span the counters attributed to it. The runner turns that
  * into metrics. With `--trace 1`, warm passes alternate between traced and
  * untraced so one run also gives the tracing overhead.
  */
object Harness {
  private val SpanKey = "perfbench.span"
  private val MiB = 1024.0 * 1024.0

  final class Span(val id: Long, val parent: Long, val layer: String, val name: String,
                   val start: Double) {
    var end: Double = Double.NaN
    val fields = new JMap[String, Any]()
  }

  /** Spans are kept in memory and written once, at the end. Times are epoch
    * milliseconds taken from the monotonic clock. */
  final class Spans {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    val all = mutable.ArrayBuffer[Span]()
    def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
    def open(parent: Long, layer: String, name: String): Span = {
      val s = new Span(all.size.toLong, parent, layer, name, now())
      all += s
      s
    }
    def close(s: Span): Span = { s.end = now(); s }
    /** A span measured elsewhere (jobs and stages, from Spark's events). */
    def add(parent: Long, layer: String, name: String, start: Double, end: Double): Span = {
      val s = new Span(all.size.toLong, parent, layer, name, start)
      s.end = end
      all += s
      s
    }
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val queries = opt("queries").split(",").toSeq
    val sfDir = opt("sf-dir")
    val seed = opt("seed").toLong
    val warmMs = opt("seconds").toDouble * 1000
    val warmup = opt("warmup").toInt
    val minWarm = opt("min-warm").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores")
    val checkDir = opt("check-dir")
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val spans = new Spans
    val env = new JMap[String, Any]()
    env.put("load1_start", load1())
    val run = spans.open(-1, "run", opt("workload"))

    val spark = Session.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionDone = spans.now()
    val counters = new TaskCounters(SpanKey)
    sc.addSparkListener(counters)
    val plans = new PlanCounters
    spark.listenerManager.register(plans)
    Tables.names.foreach(Tables.load(spark, sfDir, _))
    val schemaDone = spans.now()

    def compiles() = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    val keep: (String, DataFrame) => Unit = (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")

    var traced = false
    def query(pass: Span, name: String, sink: DataFrame => Unit): Unit = {
      val q = spans.open(pass.id, "query", name)
      val (c0, n0) = (compiles(), CodeGenerator.compileTime)
      def phase[T](layer: String)(f: => T): T = {
        val s = spans.open(q.id, layer, name)
        sc.setLocalProperty(SpanKey, s.id.toString)
        try f finally spans.close(s)
      }
      try {
        val df = phase("build")(SparkEntry.queries(name)(spark, sfDir))
        if (traced) addPlan(q, PlanCounters.summary(df.queryExecution.tracker, None))
        phase("execute")(sink(df))
        q.fields.put("ok", true)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed in ${pass.name}: $e")
        q.fields.put("ok", false)
        q.fields.put("error", String.valueOf(e).take(500))
      } finally {
        sc.setLocalProperty(SpanKey, null)
        spans.close(q)
      }
      q.fields.put("compiles", compiles() - c0)
      q.fields.put("compile_ns", CodeGenerator.compileTime - n0)
    }

    def setTraced(on: Boolean): Unit = if (on != traced) {
      // events of the previous pass must reach the listeners in its mode
      Bus.drain(sc)
      counters.recordSpans = on
      plans.on = on
      traced = on
    }

    def pass(i: Int, name: String, tracedPass: Boolean): Span = {
      setTraced(tracedPass)
      val p = spans.open(run.id, "pass", name)
      p.fields.put("traced", tracedPass)
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(queries)
      order.foreach(query(p, _, noop))
      spans.close(p)
      if (trace) snapshotState(spark, p)
      p
    }

    pass(0, "cold", trace)
    // untimed, until the JIT and the caches have settled
    (1 to warmup).foreach(i => pass(i, "warmup", false))
    val warmStart = spans.now()
    var i = 1
    while (i <= minWarm || spans.now() - warmStart < warmMs) {
      // with tracing, warm passes go traced, untraced, untraced, traced, ...
      // so that neither mode gets the earlier passes
      pass(warmup + i, "warm", trace && i % 4 <= 1)
      i += 1
    }
    setTraced(trace)
    val check = spans.open(run.id, "pass", "check")
    queries.foreach(n => query(check, n, keep(n, _)))
    spans.close(check)

    // let tasks that outlive their query finish, then read everything
    val deadline = System.nanoTime() + 60e9.toLong
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    Bus.drain(sc)
    // only now, with nothing left to time, force the collections that the
    // retained-heap figure reads; the second one also takes what Spark's
    // context cleaner released after the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    env.put("retained_heap_mb", heapAfterGcMb())
    env.put("peak_rss_mb", vmHwmMb())
    env.put("load1_end", load1())
    spans.close(run)

    attribute(spans, counters, plans)
    env.put("spark_version", spark.version)
    env.put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}")
    env.put("master", sc.master)
    env.put("sf_dir", sfDir)
    env.put("session_create_s", (sessionDone - run.start) / 1000)
    env.put("tables_schema_s", (schemaDone - sessionDone) / 1000)

    val out = new JMap[String, Any]()
    out.put("env", env)
    val list = new JList[Any]()
    spans.all.foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("layer", s.layer)
      m.put("name", s.name); m.put("start", s.start); m.put("end", s.end)
      m.putAll(s.fields)
      list.add(m)
    }
    out.put("spans", list)
    new ObjectMapper().writeValue(new File(opt("out")), out)
    spark.stop()
  }

  /** Puts the listener counters on the spans they belong to, and adds the
    * job and stage spans (trace mode). Runs after the bus is drained. */
  private def attribute(spans: Spans, c: TaskCounters, p: PlanCounters): Unit = {
    val byId = spans.all.toIndexedSeq
    c.aggs.foreach { case (owner, a) =>
      if (owner >= 0) {
        val f = byId(owner.toInt).fields
        f.put("jobs", a.jobs); f.put("stages", a.stages); f.put("tasks", a.tasks)
        f.put("cpu_ns", a.cpuNs); f.put("run_ms", a.runMs); f.put("gc_ms", a.gcMs)
        f.put("delay_ms", a.delayMs); f.put("shuffle_write_b", a.shuffleWriteB)
        f.put("shuffle_read_b", a.shuffleReadB); f.put("fetch_wait_ms", a.fetchWaitMs)
        f.put("spill_b", a.spillB); f.put("scan_b", a.scanB); f.put("scan_rows", a.scanRows)
      }
    }
    // a task is late when it ends after the query that caused it returned
    val late = mutable.HashMap[Long, Long]()
    c.taskEnds.foreach { case (owner, finish) =>
      if (owner >= 0) {
        val q = byId(byId(owner.toInt).parent.toInt)
        if (finish > q.end) late(owner) = late.getOrElse(owner, 0L) + 1
      }
    }
    late.foreach { case (owner, n) => byId(owner.toInt).fields.put("late_tasks", n) }

    val jobSpan = mutable.HashMap[Int, Long]()
    c.jobs.sortBy(_.start).foreach { j =>
      if (j.owner >= 0)
        jobSpan(j.jobId) = spans.add(j.owner, "job", s"job ${j.jobId}", j.start, j.end).id
    }
    c.stages.sortBy(_.start).foreach { st =>
      jobSpan.get(st.jobId).foreach { parent =>
        spans.add(parent, "stage", s"stage ${st.stageId}.${st.attempt}", st.start, st.end)
      }
    }

    // planning records go to the query whose interval holds their last phase
    val queries = byId.filter(_.layer == "query").sortBy(_.start)
    val starts = queries.map(_.start).toArray
    p.recs.foreach { r =>
      val i = java.util.Arrays.binarySearch(starts, r.at.toDouble) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && r.at <= math.ceil(queries(i).end)) addPlan(queries(i), r)
    }
  }

  private def addPlan(q: Span, r: PlanCounters.PlanRec): Unit = {
    val f = q.fields
    def add(k: String, v: Long) = f.put(k, f.getOrDefault(k, 0L).asInstanceOf[Long] + v)
    add("analysis_ms", r.analysisMs); add("optimization_ms", r.optimizationMs)
    add("planning_ms", r.planningMs); add("rules_ns", r.rulesNs); add("graft_ns", r.graftNs)
    add("graft_runs", r.graftRuns); add("graft_effective", r.graftEffective)
    add("write_cmds", r.writes); add("write_files", r.files); add("write_rows", r.rows)
    add("write_b", r.bytes); add("commit_ms", r.commitMs)
  }

  /** Session state a long-lived session accumulates, read from outside. */
  private def snapshotState(spark: SparkSession, p: Span): Unit = {
    val sc = spark.sparkContext
    p.fields.put("pinned_mb", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MiB)
    p.fields.put("persisted_rdds", sc.getPersistentRDDs.size)
    p.fields.put("localdir_mb", sc.getConf.get("spark.local.dir", "").split(",")
      .filter(_.nonEmpty).map(d => dirBytes(new File(d))).sum / MiB)
    p.fields.put("temp_views", spark.sessionState.catalog.getTempViewNames().size)
    p.fields.put("heap_after_gc_mb", heapAfterGcMb())
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** Heap in use after the last collection of each heap pool. */
  private def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / MiB

  private def vmHwmMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    catch { case _: Throwable => Double.NaN }

  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => Double.NaN }
}
