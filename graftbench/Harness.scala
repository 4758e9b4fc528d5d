package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM: set up a `local[N]` session, run a cold
  * pass and then warm passes over a workload's queries, then check every
  * query's output. Only public entry points are timed:
  * `graft.SparkEntry.queries(name)(spark, dir)` ("construct") and
  * `Dataset.write.format("noop").save()` ("action").
  *
  * Raw per-pass records go to `--out` as one JSON object; `run.py` turns
  * them into metrics. With `--trace 1` a `SparkListener` and a
  * `QueryExecutionListener` are registered for the traced passes and the
  * span tree run > pass > query > {construct, action} > job is written to
  * `--spans` when the run ends. Warm passes of a traced run alternate
  * traced and untraced (listeners removed), so the tracing overhead is
  * measured inside one run.
  */
object Harness {
  final case class Conf(
    data: String, queries: Seq[String], seed: Long, warmPasses: Int,
    trace: Boolean, out: String, spans: String, launchMs: Long,
    deadlineS: Long, cpus: Int)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(data = m("data"), queries = m("queries").split(",").toSeq, seed = m("seed").toLong,
      warmPasses = m("warm-passes").toInt, trace = m("trace") == "1", out = m("out"),
      spans = m("spans"), launchMs = m("launch-ms").toLong, deadlineS = m("deadline").toLong,
      cpus = m("cpus").toInt)
  }

  // ------------------------------------------------------------ JSON out

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    js(k) + ":" + (v match {
      case s: String => js(s)
      case d: Double => num(d)
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case r: Raw => r.json
      case null => "null"
      case o => js(o.toString)
    })
  }.mkString("{", ",", "}")
  final case class Raw(json: String)

  // ----------------------------------------------------- clock and spans

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, from nanoTime. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double, var end: Double = 0.0)
  private val spanSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def open(parent: Long, kind: String, name: String): Span = {
    val s = Span(spanSeq.incrementAndGet(), parent, kind, name, nowMs())
    spans.add(s); s
  }

  // ------------------------------------------------------ host + process

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9
  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def classesLoaded(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  def rssPeakMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  } catch { case _: Exception => -1.0 }
  /** (steal ticks, all ticks) from the aggregate line of /proc/stat. */
  def cpuTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  @volatile var calibSink = 0L
  /** Fixed CPU work on `n` threads at once; its wall time is a drag gauge:
    * the program is idle while it runs, so a slower reading means the
    * host gave this JVM fewer or slower cores. */
  def calib(n: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until n).map { k => new Thread(() => {
      var x = 0x9E3779B97F4A7C15L + k
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      calibSink += x
    }) }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------- tracing

  /** Per-job counters collected from task-end events. */
  final class JobAgg(val id: Int, val span: Long, val group: String, val start: Double, val stageIds: Seq[Int]) {
    var end = 0.0
    var stagesRun = 0
    var tasks, failedTasks = 0L
    var runMs, gcMs, waitMs, fetchWaitMs = 0L
    var cpuNs, inBytes, inRows, shWrite, shRead, spill = 0L
  }

  final case class PlanRec(func: String, startMs: Double, planS: Double, nodes: Int,
    exchanges: Int, depth: Int, fallbacks: Int, cachedScans: Int)

  class Tracer extends SparkListener with QueryExecutionListener {
    val jobs = new ConcurrentHashMap[Int, JobAgg]()
    val stageJob = new ConcurrentHashMap[Int, JobAgg]()
    val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
    @volatile var sentinelSeen = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty("graftbench.span"))).map(_.toLong).getOrElse(-1L)
      val grp = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobAgg(e.jobId, span, grp, e.time.toDouble, e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time.toDouble
        if (j.group == "graftbench-sentinel") sentinelSeen += 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      stageSubmit.put(si.stageId, java.lang.Long.valueOf(si.submissionTime.getOrElse(System.currentTimeMillis())))
      Option(stageJob.get(si.stageId)).foreach(j => j.synchronized(j.stagesRun += 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j == null) return
      j.synchronized {
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        Option(stageSubmit.get(e.stageId)).foreach(s => j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRows += m.inputMetrics.recordsRead
          j.shWrite += m.shuffleWriteMetrics.bytesWritten
          j.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      try {
        val phases = qe.tracker.phases
        val start = if (phases.isEmpty) -1.0 else phases.values.map(_.startTimeMs).min.toDouble
        val planS = phases.values.map(_.durationMs).sum / 1e3
        var nodes, exchanges, fallbacks, cached = 0
        def walk(p: SparkPlan, d: Int): Int = {
          nodes += 1
          p match {
            case _: Exchange | _: ReusedExchangeExec => exchanges += 1
            case _: InMemoryTableScanExec => cached += 1
            case _ =>
          }
          p.expressions.foreach(_.foreach { case _: CodegenFallback => fallbacks += 1; case _ => })
          val kids = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: QueryStageExec => Seq(q.plan)
            case r: ReusedExchangeExec => Seq(r.child)
            case _: InMemoryTableScanExec => Nil
            case o => o.children
          }
          (d +: kids.map(walk(_, d + 1))).max
        }
        val depth = walk(qe.executedPlan, 1)
        plans.add(PlanRec(funcName, start, planS, nodes, exchanges, depth, fallbacks, cached))
      } catch { case _: Throwable => () }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // ---------------------------------------------------------------- main

  final case class QRec(name: String, constructS: Double, actionS: Double, status: String, error: String)

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val fields = mutable.ArrayBuffer[String]()
    def field(k: String, v: Any): Unit = fields += obj(k -> v).drop(1).dropRight(1)

    /** Runs `body` on a fresh thread under the query deadline; on expiry the
      * query's jobs are cancelled. Returns ("ok", "") or a failure status. */
    def withDeadline(name: String)(body: => Unit): (String, String) = {
      val exec = Executors.newSingleThreadExecutor()
      val task = exec.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          sc.setJobGroup(s"graftbench-$name", name, interruptOnCancel = true)
          body
        }
      })
      try { task.get(c.deadlineS, TimeUnit.SECONDS); ("ok", "") }
      catch {
        case _: TimeoutException =>
          try sc.cancelJobGroup(s"graftbench-$name") catch { case _: Throwable => () }
          task.cancel(true)
          ("deadline", s"exceeded ${c.deadlineS}s")
        case e: java.util.concurrent.ExecutionException =>
          ("error", String.valueOf(Option(e.getCause).getOrElse(e)).take(300))
        case e: Throwable => ("error", String.valueOf(e).take(300))
      } finally exec.shutdownNow()
    }

    def runQuery(name: String, parent: Long): QRec = {
      val q = open(parent, "query", name)
      var constructS, actionS = -1.0
      val (status, err) = withDeadline(name) {
        val cs = open(q.id, "construct", name)
        sc.setLocalProperty("graftbench.span", cs.id.toString)
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, c.data)
        constructS = (System.nanoTime() - t0) / 1e9
        cs.end = nowMs()
        val as = open(q.id, "action", name)
        sc.setLocalProperty("graftbench.span", as.id.toString)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        actionS = (System.nanoTime() - t1) / 1e9
        as.end = nowMs()
      }
      q.end = nowMs()
      QRec(name, constructS, actionS, status, err)
    }

    val run = open(0L, "run", c.queries.mkString(","))
    // untimed warm-up, as graft.Bench does, so setup covers JVM + codegen start
    val warm = runQuery("vc_returnflag", run.id)
    calib(c.cpus); calib(c.cpus) // JIT the drag gauge before it is read
    val setupS = (System.currentTimeMillis() - c.launchMs) / 1e3
    field("setup_s", setupS)
    field("warmup_status", warm.status)
    field("warmup_construct_s", warm.constructS)
    field("warmup_action_s", warm.actionS)
    field("cpus", c.cpus)
    field("heap_mb", Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    field("seed", c.seed)
    field("queries", Raw(c.queries.map(js).mkString("[", ",", "]")))

    val tracer = if (c.trace) Some(new Tracer) else None
    def attach(on: Boolean): Unit = tracer.foreach { t =>
      if (on) { sc.addSparkListener(t); spark.listenerManager.register(t) }
      else {
        // flush: a marker job whose end event follows every event of the
        // pass on the listener bus, so nothing is lost on removal
        val seen = t.sentinelSeen
        sc.setJobGroup("graftbench-sentinel", "sentinel", interruptOnCancel = false)
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
        val until = System.nanoTime() + 10000000000L
        while (t.sentinelSeen == seen && System.nanoTime() < until) Thread.sleep(2)
        Thread.sleep(20) // let the SQL listener bus catch up too
        sc.removeSparkListener(t); spark.listenerManager.unregister(t)
      }
    }

    val passes = mutable.ArrayBuffer[String]()
    def runPass(kind: String, idx: Int, traced: Boolean): Unit = {
      if (traced) attach(true)
      // the cold pass runs the queries in their listed order, as a batch
      // pipeline does, so which query pays the shared first-use JIT, codegen
      // and pins is the same in every run; each warm pass runs its own
      // seeded shuffle
      val order = if (kind == "cold") c.queries
        else new scala.util.Random(c.seed * 1000003L + idx).shuffle(c.queries)
      val cal0 = calib(c.cpus)
      val ticks0 = cpuTicks()
      val (gc0, jit0, cl0) = (gcS(), jitS(), classesLoaded())
      val p = open(run.id, "pass", s"$kind$idx")
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      var storagePeak, cachedRdds = 0L
      val qs = order.map { n =>
        val r = runQuery(n, p.id)
        val info = sc.getRDDStorageInfo
        storagePeak = math.max(storagePeak, info.map(i => i.memSize + i.diskSize).sum)
        cachedRdds = math.max(cachedRdds, info.length.toLong)
        r
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = processCpuS() - cpu0
      p.end = nowMs()
      val ticks1 = cpuTicks()
      val cal1 = calib(c.cpus)
      if (traced) attach(false)
      val steal = {
        val (sd, td) = (ticks1._1 - ticks0._1, ticks1._2 - ticks0._2)
        if (td <= 0) -1.0 else sd.toDouble / td * c.cpus
      }
      val qj = qs.map(q => obj("name" -> q.name, "construct_s" -> q.constructS, "action_s" -> q.actionS,
        "status" -> q.status, "error" -> q.error)).mkString("[", ",", "]")
      passes += obj("kind" -> kind, "index" -> idx, "span" -> p.id, "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> cpu, "calib_before_s" -> cal0, "calib_after_s" -> cal1,
        "steal_cores" -> steal, "gc_s" -> (gcS() - gc0), "jit_s" -> (jitS() - jit0),
        "classes_loaded" -> (classesLoaded() - cl0), "rss_peak_mb" -> rssPeakMb(),
        "storage_peak_mb" -> storagePeak / (1024.0 * 1024.0), "cached_rdds" -> cachedRdds,
        "queries" -> Raw(qj))
    }

    // cold pass: empty session cache, then one pass
    spark.catalog.clearCache()
    runPass("cold", 0, c.trace)
    // a fixed number of warm passes; a traced run alternates traced (odd)
    // and untraced (even) passes
    (1 to c.warmPasses).foreach(k => runPass("warm", k, c.trace && k % 2 == 1))
    field("passes", Raw(passes.mkString("[", ",", "]")))

    // untimed output check: row count and an order-insensitive content hash
    val checks = c.queries.sorted.map { n =>
      var rows = -1L
      var hash = ""
      val (status, err) = withDeadline(n) {
        val df = graft.SparkEntry.queries(n)(spark, c.data)
        val (r, h) = rowsAndHash(df.toDF(df.columns.indices.map("c" + _): _*))
        rows = r; hash = h
      }
      obj("name" -> n, "rows" -> rows, "hash" -> hash, "status" -> status, "error" -> err)
    }
    field("check", Raw(checks.mkString("[", ",", "]")))
    run.end = nowMs()

    tracer.foreach { t =>
      val w = new java.io.PrintWriter(c.spans, "UTF-8")
      try {
        val runId = s"${c.seed}-${c.launchMs}"
        spans.asScala.foreach { s =>
          w.println(obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
            "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end))
        }
        t.jobs.values.asScala.toSeq.sortBy(_.id).filter(_.group != "graftbench-sentinel").foreach { j =>
          val skipped = j.stageIds.size - j.stagesRun
          w.println(obj("run" -> runId, "id" -> s"job${j.id}", "parent" -> j.span, "kind" -> "job",
            "name" -> j.group, "start" -> j.start, "end" -> j.end,
            "stages" -> j.stageIds.size, "skipped_stages" -> skipped, "tasks" -> j.tasks,
            "failed_tasks" -> j.failedTasks, "run_s" -> j.runMs / 1e3, "cpu_s" -> j.cpuNs / 1e9,
            "gc_s" -> j.gcMs / 1e3, "sched_wait_s" -> j.waitMs / 1e3, "input_bytes" -> j.inBytes,
            "input_rows" -> j.inRows, "shuffle_write_bytes" -> j.shWrite,
            "shuffle_read_bytes" -> j.shRead, "fetch_wait_s" -> j.fetchWaitMs / 1e3,
            "spill_bytes" -> j.spill))
        }
        t.plans.asScala.foreach { p =>
          w.println(obj("run" -> runId, "kind" -> "plan", "name" -> p.func, "start" -> p.startMs,
            "plan_s" -> p.planS, "nodes" -> p.nodes, "exchanges" -> p.exchanges, "depth" -> p.depth,
            "codegen_fallbacks" -> p.fallbacks, "cached_scans" -> p.cachedScans))
        }
      } finally w.close()
    }
    field("status", "complete")
    val out = new java.io.PrintWriter(c.out, "UTF-8")
    try out.println(fields.mkString("{", ",", "}")) finally out.close()
    spark.stop()
  }

  /** Row count and the sum, as an exact decimal, of a 64-bit hash of each
    * row's JSON form (doubles print round-trip exact; timestamps to the
    * microsecond). A sum is independent of row order. */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val json = to_json(struct(df.columns.toIndexedSeq.map(n => col(n)): _*),
      Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").asJava)
    val r = df.select(xxhash64(json).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
