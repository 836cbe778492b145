package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Closed-loop benchmark client: one process, one client thread, queries run
  * one after another, each only after the previous one finished.
  *
  * It drives the engine through its public surface only:
  * `graft.SparkEntry.queries(name)(spark, dir)` builds a query,
  * `queryExecution.toRdd.count()` executes it in full (the same evaluation
  * `graft.Bench` times), and the memo hooks `IwFull` / `QfmFull` /
  * `Deng2020.attachMetrics` expose the solver caches.
  *
  * Arguments are `key=value` pairs:
  *  - `mode`: `setup` (build the session, list the inputs, print READY,
  *    exit) or `run`;
  *  - `dir`: the generated input directory (absolute); `tables`: the
  *    input tables to list at set-up, comma-separated;
  *  - `queries`: comma-separated query names, in pass order;
  *  - `seconds`: how long the steady passes run at least; `min_samples`:
  *    successful query executions they must hold at least; `max_seconds`:
  *    hard stop for the steady passes;
  *  - `trace`: 0 or 1; `small_dir`: the 1/10-size input (trace 1 only);
  *  - `verify_dir`: where each query's output is written for the oracle
  *    check; `out`: the result file (JSON).
  *
  * With `trace=0` only wall clocks and JVM counters are read. With `trace=1`
  * untraced and traced steady passes interleave; a traced pass forces the
  * Catalyst phases one by one, registers a SparkListener and counts the
  * exchanges of the final plan. Spans and events stay in memory and are
  * written out once, at the end.
  */
object Client {

  private val t0 = System.nanoTime()
  private def now(): Long = System.nanoTime() - t0
  /** Listener event times are wall-clock milliseconds: map them onto the
    * same monotonic axis as the client-side spans. */
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def fromWallMs(ms: Long): Long = ms * 1000000L - wallOffsetNs - t0

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val dir = kv("dir")
    val tables = kv("tables").split(",").toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same generated-class cache size graft.Bench uses, so a steady pass
      // does not re-pay janino compilation for evicted classes
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", kv("local_dir"))
      .config("spark.sql.warehouse.dir", kv("local_dir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (t <- tables) spark.read.parquet(s"$dir/$t.parquet").schema
    println("READY")
    System.out.flush()
    if (kv("mode") == "setup") { spark.stop(); return }

    val r = new Runner(spark, kv)
    val json = r.run()
    Files.writeString(Paths.get(kv("out")), json)
    spark.stop()
    println("DONE")
  }

  /** A Spark job as the listener saw it; times on the client's axis. */
  final class Job(val id: Int, val group: String, val start: Long, val stages: Seq[Int]) {
    var end: Long = -1L
  }
  /** One stage attempt with its tasks' summed metrics. */
  final class Stage(val id: Int, val attempt: Int) {
    var submit = -1L; var complete = -1L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var deserMs = 0L
    var delayMs = 0L; var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
    var inRows = 0L; var inBytes = 0L; var outBytes = 0L
  }

  /** Listener state for the traced passes: job and stage spans with their
    * task metrics. Callbacks run on the listener-bus thread. */
  final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
    @volatile var flushed: Set[String] = Set.empty

    /** Blocks until the listener has seen every event posted so far: a job
      * in its own group is posted last, so once its end is seen the events
      * before it have been delivered too. */
    def flush(sc: org.apache.spark.SparkContext, group: String): Unit = {
      sc.setJobGroup(group, group)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!flushed.contains(group) && System.nanoTime() < deadline) Thread.sleep(1)
    }

    private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = new Job(e.jobId, g, fromWallMs(e.time), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = fromWallMs(e.time)
        if (j.group != null && j.group.startsWith("flush")) flushed += j.group
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submit = i.submissionTime.map(fromWallMs).getOrElse(-1L)
      s.complete = i.completionTime.map(fromWallMs).getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        s.delayMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inRows += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }

    def json: String = synchronized {
      val js = jobs.values.map { j =>
        s"""{"id":${j.id},"group":${Json.str(j.group)},"start":${j.start},"end":${j.end},""" +
          s""""stages":${j.stages.mkString("[", ",", "]")}}"""
      }
      val ss = stages.values.map { s =>
        s"""{"id":${s.id},"attempt":${s.attempt},"submit":${s.submit},"complete":${s.complete},""" +
          s""""tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ms":${s.cpuNs / 1e6},""" +
          s""""deser_ms":${s.deserMs},"delay_ms":${s.delayMs},"shuffle_write_bytes":${s.shWrite},""" +
          s""""shuffle_read_bytes":${s.shRead},"fetch_wait_ms":${s.fetchWaitMs},""" +
          s""""input_rows":${s.inRows},"input_bytes":${s.inBytes},"output_bytes":${s.outBytes}}"""
      }
      s"""{"jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")}}"""
    }
  }

  object Json {
    def str(s: String): String =
      if (s == null) "null"
      else "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  }

  final class Runner(spark: SparkSession, kv: Map[String, String]) {
    private val sc = spark.sparkContext
    private val dir = kv("dir")
    private val names = kv("queries").split(",").toSeq
    private val queries = names.map(n => n -> graft.SparkEntry.queries(n))
    private val traceOn = kv("trace") == "1"
    private val deng = graft.functions.Deng2020.attachMetrics(spark)
    private val memos = graft.functions.IwFull.attachMetrics(spark) ++
      graft.functions.QfmFull.attachMetrics(spark)
    private val recorder = new Recorder
    private val passes = mutable.ArrayBuffer.empty[String]

    /** Cumulative JVM counters: JIT ms, GC ms, codegen compiles, codegen ns. */
    private def jvm(): Seq[Long] = {
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val jit = Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
      Seq(jit, gc, org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
    }

    /** Cumulative memo counters: cache -> (hits, misses, evicted, fill ns);
      * evicted is -1 where the cache does not count evictions. */
    private def memo(): Seq[(String, Seq[Long])] =
      memos.map(m => m.name -> Seq(m.hits.value.toLong, m.misses.value.toLong,
        m.evicted.value.toLong, m.fillNanos.value.toLong)) ++ Seq(
        "deng2020.volCache" -> Seq(deng.volHits.value.toLong, deng.volMisses.value.toLong,
          -1L, deng.volFillNanos.value.toLong),
        "deng2020.dVdPCache" -> Seq(deng.dvdpHits.value.toLong, deng.dvdpMisses.value.toLong,
          -1L, deng.dvdpFillNanos.value.toLong))

    /** A fixed aggregate whose time tracks how busy the host is: the best of
      * three back-to-back runs, so one stray hiccup does not read as
      * contention while a busy host still does. */
    private def sentinel(): Long = (1 to 3).map { _ =>
      val s = System.nanoTime()
      spark.range(0L, 4000000L, 1L, sc.defaultParallelism).selectExpr("sum(id % 7)").collect()
      System.nanoTime() - s
    }.min

    /** (live shuffle exchanges, reused exchanges) in the executed plan,
      * descending into the final AQE plan, query stages and subqueries. */
    private def exchanges(p: SparkPlan): (Int, Int) = {
      var live = 0; var reused = 0
      def visit(n: SparkPlan): Unit = {
        n match {
          case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
          case q: QueryStageExec => visit(q.plan)
          case _: ReusedExchangeExec => reused += 1
          case e: ShuffleExchangeExec => live += 1; e.children.foreach(visit)
          case o => o.children.foreach(visit)
        }
        n.subqueries.foreach(visit)
      }
      visit(p)
      (live, reused)
    }

    private def errText(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).linesIterator.toSeq.headOption
        .getOrElse("").take(300)

    /** One execution of one query; returns its JSON record and whether it
      * succeeded. */
    private def execute(pass: Int, name: String, fn: (SparkSession, String) => DataFrame,
                        d: String, traced: Boolean): (String, Boolean) = {
      val group = s"q:$pass:$name"
      sc.setJobGroup(group, name)
      val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
      def phase[T](p: String)(body: => T): T = {
        val s = now(); val r = body; phases += ((p, s, now())); r
      }
      val start = now()
      var err: String = null
      var ex = (0, 0)
      try {
        if (traced) {
          val df = phase("build")(fn(spark, d))
          val qe = df.queryExecution
          phase("catalyst.analysis")(qe.analyzed)
          phase("catalyst.optimizer")(qe.optimizedPlan)
          phase("catalyst.planning")(qe.executedPlan)
          phase("exec")(qe.toRdd.count())
          ex = exchanges(qe.executedPlan)
        } else fn(spark, d).queryExecution.toRdd.count()
      } catch { case e: Throwable => err = errText(e) }
      val end = now()
      sc.clearJobGroup()
      val ph = phases.map { case (p, s, e) => s"${Json.str(p)}:[$s,$e]" }.mkString("{", ",", "}")
      (s"""{"q":${Json.str(name)},"start":$start,"end":$end,"error":${Json.str(err)},""" +
        s""""phases":$ph,"exchange_live":${ex._1},"exchange_reused":${ex._2}}""", err == null)
    }

    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** One pass over every query; returns how many executions succeeded. A
      * traced pass registers the listener for its own duration only, so
      * untraced passes carry no tracing cost. */
    private def pass(kind: String, d: String, traced: Boolean, withSentinel: Boolean): Int = {
      val idx = passes.size
      val sent = if (withSentinel) sentinel().toString else "null"
      if (traced) sc.addSparkListener(recorder)
      val j0 = jvm(); val m0 = memo()
      // both loads are averages since their previous call: reset them here
      os.getCpuLoad; os.getProcessCpuLoad
      val start = now()
      val qs = queries.map { case (n, fn) => execute(idx, n, fn, d, traced) }
      val end = now()
      val (hostLoad, ownLoad) = (os.getCpuLoad, os.getProcessCpuLoad)
      val j1 = jvm(); val m1 = memo()
      if (traced) {
        recorder.flush(sc, s"flush:$idx")
        sc.removeSparkListener(recorder)
      }
      val jd = Seq("jit_ms", "gc_ms", "codegen_compiles", "codegen_ns").zip(j0.zip(j1))
        .map { case (k, (a, b)) => k -> (b - a).toString }
      val md = m0.zip(m1).map { case ((k, a), (_, b)) =>
        k -> a.zip(b).map { case (x, y) => if (x < 0) -1L else y - x }.mkString("[", ",", "]")
      }
      passes += Json.obj(Seq("kind" -> Json.str(kind), "start" -> start.toString,
        "end" -> end.toString, "sentinel_ns" -> sent, "queries" -> qs.map(_._1).mkString("[", ",", "]"),
        "memo" -> Json.obj(md), "host_cpu_load" -> hostLoad.toString,
        "own_cpu_load" -> ownLoad.toString) ++ jd)
      qs.count(_._2)
    }

    /** The generated input tables a query scans, one entry per scan in its
      * analyzed plan. */
    private def inputTables(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toUri.getPath)
            .filter(_.startsWith(dir)).map(p => p.split('/').last.stripSuffix(".parquet"))
      }.flatten

    def run(): String = {
      val seconds = kv("seconds").toDouble
      val minSamples = kv("min_samples").toInt
      val maxSeconds = kv("max_seconds").toDouble
      pass("first", dir, traced = traceOn, withSentinel = false)
      for (_ <- 1 to 3) sentinel()  // warm the sentinel's own plan and code

      val steadyStart = System.nanoTime()
      def elapsed = (System.nanoTime() - steadyStart) / 1e9
      var steady = 0
      var traced = 0
      var samples = 0  // successful untraced steady executions
      def enough =
        elapsed >= seconds && samples >= minSamples && steady >= 3 &&
          (!traceOn || traced >= 3)
      while (!enough && elapsed < maxSeconds) {
        // trace=1 interleaves untraced and traced passes in ABBA order, so a
        // drift over the run (JIT still settling) weighs on both alike
        val t = traceOn && (steady + traced) % 4 % 3 != 0
        val ok = pass(if (t) "traced" else "steady", dir, traced = t, withSentinel = true)
        if (t) traced += 1 else { steady += 1; samples += ok }
      }
      if (traceOn && kv.contains("small_dir")) {
        pass("small_warmup", kv("small_dir"), traced = false, withSentinel = true)
        for (_ <- 1 to 3) pass("small", kv("small_dir"), traced = false, withSentinel = true)
      }

      // untimed: every query once more, output written for the oracle check
      sc.setJobGroup("verify", "verify")
      val verify = queries.map { case (n, fn) =>
        val res = try {
          val df = fn(spark, dir)
          val scans = inputTables(df).map(Json.str).mkString("[", ",", "]")
          df.write.mode("overwrite").parquet(s"${kv("verify_dir")}/$n")
          s"""{"error":null,"scans":$scans}"""
        } catch { case e: Throwable => s"""{"error":${Json.str(errText(e))},"scans":[]}""" }
        n -> res
      }
      val oracle = names.map(n => n -> Json.str(graft.SparkEntry.oracleSql.getOrElse(n, null)))
      sc.clearJobGroup()

      val trace = if (traceOn) recorder.json else "null"
      Json.obj(Seq(
        "cpus" -> sc.defaultParallelism.toString,
        "passes" -> passes.mkString("[", ",", "]"),
        "verify" -> Json.obj(verify),
        "oracle_sql" -> Json.obj(oracle),
        "trace" -> trace))
    }
  }
}
