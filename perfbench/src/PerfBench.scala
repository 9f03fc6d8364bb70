// Lives under org.apache.spark for LiveListenerBus.waitUntilEmpty, which
// is private[spark]: a pass's counters are read only after every event of
// the pass has been delivered.
package org.apache.spark.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CollectMetricsExec, ColumnarToRowExec, InputAdapter,
  ProjectExec, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftExtensions, Registry, Tables}
import graft.kmer.Kmers
import graft.sources.CorpusSource

/** One benchmark run in one JVM: build the session, run a cold pass, an
  * untimed verified pass and untimed warm-up passes, then warm passes back
  * to back (a closed loop with one client) for the given number of
  * seconds. Writes every pass record to `--out` as JSON; `run.py` turns the
  * records into metrics. With `--setup-only 1` it only builds the session
  * and writes the time that took.
  *
  * With `--trace 1` the cold pass is traced and the warm passes alternate
  * between untraced (the reference for the tracing overhead) and traced
  * with the span and counter listeners attached. Spans go to `--spans` as
  * JSON lines.
  */
object PerfBench {
  final case class Args(
      workload: String, data: String, seconds: Double, trace: Boolean, cores: Int,
      k: Int, fault: Boolean, setupOnly: Boolean, out: String, spans: String, dump: String,
      curation: Seq[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m.getOrElse("k", "0").toInt, m.getOrElse("fault", "0") == "1",
      m.getOrElse("setup-only", "0") == "1", m("out"), m("spans"), m("dump"),
      m.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq)
  }

  /** A query step of a pass: `open` reads the inputs, `construct` builds
    * the result frame (eager loops run here), the sink executes it. */
  final case class Query(name: String, open: SparkSession => Any,
      construct: (SparkSession, Any) => DataFrame)

  def queries(a: Args): Seq[Query] = a.workload match {
    case w if w.startsWith("kmer") => Seq(Query("kmer_counts",
      s => CorpusSource.readCorpus(s, a.data),
      (_, in) => Kmers.kmerCounts(
        in.asInstanceOf[DataFrame].select(CorpusSource.fastaClean(col("value")).as("text")),
        "text", a.k)))
    case "curation_mix" =>
      val byName = Registry.all.map(q => q.name -> q).toMap
      a.curation.map { n =>
        val q = byName(n)
        Query(n, _ => (), (s, _) => q.fn(s, a.data))
      }
  }

  // ------------------------------------------------------------------
  // Clock and spans
  // ------------------------------------------------------------------

  private val epochNs = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  /** Wall clock in epoch nanoseconds with nanoTime resolution. */
  def now(): Long = epochNs + (System.nanoTime() - nanoBase)

  final case class Span(id: Long, parent: Long, pass: Int, name: String,
      start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

  final class Tracer {
    private val ids = new AtomicLong(0)
    val spans = mutable.ArrayBuffer.empty[Span]
    def nextId(): Long = ids.incrementAndGet()
    def add(s: Span): Unit = synchronized { spans += s }
    def time[T](parent: Long, pass: Int, name: String)(f: Long => T): T = {
      val id = nextId()
      val t0 = now()
      try f(id) finally add(Span(id, parent, pass, name, t0, now()))
    }
  }

  // ------------------------------------------------------------------
  // Listeners: spans for jobs, stages and planning phases, per-pass counters
  // ------------------------------------------------------------------

  final class Counters {
    var tasks, runMs, cpuNs, gcMs, swBytes, swRecords, swTimeNs, srBytes, fetchMs,
        spill, inBytes, inRecords = 0L
  }

  final class SpanListener(tracer: Tracer) extends SparkListener {
    @volatile var pass = 0
    @volatile var c = new Counters
    private val jobStart = mutable.Map.empty[Int, (Long, Long, String)]
    private val stageJob = mutable.Map.empty[Int, Long]
    private val jobSpanId = mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong).getOrElse(0L)
      // The short call site, "<api method> at <first user file>:<line>".
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val id = tracer.nextId()
      jobSpanId(e.jobId) = id
      jobStart(e.jobId) = (e.time * 1000000L, parent, site)
      e.stageIds.foreach(s => stageJob(s) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent, site) =>
        tracer.add(Span(jobSpanId(e.jobId), parent, pass, "job", t0, e.time * 1000000L,
          Map("job_id" -> e.jobId, "call_site" -> site)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        tracer.add(Span(tracer.nextId(), stageJob.getOrElse(si.stageId, 0L), pass, "stage",
          t0 * 1000000L, t1 * 1000000L,
          Map("stage_id" -> si.stageId, "tasks" -> si.numTasks)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val k = c
      k.synchronized {
        k.tasks += 1
        if (m != null) {
          k.runMs += m.executorRunTime; k.cpuNs += m.executorCpuTime; k.gcMs += m.jvmGCTime
          k.swBytes += m.shuffleWriteMetrics.bytesWritten
          k.swRecords += m.shuffleWriteMetrics.recordsWritten
          k.swTimeNs += m.shuffleWriteMetrics.writeTime
          k.srBytes += m.shuffleReadMetrics.totalBytesRead
          k.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          k.inBytes += m.inputMetrics.bytesRead; k.inRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  /** One completed QueryExecution as the listener saw it. */
  final case class Exec(phases: Map[String, (Long, Long)], rows: Long, fingerprint: String)

  /** Records every completed QueryExecution. Untraced runs install it too,
    * for the output row count and plan fingerprint of each sink; it does
    * its work on the listener bus, after the query has returned. */
  final class ExecListener(dataDir: String) extends QueryExecutionListener {
    val execs = mutable.ArrayBuffer.empty[Exec]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (n, p) =>
        n -> (p.startTimeMs * 1000000L, p.endTimeMs * 1000000L) }
      val plan = qe.executedPlan
      val e = Exec(phases, outputRows(plan), fingerprint(plan, dataDir))
      synchronized { execs += e }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def drain(): Seq[Exec] = synchronized { val r = execs.toList; execs.clear(); r }
  }

  /** The plan that produced the rows: below AQE wrappers and the write. */
  def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case w: V2TableWriteExec => unwrap(w.query)
    case other => other
  }

  /** Rows the plan returns: the `numOutputRows` SQL metric of the top
    * node that has one, looking through row-preserving nodes; -1 if none.
    * An exchange counts the records it wrote: the nodes below a range
    * exchange also run for its sampling job, so their metrics double. */
  def outputRows(plan: SparkPlan): Long = unwrap(plan) match {
    case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
    case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    case p @ (_: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec | _: SortExec |
        _: ReusedExchangeExec | _: AQEShuffleReadExec | _: ColumnarToRowExec |
        _: CollectMetricsExec) => outputRows(p.children.head)
    case _ => -1L
  }

  /** Hash of the executed plan with run-specific tokens removed. */
  def fingerprint(p: SparkPlan, dataDir: String): String = {
    val s = p.treeString(verbose = false)
      .replace(dataDir, "<data>")
      .replaceAll("#\\d+L?", "#")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("\\$\\$Lambda[^\\s,)\\]]*", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}", "@")
      .replaceAll("(plan_id|id)=#?\\d+", "$1=")
      .replaceAll("\\[\\d+\\]", "[]")
      .replaceAll("isFinalPlan=\\w+", "")
      .replaceAll("(?m) Batched: .*$", "") // scan metadata, abbreviated at a fixed width
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  // ------------------------------------------------------------------
  // Host contention
  // ------------------------------------------------------------------

  /** (host busy jiffies, host total jiffies, this process's jiffies). */
  def cpuJiffies(): (Long, Long, Long) = {
    val host = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    val total = host.take(8).sum
    val idle = host(3) + host(4)
    val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (total - idle, total, f(11).toLong + f(12).toLong)
  }

  /** Share of the host's CPU time over an interval spent by other processes. */
  def foreignFrac(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val total = (b._2 - a._2).toDouble
    if (total <= 0) 0.0 else math.max(0.0, ((b._1 - a._1) - (b._3 - a._3)) / total)
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  // ------------------------------------------------------------------
  // Session and passes
  // ------------------------------------------------------------------

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  final case class QueryRec(name: String, s: Double, rows: Long, fingerprint: String,
      error: Option[String])

  final case class PassRec(id: Int, kind: String, s: Double, foreign: Double,
      queries: Seq[QueryRec], layers: Map[String, Double])

  def flush(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty(30000L)

  /** Untimed passes after the verified pass: the JIT on the Spark driver
    * keeps speeding up the curation queries over their first executions. */
  val WarmupPasses = 2

  /** A query that runs longer than this is cancelled and its pass fails. */
  val QueryTimeoutS = 90L

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // The session is built once, the first thing this JVM does, so
    // setup_s is the cold build a program pays before its first query.
    val t0 = System.nanoTime()
    val spark = session(a)
    val setupS = (System.nanoTime() - t0) / 1e9
    if (a.setupOnly) {
      Files.writeString(Paths.get(a.out), obj("setup_s" -> setupS).s)
      spark.stop()
      return
    }
    val tracer = new Tracer
    val sc = spark.sparkContext
    val qs = queries(a)
    val execs = new ExecListener(a.data)
    spark.listenerManager.register(execs)
    val spans = new SpanListener(tracer)
    val watchdog = new java.util.Timer("perfbench-watchdog", true)
    var passNo = 0
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def runQuery(q: Query, pass: Int, passSpan: Long): (QueryRec, Seq[Exec]) = {
      val cancel = new java.util.TimerTask { def run(): Unit = sc.cancelAllJobs() }
      watchdog.schedule(cancel, QueryTimeoutS * 1000)
      val t0 = System.nanoTime()
      val err = try {
        tracer.time(passSpan, pass, "query") { qid =>
          val in = tracer.time(qid, pass, "tables.open")(_ => q.open(spark))
          val df = tracer.time(qid, pass, "construct") { id =>
            sc.setJobGroup(s"span-$id", q.name, interruptOnCancel = true)
            q.construct(spark, in)
          }
          tracer.time(qid, pass, "sink") { id =>
            sc.setJobGroup(s"span-$id", q.name, interruptOnCancel = true)
            df.write.format("noop").mode("overwrite").save()
          }
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally { cancel.cancel(); sc.clearJobGroup() }
      val dt = (System.nanoTime() - t0) / 1e9
      flush(spark)
      val ex = execs.drain()
      cleanup(spark)
      (QueryRec(q.name, dt, ex.lastOption.map(_.rows).getOrElse(-1L),
        ex.lastOption.map(_.fingerprint).getOrElse(""), err), ex)
    }

    def runPass(kind: String, traced: Boolean): PassRec = {
      passNo += 1
      val pass = passNo
      spans.pass = pass
      spans.c = new Counters
      flush(spark)
      execs.drain()
      val compile0 = CodeGenerator.compileTime
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // The curation queries open their tables inside the query; a traced
      // pass times the same opens as direct calls, outside the pass span.
      if (traced && a.workload == "curation_mix") Seq("documents", "embeddings").foreach { t =>
        tracer.time(0, pass, "tables.open")(_ => Tables.table(spark, a.data, t))
      }
      val cpu0 = cpuJiffies()
      val passSpan = tracer.nextId()
      val p0 = now()
      val done = qs.map(q => runQuery(q, pass, passSpan))
      val p1 = now()
      val cpu1 = cpuJiffies()
      val recs = done.map(_._1)
      val layers = if (!traced) Map.empty[String, Double] else {
        tracer.add(Span(passSpan, 0, pass, "pass", p0, p1, Map("kind" -> kind)))
        val ex = done.flatMap(_._2)
        for (e <- ex; (phase, (t0, t1)) <- e.phases if phase != "parsing")
          tracer.add(Span(tracer.nextId(), -1, pass, s"plan.$phase", t0, t1))
        flush(spark)
        val c = spans.c
        def phase(n: String) = ex.map(_.phases.get(n).fold(0L)(p => p._2 - p._1)).sum / 1e9
        Map(
          "plan.analysis_s" -> phase("analysis"), "plan.optimization_s" -> phase("optimization"),
          "plan.planning_s" -> phase("planning"), "plan.executions" -> ex.size.toDouble,
          "codegen.compile_s" -> (CodeGenerator.compileTime - compile0) / 1e9,
          "codegen.compiles" ->
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
          "sched.tasks" -> c.tasks.toDouble,
          "exec.run_s" -> c.runMs / 1e3, "exec.cpu_s" -> c.cpuNs / 1e9, "exec.gc_s" -> c.gcMs / 1e3,
          "shuffle.write_bytes" -> c.swBytes.toDouble, "shuffle.records" -> c.swRecords.toDouble,
          "shuffle.write_s" -> c.swTimeNs / 1e9, "shuffle.read_bytes" -> c.srBytes.toDouble,
          "shuffle.fetch_wait_s" -> c.fetchMs / 1e3, "spill.bytes" -> c.spill.toDouble,
          "input.bytes" -> c.inBytes.toDouble, "input.records" -> c.inRecords.toDouble)
      }
      val rec = PassRec(pass, kind, recs.map(_.s).sum, foreignFrac(cpu0, cpu1), recs, layers)
      System.err.println(f"[perfbench] pass $pass ($kind) ${rec.s}%.3fs: " +
        recs.map(q => f"${q.name} ${q.s}%.3f").mkString(", "))
      rec
    }

    /** Warm passes back to back for `seconds`. A traced run alternates
      * untraced and traced passes, so both see the same JIT warm-up. */
    def loop(seconds: Double): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < (if (a.trace) 4 else 3) || (System.nanoTime() - t0) / 1e9 < seconds) {
        val traced = a.trace && n % 2 == 1
        if (a.trace) tracing(traced)
        passes += runPass(if (traced) "traced" else "warm", traced); n += 1
      }
    }

    def tracing(on: Boolean): Unit = {
      flush(spark)
      if (on) sc.addSparkListener(spans) else sc.removeSparkListener(spans)
    }

    tracing(a.trace)
    passes += runPass("cold", a.trace)
    val v0 = System.nanoTime()
    val verify = verifyPass(a, spark)
    System.err.println(f"[perfbench] verified pass ${(System.nanoTime() - v0) / 1e9}%.3fs")
    (1 to WarmupPasses).foreach(_ => runPass("warmup", traced = false))
    loop(a.seconds)
    flush(spark)
    watchdog.cancel()

    Files.writeString(Paths.get(a.out), obj(
      "workload" -> a.workload, "cores" -> a.cores, "setup_s" -> setupS,
      "peak_rss_mb" -> vmHwmMb(), "verify" -> verify,
      "passes" -> passes.map(p => obj(
        "id" -> p.id, "kind" -> p.kind, "s" -> p.s, "foreign_cpu_frac" -> p.foreign,
        "layers" -> p.layers, "queries" -> p.queries.map(q => obj(
          "name" -> q.name, "s" -> q.s, "rows" -> q.rows, "fingerprint" -> q.fingerprint,
          "error" -> q.error.orNull))))).s)
    if (a.trace)
      Files.writeString(Paths.get(a.spans), tracer.spans.sortBy(_.start).map(s => obj(
        "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs).s)
        .mkString("", "\n", "\n"))
    spark.stop()
  }

  /** The untimed verified pass. kmer: an order-insensitive checksum of the
    * counts next to the distinct and total window counts, for run.py to
    * compare with the Spark-free oracle. curation_mix: every result
    * dumped as parquet with its oracle SQL, the layout `graft.Verify`
    * writes and `tools/check_oracle.py` reads. */
  def verifyPass(a: Args, spark: SparkSession): Map[String, Any] = a.workload match {
    case w if w.startsWith("kmer") =>
      val q = queries(a).head
      var counts = q.construct(spark, q.open(spark))
      if (a.fault) {
        // A deliberately wrong count, for the benchmark's own tests.
        val victim = counts.orderBy("word").select("word").head().getString(0)
        counts = counts.withColumn("cnt",
          when(col("word") === victim, col("cnt") + 1).otherwise(col("cnt")))
      }
      val r = counts.selectExpr(
        "count(*) AS distinct_kmers", "sum(cnt) AS windows",
        s"sum(cnt * ${kmerHashSql("word")}) AS checksum").head()
      cleanup(spark)
      Map("distinct" -> r.getLong(0), "windows" -> r.getLong(1), "checksum" -> r.getLong(2))
    case "curation_mix" =>
      val byName = Registry.all.map(q => q.name -> q).toMap
      val rows = a.curation.map { n =>
        val r = try {
          val out = s"${a.dump}/$n"
          byName(n).fn(spark, a.data).coalesce(1).write.mode("overwrite").parquet(out)
          spark.read.parquet(out).count()
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] verify $n failed: ${e.getMessage}"); -1L
        }
        cleanup(spark)
        n -> r
      }.toMap
      val oracle = a.curation.flatMap(n => byName(n).oracle.map(n -> _)).toMap
      Files.writeString(Paths.get(a.dump, "oracle_sql.json"), obj(oracle.toSeq: _*).s)
      Map("rows" -> rows)
  }

  /** SQL for h(code) of gen.py's k-mer checksum: the k-mer read as a
    * base-4 ACGT number, mixed modulo a prime. */
  def kmerHashSql(c: String): String = {
    val code = s"CAST(conv(translate($c, 'ACGT', '0123'), 4, 10) AS BIGINT)"
    s"pmod(pmod($code, 2147483647) * 1000003 + 12345, 2147483647)"
  }

  // ------------------------------------------------------------------
  // Minimal JSON writer
  // ------------------------------------------------------------------

  /** Already-encoded JSON. */
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${js(v)}" }.mkString("{", ", ", "}"))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def js(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${js(x)}" }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
