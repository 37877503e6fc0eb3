package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.KernelCaches
import graft.queries.Q

/** Closed-loop benchmark driver: one SparkSession on `local[cores]`, one
  * client, each query starting only after the previous one completed.
  *
  *   run.py → java graftbench.Main --workload W --seed N --seconds S
  *            --trace 0|1 --data DIR --out DIR --cores C
  *            [--inject throw|wrong]
  *
  * A run is: one set-up, [[WarmupPasses]] untimed warm-up passes, the
  * first of which writes every query's result as parquet for the DuckDB
  * oracle check done by run.py, then [[TimedPasses]] timed passes, and
  * more while `--seconds` have not elapsed. The set-up time counts from
  * process launch to the start of the first timed pass, warm-up included.
  * Each query execution in a pass is
  *   reset   `Q.prepare` (untimed: restores the query's fixtures)
  *   build   `Q.query(spark, dir)`; driver loops and dialect statements
  *   execute the returned DataFrame forced through the `noop` sink
  *   release `KernelCaches.releaseAll()`
  * and the seed permutes the query order inside every pass.
  *
  * With `--trace 1` at least five timed passes run, alternating untraced
  * and traced (Spark listeners attached), U T U T U; the traced ones yield
  * the per-layer numbers and spans, the comparison with their untraced
  * neighbours the tracing overhead.
  *
  * The raw record goes to `<out>/run.json`; run.py turns it into
  * metrics. A query that throws is recorded with its error, left out of
  * every timing, and makes the process exit 1. */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int, launchMs: Long,
      inject: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("out"), get("cores").toInt,
      kv.get("launch-ms").map(_.toLong)
        .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      kv.getOrElse("inject", "none"))
  }

  // ---- harness spans -------------------------------------------------

  final class Span(val id: Int, val parent: Int, val kind: String,
      val name: String, val qid: String, val startMs: Long) {
    var endMs = 0L
    var ns = 0L
  }

  private def now(): Long = System.currentTimeMillis()

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Untimed passes before the first timed one. The timed passes still
    * get faster after these while the JVM warms (README.md, steady
    * state); more warm-up does not fit a run's time budget. */
  val WarmupPasses = 2

  /** Least number of timed passes of an untraced run. The passes still
    * get faster, so the median depends on how many there are; a fixed
    * count that takes longer than `--seconds` keeps a run's timed passes
    * the same ones of the process whatever the box's speed. */
  val TimedPasses = 2

  /** Pause after the end-of-pass GC, outside every timing. */
  private val SettleMs = 300L

  private def loadavg(): Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      s.trim.split("\\s+")(0).toDouble
    } catch { case _: Exception => -1.0 }

  private def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  private def run(o: Opts): Int = {
    val mainMs = now()
    val names = Workloads.lists.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val real = names.map(n =>
      byName.getOrElse(n, sys.error(s"no query named $n in SparkEntry")))
    val queries = o.inject match {
      case "none" => real
      case "throw" => real :+ Q("bench_throws", None)((_, _) =>
        throw new IllegalStateException("deliberately throwing query"))
      case "wrong" => real.head.copy()((s, d) => {
        val df = real.head.query(s, d)
        df.union(df.limit(1))
      }) +: real.tail
      case other => sys.error(s"unknown --inject $other")
    }

    val spans = mutable.ArrayBuffer.empty[Span]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    var profile: Profile = null
    val profiles = mutable.ArrayBuffer.empty[Profile]

    def open(kind: String, name: String, parent: Int, qid: String): Span = {
      val s = new Span(spans.size + 1, parent, kind, name, qid, now())
      s.ns = System.nanoTime()
      spans += s
      if (spark != null)
        spark.sparkContext.setLocalProperty(Profile.SpanKey, s.id.toString)
      s
    }
    def close(s: Span): Double = {
      val ms = (System.nanoTime() - s.ns) / 1e6
      s.endMs = now()
      if (spark != null)
        spark.sparkContext.setLocalProperty(Profile.SpanKey,
          if (s.parent > 0) s.parent.toString else null)
      ms
    }
    def timed[T](kind: String, name: String, parent: Int, qid: String)(
        body: => T): (T, Double, Span) = {
      val s = open(kind, name, parent, qid)
      try {
        val v = body
        (v, close(s), s)
      } catch {
        case e: Throwable => close(s); throw e
      }
    }

    def attach(): Unit = {
      profile = new Profile
      profiles += profile
      spark.sparkContext.addSparkListener(profile)
      spark.listenerManager.register(profile)
    }
    def detach(): Unit = if (profile != null) {
      Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(profile)
      spark.listenerManager.unregister(profile)
      profile = null
    }

    val runSpan = new Span(0, -1, "run", o.workload, "", o.launchMs)

    // ---- set-up ------------------------------------------------------
    val set = open("setup", "setup", 0, "")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (_, sessionMs, _) = timed("session", "GraftSession", set.id, "") {
      spark = GraftSession.builder("graft-perfbench")
        .master(s"local[${o.cores}]")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
    }
    if (o.trace) attach()
    val (_, functionsMs, _) = timed("functions", "GraftSession.configure",
      set.id, "")(GraftSession.configure(spark))
    val (_, tablesMs, tablesSpan) = timed("tables", "Tables.registerAll",
      set.id, "")(Tables.registerAll(spark, o.data))
    val (_, prepareMs, _) = timed("prepare", "Q.prepare", set.id, "") {
      queries.foreach(_.prepare.foreach(_(spark, o.data)))
    }
    close(set)
    val setup = mutable.LinkedHashMap[String, Any](
      "launch_ms" -> (mainMs - o.launchMs), "session_ms" -> sessionMs,
      "functions_ms" -> functionsMs, "tables_ms" -> tablesMs,
      "prepare_ms" -> prepareMs,
      "codegen_compiles" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
    if (o.trace) {
      Bus.drain(spark.sparkContext)
      setup("schema_jobs") = profile.synchronized(
        profile.jobs.count(_.span == tablesSpan.id))
      detach()
    }

    val cores = o.cores
    val rnd = new scala.util.Random(o.seed)

    // ---- one pass ----------------------------------------------------
    final case class Exec(name: String, buildMs: Double, executeMs: Double)

    /** One pass over the workload in a seed-permuted order. With a
      * `checkDir` every result is written there as parquet instead of
      * going to the `noop` sink. */
    def pass(index: Int, kind: String, traced: Boolean,
        checkDir: java.nio.file.Path = null)
        : mutable.LinkedHashMap[String, Any] = {
      if (traced) attach()
      val sink = if (checkDir == null) "noop" else "parquet"
      val order = rnd.shuffle(queries)
      val loadBefore = loadavg()
      val gc0 = gcMs()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ps = open(kind, s"$kind$index", 0, "")
      var resetMs, releaseMs = 0.0
      var failed = false
      val execs = mutable.ArrayBuffer.empty[Exec]
      val qspans = mutable.ArrayBuffer.empty[(Span, Span, Span)]
      order.zipWithIndex.foreach { case (q, i) =>
        val qid = s"$kind$index.$i:${q.name}"
        val qs = open("query", q.name, ps.id, qid)
        var stage = "reset"
        try {
          resetMs += timed("reset", "Q.prepare", qs.id, qid) {
            q.prepare.foreach(_(spark, o.data))
          }._2
          stage = "build"
          val (df, bms, bs) = timed("build", "Q.query", qs.id, qid) {
            q.query(spark, o.data)
          }
          stage = "execute"
          val (_, ems, es) = timed("execute", sink, qs.id, qid) {
            // the check output keeps the query's own plan (no coalesce), so
            // the warm-up compiles the same code the timed passes run
            if (checkDir == null) df.write.format("noop").mode("overwrite").save()
            else df.write.mode("overwrite")
              .parquet(checkDir.resolve(q.name).toString)
          }
          execs += Exec(q.name, bms, ems)
          qspans += ((qs, bs, es))
        } catch {
          case e: Throwable =>
            failed = true
            failures += Map("pass" -> s"$kind$index", "query" -> q.name,
              "stage" -> stage, "error" -> e.toString.take(500))
            System.err.println(s"[perfbench] $qid failed in $stage: $e")
        } finally {
          releaseMs += timed("release", "KernelCaches.releaseAll", qs.id,
            qid)(KernelCaches.releaseAll())._2
          close(qs)
        }
      }
      val wallMs = close(ps)
      val gcPass = gcMs() - gc0
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      val loadAfter = loadavg()
      // settle between passes: a full GC makes the live heap measurable
      // and keeps one pass's garbage out of the next pass's timing; the
      // pause lets Spark's ContextCleaner drain the shuffles and
      // broadcasts that GC released, off the next pass's clock
      System.gc()
      val heapMb =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(SettleMs)
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> index, "kind" -> kind, "traced" -> traced,
        "pass_ms" -> (wallMs - resetMs), "reset_ms" -> resetMs,
        "release_ms" -> releaseMs, "failed" -> failed,
        "load_before" -> loadBefore, "load_after" -> loadAfter,
        "driver_gc_ms" -> gcPass, "heap_live_mb" -> heapMb,
        "codegen_compiles" -> compiles,
        "queries" -> execs.map(e => Map("name" -> e.name,
          "build_ms" -> e.buildMs, "execute_ms" -> e.executeMs)))
      if (traced) {
        val p = profile
        detach()
        rec("layers") = layers(p, ps, qspans.toSeq, wallMs - resetMs,
          releaseMs, gcPass, heapMb, compiles)
      }
      rec
    }

    /** Per-layer numbers of one traced pass from the listener record. */
    def layers(p: Profile, ps: Span, qspans: Seq[(Span, Span, Span)],
        passMs: Double, releaseMs: Double, gcPass: Long, heapMb: Double,
        compiles: Long): Map[String, Double] = p.synchronized {
      // spans are numbered in creation order: the pass's own span and
      // everything opened after it; the untimed fixture resets stay out,
      // and a job without the span property is placed by its start time
      val inPass = spans.iterator.drop(ps.id - 1).toSeq
      val resets = inPass.filter(_.kind == "reset")
      def inReset(t: Long) = resets.exists(r => r.startMs <= t && t <= r.endMs)
      val passIds = inPass.filter(_.kind != "reset").map(_.id).toSet
      val buildIds = qspans.map(_._2.id).toSet
      val jobs = p.jobs.filter(j => passIds.contains(j.span) || (j.span < 0 &&
        j.startMs >= ps.startMs && j.startMs <= ps.endMs && !inReset(j.startMs)))
      val buildJobs = jobs.filter(j => buildIds.contains(j.span))
      val stages = p.stagesOf(jobs.map(_.id).toSet).filter(_.submitMs > 0)
      def covered(lo: Long, hi: Long, js: Iterable[Profile.JobRec]): Long = {
        val iv = js.map(j => (math.max(lo, j.startMs),
          math.min(hi, if (j.endMs > 0) j.endMs else hi)))
          .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
        var total, curA, curB = 0L
        var open = false
        iv.foreach { case (a, b) =>
          if (!open) { curA = a; curB = b; open = true }
          else if (a <= curB) curB = math.max(curB, b)
          else { total += curB - curA; curA = a; curB = b }
        }
        if (open) total += curB - curA
        total
      }
      val buildMs = qspans.map { case (_, b, _) => (b.endMs - b.startMs) }.sum
      val buildJobMs = qspans.map { case (_, b, _) =>
        covered(b.startMs, b.endMs, buildJobs.filter(_.span == b.id)) }.sum
      val windows = qspans.flatMap { case (_, b, e) => Seq(b, e) }
      val idle = windows.map { w =>
        (w.endMs - w.startMs) - covered(w.startMs, w.endMs, jobs) }.sum
      val plans = p.plans.filter(r =>
        r.startMs >= ps.startMs && r.startMs <= ps.endMs && !inReset(r.startMs))
      val taskMs = stages.map(_.runMs).sum.toDouble
      val cgMean1 = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      Map(
        "queries.build_ms" -> buildMs.toDouble,
        "queries.execute_ms" -> qspans.map { case (_, _, e) =>
          (e.endMs - e.startMs).toDouble }.sum,
        "queries.build_jobs" -> buildJobs.size.toDouble,
        "queries.build_self_ms" -> (buildMs - buildJobMs).toDouble,
        "plan.analysis_ms" -> plans.map(_.analysisMs).sum.toDouble,
        "plan.optimization_ms" -> plans.map(_.optimizationMs).sum.toDouble,
        "plan.planning_ms" -> plans.map(_.planningMs).sum.toDouble,
        "plan.executions" -> plans.size.toDouble,
        "plan.broadcasts" -> plans.map(_.broadcasts).sum.toDouble,
        "sched.jobs" -> jobs.size.toDouble,
        "sched.stages" -> stages.size.toDouble,
        "sched.tasks" -> stages.map(_.tasks).sum.toDouble,
        "sched.job_ms" -> jobs.map(j =>
          (if (j.endMs > 0) j.endMs else ps.endMs) - j.startMs).sum.toDouble,
        "sched.idle_ms" -> idle.toDouble,
        "sched.task_wait_ms" -> stages.filter(_.firstLaunchMs > 0)
          .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum.toDouble,
        "exec.task_ms" -> taskMs,
        "exec.cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
        "exec.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
        "exec.busy_frac" -> taskMs / (passMs * cores),
        "exec.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
        "exec.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum.toDouble,
        "exec.shuffle_write_bytes" ->
          stages.map(_.shuffleWriteBytes).sum.toDouble,
        "exec.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
        "exec.output_bytes" -> stages.map(_.outputBytes).sum.toDouble,
        "exec.output_rows" -> stages.map(_.outputRows).sum.toDouble,
        "codegen.compiles" -> compiles.toDouble,
        // the compile-time histogram keeps no sum: estimate it as the
        // number of compiles times the mean of the histogram after the pass
        "codegen.compile_ms" -> compiles * cgMean1,
        "caches.release_ms" -> releaseMs,
        "driver.gc_ms" -> gcPass.toDouble,
        "driver.heap_live_mb" -> heapMb)
    }

    // ---- warm-up, timed passes ---------------------------------------
    // untimed passes; the first writes the results for the oracle check
    val checkDir = Paths.get(o.out, "check")
    Files.createDirectories(checkDir)
    val warmT0 = System.nanoTime()
    val warm = (0 until WarmupPasses).map(i =>
      pass(i, "warmup", traced = false, if (i == 0) checkDir else null))
    setup("warmup_s") = (System.nanoTime() - warmT0) / 1e9
    val checked = warm.head("queries").asInstanceOf[Iterable[Map[String, Any]]]
      .map(_("name").toString).toSeq
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val setupS = (now() - o.launchMs) / 1000.0
    val measureT0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - measureT0) / 1e9
    // traced runs alternate untraced and traced passes, starting and
    // ending untraced, so each traced pass has an untraced one on either
    // side to be compared with while the JIT is still warming
    val minPasses = if (o.trace) 5 else TimedPasses
    while (passes.size < minPasses || elapsedS < o.seconds ||
        (o.trace && passes.size % 2 == 0)) {
      val i = passes.size
      passes += pass(i, "pass", traced = o.trace && i % 2 == 1)
    }
    val measuredS = elapsedS
    runSpan.endMs = now()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "measured_s" -> measuredS,
      "queries" -> queries.map(_.name),
      "box" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores_used" -> cores,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "setup_s" -> setupS,
      "setup" -> setup,
      "warmups" -> warm,
      "passes" -> passes,
      "failures" -> failures,
      "checked" -> checked,
      "oracle" -> queries.flatMap(q => q.oracle.map(q.name -> _)).toMap,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(o.out, "run.json"),
      json.writeValueAsString(record))

    if (o.trace) writeSpans(Paths.get(o.out, "spans.jsonl"), runSpan,
      spans.toSeq, profiles.toSeq)
    spark.stop()
    if (failures.nonEmpty) 1 else 0
  }

  /** Spans of the traced run, one JSON object per line: the harness
    * hierarchy run › setup|pass › query › build/execute, then Spark's
    * jobs (children of the span that submitted them), their stages, and
    * the planning phases (children of the span they ran in). Spans of one
    * query execution share its `qid`. */
  private def writeSpans(path: java.nio.file.Path, run: Span,
      spans: Seq[Span], profiles: Seq[Profile]): Unit = {
    val w = Files.newBufferedWriter(path)
    def emit(id: String, parent: String, kind: String, name: String,
        qid: String, start: Long, end: Long, attrs: Map[String, Any]): Unit = {
      w.write(json.writeValueAsString(mutable.LinkedHashMap[String, Any](
        "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "qid" -> qid, "start_ms" -> start, "end_ms" -> end) ++ attrs))
      w.newLine()
    }
    val byId = spans.map(s => s.id -> s).toMap
    def sid(i: Int): String = if (i <= 0) "s0" else s"s$i"
    emit("s0", null, "run", run.name, "", run.startMs, run.endMs, Map.empty)
    spans.foreach(s => emit(sid(s.id), sid(s.parent), s.kind, s.name, s.qid,
      s.startMs, s.endMs, Map.empty))
    // innermost harness span open at time t (planning phases, and jobs
    // submitted without the span property); (parent id, qid)
    val sorted = spans.sortBy(_.startMs)
    def at(t: Long): (String, String) =
      sorted.filter(s => s.startMs <= t && (s.endMs == 0 || t <= s.endMs))
        .lastOption.fold(("s0", ""))(s => (sid(s.id), s.qid))
    profiles.zipWithIndex.foreach { case (p, k) =>
      p.synchronized {
        val owner = p.jobs.map(j => j.id -> byId.get(j.span)
          .fold(at(j.startMs))(s => (sid(s.id), s.qid))).toMap
        p.jobs.foreach { j =>
          val (parent, qid) = owner(j.id)
          emit(s"j${j.id}", parent, "job", s"job ${j.id}", qid,
            j.startMs, j.endMs, Map.empty)
        }
        p.stages.values.foreach { s =>
          emit(s"st${s.stageId}.${s.attempt}", s"j${s.jobId}",
            "stage", s"stage ${s.stageId}", owner.get(s.jobId).fold("")(_._2),
            s.submitMs, s.completeMs, Map("tasks" -> s.tasks,
              "task_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1000000L,
              "input_bytes" -> s.inputBytes,
              "shuffle_read_bytes" -> s.shuffleReadBytes,
              "shuffle_write_bytes" -> s.shuffleWriteBytes,
              "spill_bytes" -> s.spillBytes))
        }
        p.plans.zipWithIndex.foreach { case (r, i) =>
          val (parent, qid) = at(r.startMs)
          emit(s"pl$k.$i", parent, "plan", r.func, qid, r.startMs, r.endMs,
            Map("analysis_ms" -> r.analysisMs,
              "optimization_ms" -> r.optimizationMs,
              "planning_ms" -> r.planningMs, "broadcasts" -> r.broadcasts))
        }
      }
    }
    w.close()
  }
}
