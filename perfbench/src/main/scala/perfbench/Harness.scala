package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, MemoLedger, SparkEntry}
import graft.operators.{Dedup, MapReduceJob, Similarity, TextOps}
import graft.streaming.ViewStreams

/** The benchmark's JVM side: sets up a session, runs one workload as a
  * closed loop (one operation in flight), checks what only the JVM can
  * check, and writes raw records plus per-layer aggregates as JSON for
  * `run.py`, which computes the end-to-end metrics and the other output
  * checks. */
object Harness {

  /** One operation: `call` is the call into the module (query
    * constructor, `MapReduceJob.run`, wave read) and returns the action
    * that materializes it (noop sink, `writeExact`, `mergeReleaseBatch`). */
  final case class Op(name: String, kind: String, call: () => (() => Unit))

  final case class Rec(id: String, pass: Int, phase: String, name: String, kind: String,
      traced: Boolean, t0: Double, t1: Double, t2: Double, error: String,
      memo: Seq[MemoLedger.Build], layers: Map[String, Double]) {
    def wall: Double = (t2 - t0) / 1e3
    def callS: Double = (t1 - t0) / 1e3
    def actionS: Double = (t2 - t1) / 1e3
  }

  /** Reconciliation tolerance of the traced run's self-check, per
    * operation: max(ReconcileAbsS, ReconcileRel × wall). Listener times
    * have millisecond resolution, so 10 ms covers rounding at both ends of
    * a few job spans. */
  val ReconcileAbsS = 0.010
  val ReconcileRel = 0.02

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val launchMs = opt("launch-ms").toDouble
    val out = Paths.get(opt("out"))

    val tMain = epochMs()
    val spark = GraftSession.get("perfbench")
    val tSession = epochMs()
    val run = new Run(spark, workload, opt)
    val result = try {
      run.warmUp()
      val tReady = epochMs()
      run.measure() + ("setup" -> Map(
        "setup_s" -> (tReady - launchMs) / 1e3,
        "session.jvm_start_s" -> (tMain - launchMs) / 1e3,
        "session.start_s" -> (tSession - tMain) / 1e3,
        "session.warmup_s" -> (tReady - tSession) / 1e3))
    } finally spark.stop()
    Json.write(out, result)
  }

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall clock in epoch milliseconds with nanoTime resolution, on the same
    * scale as the listener's event times. */
  def epochMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final class Run(spark: SparkSession, workload: String, opt: Map[String, String]) {
    private val sc = spark.sparkContext
    private val data = opt("data")
    private val input = opt("input")
    private val work = opt("work")
    private val trace = opt("trace") == "1"
    private val cores = GraftSession.cpus
    private val tracer = new Tracer
    private val recs = mutable.ArrayBuffer.empty[Rec]
    private var seq = 0
    private var storagePeak = 0L
    private val checks = mutable.LinkedHashMap.empty[String, String]
    private val foldBytes = mutable.ArrayBuffer.empty[(Int, Long, Long, Boolean)]

    private lazy val queries: Seq[Op] = opt("queries").split(",").toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      Op(name, "query", () => {
        val df = fn(spark, data)
        () => df.write.format("noop").mode("overwrite").save()
      })
    }
    private lazy val waves: Seq[String] =
      Files.list(Paths.get(input, "waves")).iterator().asScala.map(_.toString).toSeq.sorted
    /** View state directories, one per cycle; each folds the waves in order. */
    private val views = mutable.ArrayBuffer.empty[String]

    private def mrJob(kind: String): Op = {
      val (mapper, reducer) = kind match {
        case "wc" => (MapReduceJob.wcMapper, MapReduceJob.wcReducer)
        case "grep" => (MapReduceJob.grepMapper(opt("grep-query")), MapReduceJob.grepReducer)
      }
      val spec = MapReduceJob.JobSpec(s"$input/corpus", mapper, reducer,
        numReducers = opt("reducers").toInt, numMappers = opt("mappers").toInt)
      Op(kind, "mr", () => {
        val outDir = f"$work/mr/$kind-$seq%04d"
        val ds = MapReduceJob.run(spark, spec)
        () => MapReduceJob.writeExact(spark, ds, outDir, spec.numReducers)
      })
    }

    /** Fold wave `w` into the current view as generation `w`. */
    private def fold(w: Int): Op = {
      val (wave, state) = (waves(w), views.last)
      Op("fold", "fold", () => {
        val df = spark.read.parquet(wave)
        () => ViewStreams.mergeReleaseBatch(spark, df, state, w.toLong)
      })
    }

    /** The operations of pass `k` of a cycle: 0 is the cold pass, 1 the warm. */
    private def passOps(k: Int): Seq[Op] = workload match {
      case "corpus" => queries
      case "writes" => Seq(mrJob("wc"), mrJob("grep"), fold(k))
    }

    /** Clear the derived state before a cycle: drop the three memos (what
      * corpus builds) and start a new, empty view (what writes folds into). */
    private def clearState(): Unit = {
      Dedup.clearCorpusMemo(); Similarity.clearEmbMemo(); TextOps.clearTokMemo()
      MemoLedger.drain()
      views += s"$work/views/v${views.size}"
      lastWalk = Map.empty
    }

    private def runPass(pass: Int, k: Int, phase: String, traced: Boolean): Unit =
      passOps(k).foreach(op => recs += timed(op, pass, phase, traced))

    private var checkBuilds = 0

    /** The warm-up, which set-up includes: the first pass, from cleared
      * state with the JIT cold. Writes then runs its second pass into the
      * same view, so that both kinds of fold a cycle runs (base from empty
      * state, delta) have run once before the measured cycles; corpus runs
      * its check pass. */
    def warmUp(): Unit = {
      clearState()
      runPass(0, 0, "first", traced = false)
      if (workload == "writes") runPass(0, 1, "first", traced = false)
      if (workload == "corpus") checkQueries()
      checkBuilds = MemoLedger.drain().size
    }

    def measure(): Map[String, Any] = {
      var pass = 1
      // Measured cycles: clear the state, one cold pass, one warm pass.
      // A traced run traces cycles 1 and 2 of every four, so the tracing
      // overhead is a same-JVM comparison.
      (0 until opt("cycles").toInt).foreach { cycle =>
        val traced = trace && (cycle % 4 == 1 || cycle % 4 == 2)
        clearState()
        runPass(pass, 0, "cold", traced)
        runPass(pass + 1, 1, "warm", traced)
        pass += 2
      }
      // Two full GCs with a pause between: the first lets Spark's
      // ContextCleaner release the shuffle and broadcast state of
      // unreachable results, the second collects what it released.
      System.gc()
      Thread.sleep(300)
      System.gc()
      val heapRetained = Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
      if (workload == "writes") checkViews()
      Map("ops" -> recs.map(recJson).toSeq,
        "heap_retained_mb" -> heapRetained / 1e6,
        "check_builds" -> checkBuilds,
        "checks" -> checks.toMap,
        "storage_peak_mb" -> storagePeak / 1e6,
        "folds" -> foldBytes.map { case (v, w, l, b) =>
          Map("view" -> v, "written" -> w, "live" -> l, "base" -> b) }.toSeq,
        "cores" -> cores) ++
        (if (trace) Map("spans" -> spans(), "trace" -> traceSummary) else Map.empty)
    }

    private def recJson(r: Rec): Map[String, Any] = Map(
      "pass" -> r.pass, "phase" -> r.phase, "name" -> r.name, "kind" -> r.kind,
      "traced" -> r.traced,
      "wall" -> r.wall, "call" -> r.callS, "action" -> r.actionS, "error" -> r.error,
      "memo" -> r.memo.map(b => Map("memo" -> b.memo, "artifact" -> b.artifact, "s" -> b.sec)),
      "layers" -> r.layers)

    private def fsReadBytes(): Long =
      FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

    private def timed(op: Op, pass: Int, phase: String, traced: Boolean): Rec = {
      spark.catalog.clearCache()
      seq += 1
      val id = s"perfbench-op$seq"
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        tracer.window = id
        sc.setJobGroup(id, s"${op.name} pass $pass", interruptOnCancel = false)
      }
      val read0 = fsReadBytes()
      val t0 = epochMs()
      var t1 = t0
      var error = ""
      try {
        val action = op.call()
        t1 = epochMs()
        action()
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = epochMs()
          error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] ${op.name} pass $pass failed: $error")
      }
      val t2 = epochMs()
      val read = fsReadBytes() - read0
      val builds = MemoLedger.drain()
      storagePeak = math.max(storagePeak, sc.getRDDStorageInfo.map(_.memSize).sum)
      if (op.kind == "fold") foldBytes += foldAccounting()
      val layers = if (!traced) Map.empty[String, Double] else {
        sc.clearJobGroup()
        PerfbenchBus.drain(sc)
        tracer.window = ""
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        opLayers(id, t0, t1, t2, read, builds)
      }
      Rec(id, pass, phase, op.name, op.kind, traced, t0, t1, t2, error, builds, layers)
    }

    /** The view this fold went to, the bytes written under its state
      * (files new or rewritten since the previous walk), live bytes after
      * it, and whether it wrote a base generation. */
    private var lastWalk = Map.empty[String, (Long, Long)]
    private def foldAccounting(): (Int, Long, Long, Boolean) = {
      val root = Paths.get(views.last)
      val now = if (!Files.exists(root)) Map.empty[String, (Long, Long)] else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toMap finally s.close()
      }
      val written = now.collect {
        case (p, v @ (size, _)) if !lastWalk.get(p).contains(v) => size
      }.sum
      lastWalk = now
      val newest = Files.list(root).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gen=")).maxBy(_.stripPrefix("gen=").toLong)
      (views.size - 1, written, now.values.map(_._1).sum,
        Files.exists(root.resolve(s"$newest/_BASE")))
    }

    private def union(spans: Seq[(Double, Double)]): Double = {
      var total = 0.0; var curS = 0.0; var curE = -1.0
      spans.filter(s => s._2 > s._1).sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
    private def clip(spans: Seq[(Double, Double)], lo: Double, hi: Double) =
      spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }

    private var reconcileFailures = 0
    private var reconcileMaxErr = 0.0

    /** Per-operation layer split and the self-check. Self times: the
      * driver inside the call and inside the action (span minus the jobs
      * it covers) and the engine (the union of job spans). The check
      * asserts, each within the stated tolerance, that job spans lie inside
      * the call and action spans, that the self times add up to the wall
      * time, that task time fits the cores over the job spans and that memo
      * builds fit the wall time; and that no job carries another
      * operation's group. */
    private def opLayers(id: String, t0: Double, t1: Double, t2: Double,
        fsRead: Long, builds: Seq[MemoLedger.Build]): Map[String, Double] = {
      val jobs = tracer.jobsOf(id)
      val stages = tracer.stagesOf(id)
      val plan = tracer.plansOf(id)
      val wall = (t2 - t0) / 1e3
      val spans = jobs.map(j => (j.start.toDouble, j.end.toDouble))
      val engine = union(clip(spans, t0, t2)) / 1e3
      val callJobs = union(clip(spans, t0, t1)) / 1e3
      val actionJobs = union(clip(spans, t1, t2)) / 1e3
      val selfSum = ((t1 - t0) / 1e3 - callJobs) + ((t2 - t1) / 1e3 - actionJobs) + engine
      val outside = union(spans) / 1e3 - callJobs - actionJobs
      val runS = stages.map(_.runMs).sum / 1e3
      val tol = math.max(ReconcileAbsS, ReconcileRel * wall)
      val errs = Seq(
        math.abs(selfSum - wall),
        outside,
        math.max(0.0, runS - cores * engine * (1 + ReconcileRel) - tol),
        math.max(0.0, builds.map(_.sec).sum - wall))
      // Jobs the engine groups itself (d10's concurrent actions) carry its
      // group instead of ours; they are attributed by delivery window.
      val mistagged = jobs.count(j => j.group.startsWith("perfbench-") && j.group != id)
      val err = errs.max
      reconcileMaxErr = math.max(reconcileMaxErr, err)
      if (err > tol || mistagged > 0) {
        reconcileFailures += 1
        System.err.println(s"[perfbench] self-check failed for $id: errors " +
          s"${errs.mkString(",")}, mistagged jobs $mistagged, tolerance $tol")
      }
      val mapStages = stages.filter(_.shWriteRecords > 0)
      val resultStages = stages.filter(s => s.shWriteRecords == 0 && !s.readsSource)
      def sec(f: Tracer.Stage => Long) = stages.map(f).sum / 1e3
      Map(
        "operators.call_s" -> (t1 - t0) / 1e3,
        "operators.action_s" -> (t2 - t1) / 1e3,
        "driver.call_self_s" -> ((t1 - t0) / 1e3 - callJobs),
        "driver.action_self_s" -> ((t2 - t1) / 1e3 - actionJobs),
        "engine.job_span_s" -> engine,
        "engine.barrier_s" -> (wall - engine),
        "engine.jobs" -> jobs.size.toDouble,
        "engine.stages" -> stages.size.toDouble,
        "engine.tasks" -> stages.map(_.tasks).sum.toDouble,
        "engine.task_failures" -> stages.map(_.failures).sum.toDouble,
        "engine.task_run_s" -> runS,
        "engine.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "engine.task_overhead_s" -> sec(_.overheadMs),
        "engine.gc_s" -> sec(_.gcMs),
        "engine.shuffle_write_mb" -> stages.map(_.shWriteBytes).sum / 1e6,
        "engine.shuffle_read_mb" -> stages.map(_.shReadBytes).sum / 1e6,
        "engine.fetch_wait_s" -> sec(_.fetchWaitMs),
        "engine.spill_mb" -> stages.map(_.spillBytes).sum / 1e6,
        "scan.input_mb" -> fsRead / 1e6,
        "scan.input_records" -> stages.map(_.inRecords).sum.toDouble,
        "scan.stage_s" -> stages.filter(_.readsSource).map(_.runMs).sum / 1e3,
        "plan.exchanges" -> plan.exchanges.toDouble,
        "plan.sorts" -> plan.sorts.toDouble,
        "plan.smj" -> plan.smj.toDouble,
        "plan.bhj" -> plan.bhj.toDouble,
        "plan.expands" -> plan.expands.toDouble,
        "mr.map_stage_s" -> mapStages.map(s => s.end - s.start).sum / 1e3,
        "mr.reduce_stage_s" -> resultStages.map(s => s.end - s.start).sum / 1e3,
        "mr.commit_s" -> ((t2 - t1) / 1e3 - actionJobs),
        "mr.shuffle_records" -> stages.map(_.shWriteRecords).sum.toDouble,
        "mr.output_records" -> resultStages.map(_.outRecords).sum.toDouble,
        "trace.reconcile_err_s" -> err,
        "trace.mistagged_jobs" -> mistagged.toDouble)
    }

    private def traceSummary: Map[String, Double] = Map(
      "trace.reconcile_fail_ops" -> reconcileFailures.toDouble,
      "trace.reconcile_max_err_s" -> reconcileMaxErr)

    /** Spans of the traced operations: operation → call/action → job →
      * stage, with parent ids, in epoch milliseconds. */
    private def spans(): Seq[Map[String, Any]] = recs.toSeq.filter(_.traced).flatMap { r =>
      val id = r.id
      val jobs = tracer.jobsOf(id)
      def span(sid: String, parent: String, kind: String, name: String, s: Double, e: Double) =
        Map("id" -> sid, "parent" -> parent, "kind" -> kind, "name" -> name,
          "start_ms" -> s, "end_ms" -> e)
      Seq(span(id, "", "op", r.name, r.t0, r.t2),
        span(s"$id.call", id, "call", r.name, r.t0, r.t1),
        span(s"$id.action", id, "action", r.name, r.t1, r.t2)) ++
        jobs.map { j =>
          val parent = if (j.start < r.t1) s"$id.call" else s"$id.action"
          span(s"job${j.id}", parent, "job", j.group, j.start.toDouble, j.end.toDouble)
        } ++
        tracer.stagesOf(id).map { s =>
          val parent = jobs.find(_.stageIds.contains(s.id)).map(j => s"job${j.id}").getOrElse(id)
          span(s"stage${s.id}.${s.attempt}", parent, "stage", s.name, s.start.toDouble,
            s.end.toDouble)
        }
    }

    /** Untimed corpus check: every query once more, written as parquet
      * for `run.py`'s digests. */
    private def checkQueries(): Unit = queries.foreach { op =>
      spark.catalog.clearCache()
      try SparkEntry.queries(op.name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/results/${op.name}")
      catch { case e: Throwable =>
        checks(op.name) = s"check pass failed: ${e.getClass.getName}: ${e.getMessage}".take(300)
      }
    }

    /** Untimed writes check: every view equals the full-regeneration
      * report over the waves folded into it, recomputed from the wave
      * inputs. */
    private def checkViews(): Unit = {
      val folded = foldBytes.groupBy(_._1).map { case (v, fs) => v -> fs.size }
      val expected = mutable.Map.empty[Int, Seq[String]]
      views.zipWithIndex.foreach { case (view, v) =>
        val n = folded.getOrElse(v, 0)
        val want = expected.getOrElseUpdate(n, {
          val all = waves.take(n).map(w => Dedup.releaseWaveTables(spark.read.parquet(w)))
          Dedup.releaseReportFromTables(all.map(_._1).reduce(_ unionAll _),
            all.map(_._2).reduce(_ unionAll _)).collect().map(_.toString).toSeq
        })
        val got = try ViewStreams.releaseView(spark, view).collect().map(_.toString).toSeq
          catch { case e: Throwable => Seq(s"releaseView failed: $e") }
        if (got != want) checks(s"view v$v") = s"view $got != full regeneration $want".take(600)
      }
    }
  }
}
