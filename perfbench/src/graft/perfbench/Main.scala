package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Metric names and units; perfbench/run.py checks them against
  * BENCHMARK.json. */
object Metrics {
  val Ops: Seq[String] = Seq("backfill", "ingest_run", "merge_sql",
    "merge_parquet", "dv_delete", "dv_update", "compact", "read_point",
    "read_range", "read_agg", "read_travel", "history", "batch", "probe")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "write_p50_s" -> "s", "read_p50_s" -> "s",
    "rows_per_s" -> "rows/s",
    "backfill_s" -> "s", "stored_bytes_per_row" -> "B/row",
    "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Ops.map(o => s"op.p50_s.$o" -> "s") ++
    Ops.map(o => s"spark.jobs.$o" -> "count") ++
    Ops.map(o => s"spark.tasks.$o" -> "count") ++
    Ops.map(o => s"spark.driver_gap_s.$o" -> "s") ++
    Ops.map(o => s"spark.shuffle_bytes.$o" -> "B") ++ Seq(
      "pipeline.table_s" -> "s", "pipeline.chunked_tables" -> "count",
      "plan.chunks" -> "count", "plan.chunk_fill" -> "ratio",
      "plan.jobs" -> "count",
      "state.calls" -> "count", "state.s" -> "s",
      "sources.write_jobs" -> "count", "sources.files_written" -> "count",
      "scan.files_scanned_ratio" -> "ratio",
      "versioned.commits" -> "count", "versioned.log_bytes" -> "B",
      "versioned.checkpoints" -> "count", "versioned.data_files" -> "count",
      "versioned.small_files" -> "count", "versioned.dv_files" -> "count",
      "versioned.write_amp" -> "ratio",
      "merge.rows_rewritten_ratio.merge_sql" -> "ratio",
      "merge.rows_rewritten_ratio.merge_parquet" -> "ratio",
      "dedup.admitted" -> "count", "dedup.dup_of_corpus" -> "count",
      "dedup.dup_in_chunk" -> "count", "dedup.survivor_ratio" -> "ratio",
      "dedup.index_versions" -> "count", "dedup.compactions" -> "count",
      "ann.appended" -> "count", "ann.retrains" -> "count",
      "ann.rebuilds" -> "count", "ann.recall_ivf" -> "ratio",
      "ann.recall_pq" -> "ratio", "ann.probe_bytes_ratio" -> "ratio",
      "trace.overhead.write_p50_s" -> "s",
      "trace.overhead.read_p50_s" -> "s",
      "ops.failed_ratio" -> "ratio")
}

/** What a workload gets from the harness. `root` is the run's scratch
  * directory. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
    val tracer: Tracer, val checks: Checks, val cpus: Int)

/** One traced op of the count window, with the Spark jobs it ran. */
final case class OpRun(sample: Sample, jobs: Seq[JobRec]) {
  /** Op wall time not covered by any of the op's jobs. */
  def driverGapS: Double = {
    val (start, end) = (sample.startMs, sample.endMs)
    val covered = Intervals.union(jobs.map(j =>
      (math.max(j.startMs, start), math.min(math.max(j.endMs, j.startMs),
        end))).filter { case (s, e) => e > s })
    math.max(0L, end - start - covered) / 1000.0
  }
}

/** The count window handed to a workload's layer-metric hook: its
  * traced ops (backfill included), the spans the benchmark recorded,
  * every op of the window (traced or not), and the on-disk layout at
  * the window's start and end. */
final class Window(val traced: Seq[OpRun], val spans: Seq[Span],
    val all: Seq[Sample], val start: Layout, val end: Layout) {
  def contains(i: Int): Boolean = all.exists(_.index == i)
  def ofOp(name: String): Seq[OpRun] = traced.filter(_.sample.op == name)
  def jobs: Seq[JobRec] = traced.flatMap(_.jobs)
}

trait Workload {
  /** Lake/index roots whose bytes count as stored. */
  def roots: Seq[String]
  /** Generate the seeded inputs; returns their content hash. */
  def generate(): String
  /** The initial history load (timed as `backfill_s`). */
  def backfill(): Unit
  /** Op `i` of the seeded sequence. */
  def op(i: Int): Op
  /** Whether op `next` starts a new cycle of the schedule (every cycle
    * holds each op type in fixed counts). A run measures whole cycles:
    * it stops at the first cycle boundary after its time is up. */
  def cycleStarts(next: Int): Boolean
  /** Live rows in the roots, from the benchmark's model. */
  def liveRows(): Long
  /** A digest of the first inputs [[generate]] would make for `seed`,
    * made by the same generator code: a different seed must give a
    * different digest. */
  def fingerprint(seed: Long): String
  /** End-of-run correctness checks. */
  def finish(): Unit
  /** Workload-specific per-layer metrics. */
  def layer(w: Window): Map[String, Double]
}

trait WorkloadSpec {
  def name: String
  /** Ops of the sequence run untimed after the backfill (JIT and
    * codegen warm-up; counted in `setup_s`). */
  def warmOps: Int
  /** Ops in the count window, right after the warm-up: every run
    * completes at least this many, and the per-layer counts cover
    * exactly these. */
  def windowOps: Int
  def make(ctx: Ctx): Workload
}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, hashes: String, cpus: Int)

object Main {
  val Specs: Seq[WorkloadSpec] =
    Seq(IngestIncremental, LakeUpsertRead, CorpusStream)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), need("hashes"),
      Runtime.getRuntime.availableProcessors())
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      // graft.Bench's settings
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
      // every byte the run writes stays under its work dir
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val code =
      try run(opts)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          3
      }
    System.exit(code)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  def run(o: Opts): Int = {
    val spec = Specs.find(_.name == o.workload)
      .getOrElse(sys.error(s"unknown workload ${o.workload}"))
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.work, o.cpus)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext
    val tracer = new Tracer(o.trace)
    // the count window's listener; it is removed when the window ends
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(sc.addSparkListener)
    val checks = new Checks
    val failures = mutable.Map.empty[String, Int] // exception class -> n
    val attempted = mutable.Map.empty[String, Int] // op -> n

    /** Run one op: timed body, then the untimed model update. A thrown
      * op is recorded by exception class, never as a timing. */
    def exec(i: Int, op: Op, traced: Boolean): Sample = {
      attempted(op.name) = attempted.getOrElse(op.name, 0) + 1
      sc.setLocalProperty(JobListener.OpKey, if (traced) i.toString else null)
      tracer.beginOp(i, op.name, traced)
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val res = try Right(op.body()) catch { case NonFatal(e) => Left(e) }
      val dt = secondsSince(t)
      val endMs = System.currentTimeMillis()
      tracer.endOp()
      sc.setLocalProperty(JobListener.OpKey, null)
      res match {
        case Right(v) =>
          try op.after(v)
          catch { case NonFatal(e) =>
            checks.check(ok = false, s"${op.name}#$i check threw $e") }
          Sample(i, op.name, op.kind, dt, ok = true, traced, op.rows(v),
            startMs, endMs)
        case Left(e) =>
          val cls = e match {
            case c: ContainedFailure => c.cls
            case _ => e.getClass.getSimpleName
          }
          failures(cls) = failures.getOrElse(cls, 0) + 1
          System.err.println(s"perfbench: op ${op.name}#$i failed: $e")
          Sample(i, op.name, op.kind, dt, ok = false, traced, 0L, startMs,
            endMs)
      }
    }

    // ---- set-up: generate the seeded inputs, then the backfill
    val w0 = System.nanoTime()
    val wl = spec.make(new Ctx(spark, s"${o.work}/root", o.seed, tracer,
      checks, o.cpus))
    val inputHash = wl.generate()
    val generateS = secondsSince(w0)
    val backfill = exec(-1, Op("backfill", Write, () => wl.backfill()),
      traced = o.trace)
    if (!backfill.ok) sys.error("backfill failed; see the log above")
    val w1 = System.nanoTime()
    (0 until spec.warmOps).foreach { i =>
      val s = exec(i, wl.op(i), traced = false)
      checks.check(s.ok, s"warm-up op ${s.op}#$i failed")
    }
    val warmS = secondsSince(w1)
    // the backfill and the warm-up are timed apart from the loop's ops
    attempted.clear()
    failures.clear()
    checks.check(wl.fingerprint(o.seed) != wl.fingerprint(o.seed + 1),
      s"seeds ${o.seed} and ${o.seed + 1} gave the same inputs")
    recordHash(o, spec.name, inputHash, checks)

    // ---- the closed loop: one client, next op after the previous
    val startLayout = Layout.scan(wl.roots)
    val samples = mutable.ArrayBuffer.empty[Sample]
    var windowLayout = startLayout
    var windowLive = 0L
    var windowJobsSeen = Seq.empty[JobRec]
    val loopStart = System.nanoTime()
    var deadline = loopStart + (o.seconds * 1e9).toLong
    val windowEnd = spec.warmOps + spec.windowOps
    var i = spec.warmOps
    while (i < windowEnd || System.nanoTime() < deadline ||
      !wl.cycleStarts(i)) {
      val op = wl.op(i)
      // a traced run traces every op of the count window; after it, an
      // overhead phase of at least --seconds, in whole cycles, runs the
      // same op mix untraced: no spans, no op tag and no listener
      val traced = o.trace && i < windowEnd
      samples += exec(i, op, traced)
      i += 1
      if (i == windowEnd) {
        windowLayout = Layout.scan(wl.roots)
        windowLive = wl.liveRows()
        listener.foreach { l =>
          l.drain()
          sc.removeSparkListener(l)
          windowJobsSeen = l.all
        }
        if (o.trace) deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      }
    }
    val loopS = secondsSince(loopStart)
    wl.finish()

    // ---- end-to-end metrics (all ops of the run)
    val writes = samples.filter(_.kind == Write).toSeq
    val reads = samples.filter(_.kind == Read).toSeq
    require(writes.nonEmpty && reads.nonEmpty,
      s"${spec.name} ran no writes or no reads")
    def timing(xs: Seq[Sample]): (Double, Double, Double) = {
      // a failed op counts as missing every limit: it sorts last, and
      // a percentile landing on it reports the whole measured period
      val ts = Stats.withFailures(xs)
      val (tail, p) = Stats.tail(ts)
      def cap(d: Double) = if (d.isInfinite) loopS else d
      (cap(Stats.median(ts)), cap(tail), p)
    }
    // the tails are in the run record only: at these sample sizes no
    // percentile above the median has ten samples beyond it
    val (wP50, wTail, wPct) = timing(writes)
    val (rP50, rTail, rPct) = timing(reads)
    val okWrites = writes.filter(_.ok)
    val rowsPerS = okWrites.map(_.rows).sum / okWrites.map(_.seconds).sum
    val storedPerRow = windowLayout.bytes.toDouble / math.max(1L, windowLive)
    val setup = sessionS + generateS + backfill.seconds + warmS
    val e2e = Map(
      "setup_s" -> setup, "write_p50_s" -> wP50, "read_p50_s" -> rP50,
      "rows_per_s" -> rowsPerS,
      "backfill_s" -> backfill.seconds,
      "stored_bytes_per_row" -> storedPerRow, "peak_rss_mb" -> peakRssMb())
    val nFailed = samples.count(!_.ok)

    // ---- per-layer metrics (traced run; the count window)
    var windowJobs = Seq.empty[(Int, String, JobRec)]
    val layer: Map[String, Double] = if (!o.trace) Map.empty else {
      val jobsByOp = windowJobsSeen.groupBy(_.op)
      val windowSamples = samples.filter(_.index < windowEnd).toSeq
      val traced = (backfill +: windowSamples.filter(_.traced))
        .map(s => OpRun(s, jobsByOp.getOrElse(s.index, Nil)))
      windowJobs = traced.flatMap(r =>
        r.jobs.map(j => (r.sample.index, r.sample.op, j)))
      val w = new Window(traced, tracer.all.filter(_.op < windowEnd),
        windowSamples, startLayout, windowLayout)
      val perOp = Metrics.Ops.flatMap { op =>
        val runs = w.ofOp(op)
        def med(f: OpRun => Double) =
          if (runs.isEmpty) 0.0 else Stats.median(runs.map(f))
        Seq(s"op.p50_s.$op" -> med(_.sample.seconds),
          s"spark.jobs.$op" -> med(_.jobs.size.toDouble),
          s"spark.tasks.$op" -> med(_.jobs.map(_.tasks).sum.toDouble),
          s"spark.driver_gap_s.$op" -> med(_.driverGapS),
          s"spark.shuffle_bytes.$op" ->
            med(_.jobs.map(_.shuffleBytes).sum.toDouble))
      }.toMap
      // the window's traced ops against the overhead phase's untraced
      // ones: whole cycles on both sides, so the same op mix
      def overhead(xs: Seq[Sample]): Double = {
        val (on, off) = xs.filter(_.ok).partition(_.traced)
        if (on.isEmpty || off.isEmpty) 0.0
        else Stats.median(on.map(_.seconds)) - Stats.median(off.map(_.seconds))
      }
      val base = Metrics.PerLayer.map(_._1 -> 0.0).toMap ++ perOp ++ Map(
        "versioned.commits" ->
          (windowLayout.manifests - startLayout.manifests).toDouble,
        "versioned.checkpoints" ->
          (windowLayout.checkpoints - startLayout.checkpoints).toDouble,
        "versioned.log_bytes" -> windowLayout.logBytes.toDouble,
        "versioned.data_files" -> windowLayout.dataFiles.toDouble,
        "versioned.small_files" -> windowLayout.smallFiles.toDouble,
        "versioned.dv_files" -> windowLayout.dvFiles.toDouble,
        "trace.overhead.write_p50_s" -> overhead(writes),
        "trace.overhead.read_p50_s" -> overhead(reads),
        "ops.failed_ratio" -> nFailed.toDouble / samples.size)
      base ++ wl.layer(w)
    }

    val metrics = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (o.trace) layer else e2e
    val metricsJson = Json.obj(metrics.map { case (n, unit) =>
      n -> Json.obj(Seq("value" -> Json.num(values.getOrElse(n, 0.0)),
        "unit" -> Json.str(unit)))
    })
    val result = Json.obj(Seq("correct" -> checks.passed.toString,
      "attempted" -> samples.size.toString, "failed" -> nFailed.toString,
      "metrics" -> metricsJson))

    // ---- the run's record: everything behind the result line
    def counts(m: collection.Map[String, Int]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
    val detail = Json.obj(Seq(
      "workload" -> Json.str(spec.name), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "seconds" -> Json.num(o.seconds),
      "measured_s" -> Json.num(loopS), "ops" -> samples.size.toString,
      "window_ops" -> spec.windowOps.toString,
      "write_samples" -> writes.size.toString,
      "write_tail" -> Json.obj(Seq("s" -> Json.num(wTail),
        "percentile" -> Json.num(wPct))),
      "read_samples" -> reads.size.toString,
      "read_tail" -> Json.obj(Seq("s" -> Json.num(rTail),
        "percentile" -> Json.num(rPct))),
      "attempted_by_op" -> counts(attempted),
      "failed_by_exception" -> counts(failures),
      "ops_failed_ratio" -> Json.num(nFailed.toDouble / samples.size),
      "session_s" -> Json.num(sessionS), "generate_s" -> Json.num(generateS),
      "warmup_s" -> Json.num(warmS),
      "input_sha256" -> Json.str(inputHash),
      "checks" -> checks.count.toString,
      "check_failures" -> Json.arr(checks.failures.map(Json.str)),
      "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }),
      "window_jobs" -> Json.arr(windowJobs.map { case (i, op, j) =>
        Json.obj(Seq("op_index" -> i.toString, "op" -> Json.str(op),
          "call_site" -> Json.str(j.callSite.takeWhile(_ != '\n')),
          "tasks" -> j.tasks.toString,
          "shuffle_bytes" -> j.shuffleBytes.toString,
          "output_bytes" -> j.outputBytes.toString))
      }),
      "self_s" -> Json.obj(tracer.selfTimes.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(tracer.all.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString)))),
      "samples" -> Json.arr(samples.toSeq.map(s => Json.obj(Seq(
        "i" -> s.index.toString, "op" -> Json.str(s.op),
        "s" -> Json.num(s.seconds), "ok" -> s.ok.toString,
        "traced" -> s.traced.toString, "rows" -> s.rows.toString))))))
    val tag = s"${spec.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Fs.write(s"${o.out}/$tag.json", detail + "\n")
    Fs.write(s"${o.work}/result.json", result + "\n")
    checks.failures.foreach(f => System.err.println(s"perfbench: CHECK FAILED: $f"))
    spark.stop()
    if (checks.passed) 0 else 1
  }

  /** The input hash for (workload, seed) is recorded once; every later
    * run at that seed must generate byte-identical inputs. */
  private def recordHash(o: Opts, name: String, hash: String,
      checks: Checks): Unit = {
    val f = new java.io.File(s"${o.hashes}/$name-seed${o.seed}.sha256")
    if (f.exists()) {
      val prior = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").trim
      checks.check(prior == hash,
        s"seed ${o.seed} inputs differ from the recorded hash $prior")
    } else Fs.write(f.getPath, hash + "\n")
  }
}
