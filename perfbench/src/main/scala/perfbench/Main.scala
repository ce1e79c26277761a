package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.CallMark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Sessions

/** Operations a run attempted and the ones that threw or failed their
  * output check. */
final class Tally {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def failed: Long = math.min(failures.size.toLong, attempted)
  def fail(what: String): Unit = {
    System.err.println(s"[perfbench] FAILED: $what")
    failures += what
  }
  def check(what: String)(ok: Boolean): Unit = if (!ok) fail(what)
}

/** Step samples of one pass: each `step` is one timed engine call or
  * weekly increment. */
final class Clock {
  val steps = mutable.ArrayBuffer.empty[Double]
  def step[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally steps += (System.nanoTime() - t0) / 1e9
  }
}

/** What one workload does, in one session. A run sets up `SetupReps`
  * instances, each in a fresh session; the last one runs the passes. */
trait Workload {
  /** Generates the inputs into `dir` and warms up: (generator_s, warmup_s). */
  def setup(dir: Path): (Double, Double)
  /** Untimed work after set-up and before the measurement. */
  def warmup(dir: Path): Unit = ()
  /** One timed pass over the inputs. Returns the pass's output checks,
    * which run after the measurement, outside every timed window. */
  def pass(n: Int, clock: Clock, tracer: Tracer, tally: Tally): () => Unit
  /** Lines for the traced run's record, after the last pass. */
  def report(): Seq[String] = Nil
}

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--work <dir>]`. The last line of standard output is the JSON record. */
object Main {
  val workloads: Map[String, (SparkSession, Long) => Workload] = Map(
    "cadence" -> ((s, seed) => new CadenceWorkload(s, seed)),
    "corpus_10x" -> ((s, seed) => new Corpus10xWorkload(s, seed)))
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", "")
    require(workloads.contains(name),
      s"unknown workload '$name' (known: ${workloads.keys.toSeq.sorted.mkString(", ")})")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".bench_work")).toAbsolutePath
    Files.createDirectories(work.resolve("spark-local"))
    val nproc = Runtime.getRuntime.availableProcessors

    val loadPre = loadavg()
    val runId = s"$name-$seed-${if (traced) "traced" else "plain"}"
    val tally = new Tally
    // Set-up runs SetupReps times, each in a fresh session (the first is
    // the JVM's cold start), and its time is the median. The last
    // session and its inputs serve the passes.
    final case class Setup(w: Workload, sessionS: Double, genS: Double, warmS: Double)
    var spark: SparkSession = null
    try {
      val setups = (1 to SetupReps).map { i =>
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = Sessions.local(nproc, "perfbench", Map(
          "spark.sql.maxPlanStringLength" -> "16384",
          "spark.local.dir" -> work.resolve("spark-local").toString,
          "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
        val sessionS = (System.nanoTime() - t0) / 1e9
        val w = workloads(name)(spark, seed)
        val dir = work.resolve(s"inputs-$i")
        val (genS, warmS) = w.setup(dir)
        if (i < SetupReps) deleteTree(dir)
        Setup(w, sessionS, genS, warmS)
      }
      val w = setups.last.w
      val setupS = Stats.median(setups.map(s => s.sessionS + s.genS + s.warmS))
      val cache = new CacheMeter
      spark.sparkContext.addSparkListener(cache)
      val tracer = new Tracer(spark, runId)
      w.warmup(work.resolve("warmup"))
      calibration(spark, nproc) // untimed warm-up of the probe itself
      val calPre = calibration(spark, nproc)

      // Measured passes: as many whole passes as fit the budget, at least
      // one. A pass that throws counts as a failure, not as time, and
      // ends the measurement. A traced run traces every pass.
      final case class Pass(clock: Clock, startMs: Long, endMs: Long,
          seconds: Double, check: () => Unit)
      def measure(budget: Double): Seq[Pass] = {
        val out = mutable.ArrayBuffer.empty[Pass]
        val start = System.nanoTime()
        def elapsed = (System.nanoTime() - start) / 1e9
        var threw = false
        while (!threw && (out.isEmpty || elapsed + elapsed / out.size <= budget)) {
          val c = new Clock
          val a = System.currentTimeMillis()
          val t0 = System.nanoTime()
          try {
            val check = w.pass(out.size, c, tracer, tally)
            out += Pass(c, a, System.currentTimeMillis(),
              (System.nanoTime() - t0) / 1e9, check)
          } catch { case e: Exception =>
            e.printStackTrace()
            tally.fail(s"pass ${out.size} threw $e")
            threw = true
          }
        }
        require(out.nonEmpty, "no pass completed")
        out.toSeq
      }
      CallMark.post(spark.sparkContext, resetPeak = true)
      if (traced) tracer.start()
      val passes = measure(seconds)
      tracer.drain() // the last call's block updates reach the cache meter
      val peakCacheMb = cache.peakBytes / 1048576.0
      val tot = if (traced) tracer.totals else Map.empty[String, Long]
      val calPost = calibration(spark, nproc)
      val loadPost = loadavg()

      // Output checks, after every timed window and traced total.
      passes.zipWithIndex.foreach { case (p, i) =>
        try p.check() catch { case e: Exception =>
          e.printStackTrace()
          tally.fail(s"checks of pass $i threw $e")
        }
      }

      // Health counters: the engine's own tripwires, read after the
      // listener bus drained. Any nonzero counter fails the run.
      tracer.drain()
      graft.operators.CacheLease.quiesceThenReleaseAll()
      val health = Seq(
        "health.codegen_fallbacks" -> graft.CodegenTripwire.fallbacks.toLong,
        "health.window_global" -> graft.WindowTripwire.globalWindows.toLong,
        "health.window_skew" -> graft.WindowTripwire.skewWindows.toLong,
        "health.window_bnd_overflow" -> graft.WindowTripwire.bndOverflows.toLong,
        "health.cache_leases_reclaimed" -> graft.operators.CacheLease.reclaimedCount)
      health.foreach { case (k, v) => tally.check(s"$k = $v, must be 0")(v == 0) }

      val passS = passes.map(_.seconds)
      val endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("step_gmean_ms", Stats.geomean(passes.flatMap(_.clock.steps)) * 1000, "ms"),
        Metric("pass_s", Stats.median(passS), "s"),
        Metric("peak_cache_mb", peakCacheMb, "MB"))

      val sessions = setups.map(s => Json.num(s.sessionS))
      // Loaded: more runnable work than cores before the run started, or
      // the calibration probe slowed by half over the run.
      val loaded = loadPre.headOption.exists(_ > nproc + 1) || calPost / calPre > 1.5
      println(s"""[perfbench] noise {"workload":${Json.str(name)},"seed":$seed,""" +
        s""""nproc":$nproc,"master":"local[$nproc]","client_threads":1,""" +
        s""""session_s":${sessions.mkString("[", ",", "]")},""" +
        s""""calibration_s":{"pre":${Json.num(calPre)},"post":${Json.num(calPost)}},""" +
        s""""loadavg":{"pre":${loadPre.mkString("[", ",", "]")},""" +
        s""""post":${loadPost.mkString("[", ",", "]")}},"loaded":$loaded}""")
      if (loaded) println("[perfbench] WARNING: loaded box, this record is distorted")

      val metrics =
        if (!traced) endToEnd
        else {
          val lines = w.report() ++ traceTable(tracer)
          lines.foreach(println)
          val n = passes.size.toDouble
          val wallS = passes.map(p => p.endMs - p.startMs).sum / 1000.0
          val idleS = passes.map(p =>
            tracer.counters.get.idleMs(p.startMs, p.endMs)).sum / 1000.0
          val taskS = tot("task_ns") / 1e9
          val mb = 1048576.0
          // Tracing's share of the timed work: its bookkeeping time over
          // the timed time without it (an estimate of traced minus
          // untraced over untraced, taken in one run).
          val book = tracer.bookkeepingNs / 1e9
          val overhead = book / (passS.sum - book)
          Seq(
            Metric("spark.jobs", tot("jobs") / n, "count"),
            Metric("spark.stages", tot("stages") / n, "count"),
            Metric("spark.tasks", tot("tasks") / n, "count"),
            Metric("spark.task_s", taskS / n, "s"),
            Metric("spark.driver_gap_s", idleS / n, "s"),
            Metric("spark.busy_frac", taskS / (wallS * nproc), "ratio"),
            Metric("spark.shuffle_write_mb", tot("shuffle_write_b") / mb / n, "MB"),
            Metric("spark.shuffle_read_mb", tot("shuffle_read_b") / mb / n, "MB"),
            Metric("spark.input_mb", tot("input_b") / mb / n, "MB"),
            Metric("spark.output_mb", tot("output_b") / mb / n, "MB"),
            Metric("spark.spill_mb", tot("spill_b") / mb / n, "MB"),
            Metric("spark.plan_ms", tot("plan_ms") / n, "ms"),
            Metric("Sessions.local_s", Stats.median(setups.map(_.sessionS)), "s"),
            Metric("generator_s", Stats.median(setups.map(_.genS)), "s"),
            Metric("Tables.warmup_s", Stats.median(setups.map(_.warmS)), "s"),
            Metric("trace.overhead_frac", overhead, "ratio"),
            Metric("trace.spans", tracer.spans.size / n, "count")) ++
            health.map { case (k, v) => Metric(k, v.toDouble, "count") }
        }
      if (traced) tracer.writeJson(work.resolve(s"trace/spans-$runId.json"))
      metrics.foreach(m => println(m.line))
      val correct = tally.failures.isEmpty
      try spark.stop() catch { case e: Throwable =>
        System.err.println(s"[perfbench] stop: ${e.getMessage}") }
      println(Metric.record(correct, tally.attempted, tally.failed, metrics))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        try if (spark != null) spark.stop() catch { case _: Throwable => () }
        System.exit(1)
    }
  }

  /** Per-layer and per-span self times over the traced passes. */
  def traceTable(t: Tracer): Seq[String] = {
    val self = t.selfSeconds
    val byLayer = t.spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, ss) =>
      f"[perfbench] layer $l%-10s self_s=${ss.map(s => self(s.id)).sum}%.4f spans=${ss.size}"
    }
    val byName = t.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val d = ss.map(_.seconds).toSeq
      val jobs = ss.map(_.counts.getOrElse("jobs", 0L)).sum
      f"[perfbench] span $n n=${ss.size} total_s=${d.sum}%.4f " +
        f"self_s=${ss.map(s => self(s.id)).sum}%.4f p50_s=${Stats.median(d)}%.4f jobs=$jobs"
    }
    byLayer ++ byName
  }

  /** The graft.Bench calibration probe: a fixed hash + aggregate over
    * 50M generated rows, no file IO. */
  def calibration(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, cores)
      .select(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+").take(3).toSeq.map(_.toDouble) finally src.close()
    } catch { case _: Throwable => Seq.empty }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
}
