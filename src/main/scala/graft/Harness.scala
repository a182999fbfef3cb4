package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.util.Env

/** The kernel every graft main (and the test base) runs on: one
  * session factory, the host-noise witnesses, and the A/B plumbing —
  * alternating arms, medians, one-line JSON. Each harness keeps only
  * its own arms, identity checks and JSON keys. */
object Harness {

  /** A `local[cores]` session with the conf every graft main shares;
    * `conf` adds or overrides keys (shuffle partitions default to
    * `cores`). Log level WARN. */
  def session(cores: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); graft.io.Tables converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // generated-class cache sized to the query surface (static conf,
      // default 100 entries): a 183-query suite generates ~3-4k
      // distinct codegen classes, so at the default every query's
      // classes are evicted before its next execution and every run
      // re-pays Janino compilation + JIT tier-up (bench sf0.1 suite
      // 275 → 169 s when raised). A production application hosting
      // this many distinct queries sizes the compiler cache to its plan
      // inventory the same way; data-independent, affects no result.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // a >10 s JVM freeze (32 GiB full GC, or a host stall the
      // StallProbe documents) breaches the default executor-heartbeat
      // RPC timeout and kills the whole SparkContext mid-run — an sf1
      // bench died exactly this way. Stretch the tolerance so a stall
      // costs a timing, not the harness.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The scale-factor directory a main reads, `SPARK_GRAFT_SF_DIR`
    * (default: the sf0.1 test data; StoreBench and SkewBench default
    * to the sf1 bench data instead). */
  def sfDir: String = Env.str("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Between-measurement hygiene: drop persisted intermediates;
    * unless `checkpoints` is off, unpersist every remaining RDD too —
    * the localCheckpoint blocks clearCache cannot see (blocking, so
    * removal cannot overlap the next timed body); unless `gc` is off,
    * collect the last body's garbage outside the next timer (a 32 GiB
    * full GC is multi-second). Keep `checkpoints` off when the arms
    * share a locally checkpointed artifact (trained codebooks,
    * centroids): its lineage is truncated, so dropping its blocks
    * loses it. */
  def sweep(spark: SparkSession, checkpoints: Boolean = true,
            gc: Boolean = true): Unit = {
    spark.sharedState.cacheManager.clearCache()
    if (checkpoints)
      org.apache.spark.sql.graft.CheckpointBridge
        .unpersistAll(spark, blocking = true)
    if (gc) System.gc()
  }

  /** `/proc/loadavg`, so external contention is recorded in the
    * artifact instead of guessed at ("" where unavailable). */
  def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "" }

  /** Host-stall probe: a daemon thread sleeps 100 ms in a loop and,
    * whenever the sleep actually took over 250 ms, accumulates the
    * oversleep — time the guest simply did not run. On a Firecracker
    * VM host CPU oversubscription is invisible to every guest metric
    * (steal stays 0 — the steal-time MSR isn't exposed — loadavg/PSI
    * only see guest-side queuing), yet it freely multiplies
    * wall-clock timings; a sleeper that oversleeps is the one
    * guest-visible witness. Harnesses report per-run deltas as
    * `stall_sec` so a noise-poisoned run is identifiable from the
    * artifact alone. */
  object StallProbe {
    @volatile private var stallNanos = 0L
    private lazy val thread = {
      val t = new Thread(() => {
        while (true) {
          val t0 = System.nanoTime()
          try Thread.sleep(100) catch { case _: InterruptedException => }
          val over = System.nanoTime() - t0 - 100000000L
          if (over > 150000000L) stallNanos += over
        }
      }, "graft-stall-probe")
      t.setDaemon(true)
      t.start()
      t
    }
    /** Starts the probe thread; later calls are no-ops. */
    def start(): Unit = thread
    def totalSec: Double = stallNanos / 1e9
  }

  /** Median of the non-negative samples (-1 marks a failed sample and
    * is skipped); -1 when none is left. */
  def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
  }

  /** Wall seconds of `body`. */
  def timed(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Per-arm sample series (run order) and the stall probe's delta
    * over each run. */
  final case class ArmRuns(times: Map[String, Seq[Double]],
                           stallSec: Seq[Double])

  /** The A/B loop: `runs` passes over `arms` (name, body), in listed
    * order on even runs and reversed on odd ones, so host drift cannot
    * systematically favour one arm. `time(run, body)` measures one arm
    * and `between()` runs after each; `afterRun(run, seconds by arm,
    * stall seconds)` runs once per pass (logging, untimed upkeep). */
  def alternate[A](runs: Int, arms: Seq[(String, A)], between: () => Unit)(
      time: (Int, A) => Double)(
      afterRun: (Int, Map[String, Double], Double) => Unit): ArmRuns = {
    val passes = (0 until runs).map { r =>
      val s0 = StallProbe.totalSec
      val got = (if (r % 2 == 0) arms else arms.reverse).map { case (a, body) =>
        val t = time(r, body); between(); a -> t
      }.toMap
      val stall = StallProbe.totalSec - s0
      afterRun(r, got, stall)
      (got, stall)
    }
    ArmRuns(arms.map { case (a, _) => a -> passes.map(_._1(a)) }.toMap,
      passes.map(_._2))
  }

  /** `x` rounded to `places` decimals (JSON payloads). */
  def round(x: Double, places: Int): Double = {
    val p = math.pow(10, places)
    math.round(x * p) / p
  }

  /** A JSON number array of `xs` rounded to `places` decimals. Raw
    * Doubles: `Double.toString` is locale-independent, while a
    * locale-sensitive `f"%.2f"` writes `0,52` under comma-decimal JVM
    * locales and breaks the JSON. */
  def jarr(xs: Seq[Double], places: Int = 3): String =
    xs.map(round(_, places)).mkString("[", ",", "]")

  /** Prints the harness's one JSON line and writes it to
    * `SPARK_GRAFT_BENCH_OUT` (default `defaultOut`): stdout is full of
    * sbt/log4j noise, so the file is what a parser reads. A failed
    * write is reported on stderr under `tag`, never fatal. */
  def emit(tag: String, defaultOut: String, json: String): Unit = {
    println(json)
    val out = Env.str("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try Files.writeString(Paths.get(out), json + "\n")
    catch { case e: Throwable => System.err.println(s"[$tag] write $out failed: $e") }
  }
}
