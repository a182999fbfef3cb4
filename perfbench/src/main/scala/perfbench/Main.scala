package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** What an op produced: a row count, a signature of its output, and
  * the reason it is wrong, if it is. */
final case class Outcome(rows: Long, checksum: String, error: Option[String])

/** Phase marks of one op execution. `mark()` ends the call into graft's
  * public function (the operator's DataFrame build, or the etl call);
  * `end()` ends the action that consumes its result. */
final class Clock(val id: String) {
  var t1 = 0L
  var t2 = 0L
  def mark(): Unit = t1 = System.nanoTime()
  def end(): Unit = t2 = System.nanoTime()
}

/** One timed operation. `prepare` runs before the timer starts. */
final case class Op(name: String, kind: String,
                    prepare: () => Unit = () => (),
                    run: Clock => Outcome)

/** The output check of a query op: row count and an order-independent
  * checksum, observed inside the op's own action. */
object Checks {
  /** Row count plus the sums of the low and of the high 32 bits of each
    * row's `xxhash64`. Each term is below 2^32, so neither sum can
    * overflow (ANSI mode would throw) below 2^31 rows. */
  def exprs: Seq[Column] = {
    val h = xxhash64(col("*"))
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def checksum(m: Map[String, Any]): (Long, String) = {
    val lo = m("lo").asInstanceOf[Long]
    val hi = m("hi").asInstanceOf[Long]
    (m("rows").asInstanceOf[Long], f"$hi%x-$lo%x")
  }

  /** Names `df`'s plan with op `id` for the traced run's plan inspection. */
  def observed(df: DataFrame, id: String): DataFrame =
    df.observe(Probe.metricName(id), count(lit(1)))

  /** `op -> (rows, checksum, mode)` from the committed expectations. */
  def expected(path: String): Map[String, (Long, String, String)] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> (f(1).toLong, f(2), f(3))
      }.toMap
}

object Workloads {
  /** The LLM-corpus path: per-row kernels, candidate-pair shuffles,
    * operator-scoped caches and iterative driver loops (the OPQ/PQ
    * trainers' job chain, hash-to-min rounds, the BPE merges). */
  val corpusDedup: Seq[String] = Seq(
    "q_dedup_minhash_lsh", "q_dedup_clusters_jaccard", "q_ann_opq_probe",
    "q_decontaminate", "q_bpe_pair_counts")

  val queryKeys: Map[String, Seq[String]] = Map("corpus_dedup" -> corpusDedup)

  val names: Seq[String] = Seq("corpus_dedup", "lakehouse_increment")
}

/** Stall probe: a daemon thread sleeps 100 ms in a loop and adds up
  * every oversleep beyond 150 ms — time the guest did not run, which
  * no guest-side CPU metric shows on a virtualised host. */
object StallProbe {
  @volatile private var stallNanos = 0L
  def start(): Unit = {
    val t = new Thread(() => {
      while (true) {
        val t0 = System.nanoTime()
        try Thread.sleep(100) catch { case _: InterruptedException => }
        val over = System.nanoTime() - t0 - 100000000L
        if (over > 150000000L) stallNanos += over
      }
    }, "perfbench-stall-probe")
    t.setDaemon(true)
    t.start()
  }
  def seconds: Double = stallNanos / 1e9
}

/** Runs one workload and writes the raw record (every timed sample,
  * its phase marks and, on traced passes, its counters) as JSON.
  * `perfbench/run.py` builds this, runs it and computes the metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --expected FILE --work DIR --out FILE
  *        Main --dump DIR --data DIR --work DIR   (expectation dump) */
object Main {
  private val MinPasses = 2
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val cores = Runtime.getRuntime.availableProcessors
    val work = opt("--work")
    val spark = session(cores, work)
    try opts.get("--dump") match {
      case Some(dir) => dump(spark, opt("--data"), dir)
      case None =>
        val rec = run(spark, opt("--workload"), opt("--seed").toLong,
          opt("--seconds").toDouble, opt("--trace") == "1", opt("--data"),
          opt("--expected"), work, cores)
        Files.writeString(Paths.get(opt("--out")), json.writeValueAsString(rec))
    } finally spark.stop()
  }

  /** The session `graft.Bench` uses, at local[cores], with every file
    * Spark writes kept under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Clears what the last op left behind, outside every timer: graft's
    * operator-scoped caches, the session cache, checkpoint blocks, and
    * the op's garbage (as `graft.Bench` does between queries). */
  private def sweep(spark: SparkSession): Unit = {
    graft.util.CacheScope.releaseAll(blocking = true)
    spark.sharedState.cacheManager.clearCache()
    org.apache.spark.sql.graft.CheckpointBridge.unpersistAll(spark, blocking = true)
    System.gc()
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private def queryOp(spark: SparkSession, data: String, key: String,
                      expect: Map[String, (Long, String, String)]): Op =
    Op(key, "query", run = clk => {
      val df = SparkEntry.queries(key)(spark, data)
      clk.mark()
      val obs = new Observation(Probe.metricName(clk.id))
      df.observe(obs, Checks.exprs.head, Checks.exprs.tail: _*)
        .write.format("noop").mode("overwrite").save()
      clk.end()
      val (rows, sum) = Checks.checksum(obs.get)
      val err = expect.get(key) match {
        case None => Some("no committed expectation")
        case Some((r, _, _)) if r != rows => Some(s"expected $r rows")
        case Some((_, c, "hash")) if c != sum => Some(s"expected checksum $c")
        case _ => None
      }
      Outcome(rows, sum, err)
    })

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
          trace: Boolean, data: String, expectedPath: String, work: String,
          cores: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    StallProbe.start()
    val gc0 = gcSeconds
    val phases = mutable.LinkedHashMap[String, Any]()
    def since(key: String, t: Long): Long = {
      val now = System.nanoTime()
      phases(key) = (now - t) / 1e9
      now
    }
    var tp = System.nanoTime()
    phases("session_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val lake =
      if (workload == "lakehouse_increment")
        Some(new Lakehouse(spark, data, work, seed, cores))
      else None
    lake.foreach(_.setup())
    tp = since("base_table_s", tp)
    val passOps: Random => Seq[Op] = lake match {
      case Some(l) => l.passOps
      case None =>
        val keys = Workloads.queryKeys.getOrElse(workload,
          sys.error(s"unknown workload $workload; one of ${Workloads.names}"))
        val expect = Checks.expected(expectedPath)
        val ops = keys.map(queryOp(spark, data, _, expect))
        rng => rng.shuffle(ops)
    }

    val probe = new Probe
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) {
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      // warm-up passes keep one order for every seed, so the cold costs
      // land on the same ops in every run
      val ops = passOps(new Random(if (pass <= 0) 0L else seed * 7919L + pass))
      var wall = 0.0
      ops.zipWithIndex.foreach { case (op, i) =>
        op.prepare()
        val id = s"${pass}_$i"
        val clk = new Clock(id)
        if (traced) sc.setLocalProperty(Probe.OpKey, id)
        val cg0 = org.apache.spark.sql.graft.CodegenBridge.compileCount
        val opGc0 = gcSeconds
        val t0 = System.nanoTime()
        val outcome =
          try op.run(clk)
          catch { case e: Throwable =>
            Outcome(0, "", Some(s"${e.getClass.getName}: ${e.getMessage}"))
          }
        val t2 = if (clk.t2 > 0) clk.t2 else System.nanoTime()
        val t1 = if (clk.t1 > 0) clk.t1 else t2
        sc.setLocalProperty(Probe.OpKey, null)
        val s = mutable.LinkedHashMap[String, Any](
          "pass" -> pass, "op" -> op.name, "kind" -> op.kind, "id" -> id,
          "traced" -> traced, "wall_s" -> (t2 - t0) / 1e9,
          "t0_ms" -> epochMs(t0), "t1_ms" -> epochMs(t1), "t2_ms" -> epochMs(t2),
          "ok" -> outcome.error.isEmpty, "error" -> outcome.error,
          "rows" -> outcome.rows, "checksum" -> outcome.checksum)
        wall += (t2 - t0) / 1e9
        if (traced) {
          org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(sc)
          val c = probe.take(id)
          val storage = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
          s ++= Seq(
            "jobs" -> c.jobs.toSeq.map { case (j, (a, b)) => Seq(j, a, b) },
            "stages" -> c.stages, "tasks" -> c.tasks,
            "task_s" -> c.taskMs / 1e3, "cpu_s" -> c.cpuNs / 1e9,
            "spill_mb" -> c.spillBytes / 1048576.0,
            "peak_mem_mb" -> c.peakMem / 1048576.0,
            "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
            "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
            "fetch_wait_s" -> c.fetchWaitMs / 1e3,
            "input_mb" -> c.inputBytes / 1048576.0, "input_rows" -> c.inputRows,
            "output_mb" -> c.outputBytes / 1048576.0,
            "exchanges" -> c.exchanges, "exchanges_reused" -> c.reused,
            "codegen" -> (org.apache.spark.sql.graft.CodegenBridge.compileCount - cg0),
            "gc_s" -> (gcSeconds - opGc0),
            "cache_live" -> graft.util.CacheScope.liveCount,
            "storage_mb" -> storage / 1048576.0)
        }
        samples += s.toMap
        sweep(spark)
      }
      if (traced) {
        sc.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      }
      val p = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "traced" -> traced, "ops" -> ops.size, "wall_s" -> wall)
      lake.foreach { l =>
        val (bytes, files, latest) = l.storeState()
        p ++= Seq("bytes_written" -> l.bytesWritten, "change_bytes" -> l.changeBytes,
          "store_bytes" -> bytes, "files_live" -> files, "latest_bytes" -> latest)
        l.bytesWritten = 0L
        l.changeBytes = 0L
      }
      passes += p.toMap
    }

    // untimed warm-up passes: codegen, JIT tier-up and first-use costs
    // land in set-up. Corpus passes settle after the cold pass and two
    // to three more (the OPQ trainer and the hash-to-min rounds tier up
    // slowest); a lakehouse pass repeats each day's ops four times and
    // settles after the cold pass and one more.
    val warmups = if (lake.isDefined) 2 else 4
    (1 - warmups to 0).foreach(runPass(_, traced = false))
    since("warmup_s", tp)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val calibBefore = calibrate()
    val stall0 = StallProbe.seconds
    val measureStart = System.nanoTime()
    var pass = 1
    // traced runs alternate untraced and traced passes, so the tracing
    // overhead is measured inside one run
    val minPasses = if (trace) 2 * MinPasses else MinPasses
    while (pass <= minPasses || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      runPass(pass, traced = trace && pass % 2 == 0)
      pass += 1
    }
    Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "trace" -> trace, "setup_s" -> setupS, "setup_phases" -> phases,
      "measure_s" -> (System.nanoTime() - measureStart) / 1e9,
      "stall_s" -> (StallProbe.seconds - stall0),
      "calib_s" -> Seq(calibBefore, calibrate()),
      "gc_s" -> (gcSeconds - gc0), "peak_rss_mb" -> peakRssMb,
      "samples" -> samples.toSeq, "passes" -> passes.toSeq)
  }

  /** Host-speed witness: seconds one thread takes for a fixed
    * integer loop. On a shared host it rises when neighbours take the
    * cores, which no guest CPU metric shows. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  private val epochBase =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMs(nanos: Long): Double = (epochBase + nanos) / 1e6

  /** Writes every query op's output as parquet (with its checksum,
    * observed in the same write), the oracle SQL of those that have
    * one, and a manifest, in the layout `tools/check.py` reads. Each op
    * then runs twice more with the benchmark's noop write, so
    * `checksums.tsv` shows whether its checksum repeats within a JVM. */
  def dump(spark: SparkSession, data: String, dir: String): Unit = {
    val keys = Workloads.corpusDedup
    val lines = keys.map { key =>
      val sums = (0 until 3).map { i =>
        val obs = new Observation(s"dump_${key}_$i")
        val df = SparkEntry.queries(key)(spark, data)
          .observe(obs, Checks.exprs.head, Checks.exprs.tail: _*)
        if (i == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$key")
        else df.write.format("noop").mode("overwrite").save()
        val (rows, sum) = Checks.checksum(obs.get)
        sweep(spark)
        s"$rows\t$sum"
      }
      (key +: sums).mkString("\t")
    }
    Files.write(Paths.get(s"$dir/checksums.tsv"), lines.asJava)
    val oracles = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), json.writeValueAsString(oracles))
    Files.writeString(Paths.get(s"$dir/queries.json"), json.writeValueAsString(keys))
  }
}
