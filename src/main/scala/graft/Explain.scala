package graft

import java.nio.file.{Files, Paths}

import graft.Harness.timed
import graft.util.Env

/** Plan/pushdown audit tool: for each query (args, or all), print the
  * isolated wall time and the formatted physical plan. Source for
  * PERF.md; also how plan regressions get caught between rounds.
  *
  * Usage: runMain graft.Explain [out.txt] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // first arg is the output path unless it names a query
    val (out, rest) =
      if (args.headOption.exists(_.startsWith("q_")))
        ("/tmp/explain.txt", args.toSeq)
      else (args.headOption.getOrElse("/tmp/explain.txt"), args.drop(1).toSeq)
    val names = if (rest.nonEmpty) rest
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = Harness.sfDir
    val spark = Harness.session(Env.int("SPARK_GRAFT_CPUS", 8, min = 1))
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // noop write so projection expressions actually execute
      // (count() would prune them). Timed twice: `cold` matches the
      // Bench condition (nothing cached, codegen fresh); `warm` is the
      // steady-state recompute cost. The cache is cleared *between*
      // the two runs — without that, a query that materializes
      // persisted frames while it is built (the iterative ones) hands
      // its warm run a fully-populated cache and the "warm" number
      // measures a cache read, not the query (the round-2 PERF.md
      // q_dedup_clusters 2.74 s vs BENCH 18.9 s discrepancy).
      def run(): Double =
        timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      val cold = run()
      // free cached and checkpoint blocks so `warm` re-derives them
      // like a fresh run would
      Harness.sweep(spark, gc = false)
      val warm = run()
      val n = fn(spark, sfDir).count()
      sb.append(
        f"==== $name%s rows=$n%d cold_sec=$cold%.3f warm_sec=$warm%.3f ====%n")
      sb.append(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n")
      Harness.sweep(spark, gc = false)
      println(f"[explain] $name%s cold=$cold%.3f warm=$warm%.3f rows=$n%d")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
