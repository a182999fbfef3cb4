package graft

import org.apache.spark.scheduler._

import graft.Harness.timed
import graft.util.Env

/** Diagnostic: run queries with a stage-level timing listener so
  * per-query wall-clock decomposes into jobs/stages/tasks — the
  * measure-first tool for separating fixed scheduling overhead from
  * data work at small SFs (guide §1/§7). Not part of the driver
  * contract; emits human-readable lines on stderr.
  *
  * Usage: runMain graft.StageProbe q_a [q_b ...]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session(Env.int("SPARK_GRAFT_CPUS", 32, min = 1))

    case class St(var name: String = "", var submitted: Long = 0,
                  var completed: Long = 0, var tasks: Int = 0,
                  var taskTime: Long = 0, var inRec: Long = 0,
                  var srRec: Long = 0, var swRec: Long = 0,
                  var cpu: Long = 0)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => St())
        s.name = e.stageInfo.name.takeWhile(_ != '\n')
        s.submitted = System.currentTimeMillis()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.computeIfAbsent(e.stageInfo.stageId, _ => St())
        s.completed = System.currentTimeMillis()
        s.tasks = e.stageInfo.numTasks
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.get(e.stageId)
        if (s != null && e.taskInfo != null) {
          s.taskTime += e.taskInfo.duration
          val m = e.taskMetrics
          if (m != null) {
            s.inRec += m.inputMetrics.recordsRead
            s.srRec += m.shuffleReadMetrics.recordsRead
            s.swRec += m.shuffleWriteMetrics.recordsWritten
            s.cpu += m.executorCpuTime / 1000000L
          }
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (System.currentTimeMillis(), 0L))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val v = jobs.get(e.jobId)
        if (v != null) jobs.put(e.jobId, (v._1, System.currentTimeMillis()))
      }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm once so codegen/JIT are out of the decomposition
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Harness.sweep(spark, gc = false)
      stages.clear(); jobs.clear()
      val wall =
        timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      org.apache.spark.sql.graft.ListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val ss = stages.asScala.toSeq.sortBy(_._1)
      val jobWall = js.map { case (_, (a, b)) => math.max(0L, b - a) }.sum
      val stageWall = ss.map(s => math.max(0L,
        s._2.completed - s._2.submitted)).sum
      System.err.println(
        f"[probe] $name warm wall=$wall%.2f s jobs=${js.size} " +
          f"jobwall=${jobWall / 1e3}%.2f s stages=${ss.size} " +
          f"stagewall=${stageWall / 1e3}%.2f s " +
          f"tasktime=${ss.map(_._2.taskTime).sum / 1e3}%.2f s")
      ss.foreach { case (id, s) =>
        System.err.println(f"[probe]   stage $id%3d ${s.tasks}%4d tasks " +
          f"wall=${math.max(0L, s.completed - s.submitted) / 1e3}%6.2f s " +
          f"tasktime=${s.taskTime / 1e3}%6.2f s cpu=${s.cpu / 1e3}%6.2f s " +
          f"in=${s.inRec}%9d sr=${s.srRec}%9d sw=${s.swRec}%9d " +
          f"${s.name.take(60)}")
      }
      Harness.sweep(spark, gc = false)
    }
    spark.stop()
  }
}
