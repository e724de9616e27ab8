package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Dev-only query profiler: runs the named SparkEntry / bench-only
  * queries and splits each one's wall time into DataFrame build,
  * analysis + optimization + physical planning (executedPlan force) and
  * the action, then prints the heaviest stages (executor run time) with
  * callsites and the idle gap before each — the feedback loop for
  * hunting shuffles, recomputed subtrees and the per-query build,
  * planning and scheduling costs the stage metrics cannot see.
  * `SPARK_GRAFT_PROFILE_REPS` > 1 repeats each query in the same JVM
  * (the variance lens: run-to-run swings at matching host health
  * implicate the plan/GC/spill, not the box).
  *
  * Usage: `sbt "runMain graft.Profile [names…]"` (default: every
  * SparkEntry key) with `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val repsN =
      sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt.max(1)
    val spark = Session.fromEnv("32")

    case class St(id: Int, name: String, subMs: Long, doneMs: Long,
                  runMs: Long, cpuMs: Long, shuffleReadMB: Double,
                  shuffleWriteMB: Double, tasks: Int, gcMs: Long,
                  spillMB: Double)
    val stages = ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.name, si.submissionTime.getOrElse(0L),
            si.completionTime.getOrElse(0L), m.executorRunTime,
            m.executorCpuTime / 1000000,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6, si.numTasks,
            m.jvmGCTime, m.memoryBytesSpilled / 1e6)
        }
      }
    })

    try Session.warm(spark, sfDir) catch { case _: Throwable => () }

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, DataQueries.benchOnly(name))
      (1 to repsN).foreach { rep =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = ms(t0)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val tPlan = ms(t1)
        val t2 = System.nanoTime()
        // noop write, not count() — the Bench action (count() prunes
        // projection-shaped work to a bare scan, so the profile would
        // hunt shuffles in a plan that isn't the one being graded)
        df.write.format("noop").mode("overwrite").save()
        println(f"\n=== $name (rep $rep/$repsN): build=$tBuild%.0f ms " +
          f"plan=$tPlan%.0f ms exec=${ms(t2)}%.0f ms " +
          f"total=${ms(t0)}%.0f ms ===")
        val all = stages.synchronized(stages.sortBy(_.subMs).toVector)
        // idle gap before each stage: submission minus the latest
        // completion of any earlier-submitted stage
        val gapOf = all.foldLeft((0L, Map.empty[Int, Long])) {
          case ((prevDone, gaps), s) =>
            val gap = if (prevDone == 0) 0L else (s.subMs - prevDone).max(0L)
            (prevDone.max(s.doneMs), gaps + (s.id -> gap))
        }._2
        all.sortBy(-_.runMs).take(12).foreach { s =>
          println(f"  stage ${s.id}%4d run=${s.runMs}%6d ms cpu=${s.cpuMs}%6d ms " +
            f"gc=${s.gcMs}%5d ms spill=${s.spillMB}%7.1f MB " +
            f"tasks=${s.tasks}%3d shR=${s.shuffleReadMB}%8.1f MB shW=${s.shuffleWriteMB}%8.1f MB " +
            f"gapBefore=${gapOf(s.id)}%5d ms  ${s.name.take(70)}")
        }
        println(f"  total executor run: ${all.map(_.runMs).sum}%d ms, " +
          f"gc ${all.map(_.gcMs).sum}%d ms, " +
          f"spill ${all.map(_.spillMB).sum}%.1f MB, " +
          f"idle gaps ${gapOf.values.sum}%d ms across ${all.size}%d stages")
      }
    }
    spark.stop()
  }
}
