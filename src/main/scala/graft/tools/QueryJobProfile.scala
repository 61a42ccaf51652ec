package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerBridge

/** Dev-only: wall + deterministic JOB COUNT for any registered query.
  * On a host whose wall clock has a documented heavy-tailed noise
  * distribution (BASELINE.md round-11 adjudication), the scheduler job
  * count is the reproducible signal for scheduling-floor optimizations
  * (checkpoint fuses, broadcast-collect elimination); wall is
  * corroboration only.
  *
  * Each query is measured in two parts: `build`, the jobs that run while
  * `SparkEntry.queries(n)` constructs the DataFrame (eager
  * `localCheckpoint` loop actions, broadcast collects), and `action`, the
  * final `noop` write. Iterative operators spend most of their wall in
  * the build part.
  *
  * Usage: SPARK_GRAFT_CPUS=N QueryJobProfile <query1,query2,...> [sfDir]
  * — prints one line per query per pass (warmup + 2 timed).
  */
object QueryJobProfile {
  private final class Counters {
    val jobs, stages, tasks, cpuMs = new AtomicLong()
    def reset(): Unit = Seq(jobs, stages, tasks, cpuMs).foreach(_.set(0))
    override def toString: String =
      f"jobs=${jobs.get}%4d stages=${stages.get}%4d tasks=${tasks.get}%5d" +
        f" cpu=${cpuMs.get}%6dms"
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.LocalSpark()
    // the listener feeds whichever counter set is current
    @volatile var cur = new Counters
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        cur.jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        cur.tasks.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        cur.stages.incrementAndGet()
        cur.cpuMs.addAndGet(e.stageInfo.taskMetrics.executorCpuTime / 1000000)
      }
    })
    val (build, action) = (new Counters, new Counters)
    // switch counters only once the listener bus has drained the
    // previous part's events
    def measure[T](c: Counters)(f: => T): (T, Double) = {
      ListenerBridge.drain(spark.sparkContext)
      c.reset(); cur = c
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      ListenerBridge.drain(spark.sparkContext)
      (r, dt)
    }
    for (pass <- Seq("warmup", "timed1", "timed2")) {
      names.foreach { n =>
        spark.sparkContext.setJobDescription(s"$n ($pass)")
        val (df, buildS) = measure(build)(graft.SparkEntry.queries(n)(spark, sfDir))
        val (_, actionS) = measure(action)(
          df.write.format("noop").mode("overwrite").save())
        println(f"[$pass] $n%-28s ${buildS + actionS}%7.2fs" +
          f" jobs=${build.jobs.get + action.jobs.get}%4d")
        println(f"  build  ${buildS}%7.2fs $build")
        println(f"  action ${actionS}%7.2fs $action")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
