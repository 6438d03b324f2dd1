package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query job/stage/task census for the bench set (run:
  * `sbt "runMain graft.tools.Profile [sfDir] [query…]"`). At gate scale
  * the tables are tiny, so bench wall is dominated by FIXED cost —
  * scheduled jobs, stages, tasks, codegen — not data. This main runs
  * each named query exactly like Bench (count() action, cache-clear
  * between queries) with a listener recording one row per Spark job:
  * wall, completed stages, tasks, executor time and the callsite
  * description. A query's totals are the sums of its job rows, which is
  * the measurement that tells fixed overhead from real compute. Naming
  * exactly one query also prints its per-job timeline. */
object Profile {
  private final case class Job(id: Int, desc: String, t0: Long,
      var wallMs: Long = 0, var stages: Int = 0, var tasks: Int = 0,
      var taskMs: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val which = args.drop(1).toSet
    val spark = graft.Session.local("graft.tools.Profile")
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val desc = p.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(p.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, desc, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(j => j.wallMs = e.time - j.t0)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1)))
          .foreach { j =>
            j.stages += 1
            j.tasks += e.stageInfo.numTasks
            j.taskMs += e.stageInfo.taskMetrics.executorRunTime
          }
    })
    // same warmup as Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    println(f"${"query"}%-36s ${"sec"}%7s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"taskSec"}%8s")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => which.isEmpty || which.contains(n) }
      .foreach { case (name, fn) =>
        // listener events drain asynchronously; give the bus a moment
        // so the previous query's tail never lands in this one's rows
        Thread.sleep(200)
        jobs.clear()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name FAILED: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        val rows = jobs.values().asScala.toSeq.sortBy(_.id)
        println(f"$name%-36s ${if (ok) f"$dt%7.2f" else "  FAIL"}%7s ${rows.size}%6d " +
          f"${rows.map(_.stages).sum}%7d ${rows.map(_.tasks).sum}%7d " +
          f"${rows.map(_.taskMs).sum / 1000.0}%8.1f")
        if (which.size == 1) {
          println(f"${"job"}%4s ${"wallMs"}%8s ${"taskMs"}%8s ${"tasks"}%6s  desc")
          rows.foreach { j =>
            println(f"${j.id}%4d ${j.wallMs}%8d ${j.taskMs}%8d ${j.tasks}%6d  ${j.desc.take(110)}")
          }
        }
      }
    spark.stop()
  }
}
