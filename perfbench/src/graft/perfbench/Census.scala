package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-call census for the traced run: a SparkListener registered by the
  * benchmark plus snapshots of the program's own counters around every
  * public call. Spark work is attributed to the call through the job
  * group the census sets while the call runs; jobs submitted from
  * threads that did not inherit the group fall back to the call whose
  * time window contains their submission.
  */
final class Census(spark: SparkSession) extends SparkListener {

  private final case class Job(time: Long, group: Option[String], stages: Seq[Int])
  private final case class Stage(tasks: Long, runNs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, result: Long)
  private final case class Window(label: String, start: Long, end: Long,
      counters: Map[String, Double])

  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val windows = mutable.ArrayBuffer[Window]()
  @volatile private var fenceSeen = 0
  private val prefix = "perfbench/"

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(e.time, g, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobs.get(e.jobId).exists(_.group.contains(prefix + "fence"))) fenceSeen += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    Option(i.taskMetrics).foreach { m =>
      stages(i.stageId) = Stage(i.numTasks, m.executorRunTime * 1000000L,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.resultSize)
    }
  }

  /** Run one public call under its own job group, recording its wall
    * time window and the deltas of `counters` across it. */
  def call[T](label: String, counters: () => Map[String, Double])(f: => T): T = {
    val sc = spark.sparkContext
    val before = counters()
    sc.setJobGroup(prefix + label, label)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      sc.clearJobGroup()
      val after = counters()
      val deltas = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      synchronized { windows += Window(label, start, end, deltas + ("wall_s" -> secs)) }
    }
  }

  /** Wait until every event posted before now reached this listener: a
    * marker job's end is delivered after every earlier event on the
    * listener bus. */
  private def fence(): Unit = {
    val want = fenceSeen + 1
    val sc = spark.sparkContext
    sc.setJobGroup(prefix + "fence", "fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (fenceSeen < want && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Per-call metrics (counter deltas, wall time and the Spark census)
    * for every call since the last drain, in call order; clears state. */
  def drain(): Seq[(String, Map[String, Double])] = {
    fence()
    synchronized {
      def owner(j: Job): Option[String] =
        j.group.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
          .filter(_ != "fence")
          .orElse(if (j.group.contains(prefix + "fence")) None
            else windows.find(w => j.time >= w.start && j.time <= w.end).map(_.label))
      val stageOwner = mutable.Map[Int, String]()
      val jobsOf = mutable.Map[String, Int]().withDefaultValue(0)
      jobs.toSeq.sortBy(_._1).foreach { case (_, j) =>
        owner(j).foreach { o =>
          jobsOf(o) += 1
          j.stages.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = o)
        }
      }
      val out = windows.toSeq.map { w =>
        val st = stages.toSeq.collect { case (id, s) if stageOwner.get(id).contains(w.label) => s }
        val mb = 1024.0 * 1024.0
        w.label -> (w.counters ++ Map(
          "spark.jobs" -> jobsOf(w.label).toDouble,
          "spark.stages" -> st.size.toDouble,
          "spark.tasks" -> st.map(_.tasks).sum.toDouble,
          "spark.executor_s" -> st.map(_.runNs).sum / 1e9,
          "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
          "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
          "spark.spill_mb" -> st.map(_.spill).sum / mb,
          "spark.result_mb" -> st.map(_.result).sum / mb,
          "spark.serial_stage_s" -> st.filter(_.tasks == 1).map(_.runNs).sum / 1e9))
      }
      jobs.clear(); stages.clear(); windows.clear()
      out
    }
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Census {
  /** Sum per-call metrics into one map (the pass totals). */
  def total(calls: Seq[(String, Map[String, Double])]): Map[String, Double] =
    calls.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
}
