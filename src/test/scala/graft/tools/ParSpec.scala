package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.tools.Ckpt._

/** `Par.run` hands Spark actions to pool threads. Spark stores the
  * thread's ACTIVE session in every physical plan node it builds
  * (`SparkPlan.session`), so the pool threads must carry the caller's
  * session even when the caller itself has none active. */
class ParSpec extends SparkSpec {

  /** Runs `f` on a fresh thread whose active session is cleared — the
    * state of any thread Spark did not start itself. */
  private def onBareThread[T](f: => T): T = {
    val out = new AtomicReference[Either[Throwable, T]]()
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      out.set(try Right(f) catch { case e: Throwable => Left(e) })
    })
    t.start()
    t.join()
    out.get.fold(e => throw e, identity)
  }

  "Par.run" should "make the caller's session active on its pool threads" in {
    val s = spark
    val seen = onBareThread {
      Par.run(2)(Seq.fill(2)(() => SparkSession.getActiveSession))
    }
    seen shouldBe Seq(Some(s), Some(s))
  }

  it should "plan and checkpoint a sorted frame on its pool threads for a caller with no active session" in {
    val df = spark.range(0, 2000, 1, 4).toDF("id")
    val counts = onBareThread {
      Par.run(2)(Seq(
        () => df.orderBy(col("id").desc).checkpointLinted().count(),
        () => df.filter(col("id") % 2 === 0).orderBy(col("id"))
          .checkpointLinted().count()))
    }
    counts shouldBe Seq(2000L, 1000L)
  }

  it should "keep the caller's local properties on its pool threads" in {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.par.probe", "caller")
    try Par.run(2)(Seq.fill(2)(() => sc.getLocalProperty("graft.par.probe"))) shouldBe
      Seq("caller", "caller")
    finally sc.setLocalProperty("graft.par.probe", null)
  }

  it should "rethrow the first failure's own cause and cancel the sibling jobs" in {
    Par.run(3)(Seq(() => 1, () => 2, () => 3)) shouldBe Seq(1, 2, 3)
    val sc = spark.sparkContext
    val e = intercept[IllegalArgumentException] {
      Par.run(2)(Seq(
        // a job that only ends when the scheduler kills its tasks
        () => spark.range(0, 2, 1, 2).rdd.map { x =>
          val deadline = System.nanoTime() + 20L * 1000000000L
          while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline)
            Thread.sleep(20)
          x
        }.count(),
        () => {
          while (sc.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(20)
          throw new IllegalArgumentException("boom")
        }))
    }
    e.getMessage shouldBe "boom"
    // the cancelled sibling has unwound by the time Par.run returns
    sc.statusTracker.getActiveJobIds() shouldBe empty
  }
}
