package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <medallion|serve|curation> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir>`, or `Main --selfcheck
  * --seed <n> --work <dir>` for the generator self-check. Prints
  * human-readable detail lines, then one `PERFBENCH_RESULT {json}` line.
  */
object Main {

  /** Input sizes, fixed for every seed. */
  val PropertyRows = 5000
  val ServeRows = 20000
  val CorpusBase = 600
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = opts("seed").toLong
    val work = opts("work")
    if (opts.contains("selfcheck")) {
      val want = Gen.property(seed, PropertyRows).expected.counts
      println(s"[selfcheck] expected gold rows for seed $seed at $PropertyRows raw rows: " +
        want.toSeq.sorted.map { case (t, n) => s"$t=$n" }.mkString(" "))
      val bad = Gen.selfCheck(seed, PropertyRows, CorpusBase)
      bad.foreach(b => println(s"[selfcheck] FAIL $b"))
      println(s"[selfcheck] ${if (bad.isEmpty) "ok" else "failed"}: same seed byte-identical, other seed different")
      sys.exit(if (bad.isEmpty) 0 else 1)
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(seed, opts("seconds").toDouble, opts("trace") == "1")
    run.info(s"session up on local[$cpus]")
    try {
      opts("workload") match {
        case "medallion" => new MedallionWorkload(spark, run, s"$work/medallion").run()
        case "serve" => new ServeWorkload(spark, run).run()
        case "curation" => new CurationWorkload(spark, run, s"$work/curation").run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        run.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    run.printResult()
    spark.stop()
    sys.exit(if (run.failed == 0 && run.metrics.nonEmpty) 0 else 1)
  }
}

/** One benchmark run's bookkeeping: attempts, failures and metrics. */
final class Run(val seed: Long, val seconds: Double, val trace: Boolean) {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def fail(what: String): Unit = { failed += 1; println(s"[check] FAIL $what") }

  /** Count one correctness check. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  /** Run one operation, counting it; a thrown error is a failed
    * operation, never a time. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case e: Exception => fail(s"$what: $e"); None }
  }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A detail line, stamped with seconds since the JVM started. */
  def info(s: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    println(f"[info +$up%.1fs] $s")
  }

  def printResult(): Unit = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, "attempted": ${attempted max 1}, "failed": $failed, "metrics": {$ms}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
