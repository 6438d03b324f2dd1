package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. Every main and the
  * test base build through here, so core count, shuffle width, session
  * timezone and cleaner cadence cannot drift between them.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets both `local[cpus]` and
  * `spark.sql.shuffle.partitions`. */
object Session {
  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `conf` adds settings on top of the shared ones (a spec's
    * warehouse dir, say). */
  def local(appName: String, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // release GC'd checkpoint/broadcast blocks promptly between
      // queries instead of at the 30-min default
      .config("spark.cleaner.periodicGC.interval", "15s")
    val s = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
