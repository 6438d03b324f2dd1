package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.io.pg.{PgLiteClient, PgLiteEngine, PgLiteServer}
import graft.io.s3.{S3LiteFileSystem, S3LiteServer}
import graft.ops.{Dedup, Sampling, Sharding, Text}
import graft.pipeline.{Medallion, PgGold}
import Stats.{median, time}

/** The metric names every run reports: `--trace 0` prints [[EndToEnd]],
  * `--trace 1` prints [[PerLayer]] (zero where a layer has no work on
  * the workload). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s")

  val ServeOps: Seq[String] = Seq("lookup", "fact_fetch", "scan", "agg")

  val PerLayer: Seq[(String, String)] = Seq(
    "medallion.bronze_s" -> "s", "medallion.silver_read_s" -> "s",
    "medallion.load_s" -> "s", "medallion.readback_s" -> "s",
    "io.s3.requests" -> "count", "io.s3.read_mb" -> "MB", "io.s3.write_mb" -> "MB",
    "io.pg.statements" -> "count") ++
    Seq("serve.lookup_p50_ms" -> "ms", "serve.lookup_tail_ms" -> "ms",
      "serve.fact_fetch_p50_ms" -> "ms", "serve.fact_fetch_tail_ms" -> "ms",
      "serve.scan_p50_ms" -> "ms", "serve.agg_p50_ms" -> "ms",
      "serve.ops_per_s" -> "1/s") ++
    ServeOps.flatMap(o => Seq(s"serve.$o.statements_per_op" -> "count/op",
      s"serve.$o.rows_per_op" -> "rows/op")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_s" -> "s", "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.result_mb" -> "MB", "spark.serial_stage_s" -> "s",
      "ckpt.eager_cuts" -> "count", "memo.builds" -> "count") ++
    Seq("filter", "dedup", "decontam", "mix", "shard").map(s => s"curation.${s}_s" -> "s") ++
    Seq("ops.dedup.pair_yield" -> "ratio", "trace_overhead_pct" -> "%")

  /** Counts that must repeat exactly between two traced passes. */
  val Deterministic: Seq[String] = Seq("io.s3.requests", "io.pg.statements", "spark.jobs")

  /** The program's own counters, read before and after each call. */
  def counters(pg: () => Option[PgLiteEngine], s3: () => Option[S3LiteServer])(): Map[String, Double] = {
    val fs = FileSystem.getAllStatistics.toArray.collect {
      case st: FileSystem.Statistics if st.getScheme == "s3lite" => st
    }
    val mb = 1024.0 * 1024.0
    Map(
      "io.s3.requests" -> s3().map(_.requestCount.get.toDouble).getOrElse(0.0),
      "io.s3.read_mb" -> fs.map(_.getBytesRead).sum / mb,
      "io.s3.write_mb" -> fs.map(_.getBytesWritten).sum / mb,
      "io.pg.statements" -> pg().map(_.statementCount.get.toDouble).getOrElse(0.0),
      "ckpt.eager_cuts" -> graft.tools.Ckpt.lintedCount.get.toDouble,
      "memo.builds" -> graft.io.StageMemo.buildCount.get.toDouble)
  }
}

/** Shared shape of a run: set up [[Main.SetupReps]] times, warm up,
  * time passes for the run's seconds, then (traced runs) two census
  * passes. */
abstract class Workload(spark: SparkSession, rec: Run) {
  /** One full set-up; the last one's state is what the passes use. */
  def setup(): Unit
  /** One pass; checks outputs through `rec`, returns the seconds the
    * pass itself took (excluding its correctness checks). */
  def pass(census: Option[Census]): Double
  /** Drop anything the warm-up pass recorded. */
  def afterWarmUp(): Unit = ()
  /** Per-layer extras measured after the traced passes. */
  def traceExtras(untraced: Seq[Double]): Map[String, Double] = Map.empty
  /** How traced per-call metrics map onto per-layer names. */
  def perCall(label: String, m: Map[String, Double]): Map[String, Double] = Map.empty
  /** Timed passes per run at least: the median of two is their mean,
    * about as steady as the median of three for a third less time. */
  val minPasses = 2
  /** Untraced passes in a traced run: the base of the overhead. */
  val tracedRunPasses = 1

  /** Between passes, outside any timing: drop cached frames and
    * collect garbage, so one pass's leftovers are not charged to the
    * next. */
  def isolate(): Unit = { spark.catalog.clearCache(); System.gc() }

  def run(): Unit = {
    val setups = (1 to Main.SetupReps).map(_ => time(setup())._2)
    rec.info(f"set-ups: ${setups.map(s => f"$s%.3f").mkString(" ")} s")
    rec.attempt("warm-up pass")(pass(None)).foreach(s => rec.info(f"warm-up: $s%.3f s"))
    afterWarmUp()
    val times = collection.mutable.ArrayBuffer[Double]()
    var failures = 0
    val t0 = System.nanoTime()
    // a traced run needs only the untraced median for the overhead
    val (want, secs) = if (rec.trace) (tracedRunPasses, 0.0) else (minPasses, rec.seconds)
    while (times.size < want || (System.nanoTime() - t0) / 1e9 < secs)
      rec.attempt(s"pass ${times.size + 1}")({ isolate(); pass(None) }) match {
        case Some(s) => times += s
        case None =>
          failures += 1
          if (failures > 2) throw new IllegalStateException(s"$failures passes failed")
      }
    rec.info(f"passes: ${times.map(s => f"$s%.3f").mkString(" ")} s")
    if (!rec.trace) {
      rec.put("setup_s", median(setups), "s")
      rec.put("pass_s", median(times.toSeq), "s")
    } else {
      val census = new Census(spark)
      val traced = (1 to 2).map { _ =>
        isolate()
        val wall = pass(Some(census))
        val calls = census.drain()
        calls.foreach { case (l, m) =>
          rec.info(s"call $l: " + m.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
        }
        val total = Census.total(calls)
        wall -> (total ++ calls.flatMap { case (l, m) => perCall(l, m) })
      }
      census.stop()
      Metrics.Deterministic.foreach { k =>
        val (a, b) = (traced(0)._2.getOrElse(k, 0.0), traced(1)._2.getOrElse(k, 0.0))
        rec.info(s"repeat $k: $a $b ${if (a == b) "same" else "MOVED"}")
      }
      val chosen = traced(1)._2
      val overhead = 100.0 * (traced(1)._1 - median(times.toSeq)) / median(times.toSeq)
      val all = chosen ++ traceExtras(times.toSeq) + ("trace_overhead_pct" -> overhead)
      Metrics.PerLayer.foreach { case (k, u) => rec.put(k, all.getOrElse(k, 0.0), u) }
    }
  }
}

/** `medallion`: the paper's own pipeline, raw objects on S3Lite to a
  * verified gold star over PgLite. */
final class MedallionWorkload(spark: SparkSession, rec: Run, dir: String)
    extends Workload(spark, rec) {
  private var prop: Gen.Property = _
  private var s3: Option[S3LiteServer] = None
  private var pg: Option[PgLiteEngine] = None
  private val xlsx = s"$dir/field_config.xlsx"
  private val rawPath = "s3lite://raw-data/landing/fake_data.csv"
  private val counters: () => Map[String, Double] = Metrics.counters(() => pg, () => s3)

  /** Generate the inputs and land them: the raw CSV in a fresh S3Lite
    * bucket, the Field Config workbook on local disk. */
  def setup(): Unit = {
    prop = Gen.property(rec.seed, Main.PropertyRows)
    s3.foreach(_.stop())
    val srv = S3LiteServer.start()
    s3 = Some(srv)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3lite.impl", classOf[S3LiteFileSystem].getName)
    hc.set("fs.s3lite.endpoint", srv.endpoint)
    hc.set("fs.s3lite.impl.disable.cache", "true")
    val p = new Path(rawPath)
    val out = p.getFileSystem(hc).create(p, true)
    try out.write(prop.csv) finally out.close()
    new java.io.File(dir).mkdirs()
    graft.io.Xlsx.writeRows(Gen.fieldConfigRows, xlsx)
  }

  /** One raw → verified-gold pass into a fresh PgLiteServer. */
  def pass(census: Option[Census]): Double = {
    def call[T](label: String)(f: => T): T = census.fold(f)(_.call(label, counters)(f))
    val (server, engine) = PgLiteServer.start()
    pg = Some(engine)
    try {
      val (counts, secs) = time {
        val Seq(bData, bCfg) = call("bronze") {
          Medallion.bronze(spark, Seq(rawPath, xlsx), s"$dir/bronze")
        }
        val (silver, cfg) = call("silver_read") {
          (Medallion.silver(Sources.read(spark, bData)),
            Medallion.silverConfig(Sources.read(spark, bCfg)))
        }
        val c = new PgLiteClient("127.0.0.1", server.port)
        c.connect()
        try {
          val back = call("load") {
            PgGold.writeGold(c, Medallion.gold(silver, cfg, Medallion.referenceSpec),
              Medallion.referenceSpec, "127.0.0.1", server.port)
          }
          call("readback") {
            back.values.foreach(_.count())
            back.keys.toSeq.sorted.map { t =>
              t -> c.query(s"SELECT count(*) FROM gold.$t").rows.head.head.get.toLong
            }.toMap
          }
        } finally c.close()
      }
      val want = prop.expected.counts
      rec.check(counts == want, s"gold counts $counts != expected $want")
      secs
    } finally server.stop()
  }

  override def perCall(label: String, m: Map[String, Double]): Map[String, Double] =
    Map(s"medallion.${label}_s" -> m("wall_s"))

  override def run(): Unit = try super.run() finally s3.foreach(_.stop())
}

/** `serve`: point lookups, fact fetches, a pushed-filter scan and a
  * pushed aggregate against a loaded gold star, one client in a closed
  * loop. Set-up loads the star the medallion pipeline builds for these
  * inputs (the `medallion` workload verifies that equality) straight
  * through the wire: the pipeline's DDL, then COPY in id order. A pass
  * is one deck of 20 operations in seeded random order. */
final class ServeWorkload(spark: SparkSession, rec: Run)
    extends Workload(spark, rec) {
  private var prop: Gen.Property = _
  private var server: Option[(PgLiteServer, PgLiteEngine)] = None
  private var client: PgLiteClient = _
  private val rnd = new java.util.Random(rec.seed * 31L + 7L)
  private val deck: Seq[String] =
    Seq.fill(9)("lookup") ++ Seq.fill(9)("fact_fetch") ++ Seq("scan", "agg")
  /** Per-op latencies (ms) of the untraced passes. */
  private val lat = Metrics.ServeOps.map(_ -> collection.mutable.ArrayBuffer[Double]()).toMap
  private val perOp = collection.mutable.Map[String, (Double, Double, Int)]()
  private val counters: () => Map[String, Double] =
    Metrics.counters(() => server.map(_._2), () => None)
  override val minPasses = 20
  /** 24 decks hold 216 lookups: at least ten lie beyond p95. */
  override val tracedRunPasses = 24
  /** Nothing is cached between decks, and a full collection per deck
    * would cost more than the deck. */
  override def isolate(): Unit = ()
  /** The tail reported is p95: with at least 200 samples of an op, at
    * least ten lie beyond it. */
  val TailQ = 0.95
  /** Scan bounds follow a golden-ratio sequence from a seeded start:
    * uniform over the ids, but evenly spread within one run, so the
    * scan's size does not make the deck median jump between runs. */
  private var scanPos = rnd.nextDouble()

  private def n = Main.ServeRows.toLong
  private val colIdx = Gen.columns.map(_._1).zipWithIndex.toMap
  private def cols(target: String) = Gen.columns.filter(_._2.equalsIgnoreCase(target))
  private val propCols = cols("property")
  private val leadCols = cols("leads")

  def setup(): Unit = {
    if (client != null) client.close()
    server.foreach(_._1.stop())
    prop = Gen.property(rec.seed, Main.ServeRows)
    val started = PgLiteServer.start()
    server = Some(started)
    client = new PgLiteClient("127.0.0.1", started._1.port)
    client.connect()
    loadStar()
  }

  private def loadStar(): Unit = {
    import org.apache.spark.sql.types._
    def field(h: String, k: Gen.Kind) = StructField(Gen.silverName(h), k match {
      case Gen.Str => StringType
      case Gen.IntK => IntegerType
      case Gen.Num => DoubleType
    })
    def create(table: String, fields: Seq[StructField], serial: Boolean,
               unique: Seq[String] = Nil, fks: Map[String, String] = Map.empty): Unit = {
      val ddl = graft.io.Sinks.createTableDdl(StructType(fields), "gold", table,
        serialPk = if (serial) Some("id") else None, unique = unique, foreignKeys = fks)
      rec.check(client.query(ddl).tags == Seq("CREATE TABLE"), s"create gold.$table")
    }
    def copy(table: String, fields: Seq[StructField], rows: Seq[Seq[Option[String]]]): Unit = {
      val tag = client.copyIn(
        s"COPY gold.$table (${fields.map(_.name).mkString(", ")}) FROM STDIN", rows)
      rec.check(tag == s"COPY ${rows.size}", s"copy gold.$table: $tag")
    }
    val cl = prop.cleaned
    def v(r: Int, h: String) = cl(r)(colIdx(h))
    client.query(graft.io.Sinks.createSchemaDdl("gold"))
    for (d <- Seq("hoa", "taxes")) {
      val cs = cols(d)
      val fields = StructField(s"${d}_key", StringType) +: cs.map { case (h, _, k) => field(h, k) }
      val rows = cl.indices.map(r => cs.map(c => v(r, c._1))).distinct
        .map(vals => Some(Gen.sha16(vals.map(_.get).mkString)) +: vals).sortBy(_.head.get)
      create(d, fields, serial = true, unique = Seq(s"${d}_key"))
      copy(d, fields, rows)
    }
    val keyFields = Seq("natural_key", "property_key", "hoa_key", "taxes_key")
      .map(StructField(_, StringType))
    val pFields = keyFields ++ propCols.map { case (h, _, k) => field(h, k) }
    create("property", pFields, serial = true,
      fks = Map("hoa_key" -> "gold.hoa(hoa_key)", "taxes_key" -> "gold.taxes(taxes_key)"))
    val ordered = prop.expected.groups.flatten
    copy("property", pFields, ordered.map { r =>
      val (t, z) = (v(r, "Property_Title").get, v(r, "Zip").get)
      Seq(Some(s"$t|$z"), Some(Gen.sha16(t + z)),
        Some(Gen.sha16(v(r, "HOA").get + v(r, "HOA_Flag").get)),
        Some(Gen.sha16(v(r, "Taxes").get))) ++ propCols.map(c => v(r, c._1))
    })
    for (f <- Seq("leads", "rehab", "valuation")) {
      val cs = cols(f)
      val fields = StructField("property_id", IntegerType) +: cs.map { case (h, _, k) => field(h, k) }
      create(f, fields, serial = false, fks = Map("property_id" -> "gold.property(id)"))
      val rows = prop.expected.groups.zip(prop.expected.groupStart).flatMap { case (g, start) =>
        g.indices.flatMap(i => g.map(r => Some((start + i).toString) +: cs.map(c => v(r, c._1))))
      }
      copy(f, fields, rows)
    }
  }

  /** Canonical text of a cell for comparison: numerics by value. */
  private def norm(kind: Gen.Kind, v: Option[String]): String = (kind, v) match {
    case (_, None) => "<null>"
    case (Gen.Num, Some(s)) => java.lang.Double.parseDouble(s).toString
    case (_, Some(s)) => s
  }

  private def group(k: Long): IndexedSeq[Int] = {
    val starts = prop.expected.groupStart
    var lo = 0; var hi = starts.size - 1
    while (lo < hi) { val mid = (lo + hi + 1) / 2; if (starts(mid) <= k) lo = mid else hi = mid - 1 }
    prop.expected.groups(lo)
  }

  private def dsv2(table: String): DataFrame =
    spark.read.format("pglite").option("host", "127.0.0.1")
      .option("port", server.get._1.port.toString).option("table", table).load()

  /** One operation against key `k`; returns the rows it brought back. */
  private def op(name: String, k: Long): Int = {
    val cl = prop.cleaned
    name match {
      case "lookup" =>
        val r = client.query(s"SELECT * FROM gold.property WHERE id = $k")
        val row = r.columns.zip(r.rows.headOption.getOrElse(Nil)).toMap
        def is(c: String, want: String) = row.get(c).flatten.contains(want)
        def expect(i: Int): Boolean = {
          val c = cl(i)
          val (t, z) = (c(colIdx("Property_Title")).get, c(colIdx("Zip")).get)
          is("id", k.toString) && is("natural_key", s"$t|$z") &&
          is("property_key", Gen.sha16(t + z)) &&
          is("hoa_key", Gen.sha16(c(colIdx("HOA")).get + c(colIdx("HOA_Flag")).get)) &&
          is("taxes_key", Gen.sha16(c(colIdx("Taxes")).get)) &&
          propCols.forall { case (h, _, kind) =>
            row.get(Gen.silverName(h)).exists(v => norm(kind, v) == norm(kind, c(colIdx(h))))
          }
        }
        rec.check(r.rows.size == 1 && group(k).exists(expect), s"lookup id=$k returned ${r.rows}")
        r.rows.size
      case "fact_fetch" =>
        val r = client.query(s"SELECT * FROM gold.leads WHERE property_id = $k")
        val got = r.rows.map { row =>
          val m = r.columns.zip(row).toMap
          leadCols.map { case (h, _, kind) => norm(kind, m.getOrElse(Gen.silverName(h), None)) }
            .mkString("\u0001")
        }.sorted
        val want = group(k).map(i => leadCols.map { case (h, _, kind) =>
          norm(kind, cl(i)(colIdx(h))) }.mkString("\u0001")).sorted
        rec.check(got == want, s"fact_fetch property_id=$k: ${got.size} rows, want ${want.size}")
        r.rows.size
      case "scan" =>
        val rows = dsv2("gold.property").filter(col("id") < k)
          .select("id", "natural_key").collect()
        val ids = rows.map(_.getAs[Number]("id").longValue).sorted.toSeq
        rec.check(ids == (1L until k), s"scan id < $k returned ${ids.size} rows")
        rows.length
      case "agg" =>
        val row = dsv2("gold.valuation").agg(sum(col("list_price")), count(lit(1))).collect().head
        val e = prop.expected
        val (s, c) = (BigInt(row.get(0).toString), row.getLong(1))
        rec.check(s == e.listPriceSum && c == e.counts("valuation"),
          s"agg sum=$s count=$c, want ${e.listPriceSum} ${e.counts("valuation")}")
        1
    }
  }

  private def key(name: String): Long =
    if (name == "scan") {
      scanPos = (scanPos + 0.6180339887498949) % 1.0
      2L + (scanPos * (n - 1)).toLong
    } else 1L + (rnd.nextDouble() * n).toLong.min(n - 1)

  def pass(census: Option[Census]): Double = {
    val ops = scala.util.Random.javaRandomToRandom(rnd).shuffle(deck)
    val engine = server.get._2
    val (_, secs) = time {
      ops.foreach { name =>
        val k = key(name)
        val st0 = engine.statementCount.get
        val (rows, s) = census match {
          case Some(c) => time(c.call(name, counters)(op(name, k)))
          case None => time(op(name, k))
        }
        if (census.isEmpty) lat(name) += s * 1000
        else {
          val (st, rs, cnt) = perOp.getOrElse(name, (0.0, 0.0, 0))
          perOp(name) = (st + engine.statementCount.get - st0, rs + rows, cnt + 1)
        }
      }
    }
    secs
  }

  override def afterWarmUp(): Unit = lat.values.foreach(_.clear())

  private def p50(o: String) = median(lat(o).toSeq)
  private def tail(o: String) = Stats.quantile(lat(o).toSeq, TailQ)

  override def traceExtras(untraced: Seq[Double]): Map[String, Double] =
    Map(
      "serve.lookup_p50_ms" -> p50("lookup"), "serve.lookup_tail_ms" -> tail("lookup"),
      "serve.fact_fetch_p50_ms" -> p50("fact_fetch"), "serve.fact_fetch_tail_ms" -> tail("fact_fetch"),
      "serve.scan_p50_ms" -> p50("scan"), "serve.agg_p50_ms" -> p50("agg"),
      "serve.ops_per_s" -> deck.size / median(untraced)) ++
      perOp.toSeq.flatMap { case (o, (st, rs, cnt)) =>
        Seq(s"serve.$o.statements_per_op" -> st / cnt, s"serve.$o.rows_per_op" -> rs / cnt)
      }

  override def run(): Unit = {
    try {
      super.run()
      Metrics.ServeOps.foreach { o =>
        if (lat(o).nonEmpty)
          rec.info(f"op $o: n=${lat(o).size} p50=${p50(o)}%.3f ms p95=${tail(o)}%.3f ms")
      }
    } finally {
      if (client != null) client.close()
      server.foreach(_._1.stop())
    }
  }
}

/** `curation`: the training-data half, five stages each persisted to
  * parquet as a real curation run would. */
final class CurationWorkload(spark: SparkSession, rec: Run, dir: String)
    extends Workload(spark, rec) {
  private val corpus = s"$dir/corpus"
  private val out = s"$dir/out"
  private val targets = Gen.langs.map(_ -> (1, 5)).toMap
  private var curatedHash: Option[String] = None
  private val counters: () => Map[String, Double] = Metrics.counters(() => None, () => None)

  def setup(): Unit = {
    import spark.implicits._
    Gen.corpus(rec.seed, Main.CorpusBase).map(d => (d.id, d.text, d.lang, d.source))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(corpus)
  }

  private def stage(name: String) = s"$out/$name"
  private def read(name: String) = spark.read.parquet(stage(name))

  def pass(census: Option[Census]): Double = {
    def call[T](label: String)(f: => T): T = census.fold(f)(_.call(label, counters)(f))
    val heldOut = substring(md5(col("doc_id").cast("string")), 1, 1) === "f"
    val (_, secs) = time {
      call("filter") {
        val d = Sources.parquet(spark, corpus).withColumn("text", Text.redactPii(col("text")))
        val nWords = Text.tokenCount(col("text"))
        val nStop = Text.stopwordCount(col("text"), Text.langMarkers("en"))
        d.withColumn("n_words", nWords)
          .withColumn("stop_ratio", nStop.cast("double") / col("n_words").cast("double"))
          .filter(col("n_words") >= 5 && col("n_words") <= 10000 && col("stop_ratio") >= 0.01)
          .drop("stop_ratio")
          .write.mode("overwrite").parquet(stage("filter"))
      }
      call("dedup") {
        val f = read("filter")
        val pairs = Dedup.minhashNearDups(f, "text", "doc_id", 0.8)
        val keep = Dedup.dedupDecision(f, pairs, "doc_id", pairsMaterialized = true)
          .filter(col("keep")).select(col("doc_id"))
        f.join(keep, "doc_id").write.mode("overwrite").parquet(stage("dedup"))
      }
      call("decontam") {
        val k = read("dedup")
        val decisions = Dedup.decontaminate(k.filter(!heldOut), k.filter(heldOut),
          "text", "doc_id", n = 4)
        k.filter(!heldOut)
          .join(decisions.filter(!col("contaminated")).select(col("doc_id")), "doc_id")
          .write.mode("overwrite").parquet(stage("decontam"))
      }
      call("mix") {
        Sampling.mixtureResample(read("decontam"), "lang", "doc_id", targets)
          .write.mode("overwrite").parquet(stage("mix"))
      }
      call("shard") {
        Sharding.writeShards(read("mix"), "doc_id", 1, stage("shards"))
      }
    }
    verify()
    secs
  }

  /** Kept ⊆ filtered, mixture counts match the ratios, and the curated
    * id set hashes identically on every pass. */
  private def verify(): Unit = {
    val shards = read("shards")
    val stray = shards.select("doc_id").join(read("filter").select("doc_id"), Seq("doc_id"), "left_anti").count()
    rec.check(stray == 0, s"$stray curated ids are not among the filtered ids")
    val before = read("decontam").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = shards.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = before.values.sum
    targets.foreach { case (lang, (num, den)) =>
      val have = before.getOrElse(lang, 0L)
      val want = math.min(have.toDouble, total.toDouble * num / den)
      val got = after.getOrElse(lang, 0L)
      val ok = if (want >= have) got == have
        else math.abs(got - want) <= math.max(0.05 * want, 4 * math.sqrt(want))
      rec.check(ok, f"mixture $lang kept $got, target $want%.1f of $have")
    }
    val ids = shards.select("doc_id").collect().map(_.getLong(0)).sorted
    val h = Gen.md5Hex(ids.mkString(",").getBytes(UTF_8))
    rec.check(curatedHash.forall(_ == h), s"curated id set hash moved: $h vs $curatedHash")
    curatedHash = Some(h)
  }

  override def perCall(label: String, m: Map[String, Double]): Map[String, Double] =
    Map(s"curation.${label}_s" -> m("wall_s"))

  override def traceExtras(untraced: Seq[Double]): Map[String, Double] = {
    val f = read("filter")
    val cands = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(Dedup.docShingles(f, "text", "doc_id"))).count()
    val verified = Dedup.minhashNearDups(f, "text", "doc_id", 0.8).count()
    rec.info(s"dedup: $verified verified of $cands candidate pairs")
    Map("ops.dedup.pair_yield" -> (if (cands == 0) 0.0 else verified.toDouble / cands))
  }
}
