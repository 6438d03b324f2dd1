package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** VERDICT r15 task 6 — the bounded-collect structural gate (the
  * [[CkptCoverageSpec]] pattern applied to the OTHER scale-killer
  * class). Every `.collect()` call site in src/main must belong to a
  * REVIEWED per-file allowlist carrying a boundedness reason, so the
  * next corpus-sized driver collect cannot ship silently: adding a
  * collect to an allowlisted file changes its count and fails here
  * until the new site is reviewed; a stale entry (file dropped its
  * collects) fails too, so the list can't rot.
  *
  * Review standard recorded per file: a collect is in-bounds when its
  * input is k-, d-, partition-, stratum-, config-, vocab-cap- or
  * dimension-sized (NOT input-corpus-sized), or is an explicitly
  * adjudicated protocol-fidelity leg (the reference IS one psycopg2
  * process) with the corpus-sized twin routed distributed.
  */
class CollectCoverageSpec extends SparkSpec {

  /** file (relative to src/main/scala) → (expected `.collect()` call
    * sites, why every one of them is bounded). */
  private val allowlist: Map[String, (Int, String)] = Map(
    "graft/ops/Sampling.scala" -> (4,
      "per-stratum/group count aggregates — group-cardinality-sized"),
    "graft/ops/Similarity.scala" -> (9,
      "k-sized centroids/seeds, partition-count partials, query-set ids; " +
        "the payload collect is size-guarded (maxBroadcastVectors throws)"),
    "graft/ops/QualityModel.scala" -> (1,
      "d-sized trained weight vector"),
    "graft/ops/Pca.scala" -> (3,
      "d²-sized covariance/eigen matrices (d = embedding dim)"),
    "graft/ops/Retrieval.scala" -> (2,
      "query-set-sized term/id lists (queries are config-sized)"),
    "graft/ops/Bpe.scala" -> (3,
      "vocab-capped merge tables (numMerges bound)"),
    "graft/ops/GlobalRank.scala" -> (1,
      "partition-count-sized rank offsets (one long per partition)"),
    "graft/ops/Membership.scala" -> (1,
      "bloom bit blocks — filter-capacity-sized, set at build time"),
    "graft/ops/LangModel.scala" -> (5,
      "vocab-capped n-gram model tables (sufficient statistics)"),
    "graft/streaming/ScdStreams.scala" -> (1,
      "distinct bucket ids — ≤ `buckets` rows by construction"),
    "graft/Bench.scala" -> (1,
      "1-row JVM warm-up aggregate"),
    "graft/tools/Profile.scala" -> (1,
      "1-row JVM warm-up aggregate (diagnostic tool, never in gates)"),
    "graft/pipeline/PgGold.scala" -> (1,
      "protocol-fidelity leg: dims + k-row RETURNING probes only " +
        "(dimension-/k-sized); main AND facts route through " +
        "copyDistributedExactlyOnce with distributed read-back (r17)"),
    "graft/etl/Split.scala" -> (2,
      "field-config targets — config-table-sized"),
    "graft/tools/ScaleRehearsal.scala" -> (3,
      "diagnostic tool: bounded rehearsal probe sets, never in gates " +
        "(r18 adds the equi-depth row's partition-count-sized sizes)"),
    "graft/io/pg/PgWire.scala" -> (1,
      "exactly-once publish metadata — one (pid, stage, count) row per " +
        "partition"),
    "graft/io/Zones.scala" -> (3,
      "zone-map file metadata — one row per data FILE, not per data row"),
    "graft/queries/RefQueries.scala" -> (5,
      "gate legs at adjudicated size classes: config-sized XLSX fixture, " +
        "dimension-sized segment list, single-socket COPY protocol twins " +
        "(ref_pg_copy + ref_pg_copy_out/ref_pg_copy_csv load legs — the " +
        "distributed posture is their sibling gates)"),
    "graft/queries/TextQueries.scala" -> (2,
      "1-row sketch frame and k-sized top-k probe")
  )

  private def scalaFiles(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  /** Code-line `.collect()` call sites per file (Scaladoc/comment
    * mentions are documentation, not calls). */
  private def foundSites: Map[String, Seq[String]] = {
    val root = "src/main/scala"
    (for {
      p <- scalaFiles(root)
      rel = Paths.get(root).relativize(p).toString
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      if t.contains(".collect()")
    } yield rel -> s"$rel:${i + 1}: $t")
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  behavior of "driver-collect coverage (src/main)"

  it should "keep every .collect() call site inside the reviewed allowlist" in {
    val found = foundSites
    val unreviewed = found.keySet -- allowlist.keySet
    withClue("files with UNREVIEWED .collect() sites — a driver collect " +
      "needs a boundedness review before it ships:\n" +
      unreviewed.toSeq.sorted.flatMap(found).mkString("\n")) {
      unreviewed shouldBe empty
    }
    allowlist.toSeq.sortBy(_._1).foreach { case (file, (expected, reason)) =>
      val sites = found.getOrElse(file, Seq.empty)
      withClue(s"$file (reviewed: $reason) — call-site count drifted; " +
        s"review the new/removed site(s):\n${sites.mkString("\n")}\n") {
        sites.length shouldBe expected
      }
    }
  }

  it should "have no stale allowlist entries" in {
    val found = foundSites
    (allowlist.keySet -- found.keySet) shouldBe empty
  }
}
