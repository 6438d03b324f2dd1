package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan inspection for the plan-shape assertions the engine is
  * designed around. Renders `explain("formatted")` so PushedFilters /
  * ReadSchema / broadcast choices / WholeStageCodegen spans are visible.
  *
  * Run: `sbt "runMain graft.Explain [sfDir] [--out <dir>] [query…]"`.
  * With no query names every registered query (plus [[innerPlans]]) is
  * explained. Without `--out` the plans print to stdout; with it each
  * plan is written to `<dir>/<query>.txt` (the `plans/<round>/`
  * evidence files). Harness queries with several internal actions
  * explain the plan of the RETURNED frame (the oracle surface); their
  * job structure is what `graft.tools.Profile` measures. */
object Explain {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col
  import graft.ops.Dedup

  /** Pre-checkpoint plans for operators whose public query surface
    * eagerly materializes (`localCheckpoint(true)` — the cache-hygiene
    * pattern) and therefore explains as a bare ExistingRDD scan. These
    * pseudo-queries rebuild the same logical frame WITHOUT the
    * checkpoint so the join/aggregate shape stays inspectable. */
  private[graft] val innerPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "inner_minhash_pairs" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val shingled = Dedup.docShingles(docs, "text", "doc_id")
      Dedup.verifyJaccard(
          Dedup.lshCandidatePairs(Dedup.minhashSignatures(shingled)), shingled)
        .filter(col("jaccard") >= 0.8)
    }),
    "inner_ngram_join" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // 0.5 = the threshold q_dedup_ngram_jaccard actually runs
      Dedup.ngramJaccardFrame(Dedup.docShingles(docs, "text", "doc_id"), 0.5)
    }),
    "inner_pack_docs" -> ((s, dir) => {
      // the bodies-carried packing frame q_pack_shards writes: the
      // bucket repartition must be the plan's ONLY exchange
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .withColumn("tok",
          org.apache.spark.sql.functions.size(
            graft.ops.Text.tokens(col("text"))).cast("long"))
      graft.ops.Packing.packDocs(docs, "doc_id", "tok", 256L, 32)
    }))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (outDir, which) = args.drop(1).toList match {
      case "--out" :: dir :: names => (Some(dir), names.toSet)
      case names => (None, names.toSet)
    }
    val spark = Session.local("graft.Explain")
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    (SparkEntry.queries ++ innerPlans)
      .filter { case (name, _) => which.isEmpty || which.contains(name) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"failed: ${e.getMessage}" }
        outDir match {
          case Some(d) =>
            Files.writeString(Paths.get(d, s"$name.txt"), plan)
            println(s"wrote $name (${plan.length} chars)")
          case None => println(s"\n========== $name ==========\n$plan")
        }
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
