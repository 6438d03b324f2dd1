package graft.queries

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry

/** The query registry's contract: every query is declared exactly once,
  * carries its DuckDB oracle, and says for itself whether Bench times it
  * as an engine query or a gate. */
class RegistrySpec extends AnyFlatSpec with Matchers {

  /** The gate set Bench classified by hand (a name list plus "any name
    * containing stream") before each Query carried its own flag —
    * pinned so the Bench `engine_total` / `gate_total` split keeps its
    * meaning across the move. */
  private val gates = Set(
    "q_ann_index", "q_ann_recall", "q_ann_recall_sampled",
    "q_bloom_persisted", "q_corpus_drift_incremental",
    "q_corpus_overlap_persisted", "q_dedup_compaction",
    "q_dedup_exact_incremental", "q_dedup_incremental",
    "q_dedup_stream_parity", "q_dsir_persisted", "q_epoch_evolution",
    "q_epoch_prep", "q_events_late_data", "q_events_stream_join",
    "q_events_stream_parity", "q_join_bucketed", "q_matview_incremental",
    "q_scd2_stream_parity", "q_scd2_upsert_bucketed",
    "q_semdedup_incremental", "q_shard_stream", "q_snapshot_diff_bucketed",
    "q_text_bpe_stream_parity", "q_text_decontam_incremental",
    "q_text_lm_incremental", "q_text_lm_persisted",
    "q_text_lm_stream_parity", "q_text_quality_stream_parity",
    "q_text_search_incremental", "q_text_search_persisted",
    "q_text_search_stream_parity", "ref_pg_stream_sink",
    "ref_pg_stream_source", "ref_pg_stream_source_filtered")

  private val modules = Seq(
    "RefQueries" -> RefQueries.queries,
    "RelationalQueries" -> RelationalQueries.queries,
    "EventQueries" -> EventQueries.queries,
    "TextQueries" -> TextQueries.queries,
    "SimilarityQueries" -> SimilarityQueries.queries,
    "AdvancedQueries" -> AdvancedQueries.queries,
    "CurationQueries" -> CurationQueries.queries)

  behavior of "the query registry"

  it should "register 237 queries, no name twice across or within modules" in {
    val owners = for ((m, qs) <- modules; q <- qs) yield q.name -> m
    val twice = owners.groupBy(_._1).collect {
      case (n, regs) if regs.size > 1 => s"$n: ${regs.map(_._2).mkString(", ")}"
    }
    twice shouldBe empty
    owners.size shouldBe 237
    SparkEntry.registry.map(_.name) shouldBe owners.map(_._1)
  }

  it should "give every query a non-empty oracle" in {
    SparkEntry.registry.filter(q => q.oracle == null || q.oracle.trim.isEmpty)
      .map(_.name) shouldBe empty
  }

  it should "flag exactly the pinned 35 gates" in {
    SparkEntry.registry.filter(_.gate).map(_.name).toSet shouldBe gates
  }
}
