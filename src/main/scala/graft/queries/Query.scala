package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, declared once in its domain module: the
  * function that builds it over `(session, sfDir)`, the DuckDB SQL that
  * replays it on the same parquet tables, and whether Bench times it as
  * a GATE.
  *
  * Gates are the streaming / persisted-artifact / multi-epoch parity
  * harnesses: their wall is dominated by checkpoint dirs, file-stream
  * micro-batches and index build + re-read, not by the plan under test
  * (each has a sub-second batch twin). Bench totals them separately so
  * harness noise cannot drown an engine regression. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    gate: Boolean = false)
