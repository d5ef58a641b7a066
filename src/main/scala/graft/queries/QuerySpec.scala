package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over a lake directory, and the
  * DuckDB SQL that recomputes the same rows over the same parquet tables.
  *
  * Column names and aliases match between the two exactly (the driver
  * sorts columns by name before hashing). Float discipline for
  * cross-engine hash parity: money sums go through exact DECIMAL(18,2)
  * arithmetic then cast to double; order-dependent double aggregates
  * (avg/stddev/sum of products) are rounded to 6 dp on BOTH sides.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Every registered query, family by family. */
object QueryRegistry {
  val specs: Seq[QuerySpec] = Seq(
    RelationalQueries.specs,
    EventQueries.specs,
    IngestQueries.specs,
    SketchCatalogQueries.specs,
    ColumnStatsQueries.specs,
    NearDupQueries.specs,
    SpanDedupQueries.specs,
    TextQueries.specs,
    QualityQueries.specs,
    MixtureQueries.specs,
    SearchQueries.specs,
    AnnQueries.specs,
    EmbeddingQueries.specs,
    EncoderQueries.specs,
    TokenizerQueries.specs,
    MultimodalQueries.specs,
    GraphQueries.specs,
    StreamingQueries.specs).flatten
}
