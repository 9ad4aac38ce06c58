package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the Spark builder over a scale-factor
  * directory, and the DuckDB SQL that recomputes its output from the same
  * parquet.
  *
  * `oracle = None` marks a bench-only query: its raw output is an
  * engine-native sketch (xxhash64 bands, HLL estimates, percentile
  * sketches) with no DuckDB value oracle by construction. A sibling law
  * gate re-derives the exact component instead, and Bench still times the
  * sketch path every round.
  *
  * `smallSf` queries are timed at the sibling `sf0.01` directory by Bench
  * and `graft.Diag`: their cost is checkpoint and sink machinery, not plan
  * work. Verify runs every gated query at the full scale factor. */
final case class QuerySpec(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracle: Option[String],
                           smallSf: Boolean = false)
