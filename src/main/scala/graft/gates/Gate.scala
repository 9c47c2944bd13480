package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: the engine's query over an sf-dir of parquet
  * tables, and the DuckDB SQL over the same tables that must return the
  * same rows. Column names and row ordering are aligned between both
  * sides, and every double produced by arithmetic is rounded identically
  * on both sides. The oracle is a required field, so no gate can lack
  * one. */
final case class Gate(name: String,
                      spark: (SparkSession, String) => DataFrame,
                      oracleSql: String)
