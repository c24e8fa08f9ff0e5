package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Table storage abstraction (SURVEY.md §7.3 item 3): the engine's
  * contract is an Iceberg-backed table per logical dataset (BASELINE.json
  * input_hint), but this sandbox ships no Iceberg runtime jar and coursier
  * is offline — so reads/writes fall back to Parquet paths with IDENTICAL
  * schema, partitioning and checkpoint-table layout. When
  * `iceberg-spark-runtime` is on the classpath the same call sites write
  * `format("iceberg")` tables instead; nothing else changes.
  */
object TableIO {
  /** True when an Iceberg Spark runtime is on the classpath. */
  val icebergAvailable: Boolean =
    try {
      Class.forName("org.apache.iceberg.spark.source.IcebergSource")
      true
    } catch { case _: ClassNotFoundException => false }

  val format: String = if (icebergAvailable) "iceberg" else "parquet"

  def write(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format(format).save(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(format).load(path)
}
