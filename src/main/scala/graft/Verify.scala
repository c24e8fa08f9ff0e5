package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Row count and order-insensitive content hash of a query output:
    * the sum of one xxhash64 per row. Top-level floating-point columns
    * are rounded to six decimals first, so the last bits of a sum whose
    * order depends on task timing do not change the hash; a map column
    * is hashed as its sorted entries (xxhash64 takes no maps, and entry
    * order is not part of a map's value). EntrySpec pins every query
    * with it. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case _: MapType => sort_array(map_entries(c))
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols.toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally ops.Caches.releaseAll() // drop query-scoped persisted blocks
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Defensive dual keying: the round-1 driver keyed results by output
    // directory name INCLUDING the ".parquet" suffix ("q01_agg.parquet")
    // while we keyed oracle_sql.json bare ("q01_agg") → every row came
    // back `no_oracle`. Emit each SQL under both keys, plus a <name>.sql
    // sidecar next to each output dir.
    val entries = SparkEntry.oracleSql.toSeq.flatMap { case (k, v) =>
      Seq(k -> v, s"$k.parquet" -> v)
    }
    val json = entries
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.oracleSql.foreach { case (k, v) =>
      Files.writeString(Paths.get(s"$outDir/$k.sql"), v)
    }
    spark.stop()
  }
}
