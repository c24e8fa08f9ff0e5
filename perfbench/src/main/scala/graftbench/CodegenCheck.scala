package graftbench

import org.apache.spark.sql.functions.{col, concat, lit}
import graft.{functions => gf}

/** Shows that the benchmark's codegen counter fires: one projection with
  * two `ref_match_score_pre` calls over non-nullable columns, whose
  * generated code declares the same local variable twice when Spark
  * emits both null-safe bodies into one method.
  *
  *   graftbench.CodegenCheck <work dir>
  *
  * Prints the counts the appender saw and the rows' checksum. */
object CodegenCheck {
  def main(argv: Array[String]): Unit = {
    val spark = Main.session(argv.headOption.getOrElse(".bench_build/work"))
    val log = new CodegenLog
    log.install()
    val a = col("a")
    val n = spark.range(1000).select(concat(lit("berlin "), col("id").cast("string")).as("a"))
      .select(gf.ref_match_score_pre(a, lit("berlin 1")).as("s1"),
        gf.ref_match_score_pre(a, concat(a, lit("x"))).as("s2"))
      .collect().length
    println(s"rows $n; ${log.summary}; fn.codegen_fallbacks ${log.fallbacks}")
    spark.stop()
  }
}
