package graft

/** The checked-in `(rows, fingerprint)` pin of every `SparkEntry` query
  * on the sf0.001 tables (`src/test/resources/query_pins.tsv`, one
  * `name rows fingerprint` line each, fingerprints by
  * [[Verify.fingerprint]]). EntrySpec checks every query against it.
  *
  * The pins are written only from a `graft.Verify` output that passed
  * every DuckDB oracle, in one chain that stops at the first failure:
  *
  * {{{
  * SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.Verify <sf0.001> <out>" &&
  *   python3 tools/check_oracle.py <sf0.001> <out> &&
  *   sbt -batch "Test/runMain graft.QueryPins <out> src/test/resources/query_pins.tsv"
  * }}}
  */
object QueryPins {
  def read(): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/query_pins.tsv"), "UTF-8")
    try src.getLines().map { line =>
      val Array(name, rows, fingerprint) = line.split('\t')
      name -> (rows.toLong, fingerprint)
    }.toMap
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(verifyDir, out) = args
    val spark = functions.SparkTestSession.spark
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (rows, fingerprint) = Verify.fingerprint(spark.read.parquet(s"$verifyDir/$name.parquet"))
      s"$name\t$rows\t$fingerprint\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), lines.mkString)
    spark.stop()
  }
}
