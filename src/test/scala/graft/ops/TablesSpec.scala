package graft.ops

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class TablesSpec extends AnyFunSuite {

  test("Tables drops the plans of a stopped session; a new session plans afresh") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val old = SparkTestSession.spark
    old.range(5).write.parquet(s"$dir/t.parquet")
    val first = Tables.load(old, dir, "t")
    assert(Tables.load(old, dir, "t") eq first, "the memo serves a live session's plan")
    old.stop()
    val fresh = SparkTestSession.spark
    assert(fresh ne old)
    val second = Tables.load(fresh, dir, "t")
    assert(second ne first)
    assert(second.sparkSession eq fresh)
    assert(!Tables.plans.keySet.toArray.exists(_.asInstanceOf[(Any, String)]._1 == old),
      "the stopped session is still pinned")
    assert(second.count() == 5)
  }
}
