package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the render-family plan memo (r18): it may cache ONLY the
  * lazy plan handle — results must always recompute from the input
  * files, a regenerated input must invalidate, and a foreign session
  * must never be served another session's plan.
  */
class PlanCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("memoizes the handle per session, recomputes rows, honors freshness") {
    import spark.implicits._
    // any *.parquet input counts, not only the corpus tables
    for (input <- Seq("documents.parquet", "lineitem.parquet")) {
      val dir = java.nio.file.Files.createTempDirectory("plancache").toFile.getPath
      Seq(1L, 2L, 3L).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$input")
      var builds = 0
      def build(s: SparkSession) = {
        builds += 1; s.read.parquet(s"$dir/$input")
      }

      val a = PlanCache.memo(spark, dir, "k")(build(spark))
      val b = PlanCache.memo(spark, dir, "k")(build(spark))
      assert(a eq b, "same (session, dir, freshness) must serve one handle")
      assert(builds == 1)
      // the handle is a PLAN: every action computes rows from the file
      assert(a.count() == 3 && b.count() == 3)

      // a different session must not be served a foreign session's plan
      val s2 = spark.newSession()
      val c = PlanCache.memo(s2, dir, "k")(build(s2))
      assert(!(c eq a), "sessions must not share handles")

      // regenerating the input under the same path must invalidate — the
      // memo can never pin a stale file listing (nor, a fortiori, results)
      Thread.sleep(20) // distinct mtime granule for the freshness digest
      Seq(1L, 2L, 3L, 4L, 5L).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$input")
      val d = PlanCache.memo(spark, dir, "k")(build(spark))
      assert(!(d eq a), s"regenerated $input must rebuild the plan")
      assert(d.count() == 5, "the rebuilt plan must see the new data")
    }
  }
}
