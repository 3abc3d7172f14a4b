package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's config resolution, as a pure function. */
class SessionSpec extends AnyFunSuite {

  test("pinned configs win over an overlapping perfConf key") {
    val perf = Map(
      "spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.shuffle.sort.bypassMergeThreshold" -> "1")
    val c = Session.resolve(cores = 3, perf = perf)
    assert(c("spark.sql.shuffle.partitions") === "3")
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.ui.enabled") === "false")
    assert(c("spark.shuffle.sort.bypassMergeThreshold") === "1")
  }

  test("Tables.conf is applied, over perfConf, under caller extras") {
    val c = Session.resolve(cores = 2,
      perf = Map("spark.sql.session.timeZone" -> "America/Chicago"))
    Tables.conf.foreach { case (k, v) => assert(c(k) === v, k) }
    val e = Session.resolve(cores = 2, perf = Map.empty,
      extra = Map("spark.sql.session.timeZone" -> "Asia/Tokyo",
        "spark.sql.warehouse.dir" -> "/tmp/wh"))
    assert(e("spark.sql.session.timeZone") === "Asia/Tokyo")
    assert(e("spark.sql.warehouse.dir") === "/tmp/wh")
  }

  test("local[cores] only when the launch supplied no master") {
    assert(Session.resolve(cores = 5, perf = Map.empty)("spark.master")
      === "local[5]")
    val submitted = Session.resolve(cores = 5, perf = Map.empty,
      launched = Set("spark.master", "spark.sql.shuffle.partitions"))
    assert(!submitted.contains("spark.master"))
    assert(!submitted.contains("spark.sql.shuffle.partitions"))
    assert(submitted("spark.sql.adaptive.enabled") === "true")
  }
}
