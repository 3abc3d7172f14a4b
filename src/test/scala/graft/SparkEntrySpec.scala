package graft

/** The flagship entry point's smoke contract: rows > 0 at sf0.001. */
class SparkEntrySpec extends SparkSpec {
  test("SparkEntry.entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
