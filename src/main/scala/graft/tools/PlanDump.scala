package graft.tools

/** Dev-only: dump `explain("formatted")` for catalog queries to files —
  * `PlanDump <outDir> [<sfDir>] [<name> ...]` (no names = all). Used by
  * the optimization rounds to commit before/after plan evidence
  * (`plans/rNN/<query>_{before,after}.txt`). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/root/repo/plans/r13")
    val d = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "_before")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.queries.Catalog.all.map(_.name)
    val spark = graft.Session.build()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, d)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"dumped $name")
      } catch { case e: Throwable =>
        println(s"FAILED $name: $e")
      } finally graft.CacheTracker.releaseAll()
    }
    spark.stop()
  }
}
