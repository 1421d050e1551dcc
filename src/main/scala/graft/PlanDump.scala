package graft

import org.apache.spark.sql.SparkSession

/** Plan-evidence tool (r6): dump `explain("formatted")` for every declared
  * query (or a comma-separated subset) into a directory in ONE warm JVM —
  * the per-round `plans/rNN/<query>_{before,after}.txt` artifacts the
  * optimization rounds commit as evidence.
  *
  *   sbt -batch "runMain graft.PlanDump <outDir> <suffix> [queries] [sfDir]"
  *
  * Exits 1 when any query fails to dump or a requested name is not a
  * query, so a partial plan set never passes for a complete one.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1) // "before" | "after"
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) != "all") Some(args(2).split(",").toSet) else None
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val unknown = only.fold(Set.empty[String])(_ -- SparkEntry.queries.keySet)
    unknown.toSeq.sorted.foreach(n => println(s"[plandump] $n FAILED: no such query"))
    val failed = unknown.size + names.count { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
        java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
        println(s"[plandump] $name -> $p (${plan.length} chars)")
        false
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e"); true
      }
    }
    SparkEntry.clearCaches()
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plandump] $failed of ${names.size + unknown.size} queries failed to dump")
      sys.exit(1)
    }
  }
}
