package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shuffle-volume probe for one driver query: runs
  * `SparkEntry.queries(<name>)` on `<sfDir>` with a task-metrics listener
  * and prints total shuffle bytes written/read across all jobs the query
  * triggered. This is the evidence tool for plan-shape claims ("the
  * banded self-join ships id rows, not shingle arrays") — `PlanDump`
  * shows the shape, this shows the bytes.
  *
  * Usage: runMain graft.ShuffleStats <queryName> [sfDir]
  */
object ShuffleStats {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val written = new AtomicLong
    val read = new AtomicLong
    val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          tasks.incrementAndGet()
        }
      }
    })
    // NOT .count(): a bare count lets Catalyst prune unused projections
    // (and even whole Window nodes) out of the measured plan — the bytes
    // would describe a plan nobody runs. Checksumming every output column
    // forces the full computation while still collecting a single row.
    val df = SparkEntry.queries(name)(spark, sfDir)
    import org.apache.spark.sql.functions.{col, count, expr, lit, struct, xxhash64}
    val r = df
      .select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(count(lit(1)).as("rows"), expr("bit_xor(h)").as("checksum"))
      .first()
    val rows = r.getLong(0)
    SparkEntry.clearCaches()
    // the listener bus is ASYNC: read the counters only after stop(),
    // which drains every queue — a fixed sleep can silently undercount
    // on heavy runs, and this tool is the byte-level evidence for
    // plan-shape claims, so the totals must be complete by construction
    spark.stop()
    println(s"""{"query":"$name","sf":"$sfDir","rows":$rows,""" +
      s""""tasks":${tasks.get},"shuffle_write_bytes":${written.get},""" +
      s""""shuffle_read_bytes":${read.get}}""")
  }
}
