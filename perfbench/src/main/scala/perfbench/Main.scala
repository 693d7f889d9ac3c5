package perfbench

import java.io.File
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--data <dir>] [--scale <f>]`.
  * Prints its result as the last stdout line, prefixed `RESULT `:
  * the output check's counts plus end-to-end metrics (untraced) or
  * per-layer metrics (traced). `--scale` shrinks the pipeline
  * workloads' sizes, for the self-tests. */
object Main {
  def session(cpus: Int): SparkSession = {
    // the session settings of graft.Bench, at local[cpus]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.codegen.aggregate.map.twolevel.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val scale = opts.get("scale").map(_.toDouble).getOrElse(1.0)
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = session(Runtime.getRuntime.availableProcessors())
    spark.range(1000).selectExpr("sum(id)").collect()
    val run = new Run(spark, seed, seconds, traced, work,
      (System.nanoTime() - t0) / 1e9)
    val result = try workload match {
      case "huge_tx" => HugeTx.run(run, math.max(100, (8000 * scale).toInt))
      case "small_tx_live" =>
        SmallTxLive.run(run, math.max(4, (SmallTxLive.BurstTxs * scale).toInt))
      case "analytics" =>
        val out = new File(work, "outputs")
        out.mkdirs()
        Analytics.run(run, opts("data"), out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      if (traced) run.tracer.write(new File(work, "trace.jsonl").toPath)
    }
    spark.stop()
    println("RESULT " + toJson(result))
  }

  def toJson(r: Result): String = {
    def obj(m: Map[String, Double]): String = m.toSeq.sortBy(_._1).map {
      case (k, v) => "\"" + k + "\":" + num(v)
    }.mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""end_to_end":${obj(r.endToEnd)},"per_layer":${obj(r.perLayer)}}"""
  }

  /** Full precision; non-finite values become null (and fail the run's
    * metric check instead of producing invalid JSON). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%s", Double.box(v))
}
