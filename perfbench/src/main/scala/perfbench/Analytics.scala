package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.{Prewarm, Tables}

/** `analytics`: a fixed list of `SparkEntry.queries` over generated
  * parquet tables — the 16 CDC wire-format roundtrips, the snapshot
  * query, and one query per LLM-operator family. Set-up (table
  * footers, one tiny job, `Prewarm.run`) runs three times on fresh
  * sessions of one context and counts as its median. Pass 1 warms the
  * query plans and writes each query's output for the DuckDB oracle
  * compare; the passes after it are timed (at least two, more while
  * the run's seconds last), each writing every output column to the
  * no-op sink, and each query counts as the median of its timed
  * passes. */
object Analytics {
  val Queries: Seq[String] = Seq(
    "q33_wal2json_roundtrip", "q34_test_decoding_roundtrip",
    "q35_pgoutput_roundtrip", "q35b_decoderbufs_roundtrip", "q36_lsn_codec",
    "q37_pg_epoch_codec", "q49_pgoutput_v2_stream", "q53_wal2json_v2_roundtrip",
    "q54_pgoutput_two_phase", "q73_decoder_parity", "q119_typed_oids",
    "q229_typed_oid_tail", "q240_typed_composite",
    "q260_wal2json_chunked_roundtrip", "q264_chunk_reassembly_census",
    "q265_chunked_stream_batch_parity", "q16_cdc_snapshot_latest",
    "q205_basket_pairs", "q129_containment_dedup", "q239_hybrid_ivf_recall",
    "q244_perplexity_terciles", "q300_lsh_scurve_calibration", "q213_kcore",
    "q167_image_dhash_dedup")

  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def setup(s: SparkSession, dir: String): Seq[(String, Double)] = {
    TableNames.foreach(t => s.read.parquet(s"$dir/$t.parquet").limit(1).count())
    s.range(1000).selectExpr("sum(id)").collect()
    Prewarm.run(s, dir)
  }

  def run(run: Run, dataDir: String, outDir: File): Result = {
    import run.tracer
    val fns = SparkEntry.queries
    // three set-ups on fresh sessions of the one context; the cache is
    // cleared first so no set-up reuses another's memo builds
    var session: SparkSession = null
    var memoWall = Seq.empty[(String, Double)]
    var memoCpu = TaskTotals()
    val setups = (1 to 3).map { i =>
      run.spark.catalog.clearCache()
      session = if (i == 1) run.spark else run.spark.newSession()
      val k0 = run.tasks.groupsWithPrefix("memo:")
      val t0 = System.nanoTime()
      memoWall = tracer.span("prewarm.run")(setup(session, dataDir))
      memoCpu = run.tasks.groupsWithPrefix("memo:") - k0
      run.elapsedSince(t0)
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val walls = scala.collection.mutable.HashMap.empty[String, Vector[Double]]
    val cpus = scala.collection.mutable.HashMap.empty[String, Vector[Double]]
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val passTimes = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val k0 = run.tasks.total
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 3 || (run.elapsedSince(t0) < run.seconds && pass < 8)) {
      val on = run.traced && pass % 2 == 0
      tracer.enabled = on
      val p0 = System.nanoTime()
      Queries.foreach { q =>
        val group = s"query:$q:$pass"
        session.sparkContext.setJobGroup(group, q, interruptOnCancel = false)
        val q0 = System.nanoTime()
        try {
          val df = fns(q)(session, dataDir)
          // pass 1 warms the plans and writes the outputs the oracle
          // compare reads. The timed passes write to the no-op sink,
          // which computes every output column: a count would let the
          // optimizer prune the roundtrip UDFs away.
          if (pass == 0) {
            val path = new File(outDir, q).getPath
            df.coalesce(1).write.mode("overwrite").parquet(path)
            counts(q) = session.read.parquet(path).count()
          } else tracer.span(s"query.$q") {
            df.write.format("noop").mode("overwrite").save()
          }
        } catch { case e: Throwable => errors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        finally session.sparkContext.clearJobGroup()
        val wall = run.elapsedSince(q0)
        Tables.dropTransientCaches()
        if (pass > 0) {
          walls(q) = walls.getOrElse(q, Vector.empty) :+ wall
          cpus(q) = cpus.getOrElse(q, Vector.empty) :+ run.tasks.group(group).cpuS
        }
      }
      if (pass > 0) passTimes += ((run.elapsedSince(p0), on))
      pass += 1
    }
    tracer.enabled = run.traced
    val measured = run.tasks.total - k0

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    writeOracle(new File(outDir, "oracle_sql.json"), oracle)
    errors.foreach { case (q, e) => System.err.println(s"[perfbench] $q failed: $e") }

    val wallMed = Queries.map(q => q -> Stats.median(walls.getOrElse(q, Vector(0.0)))).toMap
    val cpuMed = Queries.map(q => q -> Stats.median(cpus.getOrElse(q, Vector(0.0)))).toMap
    val wallS = wallMed.values.sum
    val latMs = wallMed.values.map(_ * 1e3).toSeq
    val e2e = Map(
      "setup_s" -> (run.sessionStartS + Stats.median(setups)),
      "rows_per_s" -> counts.values.sum / math.max(wallS, 1e-9),
      "visible_p50_ms" -> Stats.percentile(latMs, 50),
      "visible_p90_ms" -> Stats.percentile(latMs, 90),
      "queries_wall_s" -> wallS,
      "queries_cpu_s" -> cpuMed.values.sum)

    val layers = if (!run.traced) Map.empty[String, Double] else {
      val off = passTimes.filter(!_._2).map(_._1).toSeq
      val on = passTimes.filter(_._2).map(_._1).toSeq
      Queries.flatMap(q => Seq(s"query.$q.wall_s" -> wallMed(q),
        s"query.$q.cpu_s" -> cpuMed(q))).toMap ++
        memoWall.map { case (m, s) => s"memo.$m.wall_s" -> s }.toMap ++
        Map("memo.cpu_s" -> memoCpu.cpuS,
          "trace.overhead_pct" -> Probes.overheadPct(off, on)) ++
        run.sparkLayer(measured) ++ run.hostLayer
    }
    // the oracle compare (run after the JVM exits) adds its failures
    Result(Queries.size.toLong, errors.size.toLong, e2e, layers)
  }

  private def writeOracle(f: File, m: Map[String, String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(f.toPath,
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }
}
