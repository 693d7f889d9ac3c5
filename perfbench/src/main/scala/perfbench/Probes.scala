package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.cdc.{PgoutputParser, RelationInfo, TypedRefinement}
import graft.streaming.StreamOps

/** Per-layer probes of a traced run, taken after the measured window
  * over the log the run produced: the parser alone on one core, then
  * three drains of the same log that each stop one layer later (raw
  * replay, decoded, typed). A layer's busy time is the difference
  * between consecutive drains. */
object Probes {
  def parse1Core(frames: Seq[Array[Byte]]): Double = {
    val times = (1 to 3).map { _ =>
      val p = new PgoutputParser()
      val t0 = System.nanoTime()
      frames.foreach(p.parse)
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(times)
  }

  def layers(run: Run, logDir: File, frames: Seq[Array[Byte]], rows: Long,
      logBytes: Long, rels: Seq[RelationInfo]): Map[String, Double] = {
    import run.tracer
    val parseS = tracer.span("pgoutput_parser.parse")(parse1Core(frames))
    val payload = frames.iterator.map(_.length.toLong).sum
    val (rawS, rawCpu, _) = tracer.span("drain.raw") {
      run.drain(logDir, "raw")(_.select(col("lsn"), size(col("frames"))))(
        _.count())
    }
    val (decS, decCpu, _) = tracer.span("drain.decoded") {
      run.drain(logDir, "decoded")(f =>
        tracer.span("stream_ops.decoded_changes")(StreamOps.decodedChanges(f)))(
        _.count())
    }
    val (typS, _, _) = tracer.span("drain.typed") {
      run.drain(logDir, "typed") { f =>
        val c = StreamOps.decodedChanges(f)
        tracer.span("typed_refinement.typed_view") {
          // hash every typed column, so no refinement is pruned away
          rels.map { r =>
            val t = TypedRefinement.typedView(c.filter(col("table") === r.name),
              "tuple", r)
            t.select(col("lsn"), hash(t.columns.map(col): _*).as("h"))
          }.reduce(_ unionByName _)
        }
      }(_.agg(count(lit(1)), sum(col("h"))).head())
    }
    val decodeS = math.max(decS - rawS, 1e-3)
    val refineS = math.max(typS - decS, 1e-3)
    Map(
      "parse.rows_per_s_1core" -> rows / parseS,
      "parse.bytes_per_s_1core" -> payload / parseS,
      "replay.busy_s" -> rawS,
      "replay.rows_per_s" -> rows / rawS,
      "replay.bytes_per_s" -> logBytes / rawS,
      "decode.busy_s" -> decodeS,
      "decode.rows_per_s" -> rows / decodeS,
      "decode.cpu_s" -> math.max((decCpu - rawCpu).cpuS, 0.0),
      "decode.tasks" -> decCpu.tasks.toDouble,
      "refine.busy_s" -> refineS,
      "refine.rows_per_s" -> rows / refineS)
  }

  /** Traced over untraced median time, as a percentage. */
  def overheadPct(off: Seq[Double], on: Seq[Double]): Double =
    if (off.isEmpty || on.isEmpty) 0.0
    else (Stats.median(on) / Stats.median(off) - 1) * 100
}
