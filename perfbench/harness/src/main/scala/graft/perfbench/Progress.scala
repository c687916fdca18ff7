package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Streaming-layer metrics from micro-batch progress reports, the
  * per-trigger `durationMs`, state-operator and source-offset records
  * of Structured Streaming's progress reporting. */
object Progress {
  def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.batchDuration

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Source end offset of a graft-wal query (a segment count). */
  def endOffset(p: StreamingQueryProgress): Int =
    p.sources.headOption.flatMap(s => segments(s.endOffset)).getOrElse(0)

  private def latestOffset(p: StreamingQueryProgress): Int =
    p.sources.headOption.flatMap(s => segments(s.latestOffset)).getOrElse(endOffset(p))

  /** Other sources (the file source of some gates) report JSON offsets. */
  private def segments(offset: String): Option[Int] =
    Option(offset).flatMap(o => scala.util.Try(o.trim.toInt).toOption)

  def duration(p: StreamingQueryProgress, k: String): Option[Double] =
    Option(p.durationMs.get(k)).map(_.doubleValue)

  /** Micro-batch phases laid out in execution order from the trigger
    * start, as (layer, phase, start, end). */
  val phaseLayers: Seq[(String, String)] = Seq(
    "sources" -> "latestOffset", "streaming" -> "walCommit", "sources" -> "getBatch",
    "engine" -> "queryPlanning", "operators" -> "addBatch", "streaming" -> "commitOffsets")

  def phases(p: StreamingQueryProgress): Seq[(String, String, Double, Double)] = {
    var t = startMs(p)
    phaseLayers.flatMap { case (layer, k) =>
      duration(p, k).map { d => val s = t; t += d; (layer, k, s, t) }
    }
  }

  def layers(progress: Seq[StreamingQueryProgress], sinkMs: Seq[Double],
      appendMs: Seq[Double], lateMs: Seq[Double]): Seq[(String, Double)] = {
    val data = progress.filter(_.numInputRows > 0)
    def p50(k: String) = Stats.median0(data.flatMap(duration(_, k)))
    val state = data.flatMap(_.stateOperators.headOption)
    val last = progress.lastOption.flatMap(_.stateOperators.headOption)
    Seq(
      "sources.append_ms" -> Stats.median0(appendMs),
      "sources.gen_late_p99_ms" -> (if (lateMs.isEmpty) 0.0 else Stats.pct(lateMs, 99)),
      "sources.latest_offset_ms" -> p50("latestOffset"),
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streaming.state_commit_ms_p50" -> Stats.median0(state.map(_.commitTimeMs.toDouble)),
      "streaming.state_store_instances" ->
        last.map(_.numStateStoreInstances.toDouble).getOrElse(0.0),
      "streaming.sink_write_ms_p50" -> Stats.median0(sinkMs),
      "streaming.batches" -> data.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median0(data.map(_.numInputRows.toDouble)),
      "streaming.backlog_segments_max" -> (if (data.isEmpty) 0.0
        else data.map(p => (latestOffset(p) - endOffset(p)).toDouble).max),
      "streaming.state_rows_end" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mem_bytes_end" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
  }
}
