package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{Mutation, RowState}
import graft.sources.GraftWalStream
import graft.streaming.RowMaterializer

/** Open-loop CDC tail: the SEP consumer path.
  *
  * The mutation log (gen_data.cdc_log: `events` as hot rowkeys with
  * many versions and `error` tombstones, `orders` as one insert per key
  * so state grows) arrives as seed-cut JSONL segments. The first
  * `backlog_frac` of them is staged before the query starts (a new
  * replication peer catching up). Once the query has committed the backlog, a generator
  * thread appends the remaining segments on a fixed schedule of `rate`
  * mutations per second, each under a hidden name and then renamed.
  *
  * One query consumes them: GraftWalStream -> RowMaterializer ->
  * foreachBatch parquet sink (`<work>/out`), on a 1 s trigger. Lag of a tail segment is the
  * end of the first micro-batch whose end offset covers it minus its due
  * time. The final state is checked after the run against `<work>/wal`
  * by an independent reference (canon.cdc_mismatches). */
object Cdc {
  private final case class Seg(idx: Int, bytes: Array[Byte], mutations: Int)
  private final case class Sent(idx: Int, due: Double, start: Double, end: Double)
  private val warmSegments = 8
  /** A fixed trigger interval, as deployments run: the lag then splits
    * into a wait for the next trigger (uniform over the interval, the
    * same on every run) and the micro-batch itself. Back-to-back
    * batches made the lag depend on how rows happened to bunch up. */
  private val triggerMs = 1000L

  /** Segments of the mutation log (gen_data.cdc_log), in WAL order. */
  private def segments(logDir: String): Seq[Seg] = {
    val files = Option(new java.io.File(logDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".jsonl")).sortBy(_.getName)
    files.toSeq.zipWithIndex.map { case (f, i) =>
      val bytes = Files.readAllBytes(f.toPath)
      Seg(i, bytes, bytes.count(_ == '\n'))
    }
  }

  private def append(dir: Path, s: Seg): Unit = {
    val name = f"seg-${s.idx}%07d.jsonl"
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, s.bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def start(spark: SparkSession, wal: String, out: String, ckpt: String,
      maxFiles: Int, sinkMs: ConcurrentLinkedQueue[(Long, Double, Double)]): StreamingQuery = {
    import spark.implicits._
    RowMaterializer.materialize(spark, GraftWalStream(wal, maxFiles).open(spark).as[Mutation])
      .writeStream
      .foreachBatch { (df: Dataset[RowState], id: Long) =>
        val a = Main.nowMs
        df.withColumn("batch", lit(id)).write.mode("append").parquet(out)
        sinkMs.add((id, a, Main.nowMs)); ()
      }
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
  }

  private def awaitOffset(q: StreamingQuery, target: Int, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      val p = q.lastProgress
      if (p != null && Progress.endOffset(p) >= target) return true
      Thread.sleep(2)
    }
    false
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val rate = ctx.opt("rate").toDouble
    val maxFiles = ctx.opt("max_files").toInt
    val t0 = Main.nowMs
    val segs = segments(ctx.opt("log"))
    val nBacklog = (segs.size * ctx.opt("backlog_frac").toDouble).toInt
    val backlogMut = segs.take(nBacklog).map(_.mutations).sum
    val work = Paths.get(ctx.workDir)
    def fresh(name: String): Path = Files.createDirectories(work.resolve(name))
    val sinkMs = new ConcurrentLinkedQueue[(Long, Double, Double)]()

    val t1 = Main.nowMs
    // warm-up: the same pipeline over the first segments, run to completion
    val warmWal = fresh("warm/wal")
    segs.take(warmSegments).foreach(append(warmWal, _))
    val wq = start(spark, warmWal.toString, work.resolve("warm/out").toString,
      work.resolve("warm/ckpt").toString, maxFiles, new ConcurrentLinkedQueue())
    awaitOffset(wq, warmSegments, 120)
    wq.stop()
    org.apache.spark.sql.graft.StateStoreHooks.unloadAll()

    val t2 = Main.nowMs
    val wal = fresh("wal")
    segs.take(nBacklog).foreach(append(wal, _))
    val out = work.resolve("out").toString
    ctx.tracer.foreach(_.attach())
    val queryStart = Main.nowMs
    val setupS = (queryStart - Main.jvmStartMs) / 1000.0
    val setupPhases = Seq("session_s" -> (t0 - Main.jvmStartMs) / 1000.0,
      "log_s" -> (t1 - t0) / 1000.0, "warmup_s" -> (t2 - t1) / 1000.0,
      "stage_s" -> (queryStart - t2) / 1000.0)
    val q = start(spark, wal.toString, out, work.resolve("ckpt").toString, maxFiles, sinkMs)
    val failures = mutable.ArrayBuffer.empty[Json.Obj]
    val sent = new ConcurrentLinkedQueue[Sent]()
    var tailEnd = Double.NaN
    try {
      if (!awaitOffset(q, nBacklog, 120)) sys.error("backlog not caught up in 120 s")
      // open loop: segment j is due when its last mutation is due at `rate`
      val tailStart = Main.nowMs
      val tailEndDue = tailStart + ctx.seconds * 1000.0
      @volatile var genError: Throwable = null
      val gen = new Thread(() => try {
        var cum = 0L
        segs.drop(nBacklog).iterator.map { s =>
          cum += s.mutations
          (s, tailStart + cum * 1000.0 / rate)
        }.takeWhile(_._2 <= tailEndDue).foreach { case (s, due) =>
          val wait = due - Main.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val a = Main.nowMs
          append(wal, s)
          sent.add(Sent(s.idx, due, a, Main.nowMs))
        }
      } catch { case e: Throwable => genError = e }, "cdc-generator")
      gen.start()
      gen.join()
      if (genError != null) throw genError
      tailEnd = Main.nowMs
      if (!awaitOffset(q, nBacklog + sent.size, 120)) sys.error("tail not consumed in 120 s")
    } catch { case e: Throwable => failures += Main.failure("cdc_tail", 0, e) }
    finally q.stop()
    ctx.tracer.foreach(_.detach())

    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    val caught = progress.find(p => Progress.endOffset(p) >= nBacklog)
    val catchupS = caught.map(p => (Progress.endMs(p) - queryStart) / 1000.0).getOrElse(Double.NaN)
    val tail = sent.asScala.toSeq.sortBy(_.idx)
    val lags = tail.flatMap { s =>
      progress.find(p => Progress.endOffset(p) > s.idx).map(p => Progress.endMs(p) - s.due)
    }
    failures ++= tail.filterNot(s => progress.exists(p => Progress.endOffset(p) > s.idx))
      .map(s => Json.obj("op" -> s"segment ${s.idx}", "pass" -> 0,
        "class" -> "NotConsumed", "message" -> "segment never covered by a micro-batch"))
    val stopped = Main.nowMs

    val endToEnd = Seq(
      "setup_s" -> setupS,
      "pass_s" -> catchupS,
      "op_p50_ms" -> Stats.pct(lags, 50))
    val late = tail.map(s => s.start - s.due)
    val sinks = sinkMs.asScala.toSeq
    val extra = Seq(
      "setup_phases" -> Json.Obj(setupPhases),
      "log_segments" -> segs.size,
      "tail_segments" -> tail.size,
      "backlog_segments" -> nBacklog,
      "backlog_mutations" -> backlogMut,
      "mutations" -> segs.map(_.mutations).sum,
      "rate_mut_per_s" -> rate,
      "max_files_per_trigger" -> maxFiles,
      "catchup_mut_per_s" -> backlogMut / catchupS,
      "lag_samples" -> lags.size,
      "lag_p90_ms" -> Stats.pct(lags, 90),
      "lag_p99_ms" -> Stats.pct(lags, 99),
      "gen_late_max_ms" -> (if (late.isEmpty) 0.0 else late.max),
      "drain_s" -> (stopped - tailEnd) / 1000.0,
      "micro_batches" -> progress.size)
    ctx.tracer match {
      case None =>
        Result(setupS, nBacklog + tail.size, failures.toSeq, endToEnd, Nil, extra, Nil, Nil)
      case Some(tr) =>
        val events = tr.progressEvents.filter(_.numInputRows > 0)
        val sinkOf = sinks.map(s => s._1 -> s).toMap
        val ops = events.map(p => Op(s"batch${p.batchId}", s"batch ${p.batchId}",
          Progress.startMs(p), Progress.startMs(p), Progress.endMs(p), Some(p.batchId)))
        val (engine, spans, rollup) = tr.summarize(ops, "streaming", op => {
          val p = events.find(_.batchId == op.batchId.get).get
          Progress.phases(p) ++ sinkOf.get(p.batchId).map(s => ("streaming", "sink write", s._2, s._3))
        })
        val layers = engine ++ Progress.layers(events, sinks.map(s => s._3 - s._2),
          tail.map(s => s.end - s.start), late) ++ Native.run(spark, ctx.opt("data")) ++ Seq(
            "trace.overhead_frac" -> tr.callbackMs / (stopped - queryStart),
            "trace.callback_ms" -> tr.callbackMs)
        Result(setupS, nBacklog + tail.size, failures.toSeq, endToEnd, layers, extra, spans, rollup)
    }
  }
}
