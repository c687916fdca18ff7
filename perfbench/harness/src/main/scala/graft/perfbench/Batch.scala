package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop batch workload: one client runs a fixed list of
  * SparkEntry queries back to back, in a seed-permuted order per pass.
  *
  * The first untimed warm-up pass writes every result as parquet under
  * `<work>/results/<query>` for the correctness check against the
  * committed reference hashes; a second one runs the timed path. Timed
  * passes then use the noop sink, as `graft.Bench` does, until `seconds`
  * have passed (at least two passes). In the traced run, passes alternate traced and untraced so
  * the run measures its own tracing overhead. */
object Batch {
  private type Fn = (SparkSession, String) => DataFrame

  def run(ctx: Ctx, names: Seq[String]): Result = {
    val spark = ctx.spark
    val dir = ctx.opt("data")
    val failures = mutable.ArrayBuffer.empty[Json.Obj]
    var attempted = 0
    val entries = graft.SparkEntry.queries
    def lookup(n: String): Fn = entries.getOrElse(n,
      (_: SparkSession, _: String) => throw new NoSuchElementException(s"no query $n"))
    def unloadState(): Unit = org.apache.spark.sql.graft.StateStoreHooks.unloadAll()
    val warmStart = Main.nowMs

    new Random(ctx.seed).shuffle(names).foreach { n =>
      attempted += 1
      try lookup(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${ctx.workDir}/results/$n")
      catch { case e: Throwable => failures += Main.failure(n, -1, e) }
      unloadState()
    }
    // a second, noop-sink warm-up pass: the first timed pass otherwise
    // still runs ~10% slow while the JIT compiles the timed path
    new Random(ctx.seed + 1).shuffle(names).foreach { n =>
      try lookup(n)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      unloadState()
    }

    val setupS = (Main.nowMs - Main.jvmStartMs) / 1000.0
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val opMs = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val tracedOps = mutable.ArrayBuffer.empty[Op]
    var pass = 0
    while (pass < 2 || System.nanoTime() < deadline) {
      val traced = ctx.tracer.isDefined && pass % 2 == 0
      if (traced) ctx.tracer.get.attach()
      var passMs = 0.0
      new Random(ctx.seed * 7919 + pass + 1).shuffle(names).foreach { n =>
        System.gc()
        val key = s"$n#$pass"
        if (traced) spark.sparkContext.setJobGroup(key, n, interruptOnCancel = false)
        attempted += 1
        val t0 = Main.nowMs
        val n0 = System.nanoTime()
        var buildEnd = Double.NaN
        val ok = try {
          val df = lookup(n)(spark, dir)
          buildEnd = Main.nowMs
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable => failures += Main.failure(n, pass, e); false }
        val ms = (System.nanoTime() - n0) / 1e6
        if (traced) {
          spark.sparkContext.clearJobGroup()
          val end = t0 + ms
          tracedOps += Op(key, n, t0, if (buildEnd.isNaN) end else buildEnd, end)
        }
        if (ok) { opMs += ms; perOp(n) += ms }
        passMs += ms
        unloadState()
      }
      if (traced) ctx.tracer.get.detach()
      passS += traced -> passMs / 1000.0
      pass += 1
    }

    val untracedPass = passS.filterNot(_._1).map(_._2).toSeq
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(untracedPass),
      "op_p50_ms" -> Stats.pct(opMs.toSeq, 50))
    val extra = Seq(
      "setup_phases" -> Json.obj("session_s" -> (warmStart - Main.jvmStartMs) / 1000.0,
        "warmup_s" -> (setupS - (warmStart - Main.jvmStartMs) / 1000.0)),
      "passes" -> passS.size,
      "pass_s_all" -> passS.map(_._2),
      "op_samples" -> opMs.size,
      "op_p90_ms" -> Stats.pct(opMs.toSeq, 90),
      "op_ms" -> perOp.map { case (k, v) => k -> v.toSeq },
      "order_first_pass" -> new Random(ctx.seed * 7919 + 1).shuffle(names))
    ctx.tracer match {
      case None => Result(setupS, attempted, failures.toSeq, endToEnd, Nil, extra, Nil, Nil)
      case Some(tr) =>
        val (engine, spans, rollup) = tr.summarize(tracedOps.toSeq, "harness", op =>
          Seq(("operators", "build", op.start, op.buildEnd),
            ("engine", "action", op.buildEnd, op.end)))
        val tracedPass = passS.filter(_._1).map(_._2).toSeq
        val overhead = Stats.median(tracedPass) / Stats.median(untracedPass) - 1.0
        val layers = engine ++ Progress.layers(tr.progressEvents, Nil, Nil, Nil) ++
          Native.run(spark, dir) ++ Seq(
            "trace.overhead_frac" -> overhead,
            "trace.callback_ms" -> tr.callbackMs)
        Result(setupS, attempted, failures.toSeq, endToEnd, layers, extra, spans, rollup)
    }
  }
}
