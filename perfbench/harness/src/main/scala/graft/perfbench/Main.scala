package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import Json.{Obj, obj}

/** Shared run context. Times are epoch milliseconds unless named. */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long, seconds: Double,
    tracer: Option[Tracer], workDir: String, opts: Map[String, String]) {
  def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
}

/** What a workload hands back to [[Main]] for the run record. */
final case class Result(setupS: Double, attempted: Int, failures: Seq[Obj],
    endToEnd: Seq[(String, Double)], layers: Seq[(String, Double)],
    extra: Seq[(String, Any)], spans: Seq[Span], rollup: Seq[(String, Double)])

object Main {
  def nowMs: Double = System.currentTimeMillis().toDouble
  val jvmStartMs: Double =
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def failure(op: String, pass: Int, e: Throwable): Obj = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    obj("op" -> op, "pass" -> pass, "class" -> e.getClass.getName,
      "message" -> Option(e.getMessage).getOrElse("").take(400),
      "root_class" -> root.getClass.getName)
  }

  def loadAvg(): Seq[Double] = try {
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").take(3).toSeq.map(_.toDouble)
  } catch { case _: Exception => Nil }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = try {
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
      .split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  } catch { case _: Exception => Double.NaN }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    opts.get("oracles") match {
      case Some(out) => dumpOracles(opts("ops").split(",").toSeq, out)
      case None => run(opts)
    }
  }

  /** Writes SparkEntry.oracleSql for `names` as one JSON object. */
  private def dumpOracles(names: Seq[String], out: String): Unit =
    Files.writeString(Paths.get(out),
      Json.write(Obj(names.map(n => n -> graft.SparkEntry.oracleSql(n)))))

  private def run(opts: Map[String, String]): Unit = {
    val loadBefore = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val traced = opts("trace") == "1"
    val ctx = Ctx(spark, cores, opts("seed").toLong, opts("seconds").toDouble,
      if (traced) Some(new Tracer(spark, cores)) else None, opts("work"), opts)
    val workload = opts("workload")
    val res = try {
      opts("kind") match {
        case "batch" => Batch.run(ctx, opts("ops").split(",").toSeq)
        case "cdc" => Cdc.run(ctx)
      }
    } catch { case e: Throwable =>
      e.printStackTrace()
      Result(Double.NaN, 1, Seq(failure(workload, -1, e)), Nil, Nil, Nil, Nil, Nil)
    }
    val spansFile = ctx.opts.get("spans").filter(_ => traced)
    spansFile.foreach { f =>
      val w = Files.newBufferedWriter(Paths.get(f))
      try res.spans.foreach { s =>
        w.write(Json.write(obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
        w.newLine()
      } finally w.close()
    }
    val record = obj(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> traced,
      "host" -> obj(
        "nproc" -> cores,
        "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadAvg(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "java_version" -> sys.props("java.version")),
      "setup_s" -> res.setupS,
      "run_s" -> (nowMs - jvmStartMs) / 1000.0,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> res.attempted,
      "failed" -> res.failures.size,
      "failures" -> res.failures,
      "end_to_end" -> Obj(res.endToEnd),
      "layers" -> Obj(res.layers),
      "rollup_self_ms" -> Obj(res.rollup),
      "spans_file" -> spansFile,
      "extra" -> Obj(res.extra))
    Files.writeString(Paths.get(opts("record")), Json.write(record))
    spark.stop()
  }
}
