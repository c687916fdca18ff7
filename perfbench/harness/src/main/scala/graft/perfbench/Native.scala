package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{LongArrayDot, MinHashMd5, SimHashMd5, WordShingles3}

/** Microbenchmark of graft's native Catalyst expressions: ns per row of
  * each expression over `documents` / `embeddings`, net of the same
  * projection without it. Inputs are replicated and pinned first so
  * only the projection is timed; each figure is the median of 3 reps. */
object Native {
  private val reps = 3
  private val copies = 8

  private def timeMs(df: DataFrame, c: Column): Double = {
    val t = System.nanoTime()
    df.select(c.as("x")).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e6
  }

  /** ns/row of `expr` net of `base`, both evaluated over pinned `df`. */
  private def nsPerRow(df: DataFrame, expr: Column, base: Column): Double = {
    val rows = df.count().toDouble
    timeMs(df, expr); timeMs(df, base)
    val diffs = (1 to reps).map(_ => timeMs(df, expr) - timeMs(df, base))
    math.max(0.0, Stats.median(diffs)) * 1e6 / rows
  }

  def run(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val cores = spark.sparkContext.defaultParallelism
    val docs = graft.Tables.documents(spark, dir)
      .select(explode(sequence(lit(1), lit(copies))).as("copy"), col("text"))
      .repartition(cores).localCheckpoint()
    val shingled = docs.select(WordShingles3.column(col("text")).as("sh"))
      .localCheckpoint()
    val vecs = graft.Tables.embeddings(spark, dir)
      .select(explode(sequence(lit(1), lit(copies))).as("copy"),
        transform(col("embedding"), x => (x * 1e6).cast("long")).as("v"))
      .repartition(cores).localCheckpoint()
    Seq(
      "native.minhash_ns_per_row" ->
        nsPerRow(shingled, MinHashMd5.column(col("sh"), 8), size(col("sh"))),
      "native.simhash_ns_per_row" ->
        nsPerRow(docs, SimHashMd5.column(col("text")), length(col("text"))),
      "native.shingles_ns_per_row" ->
        nsPerRow(docs, size(WordShingles3.column(col("text"))), length(col("text"))),
      "native.dot_ns_per_row" ->
        nsPerRow(vecs, LongArrayDot.column(col("v"), col("v")), size(col("v"))))
  }
}
