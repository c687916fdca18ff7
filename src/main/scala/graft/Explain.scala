package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `.explain("formatted")` for named queries to
  * files. A streaming gate's function RUNS its stream and returns the
  * final batch frame, so for those the captured plan is the
  * post-stream read — stated in the file header so a reader isn't
  * misled.
  *
  * `<name>` may also be a loop-round probe: one unpinned round of an
  * iterative operator over the gated query's real input, the plan the
  * loop's per-round pin otherwise hides:
  *  - `q59_components_round`: one components relax round over the
  *    banded edges (q59/q74/q109/q112/q133/q181/q186);
  *  - `q450_pagerank_round`: one integer-PageRank round over the
  *    co-purchase adjacency (q94/q450/q455/q476/q477/q480);
  *  - `q478_beam_round`: one beam-search expansion over the pinned
  *    ANN index (q478).
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> <suffix> <name>...
  */
object Explain {
  private def roundProbes: Map[String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    import graft.operators.{Dedup, Relational, Similarity}
    Map(
      "q59_components_round" -> { (s, d) =>
        val edges = Dedup.minhashLsh(s, d)
        val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
          .union(edges.select(col("d2").as("v"), col("d1").as("u")))
        val labels = adj.select(col("v")).distinct()
          .withColumn("label", col("v"))
        Dedup.componentsRelaxRound(adj, labels, false)
      },
      "q450_pagerank_round" -> { (s, d) =>
        val adj = Relational.symEdges(Relational.copurchaseEdges(s, d))
        val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val base = deg.select(col("u").as("v"), lit(150000L).as("b"))
        Dedup.pageRankRound(adj.join(deg.hint("shuffle_hash"), "u"), base,
          base.select(col("v"), lit(1000000L).as("s")), Dedup.UnweightedShare)
      },
      "q478_beam_round" -> { (s, d) =>
        val (corpus, adj, byNode, queries) = Similarity.beamIndex(s, d, 64, 6)
        Similarity.beamRound(Similarity.beamEntry(corpus, queries, 4, 8),
          adj, byNode, queries, 8)
      })
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0); val out = args(1); val suffix = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { n =>
      val df = roundProbes.get(n)
        .map(f => f(spark, dir))
        .getOrElse(SparkEntry.queries(n)(spark, dir))
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, s"${n}_$suffix.txt"),
        (s"== $n @ $dir (explain formatted) ==\n" + txt).getBytes("UTF-8"))
      org.apache.spark.sql.graft.StateStoreHooks.unloadAll()
      println(s"[explain] wrote $n")
    }
    spark.stop()
  }
}
