package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Core relational analytics (SURVEY §2.A).
  *
  * Design notes for 100 TB scale:
  *  - dims (region/nation/supplier/part) are broadcast — no shuffle of
  *    the fact side for star joins;
  *  - fact→fact joins pre-aggregate before joining where possible so
  *    the shuffle moves aggregated rows, not raw lineitems;
  *  - all money aggregates are rounded to 2 decimals (oracle-parity
  *    policy, SURVEY §5) and every computed column is aliased.
  */
object Relational {

  /** q01: TPC-H Q1-style pricing summary — groupBy + sum/avg/count with
    * map-side partial aggregation; the whole plan is one scan + one
    * shuffle of ~|groups| rows. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** q02: revenue per order, top 10 — aggregate lineitem FIRST, then
    * join the (small) aggregate to orders; deterministic tiebreak. */
  def topRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    rev.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q03: TPC-H Q3-style shipping-priority revenue for one segment. */
  def segmentRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  /** q04: star-schema revenue per region/nation — region+nation are
    * broadcast; only customer⋈orders⋈lineitem shuffle on their keys. */
  def regionSales(s: SparkSession, dir: String): DataFrame = {
    val geo = broadcast(
      Tables.nation(s, dir).join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey")))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(geo, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q05: TPC-H Q4-style order-priority count via EXISTS (left-semi). */
  def orderPriority(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** q06: TPC-H Q6-style selective scan + agg — the filters reach the
    * parquet scan as PushedFilters; single-row result. */
  def selectiveSum(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .filter(col("l_discount").between(0.05, 0.07))
      .filter(col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
  }

  /** q07: top-3 orders per customer — window row_number; at scale this
    * is a single shuffle on o_custkey (no join needed). */
  def custTopOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("long").as("rn"))
  }

  /** q08: distinct counts per group (partial-agg friendly). */
  def segmentDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
  }

  /** q09: anti join — customers with no high-value order. */
  def idleCustomers(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
    Tables.customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** q10: ROLLUP grouping sets over returnflag × linestatus. */
  def rollupSales(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("n"))
  }

  /** q33: CUBE grouping sets over order status × priority. */
  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))

  /** q35: suppliers vs their nation's average balance. The naive
    * window (`avg OVER (PARTITION BY n_name)`) would land every
    * supplier of a nation on ONE task — 25 partitions however large
    * the table — so the per-nation average is a map-side-combined
    * 25-row aggregate broadcast back instead: no supplier row ever
    * shuffles. */
  def supplierBalance(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
    val avgs = sup.groupBy(col("n_name"))
      .agg(round(avg(col("s_acctbal")), 4).as("nation_avg"))
    sup.join(broadcast(avgs), "n_name")
      .filter(col("s_acctbal") > col("nation_avg"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("s_acctbal"), col("nation_avg"))
  }

  /** q39: value histogram — integer binning of order totals. */
  def orderHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy((floor(col("o_totalprice") / 50000.0) * 50000.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))

  /** q40: exact median order value per segment — deterministic
    * rank-selection (the middle one/two values averaged) so both
    * engines compute the identical result, ranked by
    * [[twoPhaseRank]] (price-aligned bins) so no task ever sorts a
    * whole segment — the 5-partition window this used to be is the
    * q246-class scale hazard. */
  def medianOrder(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
    twoPhaseRank(joined, col("c_mktsegment"),
      floor(col("o_totalprice") / 500.0).cast("long"),
      Seq(col("o_totalprice"), col("o_orderkey")), "rn", "cnt")
      .filter(col("rn") === expr("(cnt + 1) div 2") || col("rn") === expr("(cnt + 2) div 2"))
      .groupBy(col("c_mktsegment"))
      .agg(round(avg(col("o_totalprice")), 4).as("median_price"))
  }

  /** q67: exact per-group quartiles (generalizes q40's median) —
    * rank-selection formulation: the value at rank ⌈q·cnt⌉ per
    * quantile, deterministic in both engines. Ranks via
    * [[twoPhaseRank]] (no whole-segment sort on one task);
    * conditional-min assembly, no approx sketch. */
  def groupQuartiles(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
    twoPhaseRank(joined, col("c_mktsegment"),
      floor(col("o_totalprice") / 500.0).cast("long"),
      Seq(col("o_totalprice"), col("o_orderkey")), "rn", "cnt")
      .groupBy(col("c_mktsegment"))
      .agg(
        min(when(col("rn") === ceil(col("cnt") * 0.25), col("o_totalprice"))).as("p25"),
        min(when(col("rn") === ceil(col("cnt") * 0.50), col("o_totalprice"))).as("p50"),
        min(when(col("rn") === ceil(col("cnt") * 0.75), col("o_totalprice"))).as("p75"))
  }

  /** q41: set operators — customers ordering in both 1996 and 1997
    * (INTERSECT) vs only in 1996 (EXCEPT). */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    def custs(year: Int) = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(f"$year-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit(f"${year + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val both = custs(1996).intersect(custs(1997)).withColumn("tag", lit("both"))
    val only96 = custs(1996).except(custs(1997)).withColumn("tag", lit("only_1996"))
    both.unionAll(only96)
  }

  /** q45: correlated scalar subquery — each customer's max order vs
    * their balance (Catalyst decorrelates to an aggregate + join). */
  def maxOrderVsBalance(s: SparkSession, dir: String): DataFrame = {
    val maxOrd = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(max(col("o_totalprice")).as("max_order"))
    Tables.customer(s, dir)
      .join(maxOrd, col("c_custkey") === col("o_custkey"))
      .filter(col("max_order") > col("c_acctbal") * 20.0)
      .select(col("c_custkey"), col("c_acctbal"), col("max_order"))
  }

  /** q11: top-2 parts per type by retail price (rank-per-group).
    * NOT a per-type rank window — ~150 p_type values would sort
    * |parts|/150 rows per task at scale; TopKAgg keeps a bounded
    * 2-element buffer per (map partition × type) so the shuffle
    * carries ≤ 2·partitions·|types| rows, then the ≤ 2·|types|-row
    * winner set broadcasts back to pick up p_brand (parts stream,
    * nothing shuffles). */
  def partTypeTopK(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
    val top = part.groupBy(col("p_type"))
      .agg(graft.functions.TopK.topk(2)(col("p_partkey"), col("p_retailprice"))
        .as("top"))
      .select(col("p_type"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("p_type"), col("t.id").as("p_partkey"),
        col("t.score").as("p_retailprice"),
        (col("pos") + 1).cast("long").as("rn"))
    part.select(col("p_partkey"), col("p_brand"))
      .join(broadcast(top), "p_partkey")
      .select(col("p_type"), col("p_partkey"), col("p_brand"),
        col("p_retailprice"), col("rn"))
  }

  /** q108: one-pass Pearson correlation profile over the lineitem
    * numeric columns — the column-profiling step a data-quality
    * dashboard runs before training (a discount column suddenly
    * correlating with quantity flags an upstream join bug).
    *
    * Scale shape: ONE aggregation pass computes every Σx, Σx², Σxy
    * as exact integers (columns quantized to cents — the q64/quantCte
    * round()*100 pattern, summed as decimal so 10¹⁰-row corpora
    * can't overflow); r is then pure scalar arithmetic on the one
    * result row. Never a per-pair pass, never a sort — adding a
    * column adds map-side sums, not jobs. Parity: integer sums are
    * partitioning-independent, and both engines cast the same exact
    * integers to double before the same IEEE formula. */
  def corrProfile(s: SparkSession, dir: String): DataFrame = {
    def cents(c: Column) = round(c * 100).cast("decimal(38,0)")
    val base = Tables.lineitem(s, dir).select(
      floor(col("l_quantity")).cast("decimal(38,0)").as("a"), // integral qty
      cents(col("l_extendedprice")).as("b"),
      cents(col("l_discount")).as("c"))
    val g = base.agg(
      count(lit(1)).as("n"),
      sum(col("a")).as("sa"), sum(col("b")).as("sb"), sum(col("c")).as("sc"),
      sum(col("a") * col("a")).as("saa"), sum(col("b") * col("b")).as("sbb"),
      sum(col("c") * col("c")).as("scc"),
      sum(col("a") * col("b")).as("sab"), sum(col("a") * col("c")).as("sac"),
      sum(col("b") * col("c")).as("sbc"))
    def r(sx: String, sy: String, sxx: String, syy: String, sxy: String) = {
      val n = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      round((n * d(sxy) - d(sx) * d(sy))
        / (sqrt(n * d(sxx) - d(sx) * d(sx)) * sqrt(n * d(syy) - d(sy) * d(sy))), 4)
    }
    g.select(col("n"), explode(array(
        struct(lit("quantity").as("x_col"), lit("price").as("y_col"),
          r("sa", "sb", "saa", "sbb", "sab").as("r")),
        struct(lit("quantity").as("x_col"), lit("discount").as("y_col"),
          r("sa", "sc", "saa", "scc", "sac").as("r")),
        struct(lit("price").as("x_col"), lit("discount").as("y_col"),
          r("sb", "sc", "sbb", "scc", "sbc").as("r")))).as("p"))
      .select(col("p.x_col"), col("p.y_col"), col("n"), col("p.r").as("r"))
  }

  /** q128: GROUP-WISE least-squares fit — price-on-quantity OLS per
    * customer market segment (does the price curve differ by
    * segment?). The q108 exact-integer-moment pattern made
    * per-group: one aggregation computes n, Σx, Σy, Σx², Σy², Σxy
    * per segment as exact decimal-38 integer sums (the star join to
    * reach the segment is q03's broadcast-dim shape), then slope /
    * intercept / r² are scalar IEEE arithmetic on the 5 result rows.
    * A regression per group costs map-side sums, not a per-group
    * pass — the profiling shape that survives 10¹⁰ rows. */
  def groupRegression(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        floor(col("l_quantity")).cast("decimal(38,0)").as("x"),
        round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("y"))
    val g = base.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covn = n * d("sxy") - d("sx") * d("sy") // n²·cov
    val varxn = n * d("sxx") - d("sx") * d("sx") // n²·var(x)
    val varyn = n * d("syy") - d("sy") * d("sy")
    val slope = covn / varxn
    g.select(col("c_mktsegment"), col("n"),
      round(slope, 4).as("slope_cents_per_unit"),
      round((d("sy") - slope * d("sx")) / n, 4).as("intercept_cents"),
      round(covn * covn / (varxn * varyn), 4).as("r2"))
  }

  /** q141: MARKET-BASKET co-occurrence + lift — part pairs bought in
    * the same order, with lift = P(a,b)/(P(a)·P(b)) flagging genuine
    * association vs popularity (the item-item co-occurrence shape
    * behind recommenders and assortment analytics). The scale
    * argument is the bounded basket: the per-order self-join fans
    * out C(k,2) per order where k is the basket size (≤ ~7 here, and
    * capped in any real catalog), so candidate volume is
    * Θ(orders·k²) — linear in orders, never parts². Frequencies and
    * the order total are exact integer counts; lift is one IEEE
    * expression both engines replay. Pairs below `minPairs` are cut
    * (noise and output-size control — the support threshold every
    * association miner has). */
  def basketPairs(s: SparkSession, dir: String, minPairs: Long = 2L): DataFrame =
    basketPairsOf(Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct(), minPairs)

  /** q141 core over an arbitrary distinct (l_orderkey, l_partkey)
    * frame — shared with ScaleProbe so the probe measures exactly
    * the gated plan on expanded corpora. */
  private[graft] def basketPairsOf(items: DataFrame, minPairs: Long): DataFrame = {
    val freq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
    val total = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairs)
    pairs
      .join(freq.toDF("part_a", "fa").hint("shuffle_hash"), "part_a")
      .join(freq.toDF("part_b", "fb").hint("shuffle_hash"), "part_b")
      .crossJoin(total) // single-row scalar frame
      .select(col("part_a"), col("part_b"), col("n_pairs"),
        round(col("n_pairs").cast("double") * col("n_orders")
          / (col("fa") * col("fb")).cast("double"), 4).as("lift"))
  }

  /** q256: CO-PURCHASE TOP-K — q141's association rules turned into
    * the item-item SERVING TABLE a recommender actually reads ("the
    * 3 best partners for part X"): pair lift recomputed as EXACT
    * integer micro (n_pairs·n_orders·10⁶ div (fa·fb), Decimal(38,0)
    * products — double lift would tie-break on float noise), edges
    * symmetrized, and the per-part top-k selected by the bounded
    * TopK aggregator — the shuffle carries ≤ k rows per (partition ×
    * part), never a window sort of the full pair table (q11's rank
    * window is the shape this replaces at serving scale).
    * Deterministic total order: lift desc, partner id asc. Output:
    * (part, rank, partner, lift_micro). */
  /** q356: LINK PREDICTION on the co-purchase graph (round-11) —
    * the classic neighbor-Jaccard predictor (Liben-Nowell &
    * Kleinberg) pointed at the recommender's question q141/q256
    * cannot answer: which part pairs have NEVER co-occurred in an
    * order yet share many co-purchase partners — the cross-sell
    * candidates an "also bought" widget should trial next. (The
    * near-dup doc graph is the wrong substrate here: its clusters
    * are cliques — every 2-hop pair is already an edge — so the
    * non-edge candidate set is empty by construction; the
    * co-purchase graph is sparse and wedge-rich.) score =
    * |N(a)∩N(b)| / |N(a)∪N(b)| in exact integer ppm over the q141
    * edge set (pairs with ≥ minPairs shared orders). Shapes: the
    * bounded per-order pair fan-out, wedge join bounded by Σ deg²
    * (q129's triangle budget), an anti-join against the edges, two
    * degree joins, bounded TakeOrdered top-k. Never all-pairs:
    * candidates only exist at distance 2. */
  def linkPrediction(s: SparkSession, dir: String,
      minPairs: Long = 2L, k: Int = 20): DataFrame =
    linkPredictionOf(Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct(), minPairs, k)

  /** q356 core over an arbitrary distinct (l_orderkey, l_partkey)
    * frame — shared with ScaleProbe so the probe measures exactly
    * the gated wedge-join plan on expanded corpora. */
  private[graft] def linkPredictionOf(items: DataFrame, minPairs: Long,
      k: Int): DataFrame = {
    // r18 (guide §1.2): pin `edges` — consumed by both adjacency
    // directions and the final anti-join; un-pinned, the basket
    // self-join + pair agg (the expensive pass) ran three times.
    val edges = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("d1"), col("b.l_partkey").as("d2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minPairs)
      .select(col("d1"), col("d2"))
      .localCheckpoint()
    val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
      .union(edges.select(col("d2").as("v"), col("d1").as("u")))
      .localCheckpoint() // edge pairs are distinct by construction
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = adj.toDF("m", "v")
      .join(adj.toDF("m", "u").hint("shuffle_hash"), "m")
      .filter(col("v") < col("u"))
      .groupBy(col("v"), col("u")).agg(count(lit(1)).as("common"))
    wedges.join(edges.toDF("v", "u"), Seq("v", "u"), "left_anti")
      .join(deg.toDF("v", "deg_v").hint("shuffle_hash"), "v")
      .join(deg.toDF("u", "deg_u").hint("shuffle_hash"), "u")
      .withColumn("jacc_ppm",
        expr("common * 1000000 div (deg_v + deg_u - common)"))
      .select(col("v").as("part_a"), col("u").as("part_b"), col("common"),
        col("deg_v"), col("deg_u"), col("jacc_ppm"))
      .orderBy(col("jacc_ppm").desc, col("part_a"), col("part_b")).limit(k)
  }

  /** q421: ADAMIC–ADAR link prediction (Adamic & Adar 2003,
    * "Friends and neighbors on the Web") — q356's common-neighbor
    * Jaccard treats every shared neighbor equally; Adamic–Adar
    * weights each by its RARITY, Σ_m 1/ln(deg m): a shared neighbor
    * that co-occurs with everything (the hub part in every order)
    * carries almost no evidence, a rare shared neighbor carries a
    * lot — the standard fix for hub-dominated co-occurrence graphs.
    * Determinism: the per-NEIGHBOR weight is one fixed IEEE
    * expression micro-rounded ONCE on the bounded degree frame
    * (deg ≥ 2 for any wedge center, so ln > 0), and per-pair scores
    * are exact INTEGER sums of those micro weights — order-free (the
    * q361 discipline). Same wedge-join shapes as q356: never
    * vertex × vertex. */
  def adamicAdar(s: SparkSession, dir: String, minPairs: Long = 2L,
      k: Int = 20): DataFrame = {
    // r18 (guide §1.2): pin `items` (self-joined — the distinct
    // lineitem scan otherwise runs twice) and `edges` (consumed by
    // BOTH adjacency directions and the final anti-join — the
    // basket self-join + pair agg otherwise ran three times).
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val edges = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("d1"), col("b.l_partkey").as("d2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minPairs)
      .select(col("d1"), col("d2"))
      .localCheckpoint()
    val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
      .union(edges.select(col("d2").as("v"), col("d1").as("u")))
      .localCheckpoint()
    // only deg ≥ 2 vertices can be wedge centers (one adjacency row
    // can't pair with itself), so the filter is semantics-neutral —
    // and it keeps ln(1) = 0 out of the weight division entirely
    val degW = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .withColumn("w_micro",
        round(lit(1e6) / log(col("deg").cast("double"))).cast("long"))
    val wedges = adj.toDF("m", "v")
      .join(adj.toDF("m", "u").hint("shuffle_hash"), "m")
      .filter(col("v") < col("u"))
      .join(degW.select(col("v").as("m"), col("w_micro"))
        .hint("shuffle_hash"), "m")
      .groupBy(col("v"), col("u"))
      .agg(count(lit(1)).as("common"), sum(col("w_micro")).as("aa_micro"))
    wedges.join(edges.toDF("v", "u"), Seq("v", "u"), "left_anti")
      .select(col("v").as("part_a"), col("u").as("part_b"),
        col("common"), col("aa_micro"))
      .orderBy(col("aa_micro").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** q438: SIMPSON'S-PARADOX AUDIT on discount vs quantity by brand
    * (Simpson 1951; the aggregation-reversal every pooled dashboard
    * metric risks) — q128 fits per-group slopes; this asks the
    * governance question about the POOLED number: does the
    * discount→quantity association reverse sign inside any brand
    * stratum? A pooled metric that contradicts every stratum is the
    * textbook trap confounded corpus dashboards fall into. Entirely
    * EXACT: association signs come from the covariance NUMERATOR
    * n·Σxy − Σx·Σy (sign(cov) = sign of that integer — no division,
    * no float, no sqrt), per brand and pooled; the pooled moments
    * are the SUMS of the per-brand moments, so the corpus is
    * scanned once, collapsed to |brands| moment rows map-side, and
    * everything downstream rides the bounded frame. Moment products
    * on DECIMAL(38,0) (Σx·Σy wraps BIGINT at ~10⁵ rows of cents —
    * immediately, not at corpus scale). Discount enters as exact
    * integer cents, quantity as exact units. */
  def simpsonAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_partkey"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("x"),
        expr("CAST(l_quantity AS BIGINT)").as("y"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        "l_partkey")
    val grp = li.groupBy(col("p_brand")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .withColumn("cov_num", expr(
        """CAST(CAST(n AS DECIMAL(38,0)) * sxy
          | - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))"""
          .stripMargin))
      .localCheckpoint() // bounded: |brands| rows
    val pooled = grp.agg(sum(col("n")).as("pn"),
        sum(col("sx")).as("psx"), sum(col("sy")).as("psy"),
        sum(col("sxy")).as("psxy"))
      .select(expr(
        """CAST(sign(CAST(pn AS DECIMAL(38,0)) * psxy
          | - CAST(psx AS DECIMAL(38,0)) * psy) AS BIGINT)"""
          .stripMargin).as("pooled_sign"))
    grp.crossJoin(broadcast(pooled))
      // cov_num decimal internally, BIGINT on the report row (the
      // round-14 decimal-output lesson — driver hash diverges on
      // decimal representation)
      .select(col("p_brand"), col("n"),
        col("cov_num").cast("long").as("cov_num"),
        expr("CAST(sign(cov_num) AS BIGINT)").as("brand_sign"),
        col("pooled_sign"),
        expr("CAST(sign(cov_num) AS BIGINT) * pooled_sign < 0")
          .as("reversed"))
  }

  /** q449: THEIL-T INEQUALITY DECOMPOSITION of supplier revenue by
    * nation (Theil 1967; decomposition per Shorrocks 1980) — the
    * inequality number q246's Gini cannot give: Theil's T is
    * additively DECOMPOSABLE, T = T_between + Σ shareᵍ·T_withinᵍ,
    * so "is revenue concentration a within-nation or between-nation
    * phenomenon?" gets an exact answer — the question a sourcing
    * strategy (or a per-source corpus-balance audit) actually asks.
    * Facts pre-aggregate to supplier grain (one shuffle on
    * l_suppkey), the nation dim broadcasts, and both index layers
    * are the q361 log discipline: ONE micro-rounded ln per row of a
    * frame (per supplier for the within terms, per nation for the
    * between terms), exact DECIMAL(38,0) cent-weighted sums, one
    * integer division per reported number. Zero-revenue suppliers
    * honestly drop (ln 0; x·ln x → 0 mass anyway). |nations| rows:
    * n, revenue, share_ppm, t_within_micro, between_contrib_micro. */
  def theilDecomposition(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("x"))
      .filter(col("x") > 0)
      .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
          .join(Tables.nation(s, dir)
              .select(col("n_nationkey").as("s_nationkey"),
                col("n_name")),
            "s_nationkey")),
        "l_suppkey")
    val grp = sup.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
      .localCheckpoint() // bounded: |nations|
    val tot = grp.agg(sum(col("n_g")).as("n_all"),
      sum(col("s_g")).as("s_all"))
    val within = sup.join(broadcast(grp), "n_name")
      .select(col("n_name"), col("s_g"),
        expr("""CAST(x AS DECIMAL(38,0)) * CAST(round(ln(
          |  CAST(x * n_g AS DOUBLE) / s_g) * 1e6) AS BIGINT)"""
          .stripMargin).as("c"))
      .groupBy(col("n_name"))
      .agg(expr("CAST(sum(c) div max(s_g) AS BIGINT)")
        .as("t_within_micro"))
    grp.crossJoin(broadcast(tot))
      .join(broadcast(within), "n_name")
      .select(col("n_name"), col("n_g"), col("s_g"),
        expr("CAST(CAST(s_g AS DECIMAL(38,0)) * 1000000 div s_all" +
          " AS BIGINT)").as("share_ppm"),
        col("t_within_micro"),
        expr("""CAST(CAST(s_g AS DECIMAL(38,0)) * CAST(round(ln(
          |  (CAST(s_g AS DOUBLE) * n_all) / (CAST(s_all AS DOUBLE)
          |   * n_g)) * 1e6) AS BIGINT) div s_all AS BIGINT)"""
          .stripMargin).as("between_contrib_micro"))
  }


  /** q468: LORENZ CURVE DECILES of customer revenue (Lorenz 1905) —
    * the CURVE behind q246's Gini number: Gini compresses inequality
    * to one scalar; the ten (decile, cumulative-share) points say
    * WHERE the mass sits ("the top decile carries X%") — the shape a
    * sourcing/quota decision actually reads. Customer revenue rolls
    * up once (shuffle on custkey), ranks ride
    * [[twoPhaseRank]] (bounded $10k-bin histogram + within-bin
    * row_number — no task ever sorts the customer dimension), decile
    * = ⌊(rank−1)·10/n⌋, and the cumulative share runs over the
    * BOUNDED 10-row decile frame. Exact DECIMAL(38,0) cent sums
    * INTERNAL, ppm out; (cents, custkey) total order both engines
    * replay. */
  def lorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val ranked = twoPhaseRank(cust, lit(1), expr("cents div 1000000"),
      Seq(col("cents"), col("o_custkey")), "rk", "n_cust")
    val dec = ranked
      .groupBy(expr("(rk - 1) * 10 div n_cust").as("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
    val tot = dec.agg(sum(col("cents")).as("total_cents"))
    dec.crossJoin(broadcast(tot))
      .withColumn("cum_cents",
        sum(col("cents")).over(Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_customers"), col("cents"),
        expr("""CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000
          | div total_cents AS BIGINT)""".stripMargin)
          .as("cum_share_ppm"))
  }

  /** The co-purchase EDGE set shared by q450/q455: distinct part
    * pairs sharing ≥ minPairs orders (the q141 candidate frame
    * without its lift tail — the graph substrate, one bounded
    * per-order pair fan-out + one agg). */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String,
      minPairs: Long = 2L): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairs)
      .select(col("pa"), col("pb"))
  }

  /** q450: PAGERANK ON THE CO-PURCHASE GRAPH — the GLOBAL
    * centrality the q141/q256/q356/q421 family lacked: lift and
    * Adamic–Adar score PAIRS; PageRank scores each PART by how
    * central it sits in the whole co-purchase structure — the
    * "which items anchor the catalog" ranking an assortment planner
    * (or, on the doc/source graph, a curation pipeline ranking
    * domains by link authority) reads. Runs the q94 integer core
    * ([[Dedup.pageRankOf]]): edges from the q141 frame (distinct
    * pairs, ≥ 2 shared orders) symmetrized, ppm-scaled long scores,
    * share = s div deg, damping (850·Σ) div 1000, 5 fixed rounds of
    * shuffle-hash join + map-side-combinable sum, localCheckpoint
    * per round — bit-identical on any engine and partitioning; the
    * oracle replays the rounds as unrolled CTEs. */
  def copurchasePageRank(s: SparkSession, dir: String,
      iters: Int = 5): DataFrame = {
    val edges = copurchaseEdges(s, dir)
    val adj = edges.select(col("pa").as("v"), col("pb").as("u"))
      .union(edges.select(col("pb").as("v"), col("pa").as("u")))
    Dedup.pageRankOf(adj, iters)
      .select(col("v").as("part"), col("s").as("score_scaled"))
  }

  /** q455: PERSONALIZED PAGERANK from a seed brand (Jeh & Widom
    * 2003) — the q450 ranking RE-ROOTED: teleport mass lands only on
    * the seed vertices (here one brand's parts), so scores measure
    * proximity TO THE SEEDS through the co-purchase structure — the
    * "expand from trusted items" primitive (on the doc graph: expand
    * a curated allowlist by link proximity — the seed-expansion move
    * crawl curation actually uses). Same integer core as q450 with
    * the seeded teleport: init 10⁶ on seeds / 0 elsewhere, per-round
    * base 150000 on seeds only. Zero-scored vertices (unreached in
    * `iters` hops) are emitted honestly. */
  def personalizedPageRank(s: SparkSession, dir: String,
      brand: String = "Brand#4", iters: Int = 5): DataFrame = {
    val edges = copurchaseEdges(s, dir)
    val adj = edges.select(col("pa").as("v"), col("pb").as("u"))
      .union(edges.select(col("pb").as("v"), col("pa").as("u")))
    val seeds = Tables.part(s, dir).filter(col("p_brand") === brand)
      .select(col("p_partkey"))
    Dedup.pageRankOf(adj, iters, seeds = Some(seeds))
      .select(col("v").as("part"), col("s").as("score_scaled"))
  }

  /** q476: INCREMENTAL PAGERANK DELTA MAINTENANCE — the operational
    * answer to "q450 recomputes 5 full rounds from scratch" at 100
    * TB with daily edge deltas: given yesterday's graph (the
    * co-purchase edges MINUS a deterministic ~5% delta slice),
    * yesterday's per-round score frames ([[Dedup.pageRankHistory]]
    * — the O(V·iters) state a daily job retains), and today's
    * delta, recompute ONLY vertices reachable from delta-touched
    * vertices within the fixed round budget (the q324 BFS-delta
    * frontier treatment applied to the q450 core):
    *
    *  - T₀ = delta-edge endpoints (the only vertices whose degree
    *    or incident edges changed);
    *  - Tᵣ = Tᵣ₋₁ ∪ neighbors(Tᵣ₋₁) in the NEW graph;
    *  - round r recomputes scores for Tᵣ only, reading each
    *    in-neighbor u's round-(r−1) score from the NEW run if
    *    u ∈ Tᵣ₋₁ else from yesterday's round-(r−1) frame — valid
    *    because u ∉ Tᵣ₋₁ means u's (r−1)-hop in-neighborhood holds
    *    no delta edge, so its old and new round-(r−1) scores are
    *    IDENTICAL integers (exact arithmetic, fixed rounds);
    *  - final = yesterday's round-`iters` frame outside T_iters ∪
    *    the recomputed scores on it.
    *
    * Per-round work is O(edges into Tᵣ), not O(E) — on a 100 TB
    * graph with a small daily delta the frontier stays a small
    * neighborhood. The GATE is the whole point: the output must
    * equal the FULL q450 recompute on today's graph — the oracle is
    * q450's unrolled-CTE replay verbatim, so DuckDB proves
    * incremental ≡ full on every row. */
  def incrementalPageRank(s: SparkSession, dir: String,
      iters: Int = 5): DataFrame = {
    val edges = copurchaseEdges(s, dir).localCheckpoint()
    incrementalPageRankOf(edges,
      (col("pa") * 31 + col("pb")) % 20 === 0, iters)
      .select(col("v").as("part"), col("s").as("score_scaled"))
  }

  /** The splice core over an arbitrary (pa, pb) edge frame and a
    * delta predicate — factored so Round16Spec can pin delta-run ≡
    * full-run on constructed graphs and verify the frontier is a
    * proper subset of the vertex set (the incremental path really
    * skips work). Old graph = edges where !isDelta; new graph = all
    * edges (delta-as-additions — the daily-append shape). */
  private[graft] def incrementalPageRankOf(edges: DataFrame,
      isDelta: Column, iters: Int): DataFrame = {
    val adjNew = symEdges(edges).localCheckpoint()
    val hist = Dedup.pageRankHistory(symEdges(edges.filter(!isDelta)), iters)
    val delta = edges.filter(isDelta)
    val deltaVerts = delta.select(col("pa").as("v"))
      .union(delta.select(col("pb").as("v")))
    spliceRounds(hist, adjNew, deltaVerts, iters).last
  }

  /** Symmetrize an undirected (pa, pb) edge frame into the (v, u)
    * adjacency the PageRank cores consume. */
  private[graft] def symEdges(e: DataFrame): DataFrame =
    e.select(col("pa").as("v"), col("pb").as("u"))
      .union(e.select(col("pb").as("v"), col("pa").as("u")))

  /** The q476 SPLICE LOOP, returning EVERY round's full spliced
    * frame, index 0..iters (q480's streaming twin stores the
    * per-round frames between batches). Frame r is hist(r) outside
    * the round-r frontier ∪ the recomputed scores on it, composed
    * lazily over the pinned per-round scores, so a caller that only
    * forces `.last` (q476) computes one blend. VALIDITY has one extra
    * useful fixed point: when `hist` is already the per-round history
    * of the FULL adjacency (a replayed delta whose edges are all
    * present), the blend recomputes identical scores on the frontier
    * and the output equals `hist` — which is what makes q480's
    * checkpoint-replayed batches idempotent. */
  private[graft] def spliceRounds(hist: Seq[DataFrame], adjNew: DataFrame,
      deltaVerts: DataFrame, iters: Int): Seq[DataFrame] = {
    val degNew = adjNew.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // The degree is joined onto the adjacency once and partitioned by
    // v: the frontier left_semi (the round's first join, which prunes
    // to O(edges-into-frontier)) then elides the adjacency exchange;
    // the u-keyed score join downstream runs on the pruned frame only.
    val adjDeg = adjNew.join(degNew.hint("shuffle_hash"), "u")
      .select(col("v"), col("u"), col("deg"))
      .repartition(col("v")).localCheckpoint()
    // State (v, s): new scores on the touched set. Round-0 scores are
    // 10⁶ everywhere on BOTH runs, so the state starts as the uniform
    // init on the delta endpoints.
    val states = GraphLoop.iterate("spliceRounds", iters,
        sizeBy = Some(adjNew.sparkSession -> adjDeg.count()),
        history = true)(
        deltaVerts.distinct().select(col("v"), lit(1000000L).as("s"))) {
      (st, r) =>
        val touched = st.select(col("v"))
        val grown = touched.union(
            adjDeg.join(touched.withColumnRenamed("v", "u")
                .hint("shuffle_hash"), "u")
              .select(col("v")))
          .distinct()
        Dedup.pageRankRound(
          adjDeg.join(grown.hint("shuffle_hash"), Seq("v"), "left_semi"),
          grown.withColumn("b", lit(150000L)),
          blend(hist(r - 1), st),
          Dedup.UnweightedShare)
    }
    hist.zip(states).map { case (h, st) => blend(h, st) }
  }

  /** `scores` on its own vertices, `hist` everywhere else. */
  private def blend(hist: DataFrame, scores: DataFrame): DataFrame =
    hist.join(scores.select(col("v")).hint("shuffle_hash"), Seq("v"), "left_anti")
      .unionByName(scores)

  /** q477: WEIGHTED PAGERANK on the co-purchase graph — q450's
    * centrality with edges weighted by ASSOCIATION STRENGTH instead
    * of mere adjacency: edge weight = the exact integer lift
    * (n_pairs·n_orders·10⁶ div (fa·fb), the q256 serving-table
    * number), so rank mass flows preferentially along high-lift
    * co-purchase links — curation ranking by how strongly items
    * travel together, not just that they ever did. Runs
    * [[Dedup.weightedPageRankOf]]: share = (s·w) div Σw on
    * DECIMAL(38,0) internal, same base/damping/rounds as q450,
    * bit-identical on any partitioning; the oracle replays the
    * weighted rounds as unrolled CTEs (HUGEINT internal). */
  def weightedPageRank(s: SparkSession, dir: String,
      iters: Int = 5): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val freq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
    val total = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val weighted = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= 2L)
      .join(freq.toDF("pa", "fa").hint("shuffle_hash"), "pa")
      .join(freq.toDF("pb", "fb").hint("shuffle_hash"), "pb")
      .crossJoin(total)
      .select(col("pa"), col("pb"), expr(
        """CAST(CAST(n_pairs AS DECIMAL(38,0)) * n_orders * 1000000
          | div (CAST(fa AS DECIMAL(38,0)) * fb) AS BIGINT)"""
          .stripMargin).as("w"))
    val adj = weighted.select(col("pa").as("v"), col("pb").as("u"), col("w"))
      .union(weighted.select(col("pb").as("v"), col("pa").as("u"), col("w")))
    Dedup.weightedPageRankOf(adj, iters)
      .select(col("v").as("part"), col("s").as("score_scaled"))
  }

  /** q479: CO-PURCHASE COMMUNITIES (round-17, VERDICT Next #5) —
    * one-level modularity communities over the q450 co-purchase
    * graph ([[Dedup.louvainOneLevelOf]]): the "which items form a
    * shopping neighborhood" partition an assortment planner reads
    * next to q450's centrality (on the doc/source graph: topic/
    * domain clusters for curation). 4 synchronous integer-gain move
    * rounds; the oracle replays every round as unrolled CTEs (the
    * q450 template), so community membership, sizes, internal edge
    * counts and the integer modularity numerators match exactly. */
  def copurchaseCommunities(s: SparkSession, dir: String,
      rounds: Int = 4): DataFrame =
    Dedup.louvainOneLevelOf(copurchaseEdges(s, dir), rounds)

  /** q357: ASSOCIATION RULES (round-11) — the DIRECTIONAL upgrade
    * of q141/q256: a rule a→b carries support (how often the pair
    * occurs at all), CONFIDENCE (p(b|a) — the number a "customers
    * who bought X also bought" widget is actually thresholded on;
    * asymmetric, unlike lift), and lift (confidence vs b's base
    * rate). All three exact integer ppm/micro — confidence =
    * n_both·10⁶ div f(a), lift through Decimal(38,0) products
    * (q256's overflow treatment). Shapes: one distinct, the bounded
    * per-order pair fan-out BOTH directions (C(k,2)·2 — the q141
    * budget), two frequency joins, scalar total broadcast, bounded
    * TakeOrdered top-k by (confidence desc, lift desc, ids). */
  def associationRules(s: SparkSession, dir: String,
      minPairs: Long = 2L, k: Int = 20): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val freq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
    val total = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("antecedent"),
        col("b.l_partkey").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minPairs)
      .join(freq.toDF("antecedent", "fa").hint("shuffle_hash"), "antecedent")
      .join(freq.toDF("consequent", "fc").hint("shuffle_hash"), "consequent")
      .crossJoin(broadcast(total))
      .withColumn("support_ppm", expr("n_both * 1000000 div n_orders"))
      .withColumn("confidence_ppm", expr("n_both * 1000000 div fa"))
      .withColumn("lift_micro", expr(
        "cast(cast(n_both as decimal(38,0)) * n_orders * 1000000" +
          " div (cast(fa as decimal(38,0)) * fc) as bigint)"))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("support_ppm"), col("confidence_ppm"), col("lift_micro"))
      .orderBy(col("confidence_ppm").desc, col("lift_micro").desc,
        col("antecedent"), col("consequent")).limit(k)
  }

  def copurchaseTopK(s: SparkSession, dir: String, k: Int = 3,
      minPairs: Long = 2L): DataFrame = {
    import graft.functions.TopK
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val freq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
    val total = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairs)
      .join(freq.toDF("pa", "fa").hint("shuffle_hash"), "pa")
      .join(freq.toDF("pb", "fb").hint("shuffle_hash"), "pb")
      .crossJoin(broadcast(total))
      .withColumn("lift_micro", expr(
        "cast(cast(n_pairs as decimal(38,0)) * n_orders * 1000000" +
          " div (cast(fa as decimal(38,0)) * fb) as bigint)"))
    val sym = pairs.select(col("pa").as("part"), col("pb").as("partner"),
        col("lift_micro"))
      .unionByName(pairs.select(col("pb").as("part"), col("pa").as("partner"),
        col("lift_micro")))
    sym.groupBy(col("part"))
      // TopK orders by (score desc, id asc); lift_micro < 2^53 is
      // exact as a double
      .agg(TopK.topk(k)(col("partner"), col("lift_micro").cast("double"))
        .as("top"))
      .select(col("part"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("part"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("partner"), col("t.score").cast("long").as("lift_micro"))
  }

  /** q268: SQL-API surface — q01's pricing summary submitted as
    * LITERAL SQL text through `spark.sql` over registered temp views
    * (the other half of "a user of the reference could run every
    * query they run today": the DataFrame API and the SQL string
    * must be the same engine — same Catalyst plan, same oracle).
    * Production maps the parquet dirs into a catalog; the temp-view
    * registration here is that seam at test scale. */
  def sqlApi(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base_price,
        round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2)
          AS sum_charge,
        round(avg(l_quantity), 4) AS avg_qty,
        round(avg(l_extendedprice), 4) AS avg_price,
        round(avg(l_discount), 4) AS avg_disc,
        count(1) AS count_order
      FROM graft_lineitem
      WHERE l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)
      GROUP BY l_returnflag, l_linestatus""")
  }

  /** q272: CBO SKEW AUDIT — the uniformity assumption every
    * cost-based optimizer makes (self-join size ≈ n²/ndv) measured
    * against the exact answer (Σ cₖ² — what the join will REALLY
    * produce) for the event table's candidate join keys. The ratio
    * actual/uniform ≥ 1 always (Cauchy–Schwarz; equality iff the
    * key is perfectly uniform), and its magnitude is exactly how
    * badly a planner under-provisions the shuffle on that key —
    * the one-number "do I need q81's salting here" answer, priced
    * per key BEFORE the join runs. One grouped count per key +
    * one Decimal(38,0) Σc² rollup (c² over a hot key wraps Long at
    * WAL scale); 3 report rows. */
  def cboSkewAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def keyRow(name: String, key: Column): DataFrame =
      ev.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("ndv"),
          sum(expr("cast(c as decimal(38,0)) * c")).as("actual"))
        .select(lit(name).as("join_key"), col("n"), col("ndv"),
          // n² wraps Long at WAL scale — Decimal(38,0), HUGEINT mirror
          expr("cast(cast(n as decimal(38,0)) * n div ndv as bigint)")
            .as("uniform_est"),
          col("actual").cast("long").as("actual"))
        .withColumn("skew_ratio_ppm",
          expr("cast(cast(actual as decimal(38,0)) * 1000000" +
            " div uniform_est as bigint)"))
    keyRow("user_id", col("user_id"))
      .unionByName(keyRow("event_type", col("event_type")))
      .unionByName(keyRow("day", expr("ts div 86400000000")))
  }

  /** q264: ABC CLASSIFICATION — the inventory-management Pareto cut
    * (class A = the parts carrying 80% of revenue, B the next 15%,
    * C the tail) computed WITHOUT ranking the part dimension
    * globally: per-part revenue (one fact rollup), a BOUNDED
    * revenue-bin histogram (bin = cents div $100k — q151's
    * machinery with exact per-bin mass, not bin·count), a desc
    * cumulative window over that constant-size bin table, and class
    * membership decided per BIN (a bin belongs to A while the mass
    * strictly above it is under the 80% threshold — ties at bin
    * granularity, the documented resolution knob). All-integer
    * thresholds (total·8 div 10, total·95 div 100). Report: 3 rows
    * with part counts, revenue, and realized share ppm. */
  def abcClasses(s: SparkSession, dir: String,
      binWidth: Long = 10000000L): DataFrame = {
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("cents"))
    val hist = perPart.groupBy(expr(s"cents div $binWidth").as("bin"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("mass"))
    val wAbove = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum(col("mass")).as("total"))
    hist
      .withColumn("mass_above", coalesce(sum(col("mass")).over(wAbove), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("mass_above") * 10 < col("total") * 8, "A")
          .when(col("mass_above") * 100 < col("total") * 95, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(sum(col("n_parts")).as("n_parts"),
        sum(col("mass")).as("revenue_cents"))
      .crossJoin(broadcast(tot))
      .select(col("cls"), col("n_parts"), col("revenue_cents"),
        expr("revenue_cents * 1000000 div total").as("share_ppm"))
  }

  /** q167: frequent 3-ITEMSETS — q141's association mining one level
    * deeper (pair rules recommend items; triple rules catch the
    * bundle effects pairs factor apart). Same BOUNDED-BASKET scale
    * argument, one order higher: the per-order double self-join fans
    * out C(k,3) per basket (k ≲ 7 ⇒ ≤35 triples/order), Θ(orders·k³)
    * total — linear in orders at any corpus size, never parts³.
    * Support threshold prunes before the output; lift vs the
    * independence baseline uses the exact singleton frequencies
    * (lift = P(abc)·n² / (P(a)P(b)P(c)·…) — the triple analogue of
    * q141's). Orientation a<b<c makes each triple canonical. */
  def basketTriples(s: SparkSession, dir: String,
      minSupport: Long = 2L): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val freq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
    val total = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val triples = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .join(items.as("c"),
        col("a.l_orderkey") === col("c.l_orderkey") &&
          col("b.l_partkey") < col("c.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"),
        col("b.l_partkey").as("part_b"), col("c.l_partkey").as("part_c"))
      .agg(count(lit(1)).as("n_triples"))
      .filter(col("n_triples") >= minSupport)
    triples
      .join(freq.toDF("part_a", "fa").hint("shuffle_hash"), "part_a")
      .join(freq.toDF("part_b", "fb").hint("shuffle_hash"), "part_b")
      .join(freq.toDF("part_c", "fc").hint("shuffle_hash"), "part_c")
      .crossJoin(total) // single-row scalar frame
      .select(col("part_a"), col("part_b"), col("part_c"),
        col("n_triples"),
        round(col("n_triples").cast("double") * col("n_orders")
          * col("n_orders")
          / (col("fa") * col("fb") * col("fc")).cast("double"), 4)
          .as("lift"))
  }

  /** q136: one-pass TABLE PROFILE — the ANALYZE-style stats collection
    * a cost-based optimizer (and every data-quality gate) runs per
    * ingest: per numeric column, row/null counts, min/max, exact
    * distinct count, and the HLL estimate a 100 TB run would keep
    * INSTEAD of the exact one (the audit pairs them). ONE scan of the
    * table: each row explodes to |columns| (column, value) entries —
    * the classic profiling transpose — then one grouped aggregate +
    * one register aggregate, both map-side combinable, keyed by
    * column name (bounded groups). Values are profiled at integer-
    * cent grain (round(v·100) as BIGINT): distinctness on a
    * long-rendered key is engine-identical, where double→string
    * formatting is not (Java vs DuckDB scientific-notation rules
    * diverge) — the md5 registers replay exactly. */
  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_linenumber")
    val entries = Tables.lineitem(s, dir)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"),
          round(col(c) * 100).cast("long").as("vc"))): _*)).as("e"))
      .select(col("e.column").as("column"), col("e.vc").as("vc"))
      // r18 (guide §1.2): pinned — the exact-stats agg AND the HLL
      // register pass both consume the 4-way column explode.
      .localCheckpoint()
    val base = entries.groupBy(col("column"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("vc").isNull, 1L).otherwise(0L)).as("n_null"),
        min(col("vc")).as("min_cents"),
        max(col("vc")).as("max_cents"),
        countDistinct(col("vc")).as("n_distinct"))
    val regs = Sketch.hllRegistersBy(
      entries.filter(col("vc").isNotNull)
        .select(col("column"), col("vc").cast("string").as("k")),
      "column")
    val est = Sketch.hllEstimate(regs, "column")
      .select(col("column"), col("est_unrounded"))
    base.join(est, "column")
      .select(col("column"), col("n_rows"), col("n_null"),
        col("min_cents"), col("max_cents"), col("n_distinct"),
        round(col("est_unrounded"), 4).as("distinct_est"),
        round(abs(col("est_unrounded") - col("n_distinct"))
          / col("n_distinct").cast("double"), 4).as("rel_err"))
  }

  /** One FK edge of [[fkIntegrity]]: distinct child keys with row
    * counts (map-side combinable) full-outer joined to the parent key
    * set — ONE key-partitioned shuffle per edge, never a row-level
    * join — rolled up to a single audit row. Parent keys are assumed
    * unique (primary keys); `count(col)` counts non-nulls on both
    * engines. */
  private def fkEdge(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.groupBy(col(childKey).as("ck")).agg(count(lit(1)).as("n"))
      .join(parent.select(col(parentKey).as("pk")),
        col("ck") === col("pk"), "full_outer")
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_child_rows"),
        count(col("ck")).as("n_child_keys"),
        coalesce(sum(when(col("pk").isNull, col("n"))), lit(0L))
          .as("n_orphan_rows"),
        count(when(col("pk").isNull, col("ck"))).as("n_orphan_keys"),
        count(col("pk")).as("n_parents"),
        count(when(col("ck").isNull, col("pk"))).as("n_unreferenced"))
      .select(lit(name).as("fk"), col("n_child_rows"), col("n_child_keys"),
        col("n_orphan_rows"), col("n_orphan_keys"), col("n_parents"),
        col("n_unreferenced"))

  /** q152: REFERENTIAL-INTEGRITY audit over every FK edge of the star
    * schema — the data-quality gate a pipeline runs per ingest before
    * trusting its joins: orphan child rows silently VANISH from inner
    * joins (so a revenue number can be wrong without any query
    * failing), and unreferenced parents measure dimension bloat. One
    * audit row per edge: child rows/keys, orphan rows/keys (child key
    * missing from parent), parent count, unreferenced parents. Each
    * edge is independent — one distinct-agg + one key-keyed
    * full-outer join (both scans pruned to the key column) — so at
    * 100 TB the edges run in parallel and the widest table is scanned
    * once per edge it appears in. A clean corpus (this one) reports
    * zeros in the orphan columns — the audit PROVING that is the
    * product; unreferenced parents are live (customers without
    * orders, parts never ordered at small SF). */
  def fkIntegrity(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    Seq(
      fkEdge("lineitem.l_orderkey->orders", li, "l_orderkey",
        Tables.orders(s, dir), "o_orderkey"),
      fkEdge("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      fkEdge("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"),
      fkEdge("orders.o_custkey->customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"),
      fkEdge("customer.c_nationkey->nation", Tables.customer(s, dir),
        "c_nationkey", Tables.nation(s, dir), "n_nationkey"),
      fkEdge("supplier.s_nationkey->nation", Tables.supplier(s, dir),
        "s_nationkey", Tables.nation(s, dir), "n_nationkey"),
      fkEdge("nation.n_regionkey->region", Tables.nation(s, dir),
        "n_regionkey", Tables.region(s, dir), "r_regionkey")
    ).reduce(_ unionByName _)
  }

  /** q205: declarative CONSTRAINT-CHECK report — the dbt-tests /
    * CHECK-constraint layer a warehouse runs on every load:
    * not_null, accepted range, accepted values, and composite-key
    * uniqueness rules evaluated as ONE conditional-aggregation pass
    * per table (every same-table rule shares the scan — adding a
    * rule costs a counter, not a pass; at 100 TB that is the
    * difference between 4 corpus scans and 1). Referential rules
    * live in q152's FK audit — this is the row-local + uniqueness
    * half. Output: one row per rule (n_checked, n_violations,
    * pass); a clean corpus PROVES itself clean here, and a dirty
    * load names exactly which rule broke. */
  def constraintChecks(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v_nn"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("v_disc"),
      // struct-wrapped distinct: a multi-column countDistinct drops
      // rows where ANY key column is null (so a null-keyed dup would
      // vanish from the uniqueness count), while the struct is never
      // null and compares its fields null-safely — the row semantics
      // DuckDB's count(DISTINCT (a, b)) has
      (count(lit(1)) -
        countDistinct(struct(col("l_orderkey"), col("l_linenumber"))))
        .as("v_uniq"))
    val o = Tables.orders(s, dir).agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("v_nn"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("v_status"))
    def row(df: DataFrame, rule: String, table: String, v: String): DataFrame =
      df.select(lit(rule).as("rule"), lit(table).as("table_name"),
        col("n").as("n_checked"), col(v).as("n_violations"),
        (col(v) === 0L).as("pass"))
    row(l, "not_null:l_orderkey", "lineitem", "v_nn")
      .unionByName(row(l, "range:l_quantity:1-50", "lineitem", "v_qty"))
      .unionByName(row(l, "range:l_discount:0-0.1", "lineitem", "v_disc"))
      .unionByName(row(l, "unique:l_orderkey+l_linenumber", "lineitem", "v_uniq"))
      .unionByName(row(o, "not_null:o_orderdate", "orders", "v_nn"))
      .unionByName(row(o, "accepted:o_orderstatus", "orders", "v_status"))
  }

  /** q234: ORDER↔LINEITEM RECONCILIATION — the "books balance"
    * audit every warehouse runs on load: per order, the header
    * total vs the sum of its lines' charges (extended·(1−disc)·
    * (1+tax)), rolled to one row per order status with mismatch
    * counts and the worst absolute delta. Engine parity: each
    * line's charge is computed as ONE double product then rounded
    * to cents once (same expression tree both engines — rounding
    * per factor would compound differently); the tolerance is ±1
    * cent per line, so the gate reports REAL generator mismatches
    * rather than float noise. One fact-fact shuffle on orderkey
    * (both sides cluster on it at 100 TB — bucketed, co-located),
    * then a |statuses|-row agg. */
  def reconciliation(s: SparkSession, dir: String, tolCentsPerLine: Long = 1L)
      : DataFrame = {
    val lines = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")) * 100).cast("long")).as("line_cents"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("hdr_cents"))
      .join(lines.withColumnRenamed("l_orderkey", "o_orderkey")
        .hint("shuffle_hash"), Seq("o_orderkey"), "left")
      .withColumn("n_lines", coalesce(col("n_lines"), lit(0L)))
      .withColumn("delta", abs(col("hdr_cents") - coalesce(col("line_cents"), lit(0L))))
      .withColumn("bad", col("delta") > col("n_lines") * tolCentsPerLine)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("n_lines") === 0L, 1L).otherwise(0L)).as("n_lineless"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_mismatched"),
        max(col("delta")).as("max_delta_cents"),
        // decimal(38,0) internally: 1e12 orders x 1e7-cent deltas can
        // wrap Long mid-sum; final cast to BIGINT (house policy, q193/q199)
        sum(col("delta").cast("decimal(38,0)")).cast("long")
          .as("sum_delta_cents"))
  }

  /** q235: SHIP-LATENCY SLA report — days from order date to each
    * line's ship date, per order priority: the supply-chain
    * service-level readout (and a data-quality tripwire: a NEGATIVE
    * latency is an impossible record, counted explicitly rather
    * than averaged away). Exact integer day arithmetic on the two
    * date columns; one orderkey-shuffled join (co-located at
    * 100 TB), one |priorities|-row agg. Mean in milli-days from
    * summed counts (exact); the full latency DISTRIBUTION belongs
    * to q231's per-group band machinery. */
  def shipLatency(s: SparkSession, dir: String, slaDays: Long = 90L)
      : DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .hint("shuffle_hash"), "o_orderkey")
      .withColumn("days", datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date")).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("days")).as("sum_days"),
        max(col("days")).as("max_days"),
        sum(when(col("days") < 0L, 1L).otherwise(0L)).as("n_impossible"),
        sum(when(col("days") > slaDays, 1L).otherwise(0L)).as("n_late"))
      .select(col("o_orderpriority"), col("n_lines"),
        expr("sum_days * 1000 div n_lines").as("mean_days_milli"),
        col("max_days"), col("n_impossible"), col("n_late"),
        expr("n_late * 1000000 div n_lines").as("late_ppm"))

  /** q236: PRICE-CONSISTENCY audit — billed unit price vs catalogue
    * retail price per brand: the margin/pricing-integrity check
    * (systematic under-billing of one brand is either a promotion
    * or a bug; this report tells which brand to ask about). ratio
    * = billed cents ·10⁶ div (retail cents · qty) — all-integer,
    * qty exact; per brand: line count, MEAN ratio from summed
    * integer products (never mean-of-truncated-ratios), and the
    * count outside the ±20% band. The part side is a broadcast dim
    * (q03's star shape); one bounded agg. */
  def priceConsistency(s: SparkSession, dir: String,
      bandPpm: Long = 200000L): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_partkey").as("p_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("ext_cents"),
        col("l_quantity").cast("long").as("qty"))
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"),
        round(col("p_retailprice") * 100).cast("long").as("retail_cents"))),
        "p_partkey")
      .withColumn("ratio_ppm",
        expr("ext_cents * 1000000 div (retail_cents * qty)"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        // decimal(38,0) sums: cents x 1e6 per line is ~1e13 — a
        // 1e12-line brand wraps Long (the q193/q214/q233 policy)
        expr("cast(sum(cast(ext_cents as decimal(38,0)) * 1000000) div " +
          "sum(cast(retail_cents as decimal(38,0)) * qty) as bigint)")
          .as("mean_ratio_ppm"),
        sum(when(col("ratio_ppm") > 1000000L + bandPpm ||
          col("ratio_ppm") < 1000000L - bandPpm, 1L).otherwise(0L))
          .as("n_out_of_band"))

  /** q213: BENFORD first-digit audit — the forensic data-quality
    * screen for a value column (synthetic fills, unit mix-ups, and
    * truncated feeds all bend the first-significant-digit curve
    * away from log10(1+1/d) long before a mean or a range check
    * notices). One narrow scan: integer cents (the proven
    * round·100 grain), first significant digit via the leading
    * char of the decimal string (no float log10 — the
    * boundary-value parity trap), ONE 9-row agg; observed vs
    * expected shares and the per-digit chi² contribution in integer
    * ppm (expected ppm constants sum to exactly 1 000 000, so the
    * shares partition). A uniform synthetic column FAILS Benford —
    * the audit reports the curve, the caller owns the policy. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val expMap = map((1 to 9).flatMap(d =>
      Seq(lit(d.toLong), lit(expected(d - 1)))): _*)
    val digits = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("n_total"))
    digits.crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("n * 1000000 div n_total"))
      .withColumn("benford_ppm", expMap(col("digit")))
      .select(col("digit"), col("n"), col("obs_ppm"), col("benford_ppm"),
        expr("(obs_ppm - benford_ppm) * (obs_ppm - benford_ppm) div benford_ppm")
          .as("chi2_contrib_ppm"))
  }

  /** Sort-free equal-frequency score 1..nTiles for a LONG metric
    * column — q151's rangeBuckets machinery packaged as a reusable
    * scorer: bounded histogram (bin = metric div binWidth, map-side
    * combinable), cumulative window over the CONSTANT-SIZE bin
    * table, boundary k = the unique bin where cum·B crosses k·n
    * (all-integer, no division), assignment via
    * `functions.aggregate` over the broadcast ≤(B−1)-element
    * boundary array. VALUE-based tiles: ties (same bin) share a
    * score, and a bin crossing several k·n thresholds duplicates
    * its boundary so upper scores skip — the q151 skew-visibility
    * property, bounded by binWidth. Never an unpartitioned ntile
    * window (which would sort all rows on ONE task). */
  /** Two-phase exact per-group rank — `row_number() OVER (PARTITION
    * BY part ORDER BY orderKeys)` computed WITHOUT ever sorting a
    * whole group's rows on one task (the q246-class hazard when
    * `part` has a handful of values): (1) a (part × bin) histogram
    * — a BOUNDED table, bin monotone in the leading order key — is
    * cumulated per part to give each bin its rank BASE and the group
    * its total `cntName`; (2) a row_number window partitioned by
    * (part, bin) ranks only one bin's occupancy per task, and
    * `rankName` = base + local rank reassembles the exact global
    * rank. Requires: `bin` monotone non-decreasing in the first of
    * `orderKeys` (cents-aligned or price-aligned bins), so lower bin
    * ⇒ strictly earlier rank range. Parallelism is |parts|·|bins|
    * window partitions of ~n/bins rows each; the bin table
    * broadcasts. */
  private[graft] def twoPhaseRank(df: DataFrame, part: Column, bin: Column,
      orderKeys: Seq[Column], rankName: String, cntName: String): DataFrame = {
    val withBin = df.withColumn("__part", part).withColumn("__bin", bin)
    val hist = withBin.groupBy(col("__part"), col("__bin"))
      .agg(count(lit(1)).as("__cnt"))
    val wcum = Window.partitionBy(col("__part")).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = hist
      .withColumn("__base", sum(col("__cnt")).over(wcum) - col("__cnt"))
      .withColumn(cntName, sum(col("__cnt")).over(
        Window.partitionBy(col("__part"))))
      .select(col("__part"), col("__bin"), col("__base"), col(cntName))
    withBin.join(broadcast(bases), Seq("__part", "__bin"))
      .withColumn(rankName, col("__base") + row_number().over(
        Window.partitionBy(col("__part"), col("__bin"))
          .orderBy(orderKeys: _*)).cast("long"))
      .drop("__part", "__bin", "__base")
  }

  private[graft] def quantileScore(df: DataFrame, metric: String, binWidth: Long,
      nTiles: Int, scoreName: String): DataFrame = {
    val hist = df.groupBy(expr(s"$metric div $binWidth").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wcum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wcum))
    val total = hist.agg(sum(col("cnt")).as("n"))
    val boundaries = df.sparkSession.range(1, nTiles).toDF("k")
      .crossJoin(broadcast(total))
      .join(cum, col("cum") * nTiles >= col("k") * col("n") &&
        (col("cum") - col("cnt")) * nTiles < col("k") * col("n"))
      .select(((col("bin") + 1) * binWidth).as("boundary"))
    val bds = boundaries
      .agg(sort_array(collect_list(col("boundary"))).as("__bds"))
    df.crossJoin(broadcast(bds))
      .withColumn(scoreName, expr(
        s"1L + aggregate(__bds, 0L, (acc, b) -> acc + if($metric >= b, 1L, 0L))"))
      .drop("__bds")
  }

  /** q241: RFM SEGMENTATION — the classic warehouse customer scoring
    * (recency / frequency / monetary → quintile codes → the 5×5×5
    * segment grid marketing actually budgets against), built
    * WITHOUT the usual `ntile` trap: an unpartitioned ntile window
    * sorts every customer on one task, so each dimension is scored
    * by [[quantileScore]] instead (q151's sort-free histogram
    * boundaries; customer-grain rows never sort globally). Facts
    * pre-aggregate per customer first — one orderkey-less groupBy
    * shuffle moves customer rows, not orders. Recency is scored on
    * exact integer days since the corpus anchor (max order date)
    * and INVERTED (r_score 5 = most recent, the RFM convention);
    * frequency bins at width 1, monetary at $1000 of integer cents
    * (bin width = the documented tie/skew knob). Output: the
    * ≤5×5×5 segment grid with customer counts and total monetary
    * cents. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
    val anchor = perCust.agg(max(col("last_order")).as("anchor"))
    // customer-grain rows, scanned by three scorer passes (histogram
    // + assignment each) — pin once instead of re-aggregating orders
    val base = perCust.crossJoin(broadcast(anchor))
      .withColumn("r_days",
        datediff(col("anchor").cast("date"), col("last_order").cast("date"))
          .cast("long"))
      .localCheckpoint()
    val scored = quantileScore(
      quantileScore(
        quantileScore(base, "r_days", 1L, 5, "r_raw"),
        "freq", 1L, 5, "f_score"),
      "cents", 100000L, 5, "m_score")
      .withColumn("r_score", lit(6L) - col("r_raw"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"))
  }

  /** q246: REVENUE-CONCENTRATION audit — Gini coefficient and
    * top-20% revenue share per market segment (the Pareto "do 20%
    * of customers carry 80% of revenue" question, answered with a
    * number instead of a slogan). Facts pre-aggregate to customer
    * grain first (one shuffle of customer rows, never orders), the
    * segment lookup is a key-shuffled dim join, and the rank is
    * TWO-PHASE so no task ever sorts a whole segment: (1) a
    * per-(segment, cents-bin) histogram — a BOUNDED table
    * (segments × occupied bins) — whose cumulative counts give
    * each bin its global rank BASE within the segment; (2) a
    * row_number window partitioned by (segment, bin), so each
    * task sorts only one bin's occupancy (n/bins rows, thousands
    * of parallel partitions), and global rank = base + local rank
    * — exactly the rank the old 5-partition segment window
    * produced, reassembled from q151's histogram machinery.
    * Gini via the rank identity
    * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) on ascending-ranked cents
    * — one pass, Decimal(38,0) products (rank·cents summed over
    * customers wraps Long at warehouse scale), emitted in integer
    * milli; top-20% membership by the all-integer cross-multiply
    * i·5 > 4·n. Deterministic ties: rank orders by (cents,
    * custkey); bins are cents-aligned so lower bin ⇒ strictly
    * lower cents and the composition is exact. */
  def revenueGini(s: SparkSession, dir: String,
      binWidthCents: Long = 100000L): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
    val seg = perCust.join(
      Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        .hint("shuffle_hash"),
      "o_custkey")
      .withColumn("bin", expr(s"cents div $binWidthCents"))
    // phase 1: bounded (segment × bin) histogram; cumulative count up
    // to (but excluding) each bin = that bin's rank base. The windows
    // here run over the BIN TABLE (≤ segments × max_cents/binWidth
    // rows), never corpus rows.
    val hist = seg.groupBy(col("c_mktsegment"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(col("c_mktsegment")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = hist
      .withColumn("base", sum(col("cnt")).over(wcum) - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("c_mktsegment"))))
      .select(col("c_mktsegment"), col("bin"), col("base"), col("n"))
    // phase 2: local rank inside each (segment, bin) — thousands of
    // small window partitions; global rank composes exactly.
    val ranked = seg
      .join(broadcast(bases), Seq("c_mktsegment", "bin"))
      .withColumn("i", col("base") + row_number().over(
        Window.partitionBy(col("c_mktsegment"), col("bin"))
          .orderBy(col("cents"), col("o_custkey"))).cast("long"))
    ranked.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(expr("cast(i as decimal(38,0)) * cents")).as("ixc"),
        sum(when(col("i") * 5 > col("n") * 4, col("cents")).otherwise(0L))
          .as("top_cents"))
      .select(col("c_mktsegment"), col("n_customers"), col("total_cents"),
        // div on Decimal(38,0): quotient ≤ 1000 / ≤ 1e6, no Long wrap
        expr("cast((2 * ixc - (n_customers + 1) * cast(total_cents as decimal(38,0))) * 1000" +
          " div (n_customers * cast(total_cents as decimal(38,0))) as bigint)")
          .as("gini_milli"),
        expr("cast(cast(top_cents as decimal(38,0)) * 1000000" +
          " div total_cents as bigint)").as("top20_ppm"))
  }

  /** q290: PARETO FRONTIER (skyline) of the part catalog — the
    * multi-criteria shortlist ("no part is both cheaper and larger")
    * every sourcing/recommendation surface needs, and a classic
    * operator family (Börzsönyi's skyline) relational engines lack.
    * Criteria: minimize retail price, maximize size. NOT an
    * all-pairs dominance join (corpus² at scale): the staircase
    * decomposes — (1) per-price-cent max size, a BOUNDED table
    * (price domain); (2) EXCLUSIVE running max over that grid
    * ascending (strictly-cheaper best size); (3) a part survives
    * iff its size tops every strictly cheaper part (size >
    * prefix max) AND nothing at its own price beats it (size ==
    * per-price max) — weak dominance, equal-on-both-dims parts all
    * survive. All-integer; the one window runs over the bounded
    * price grid (q97 class). */
  def paretoFrontier(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("price_cents"),
        col("p_size").cast("long").as("p_size"))
    val grid = parts.groupBy(col("price_cents"))
      .agg(max(col("p_size")).as("best_size"))
      .withColumn("prefix_best", coalesce(max(col("best_size")).over(
        Window.orderBy(col("price_cents"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(-1L)))
    parts.join(grid.hint("shuffle_hash"), "price_cents")
      .filter(col("p_size") > col("prefix_best") &&
        col("p_size") === col("best_size"))
      .select(col("p_partkey"), col("p_brand"), col("price_cents"),
        col("p_size"))
  }

  /** q301: SKYLINE IN THREE CRITERIA (round-10, VERDICT stretch #8) —
    * q290 generalized the way q167 generalized q141: parts that are
    * Pareto-optimal on (price ↓, size ↑, demand ↑), where demand is
    * the part's total lineitem quantity (one fact pre-agg — the
    * third axis is EARNED from the fact table, not a dim column).
    * Never the all-pairs dominance join (corpus² at any d): grid
    * over two dims, window over the third —
    *   1. collapse points to the bounded (price_cents × size) grid
    *      keeping max demand per cell;
    *   2. explode each cell DOWN its size levels (size domain is
    *      1..50, a bounded ×50 blowup of the bounded grid), so
    *      G(p, lvl) = best demand at price p with size ≥ lvl is one
    *      grouped agg;
    *   3. per level, running max over ascending price gives
    *      A(p, lvl) = best demand strictly cheaper (exclusive
    *      frame) and H(p, lvl) = best at price ≤ p (inclusive) —
    *      grid-sized windows partitioned by the bounded level axis,
    *      never a corpus sort;
    *   4. a point (p, s, d) is dominated iff A(p, s) ≥ d (someone
    *      strictly cheaper, at least as big, at least as demanded)
    *      OR H(p, s+1) ≥ d (someone ≤ price with STRICTLY bigger
    *      size) OR G(p, s) > d (same price, size ≥ s, strictly more
    *      demand) — the three strictness cases of 3-d dominance,
    *      each answered by one broadcast-grid lookup.
    * Ties identical in all three criteria are mutually
    * non-dominating and all kept (spec-pinned). */
  def skyline3d(s: SparkSession, dir: String): DataFrame = {
    val demand = Tables.lineitem(s, dir).groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("demand"))
    val pts = Tables.part(s, dir)
      .join(demand, col("p_partkey") === col("l_partkey"), "left")
      .select(col("p_partkey"), col("p_brand"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("price_cents"),
        col("p_size").cast("long").as("p_size"),
        coalesce(col("demand"), lit(0L)).as("demand"))
    val cells = pts.groupBy(col("price_cents"), col("p_size"))
      .agg(max(col("demand")).as("cell_best"))
    val g = cells.select(col("price_cents"),
        explode(sequence(lit(1L), col("p_size"))).as("lvl"),
        col("cell_best"))
      .groupBy(col("price_cents"), col("lvl"))
      .agg(max(col("cell_best")).as("g"))
    val wExcl = Window.partitionBy(col("lvl")).orderBy(col("price_cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.partitionBy(col("lvl")).orderBy(col("price_cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = g
      .withColumn("a", coalesce(max(col("g")).over(wExcl), lit(-1L)))
      .withColumn("h", max(col("g")).over(wIncl))
    val atSize = grid.select(col("price_cents").as("pc1"), col("lvl"),
      col("a"), col("g"))
    val aboveSize = grid.select(col("price_cents").as("pc2"),
      col("lvl").as("lvl_up"), col("h"))
    pts
      .join(atSize.hint("shuffle_hash"),
        col("price_cents") === col("pc1") && col("p_size") === col("lvl"))
      .join(aboveSize.hint("shuffle_hash"),
        col("price_cents") === col("pc2") &&
          col("lvl_up") === col("p_size") + 1L, "left")
      .filter(!(col("a") >= col("demand") ||
        coalesce(col("h"), lit(-1L)) >= col("demand") ||
        col("g") > col("demand")))
      .select(col("p_partkey"), col("p_brand"), col("price_cents"),
        col("p_size"), col("demand"))
  }

  /** q295: YEAR-OVER-YEAR CONTRIBUTION decomposition — the "why did
    * revenue move" question every executive dashboard answers with a
    * waterfall chart: per (region ⊃ nation) ROLLUP node, revenue in
    * each of two years, the signed delta, and the node's share of
    * the TOTAL movement (signed ppm — negative shares are nodes
    * moving against the trend, the interesting rows). One orderkey
    * shuffle for the date, broadcast customer→nation→region chain,
    * then ROLLUP on the bounded (region, nation) grid — grouping
    * sets come free from the same agg. Cents + integer ppm; a zero
    * total delta yields NULL shares rather than a division blowup
    * (both engines). */
  def contributionDecomposition(s: SparkSession, dir: String,
      y1: Int = 1997, y2: Int = 1998): DataFrame = {
    val custGeo = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey").as("o_custkey"), col("r_name"), col("n_name"))
    val grid = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")).isin(y1, y2))
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .join(broadcast(custGeo), "o_custkey")
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(when(col("yr") === y1, col("cents")).otherwise(0L))
          .as("y1_cents"),
        sum(when(col("yr") === y2, col("cents")).otherwise(0L))
          .as("y2_cents"))
      .withColumn("delta_cents", col("y2_cents") - col("y1_cents"))
    val total = grid.filter(col("r_name").isNull && col("n_name").isNull)
      .select(col("delta_cents").as("total_delta"))
    grid.crossJoin(broadcast(total))
      .select(col("r_name"), col("n_name"), col("y1_cents"),
        col("y2_cents"), col("delta_cents"),
        when(col("total_delta") === 0L, lit(null).cast("long"))
          .otherwise(expr("delta_cents * 1000000 div total_delta"))
          .as("share_ppm"))
  }

  /** q293: DISJUNCTIVE-PREDICATE revenue (TPC-H Q19 shape) — the
    * OR-of-ANDs filter family (brand × quantity-band alternatives)
    * that separates engines which push a disjunction into the scan
    * from engines that evaluate it post-join. Declared as ONE
    * disjunctive predicate after a broadcast part join; Catalyst
    * pushes the quantity bounds and the join output stays narrow.
    * Per-branch revenue reported (cents, the q234 policy) so the
    * gate sees each alternative fire. */
  def disjunctiveRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"),
          col("p_size"))), "l_partkey")
      .withColumn("branch",
        when(col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) &&
          col("p_size") <= 5, "small")
        .when(col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20) &&
          col("p_size") <= 10, "medium")
        .when(col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30) &&
          col("p_size") <= 15, "large"))
      .filter(col("branch").isNotNull)
      .groupBy(col("branch"))
      .agg(count(lit(1)).as("n_lines"),
        sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)"))
          .as("revenue_cents"))

  /** q294: NULL-AWARE ANTI-JOIN semantics pin — SQL's most-shipped
    * correctness bug as a gated relation: `x NOT IN (subquery)` is
    * EMPTY the moment the subquery yields one NULL (three-valued
    * logic), while `NOT EXISTS` does what the author meant. Both
    * counts computed side by side over the same deterministic
    * null-bearing set (NULLIF manufactures the null), so the report
    * IS the lesson: n_not_in = 0, n_not_exists = the real count,
    * and their difference is the silent data loss a migration to/
    * from an engine with this bug would ship. Catalyst plans the
    * NOT IN branch as a null-aware anti join (the expensive
    * fallback — why the scaladoc tells you to write NOT EXISTS);
    * both branches stay broadcast-size here (25-row dim subquery). */
  def nullAwareAntiJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("graft_q294_part")
    Tables.nation(s, dir).createOrReplaceTempView("graft_q294_nation")
    s.sql("""
      SELECT
        (SELECT count(*) FROM graft_q294_part
         WHERE p_size NOT IN
           (SELECT nullif(n_nationkey, 13) FROM graft_q294_nation))
          AS n_not_in,
        (SELECT count(*) FROM graft_q294_part p
         WHERE NOT EXISTS (SELECT 1 FROM graft_q294_nation n
           WHERE nullif(n.n_nationkey, 13) = p.p_size))
          AS n_not_exists,
        (SELECT count(*) FROM graft_q294_part) AS n_parts""")
  }

  /** q276: SMALL-QUANTITY revenue audit (TPC-H Q17 shape) — revenue
    * sitting in lines whose quantity is under 20% of their part's
    * average order quantity, per brand: the "should this ship by
    * parcel instead of pallet" logistics question, and Catalyst's
    * classic correlated-scalar-subquery decorrelation (the oracle
    * writes the correlated form; the plan is the same agg+join both
    * ways). Scale: the per-part threshold is a FACT PRE-AGG keyed
    * on partkey (map-side combinable, one co-located partkey
    * shuffle, never a per-row subquery); the threshold compare is
    * ALL-INTEGER cross-multiplication (qty·5·n < Σqty on long
    * quantities — a float 0.2·avg would make the boundary row an
    * IEEE coin flip); the brand dim is a broadcast. */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_lines"))
    li.join(perPart.hint("shuffle_hash"), "l_partkey")
      .filter(col("qty") * 5 * col("n_lines") < col("sum_qty"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lines"),
        round(sum(col("l_extendedprice")), 2).as("small_qty_revenue"))
  }

  /** q277: SUPPLIERS WHO KEPT ORDERS WAITING (TPC-H Q21 shape) —
    * per supplier, the multi-supplier orders where THEIR line
    * shipped late (> 60 days after the order date) and no other
    * supplier's did: the blame-assignment report Q21 writes as a
    * double EXISTS / NOT EXISTS correlation, here the scalable
    * form — ONE per-order aggregation computes (distinct suppliers,
    * distinct late suppliers, the sole late supplier when unique),
    * so the fact shuffles once on orderkey and the correlation
    * never becomes a per-row probe. The sole-late-supplier pick is
    * exact (max over a 1-element set); supplier names broadcast. */
  def waitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val blame = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
        col("l_shipdate"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate")).hint("shuffle_hash"),
        "o_orderkey")
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supps"),
        max(when(col("late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supps") >= 2 && col("n_late_supps") === 1)
    blame.groupBy(col("late_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))), "s_suppkey")
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
  }

  /** q278: DORMANT HIGH-BALANCE customers (TPC-H Q22 shape) — the
    * sales-opportunity scan: customers whose balance beats the
    * average positive balance but who placed no order since the
    * cutoff, rolled up per nation. The Q22 signature is a scalar
    * subquery (global threshold) + an anti-join, exactly how the
    * plan should run at 100 TB: the threshold is ONE broadcast row
    * (sum/count of positive balances — map-side combined), the
    * anti-join probes a pre-distinct custkey set co-located on the
    * join key, and the threshold compare is integer
    * cross-multiplication on cents (bal·n > Σpos — no float
    * boundary flips). */
  def dormantHighBalance(s: SparkSession, dir: String,
      cutoff: String = "1999-01-01"): DataFrame = {
    val cust = Tables.customer(s, dir)
      .withColumn("bal_cents", expr("cast(round(c_acctbal * 100) as bigint)"))
    val thr = cust.filter(col("bal_cents") > 0L)
      .agg(sum(col("bal_cents")).as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select(col("o_custkey").as("c_custkey")).distinct()
    cust.crossJoin(broadcast(thr))
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(recent, Seq("c_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_dormant"),
        round(sum(col("c_acctbal")), 2).as("total_balance"))
  }

  /** q279: PROMO revenue share per ship-year (TPC-H Q14 shape) —
    * what fraction of each year's discounted revenue moved through
    * promo-class parts. Revenue is quantized to cents by the SAME
    * IEEE expression on both engines (the q234 policy) and the
    * share is ppm by integer division — never a float quotient in
    * the gate. One broadcast part dim, one bounded per-year agg. */
  def promoShare(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_type"))), "l_partkey")
      .withColumn("rev_cents", expr(
        "cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)"))
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_cents")).otherwise(0L))
          .as("promo_cents"),
        sum(col("rev_cents")).as("total_cents"))
      .withColumn("promo_ppm",
        expr("promo_cents * 1000000 div total_cents"))

  /** q280: REGIONAL MARKET LEADER per year (TPC-H Q8 generalized —
    * instead of one fixed nation's share, the TOP supplier-nation
    * by revenue within each region-year and its share): lineitem
    * shuffles ONCE on orderkey for the date; the supplier→nation→
    * region chain is a broadcast; everything after the first agg
    * runs on the bounded region×year×nation grid (5·7·25 rows), so
    * the leader pick (max_by) and the ppm share are free. Exact:
    * cents revenue, integer ppm, leader ties broken by nation name
    * (max_by on a (cents, name) struct). */
  def marketLeader(s: SparkSession, dir: String): DataFrame = {
    val supNation = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("n_name"), col("r_name"))
    val grid = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
          .as("rev_cents"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long")
          .as("order_year")).hint("shuffle_hash"), "o_orderkey")
      .join(broadcast(supNation), "l_suppkey")
      .groupBy(col("r_name"), col("order_year"), col("n_name"))
      .agg(sum(col("rev_cents")).as("nation_cents"))
    grid.groupBy(col("r_name"), col("order_year"))
      .agg(
        max_by(col("n_name"), struct(col("nation_cents"), col("n_name")))
          .as("leader_nation"),
        max(struct(col("nation_cents"), col("n_name")))
          .getField("nation_cents").as("leader_cents"),
        sum(col("nation_cents")).as("region_cents"))
      .withColumn("leader_ppm",
        expr("leader_cents * 1000000 div region_cents"))
  }

  /** q302: MIN-COST SUPPLIER per part (round-10) — the TPC-H Q2
    * correlated-min shape (`WHERE cost = (SELECT min(cost) ... WHERE
    * same part)`) decorrelated the scale-right way: the observed
    * supply book comes from lineitem (no partsupp table in this
    * corpus — unit price is earned per (part, supplier) from shipped
    * lines; Decimal(38,0) micro-cents-per-unit, truncating), ONE
    * grouped agg per (part, supplier), then the per-part min is a
    * min_by on the SAME shuffle key — never a per-part subquery.
    * Supplier name and nation arrive by broadcast dim joins AFTER
    * the argmin, so the wide columns never ride the fact shuffle.
    * Ties (unit_micro, suppkey) pinned both engines. */
  def minCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val offers = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("cents"), sum(col("l_quantity")).cast("long").as("qty"))
      .withColumn("unit_micro",
        expr("cast(cast(cents as decimal(38,0)) * 10000 div qty as bigint)"))
    val best = offers.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        min_by(struct(col("l_suppkey"), col("unit_micro")),
          struct(col("unit_micro"), col("l_suppkey"))).as("b"))
      .select(col("l_partkey").as("p_partkey"),
        col("b.l_suppkey").as("best_suppkey"),
        col("b.unit_micro").as("unit_micro"), col("n_suppliers"))
    best
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("best_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("best_suppkey"), col("s_name"),
        col("n_name"), col("unit_micro"), col("n_suppliers"))
  }

  /** q303: IMPORTANT PARTS per nation (round-10) — the TPC-H Q11
    * shape (group value vs a fraction-of-total HAVING on a scalar
    * subquery) decorrelated: supply value per (nation, part) in ONE
    * fact rollup (supplier nation rides a broadcast dim join), the
    * per-nation totals re-aggregated FROM that grid (never a second
    * fact pass), broadcast back, and the Q11 threshold test done by
    * integer cross-multiplication (value · 1000 > total — keep parts
    * above 0.1% of their nation's supply value; no float fraction to
    * diverge). Output rows are the "concentrated stock" a planner
    * reviews. */
  def importantParts(s: SparkSession, dir: String): DataFrame = {
    val supNation = broadcast(Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("n_name")))
    val grid = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      .join(supNation, "l_suppkey")
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(sum(col("cents")).as("value_cents"))
    val totals = grid.groupBy(col("n_name"))
      .agg(sum(col("value_cents")).as("nation_cents"))
    grid.join(broadcast(totals), "n_name")
      .filter(expr("value_cents * 1000 > nation_cents"))
      .select(col("n_name"), col("l_partkey"), col("value_cents"),
        expr("value_cents * 1000000 div nation_cents").as("share_ppm"))
  }

  /** q304: TOP SUPPLIER (round-10) — TPC-H Q15: quarterly revenue
    * per supplier, keep the supplier(s) achieving THE maximum
    * (Q15's `revenue = (SELECT max(revenue) FROM view)` — ties kept,
    * exactly the case the classic query is famous for). One
    * shipdate-pruned fact rollup keyed by supplier; the max is a
    * 1-row broadcast scalar; names arrive by broadcast dim join
    * after the filter. All-integer cents. */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr(
        "cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)"))
        .as("revenue_cents"))
    val mx = rev.agg(max(col("revenue_cents")).as("max_cents"))
    rev.crossJoin(broadcast(mx))
      .filter(col("revenue_cents") === col("max_cents"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
  }

  /** q305: SUPPLIER COUNTS per (brand, size) (round-10) — the TPC-H
    * Q16 shape: how many DISTINCT suppliers actually ship each
    * (brand, size) shelf, excluding distrusted suppliers (Q16's
    * complaint filter; here the deterministic analog s_acctbal < 0),
    * the assortment-breadth number a category manager reads. The
    * exclusion list is a broadcast anti-join BEFORE the rollup
    * (filter early — excluded suppliers' lines never shuffle); part
    * attrs ride a broadcast dim join; one countDistinct on the
    * bounded (brand × size) grid. */
  def brandSupplierCounts(s: SparkSession, dir: String): DataFrame = {
    val distrusted = broadcast(Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("l_suppkey")))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(distrusted, Seq("l_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"),
          col("p_size").cast("long").as("p_size"))), "l_partkey")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** q306: DOMINANT-SUPPLIER concentration audit (round-10) — the
    * TPC-H Q20 excess-share test turned into the supply-chain risk
    * report it implies: (part, supplier) pairs where one supplier
    * ships MORE THAN 3× ITS FAIR SHARE of the part's volume
    * (sq·n > 3·tq — fair share is 1/n of the total across the
    * part's n observed suppliers; the multiple, not an absolute 50%,
    * is the right knob for wide supplier books, and it is live at
    * every SF). Two rollups on the SAME partkey shuffle key (pair
    * grain, then part grain re-aggregated FROM the pair grid), one
    * broadcast-back, threshold by integer cross-multiply. */
  def dominantSupplier(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("supp_qty"))
    val parts = pairs.groupBy(col("l_partkey"))
      .agg(sum(col("supp_qty")).as("part_qty"),
        count(lit(1)).as("n_suppliers"))
    pairs.join(broadcast(parts.filter(col("n_suppliers") >= 2L)),
        "l_partkey")
      .filter(expr("supp_qty * n_suppliers > 3 * part_qty"))
      .select(col("l_partkey"), col("l_suppkey"), col("supp_qty"),
        col("part_qty"), col("n_suppliers"),
        expr("supp_qty * 1000000 div part_qty").as("share_ppm"))
  }

  /** q307: RETURNED-ITEM customer ranking (round-10) — TPC-H Q10:
    * the top-20 customers by revenue lost to returns in a quarter
    * (who to call about quality complaints). Flag + date filters
    * prune BOTH fact scans before the orderkey equi-join (return
    * lines ~25% of lineitem, the quarter ~4% of orders — predicate
    * pushdown does the work); one custkey rollup; the top-20 is
    * orderBy+limit, which Spark plans as TakeOrderedAndProject —
    * a map-side bounded top-k per partition, NEVER a global sort
    * (the reason Q10's LIMIT is cheap at any scale); selection made
    * deterministic by the (cents desc, custkey) tie order. Names by
    * broadcast nation join after the cut. */
  def returnedRevenue(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey"),
        expr("cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
          .as("cents"))
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")).hint("shuffle_hash"),
        "o_orderkey")
      .groupBy(col("o_custkey"))
      .agg(sum(col("cents")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_custkey"))
      .limit(k)
    rev.join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue_cents"))
  }

  /** q310: SHIPPING-PRIORITY top-10 (round-10) — TPC-H Q3: the 10
    * highest-revenue orders from a market segment placed before a
    * date but still shipping after it (the unshipped backlog to
    * expedite). Segment customers broadcast INTO the order scan
    * (pushes the date predicate alongside), order keys carry into
    * the lineitem rollup on the orderkey shuffle, top-10 via
    * orderBy+limit (TakeOrderedAndProject — bounded map-side top-k),
    * (cents desc, orderkey) deterministic cut. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-07-15").cast("timestamp")
    val segCust = broadcast(Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("o_custkey")))
    val ords = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cutoff)
      .join(segCust, "o_custkey")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        expr("cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
          .as("cents"))
      .join(ords.hint("shuffle_hash"), "l_orderkey")
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("cents")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey").as("o_orderkey"), col("o_orderdate"),
        col("revenue_cents"))
  }

  /** q311: NATION TRADE MATRIX (round-10) — TPC-H Q7: bilateral
    * shipping volume between supplier nation and customer nation per
    * year, for a nation pair set (here ALL ordered pairs with
    * supp ≠ cust, the full trade matrix Q7 samples two cells of).
    * Both nation chains are broadcast dims; the orderkey equi-join
    * carries custkey to the line grain once; one rollup on the
    * bounded (nation × nation × year) grid. */
  def nationTrade(s: SparkSession, dir: String): DataFrame = {
    val supN = broadcast(Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("n_name").as("supp_nation")))
    val custN = broadcast(Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("o_custkey"), col("n_name").as("cust_nation")))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        expr("cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
          .as("cents"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .hint("shuffle_hash"), "o_orderkey")
      .join(supN, "l_suppkey")
      .join(custN, "o_custkey")
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("volume_cents"))
  }

  /** q312: PRODUCT-LINE PROFIT by nation and year (round-10) — the
    * TPC-H Q9 shape without a partsupp table: profit = discounted
    * revenue − catalog cost (p_retailprice · quantity, the
    * deterministic cost stand-in), per (supplier nation, order
    * year), for parts whose name carries a token (Q9's LIKE '%green%'
    * → p_name contains 'a' rides the broadcast part dim as a
    * pre-join filter). One orderkey shuffle for the year; part and
    * supplier dims broadcast; bounded (nation × year) grid out;
    * all-integer cents. */
  def nationProfit(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(Tables.part(s, dir)
      .filter(col("p_name").contains("a"))
      .select(col("p_partkey").as("l_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("unit_cost")))
    val supN = broadcast(Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("n_name")))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity").cast("long").as("qty"),
        expr("cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
          .as("rev_cents"))
      .join(parts, "l_partkey")
      .join(supN, "l_suppkey")
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long")
          .as("order_year")).hint("shuffle_hash"), "o_orderkey")
      .groupBy(col("n_name"), col("order_year"))
      .agg(sum(col("rev_cents") - col("unit_cost") * col("qty"))
        .as("profit_cents"))
  }

  /** q313: LARGE-VOLUME CUSTOMERS (round-10) — TPC-H Q18: orders
    * whose total quantity exceeds a threshold, with their customer —
    * the HAVING-on-a-grouped-subquery shape: ONE orderkey rollup
    * filters to the rare big orders (the threshold makes the result
    * tiny), the survivors join orders + customer (big-order keys are
    * few → the join input after the filter is broadcast-sized, and
    * Spark's AQE sees that at runtime). Threshold tuned to the
    * corpus's flat quantity distribution (sum qty > 190 over ~4-line
    * orders) so rows are live at every SF. */
  def largeOrders(s: SparkSession, dir: String, minQty: Long = 190L): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      .filter(col("total_qty") > minQty)
    big.join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("price_cents")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("total_qty"), col("price_cents"))
  }

  /** q317: CUSTOMER ORDER-COUNT DISTRIBUTION (round-10) — TPC-H Q13:
    * how many customers placed exactly k qualifying orders, INCLUDING
    * the zero-order bucket (the left join is the whole point of Q13 —
    * an inner join silently drops the customers who never ordered,
    * which is usually the most interesting bar of the histogram).
    * Orders roll up to per-customer counts first (one custkey
    * shuffle of the fact side carrying just the key), customers LEFT
    * join that bounded count table on the same key, and the final
    * rollup lands on the order-count domain (≤ max orders per
    * customer rows — tens, at any corpus size). Q13's NOT LIKE
    * comment filter is stood in by the order-priority cut (no
    * o_comment column in this corpus). */
  def custOrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    Tables.customer(s, dir).select(col("c_custkey").as("o_custkey"))
      .join(perCust.hint("shuffle_hash"), Seq("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** q319: SPEARMAN RANK CORRELATION between catalog price and shipped
    * demand over parts — the monotone-association number Pearson
    * (q108) misses when the relationship is nonlinear: does a more
    * expensive part ship less, in RANK terms? Tie-aware average
    * ranks computed WITHOUT ranking rows: each distinct value's
    * (strictly-below count, tie count) comes from a cumulative sum
    * over the bounded distinct-VALUE grid (the q284 jump-table class
    * — the price grid is capped by the cents domain, the demand grid
    * by the distinct-total-qty domain; never a corpus-row window),
    * and doubled average rank 2r = 2·below + ties + 1 keeps
    * everything integer. Parts join their ranks back by value
    * (broadcast grids); ρ = Pearson on (2rx, 2ry) via one exact
    * Decimal(38,0) moment aggregation (Σ(2r·2r') reaches n·4n² —
    * wraps Long past ~10⁶ parts), final ρ = scalar IEEE on the
    * single moment row (the q266 pattern). Parts that never shipped
    * count at demand 0 — excluding them would correlate price with
    * itself over a demand-censored subset. */
  def spearmanPriceDemand(s: SparkSession, dir: String): DataFrame = {
    val demand = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    val base = Tables.part(s, dir)
      .select(col("p_partkey").as("l_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("price_cents"))
      .join(demand.hint("shuffle_hash"), Seq("l_partkey"), "left")
      .select(col("l_partkey"), col("price_cents"),
        coalesce(col("qty"), lit(0L)).as("qty"))
    // doubled average rank per distinct value, from the value grid:
    // 2r(v) = 2·(# strictly below v) + (# tied at v) + 1
    def rank2(values: DataFrame, vCol: String, out: String): DataFrame = {
      val wcum = Window.orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      values.groupBy(col(vCol)).agg(count(lit(1)).as("__t"))
        .withColumn(out,
          (sum(col("__t")).over(wcum) - col("__t")) * 2 + col("__t") + 1)
        .drop("__t")
    }
    val ranked = base
      .join(broadcast(rank2(base.select(col("price_cents")),
        "price_cents", "rx2")), "price_cents")
      .join(broadcast(rank2(base.select(col("qty")), "qty", "ry2")), "qty")
    def w(c: Column): Column = c.cast("decimal(38,0)")
    ranked
      .agg(count(lit(1)).as("n_parts"),
        sum(w(col("rx2"))).as("sx"), sum(w(col("ry2"))).as("sy"),
        sum(w(col("rx2")) * w(col("rx2"))).as("sxx"),
        sum(w(col("ry2")) * w(col("ry2"))).as("syy"),
        sum(w(col("rx2")) * w(col("ry2"))).as("sxy"))
      .withColumn("vx", w(col("n_parts")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", w(col("n_parts")) * col("syy") - col("sy") * col("sy"))
      .select(col("n_parts"),
        when(col("vx") <= 0 || col("vy") <= 0, lit(null).cast("double"))
          .otherwise(round(
            (w(col("n_parts")) * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double"))),
            4))
          .as("spearman_rho"))
  }

  /** q320: SUPPLIER-CONCENTRATION (Herfindahl–Hirschman index) per
    * nation — the antitrust/procurement-risk number a sourcing
    * dashboard reads next to q306's dominant-pair flags: Σ over a
    * nation's suppliers of (revenue share)², in ppm (10⁶ = monopoly,
    * →0 = atomistic). Computed with ONE division per nation via the
    * algebraic identity HHI = Σrev² / (Σrev)² — per-supplier share
    * divisions would each truncate and the sum of truncations is not
    * the truncated sum. One suppkey rollup (map-side combinable),
    * nation attached to the AGGREGATED rows by broadcast dim, final
    * rollup on the 25-row nation grid; Σrev² in Decimal(38,0) (a
    * 10¹³-cent book squares past Long). Zero-revenue nations yield
    * NULL, not a division error (Spark 4 ANSI div throws; nullif
    * both engines). */
  def supplierHhi(s: SparkSession, dir: String): DataFrame = {
    val supN = broadcast(Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("n_name")))
    Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
        expr("cast(round(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
          .as("cents"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("cents")).as("rev"))
      .join(supN, "l_suppkey")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev")).as("rev_cents"),
        sum(col("rev").cast("decimal(38,0)") * col("rev")).as("ssq"))
      .select(col("n_name"), col("n_suppliers"), col("rev_cents"),
        expr("cast(ssq * 1000000 div nullif(cast(rev_cents as decimal(38,0))" +
          " * rev_cents, 0) as bigint)").as("hhi_ppm"))
  }

  /** q325: LATE-SHIPMENT priority split per ship mode — the TPC-H
    * Q12 shape (round-11, VERDICT Next #4), closing the classics
    * sweep: for lines received in the audit window that were shipped
    * late (committed date before receipt — the carrier missed) but
    * not the shipper's fault (shipped before commit), how many came
    * from critical- vs normal-priority orders, per ship mode. The
    * corpus has no mode/receipt/commit columns, so the analog derives
    * them deterministically the way every gate-shared column here is:
    * mode from the supplier key's 7-way split, receipt = ship +
    * (suppkey%30 + 1) days (carrier transit), commit = order + 30
    * days (the promise). Shapes: the receipt-window + lateness
    * predicates prune lineitem BEFORE the one orderkey equi-join
    * (only priority rides in from orders); conditional agg onto the
    * bounded 7-mode grid. At 100 TB: narrow scan, one shuffle keyed
    * o_orderkey, 7-row output. */
  def shipmodePriority(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        element_at(
          array(Seq("MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "FOB", "REG AIR")
            .map(lit): _*),
          (col("l_suppkey") % 7 + 1).cast("int")).as("ship_mode"),
        col("l_shipdate"),
        expr("l_shipdate + make_interval(0, 0, 0, cast(l_suppkey % 30 + 1 as int))")
          .as("l_receiptdate"))
      .filter(col("l_receiptdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_receiptdate") < lit("1998-01-01").cast("timestamp"))
    lines.join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("o_orderdate + make_interval(0, 0, 0, 30)").as("l_commitdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_commitdate") < col("l_receiptdate") &&
        col("l_shipdate") < col("l_commitdate"))
      .groupBy(col("ship_mode"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
  }

  /** q345: PRICE-BAND RANGE JOIN (round-11) — puts the
    * [[RangeJoin.pointInInterval]] API (previously ScalaTest-only,
    * SURVEY §4) under the oracle gate on a real reporting shape:
    * every order's total (integer cents) lands in each
    * DELIBERATELY-OVERLAPPING price band containing it (tiered fee
    * schedules / alert thresholds overlap in practice — a point may
    * match several bands, which is why this is a JOIN and not a
    * CASE ladder). Plan shape is the §4 argument: the interval side
    * explodes to its covering buckets, the join is an EQUI-join on
    * bucket id with the exact BETWEEN as residual — never Spark's
    * nested-loop fallback for range predicates — and the fan-out is
    * bounded by band_width/bucket_width. Output: per band, order
    * count + revenue cents. */
  def priceBandJoin(s: SparkSession, dir: String): DataFrame = {
    val points = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    val bands = s.createDataFrame(Seq(
      ("p0_under_1k", 0L, 99999L),
      ("p1_1k_50k", 100000L, 4999999L),
      ("p2_50k_200k", 5000000L, 19999999L),
      ("p3_over_200k", 20000000L, 99999999L),
      ("px_mid_market", 2500000L, 29999999L) // overlaps p1–p3
    )).toDF("band", "lo", "hi")
    RangeJoin.pointInInterval(points, bands, "cents", "lo", "hi",
        bucketWidth = 1000000L)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
  }

  /** q339: EXPLICIT GROUPING SETS — the general form between q10's
    * ROLLUP and q33's CUBE: exactly the four report grains a sales
    * dashboard asks for — (priority × year), (priority), (year), and
    * the grand total — in ONE pass via `Dataset.groupingSets`, with
    * `grouping_id()` emitted so a reader can tell a real NULL from a
    * subtotal row (the bitmask convention: leftmost grouping column
    * = most significant bit, identical in ANSI SQL / DuckDB
    * GROUPING()). Plan shape: grouping sets expand rows ×|sets| on
    * the MAP side and the aggregate stays hash/partial — one
    * shuffle of (keys, partials), same as any groupBy; at 100 TB
    * you pay |sets| map-side expansion, never |sets| table scans. */
  def groupingSetsSales(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
    o.groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_year")),
          Seq(col("o_orderpriority")), Seq(col("o_year")), Seq()),
        col("o_orderpriority"), col("o_year"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }
}
