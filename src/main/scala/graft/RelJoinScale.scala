package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Scale probe for the r19 q3/q5 join reorder (dev tool, outside every timed
 * path): at sf0.1 `orders` broadcasts everywhere, so the reorder's claimed
 * win — pre-cutting the fact join's probe side once orders EXCEEDS the
 * broadcast threshold — was argued, never demonstrated (VERDICT r19 #3).
 * This probe synthesizes TPC-H-shaped customer/orders/lineitem parquet at a
 * size where orders is far past `spark.sql.autoBroadcastJoinThreshold`
 * (10 MB), runs the q3 aggregation in BOTH join orders over the same
 * files, prints interleaved walls, and dumps both formatted plans.
 *
 * Deterministic synthesis (xxhash64-derived columns, the JoinScale
 * pattern): customer c_mktsegment is one of 5 segments, so the BUILDING
 * filter keeps ~20% — the selectivity the reorder exploits.
 *
 * Args: nOrders (default 10M; lineitem = 4x orders, customer = nOrders/5).
 */
object RelJoinScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val nOrders = p.args.headOption.map(_.toLong).getOrElse(10000000L)
    val nLines = nOrders * 4
    val nCust = math.max(1L, nOrders / 5)

    val base = p.path(s"graft_reljoin_scale/$nOrders")
    def ready(t: String) = new java.io.File(s"$base/$t/_SUCCESS").exists()
    if (!(ready("customer") && ready("orders") && ready("lineitem"))) {
      spark.range(nCust).select(
        col("id").as("c_custkey"),
        concat(lit("SEG"), pmod(xxhash64(col("id"), lit(1)), lit(5))).as("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$base/customer")
      spark.range(nOrders).select(
        col("id").as("o_orderkey"),
        pmod(xxhash64(col("id"), lit(2)), lit(nCust)).as("o_custkey"),
        pmod(xxhash64(col("id"), lit(3)), lit(2557)).cast("int").as("o_orderdate"))
        .write.mode("overwrite").parquet(s"$base/orders")
      spark.range(nLines).select(
        pmod(xxhash64(col("id"), lit(4)), lit(nOrders)).as("l_orderkey"),
        (pmod(xxhash64(col("id"), lit(5)), lit(90000)) / lit(100.0) + 10.0)
          .as("l_extendedprice"),
        (pmod(xxhash64(col("id"), lit(6)), lit(11)) / lit(100.0)).as("l_discount"))
        .write.mode("overwrite").parquet(s"$base/lineitem")
    }
    val customer = spark.read.parquet(s"$base/customer")
    val orders = spark.read.parquet(s"$base/orders")
    val lineitem = spark.read.parquet(s"$base/lineitem")

    val revenue =
      sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE) - col("l_discount").cast("decimal(4,2)")))
        .cast("double")

    // r18 shape: fact join first, selective dim filter after it.
    def oldOrder(): DataFrame = {
      val cust = customer.where(col("c_mktsegment") === "SEG0")
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(revenue.as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }
    // r19 shape: the segment filter reaches orders BEFORE the fact join.
    def newOrder(): DataFrame = {
      val cust = customer.where(col("c_mktsegment") === "SEG0")
      val segOrders = orders.join(cust, col("o_custkey") === col("c_custkey"))
      lineitem
        .join(segOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(revenue.as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }

    // Shuffle bytes are the robust comparison on a noisy box: wall swings
    // with ambient load, bytes written to shuffle do not. Each label's
    // bytes are its own measurement's tasks.
    def timed(label: String, df: => DataFrame): Seq[Row] = {
      spark.sparkContext.setJobDescription(s"reljoin-scale $label")
      val (rows, stats) = p.measure(df.collect().toSeq)
      p.emit(label, stats, "orders" -> nOrders, "first" -> rows.headOption.mkString)
      rows
    }

    def dumpPlan(label: String, df: DataFrame): Unit = {
      val out = new java.io.PrintStream(p.path(s"reljoin_${label}_plan.txt"))
      Console.withOut(out) { df.explain("formatted") }
      out.close()
    }
    dumpPlan("old", oldOrder())
    dumpPlan("new", newOrder())

    // Interleaved pairs: warm each once, then OLD/NEW x2. Both join orders
    // must return the same top 10.
    def pair(old: String, nu: String): Unit = {
      val (o, n) = (timed(old, oldOrder()), timed(nu, newOrder()))
      require(o == n, s"join orders disagree: $o vs $n")
    }
    try {
      pair("warm_old", "warm_new")
      for (i <- 1 to 2) pair(s"old_$i", s"new_$i")
    } finally spark.sparkContext.setJobDescription(null)
  }
}
