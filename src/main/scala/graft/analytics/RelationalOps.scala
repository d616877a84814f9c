package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Repository/eval analytics (SURVEY §2.6-2.7: A2/A3/A6/A7, P3-P5, O1-O4,
  * J1/J2-shaped joins) expressed as declarative DataFrame queries over the
  * driver test tables — Catalyst provides pushdown, pruning, partial
  * aggregation and join planning; every aggregate that feeds the DuckDB
  * oracle goes through exact DECIMAL sums cast to double (deterministic
  * across engines and partition orders, unlike raw double sums).
  *
  * Scale notes: group-bys are partial+final hash aggregates; the dimension
  * sides of joins (customer/nation/region) are broadcast so the fact table
  * never shuffles for them; every query ends in a deterministic ORDER BY so
  * results are stable for the hash-compare gate.
  */
object RelationalOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact money sum: decimal accumulate, double render. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** A2-style pricing summary (hash agg, partial+final). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)")) *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  def q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** J1-style join + O1 sort + O3 limit: top customers by order revenue.
    * Customer is the broadcast side (bounded dimension).
    */
  def q2TopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(10)
  }

  def q2Sql: String =
    """SELECT c_custkey, c_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_custkey, c_name
       ORDER BY revenue DESC, c_custkey LIMIT 10"""

  /** Multi-way broadcast join through the dimension chain. */
  def q3RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = broadcast(t(spark, dir, "customer"))
    val nation = broadcast(t(spark, dir, "nation"))
    val region = broadcast(t(spark, dir, "region"))
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("r_name")
  }

  def q3Sql: String =
    """SELECT r_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name ORDER BY r_name"""

  /** P3/P4 filter + projection (pushed to the parquet scan) + O1/O3. */
  def q4FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R" &&
        col("l_quantity") >= 10 && col("l_quantity") <= 20 &&
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice").cast("decimal(18,2)").cast("double").as("price"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)

  def q4Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
       FROM lineitem
       WHERE l_returnflag = 'R' AND l_quantity >= 10 AND l_quantity <= 20
         AND l_shipdate >= TIMESTAMP '1995-01-01'
       ORDER BY l_orderkey, l_linenumber LIMIT 100"""

  /** A8 distinct/dedupe. */
  def q5Distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("l_returnflag")

  def q5Sql: String =
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey) AS n_parts
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** §2.8 ranking window (deterministic tiebreak on the key). */
  def q6WindowTopOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("top_price"))
      .orderBy("o_custkey")
  }

  def q6Sql: String =
    """SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS top_price
       FROM (SELECT *, row_number() OVER
               (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) WHERE rn = 1 ORDER BY o_custkey"""

  /** A6/A7 eval-shape: per-group ratio metrics from integer counts
    * (exact cross-engine: int/int via double cast).
    */
  def q7EvalRatios(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("n_high"),
        (sum(when(col("value") > 50.0, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("high_ratio"))
      .orderBy("event_type")

  def q7Sql: String =
    """SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS high_ratio
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** Time bucketing over the events stream table (A4-shape). */
  def q8EventsDaily(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("day", "event_type")

  def q8Sql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY day, event_type"""

  /** Date-part extraction + aggregation. */
  def q9OrdersByMonth(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("y", "m")

  def q9Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders GROUP BY 1, 2 ORDER BY y, m"""

  /** Anti join (the resume protocol's left_anti shape, SURVEY §4.2). */
  def q10AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    // no .distinct() on the anti-join side: left_anti is set-semantic, and
    // a pre-dedupe is a full extra shuffle over the fact table's keys
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"))
    orders.join(li, orders("o_orderkey") === li("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orders_without_items"))
  }

  def q10Sql: String =
    """SELECT count(*) AS n_orders_without_items FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)"""

  /** Semi join (EXISTS). */
  def q11SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    // likewise no .distinct() before left_semi — duplicates cannot change
    // the semi-join result, the dedupe only added a shuffle
    val big = t(spark, dir, "orders").filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"))
    customer.join(big, customer("c_custkey") === big("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  def q11Sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Fact-to-fact shuffle join: both sides too large to broadcast →
    * sort-merge/shuffled-hash on the join key, with AQE free to pick.
    * The one join class q2/q3's broadcast dimensions don't cover.
    *
    * Round-6 shape: lineitem is PARTIALLY AGGREGATED on the join key
    * BEFORE the join (guide §2.3 "aggregate before you shuffle"), fusing
    * what was two fact-sized Exchanges — hashpartitioning(l_orderkey) for
    * the join plus hashpartitioning(o_orderpriority, o_orderkey) for the
    * distinct-count — into ONE: the join's l_orderkey exchange now carries
    * (key, count, decimal sum) partials instead of raw line items, the
    * joined stream is orders-sized, and `countDistinct(o_orderkey)`
    * becomes a plain count (o_orderkey is the orders PRIMARY KEY — unique
    * at every SF, so one joined row per matched order; the DECIMAL re-sum
    * of per-key partial sums is associative-exact, hence the oracle hash
    * is unchanged — proven at all 3 SFs, CORRECTNESS r6).
    */
  def q12FactJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    val liAgg = li.groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("items_per_order"),
        sum((col("l_extendedprice").cast("decimal(18,2)")) *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("rev_per_order"))
    liAgg.join(orders, liAgg("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("items_per_order")).as("n_items"),
        sum(col("rev_per_order")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  def q12Sql: String =
    """SELECT o_orderpriority,
       count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** P3/O1 library search: filter + sort by recency-analog + limit
    * (`storage.py:113-145`).
    */
  def p3LibrarySearch(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(desc("n_chars"), col("doc_id"))
      .limit(50)

  def p3Sql: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
       WHERE lang = 'en' AND n_chars >= 200
       ORDER BY n_chars DESC, doc_id LIMIT 50"""

  /** A2 repository statistics analog (`storage.py:147-175`): counts by
    * group + size totals/averages.
    */
  def a2RepoStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("total_documents"),
        sum(col("n_chars")).as("total_size_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_size_chars"))
      .orderBy("lang")

  def a2Sql: String =
    """SELECT lang, count(*) AS total_documents,
       CAST(sum(n_chars) AS BIGINT) AS total_size_chars,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_size_chars
       FROM documents GROUP BY lang ORDER BY lang"""

  /** Point lookup — the library detail-page fetch-by-id
    * (`storage.py:95-111`): a single-key predicate pushed to the parquet
    * scan (row-group/page pruning at scale; a metadata lookup on Iceberg).
    */
  def p1DocLookup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("doc_id") === 42L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))

  def p1Sql: String =
    """SELECT doc_id, lang, source, n_chars, text FROM documents
       WHERE doc_id = 42"""

  /** P5 retention split (`storage.py:177-203`): one pass classifying rows
    * against the age cutoff — `n_purged` is what a retention `deleteWhere`
    * would drop, `n_kept` what survives. The delete op itself lives on the
    * results table (graft.jobs.CommitCore.deleteWhere, DocStoreSpec and
    * FileRetentionSpec).
    */
  def p5Retention(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("ts") >= cutoff, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("ts") < cutoff, 1L).otherwise(0L)).as("n_purged"),
        max(when(col("ts") < cutoff, col("ts"))).as("newest_purged"))
      .orderBy("event_type")
  }

  def p5Sql: String =
    """SELECT event_type,
       CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       max(CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN ts END) AS newest_purged
       FROM events GROUP BY event_type ORDER BY event_type"""

}
