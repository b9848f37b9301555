package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H-shaped multi-join analytics (SURVEY.md §2.15, round 7) — the
  * three classic join-heavy report shapes q54 (Q5) doesn't cover:
  * market-share ratio (Q8), nation-pair volume with an OR-pair predicate
  * (Q7), and the sole-supplier semi/anti self-correlation (Q21).
  *
  * Scale notes (100 TB): all three keep the fact tables (orders,
  * lineitem) on the shuffle side and every dimension (region, nation,
  * supplier, customer) broadcast — decided by size statistics, not
  * hints, same policy q54 proves in PlanShapeSpec. No query joins
  * lineitem to itself: q101's correlated EXISTS/NOT-EXISTS pair is
  * re-expressed as ONE per-order aggregate (min/max pairs in a single
  * two-phase hash agg; round 17 replaced the countDistinct with the
  * min=max identity, dropping the Expand), so it costs one shuffle
  * on l_orderkey instead of Q21's textbook double self-join — the oracle
  * keeps the textbook correlated form, proving the rewrite equivalent.
  */
object Analytics {

  private def rev: org.apache.spark.sql.Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // q99 — TPC-H Q8 market share: of all revenue from orders placed by
  // ASIA customers, the fraction supplied by NATION_9 suppliers, per
  // order year. The ratio rides the SAME single aggregate as the two
  // sums (conditional sum / sum — one two-phase hash agg over the joined
  // fact rows); round-6 on the share follows q84's proven float-stat
  // contract, round-2 on the money sums follows q12's.
  def q99(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(s, dir)
      .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(s, dir)
      .join(asiaNations, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val supp = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir).select(col("n_nationkey").as("sn_key"),
                                         col("n_name").as("supp_nation")),
            col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    // round 18 (guide §3): apply the selective ASIA customer filter to
    // orders BEFORE the fact join — the previous order (lineitem⋈orders
    // first) shuffled the whole fact and all orders through a sort-merge
    // join and only then dropped 4/5 of the rows. Filtered-orders side is
    // 5× smaller at any scale; at fixture scale AQE then broadcasts it and
    // lineitem is never shuffled at all. Inner joins commute — output
    // unchanged (oracle re-verified).
    val ord = Tables.orders(s, dir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate")
    Tables.lineitem(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      // Exact-decimal sums: round(sum(double),2) is hash-stable for most
      // money queries (q12 precedent) but q99's 1999 group landed exactly
      // on a half-cent boundary where Spark's and DuckDB's summation
      // order disagree in the last ulp. Casting each row's revenue to
      // DECIMAL(18,4) FIRST makes the sum exact integer arithmetic —
      // order-independent, so both engines produce the identical decimal
      // before the final round/cast back to double.
      .agg(
        round(sum(when(col("supp_nation") === "NATION_9", rev).otherwise(lit(0.0))
                    .cast("decimal(18,4)")), 2).cast("double").as("nation_rev"),
        round(sum(rev.cast("decimal(18,4)")), 2).cast("double").as("total_rev"),
        round(sum(when(col("supp_nation") === "NATION_9", rev).otherwise(lit(0.0))
                    .cast("decimal(18,4)")).cast("double") /
              sum(rev.cast("decimal(18,4)")).cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  val q99Sql: String =
    """SELECT year(o_orderdate) AS o_year,
      |       round(sum(CAST(CASE WHEN n2.n_name = 'NATION_9'
      |                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
      |                      AS DECIMAL(18,4))), 2)::DOUBLE AS nation_rev,
      |       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE AS total_rev,
      |       round(sum(CAST(CASE WHEN n2.n_name = 'NATION_9'
      |                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
      |                      AS DECIMAL(18,4)))::DOUBLE
      |             / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))::DOUBLE, 6) AS mkt_share
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // q100 — TPC-H Q7 nation-pair volume: revenue flowing between
  // (NATION_18 suppliers ↔ NATION_19 customers) in either direction, per
  // direction per year. The OR-pair predicate cannot be pushed into
  // either dimension alone, so it filters AFTER the two broadcast
  // nation joins — the planner still prunes every other nation pair
  // before the fact shuffle because each side's IN(NATION_18, NATION_19)
  // half IS individually pushable (asserted in PlanShapeSpec).
  def q100(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_18", "NATION_19")
    val suppN = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
              .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
            col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val custN = Tables.customer(s, dir)
      .join(Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
              .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")),
            col("c_nationkey") === col("cn_key"))
      .select("c_custkey", "cust_nation")
    // round 18 (guide §3): same join-order repair as q99 — the two-nation
    // customer filter reaches orders BEFORE the fact join (2/25 of
    // customers ⇒ ~12× fewer order rows into the lineitem join), instead
    // of sort-merge-joining the whole fact against all orders first.
    // Inner joins commute — output unchanged (oracle re-verified).
    val ordN = Tables.orders(s, dir)
      .join(custN, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    Tables.lineitem(s, dir)
      .join(ordN, col("l_orderkey") === col("o_orderkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
              (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(rev), 2).as("volume"), count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q100Sql: String =
    """SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
      |       year(l_shipdate) AS l_year,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE (n2.n_name = 'NATION_18' AND n1.n_name = 'NATION_19')
      |   OR (n2.n_name = 'NATION_19' AND n1.n_name = 'NATION_18')
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // q101 — TPC-H Q21 shape: suppliers that were the SOLE supplier of a
  // finished multi-line order. The textbook form is a correlated
  // EXISTS (another line, any supplier) + NOT EXISTS (another line,
  // different supplier) double self-join on lineitem; at 100 TB that is
  // two extra shuffles of the biggest table. Re-expressed: one
  // aggregate per l_orderkey (min/max linenumber, min/max suppkey)
  // keeps it to a single shuffle, and "sole supplier of a multi-line
  // order" is just min(linenumber) < max(linenumber) AND min = max on
  // suppkey — min(l_suppkey) is then THE supplier. The line test is on
  // distinct line numbers, not a row count: the EXISTS asks for a line
  // with a DIFFERENT l_linenumber, so an order whose only lines repeat
  // one (l_orderkey, l_linenumber) pair does not qualify. The oracle
  // keeps the correlated form, proving equivalence.
  def q101(s: SparkSession, dir: String): DataFrame = {
    // round 17: "exactly one distinct supplier" ⟺ min(l_suppkey) =
    // max(l_suppkey) (l_suppkey is non-null in every lineitem row — both
    // aggregates ignore nothing). This drops the countDistinct, whose
    // plan doubles every input row through an Expand and aggregates the
    // (l_orderkey, l_suppkey) pairs before the per-order count — with
    // min/max the whole aggregate is ONE two-phase hash agg over
    // unexpanded rows (plan: Expand gone, before/after in plans/r17).
    // Output unchanged: n_supp only ever gated the filter.
    val sole = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(min(col("l_linenumber")).as("min_line"),
           max(col("l_linenumber")).as("max_line"),
           min(col("l_suppkey")).as("the_suppkey"),
           max(col("l_suppkey")).as("max_suppkey"))
      .filter(col("min_line") < col("max_line") &&
              col("the_suppkey") === col("max_suppkey"))
    sole
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, dir), col("the_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("s_name")
  }

  val q101Sql: String =
    """SELECT s_name, count(DISTINCT o_orderkey) AS n_orders
      |FROM orders
      |JOIN lineitem l1 ON l1.l_orderkey = o_orderkey
      |JOIN supplier  ON l1.l_suppkey = s_suppkey
      |WHERE o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_linenumber <> l1.l_linenumber)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name ORDER BY s_name""".stripMargin

  /** q109 — PARETO SKYLINE (round 16): the non-dominated (price, size)
    * points of `part` — minimize price, maximize size; a point is
    * dominated iff another point has price ≤ AND size ≥ (distinct
    * points make one strict automatic). The multi-criteria frontier
    * every "cheapest-but-biggest" product/offer query needs, and an
    * operator family (dominance) none of the other queries covers.
    *
    * NOT the O(n²) dominance anti-join: for 2 dimensions the skyline
    * is a SORT + RUNNING MAX — ordered by (price asc, size desc), a
    * point is dominated exactly when some predecessor's size ≥ its own
    * (the predecessor has smaller price, or equal price with strictly
    * larger size). Scalable TWO-PHASE form (dominance is transitive,
    * so frontier(A ∪ B) = frontier(frontier(A) ∪ frontier(B))): phase
    * 1 computes a LOCAL skyline inside each of 32 hash buckets
    * (partitioned windows — no global sort of the input); phase 2 runs
    * the same window over only the local survivors (≤ Σ local-frontier
    * sizes — tiny), which is the one single-partition step and it sees
    * frontiers, not the corpus. The oracle states the same answer with
    * one global window.
    */
  def q109(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.part(s, dir)
      .select(col("p_retailprice").as("price"), col("p_size").as("size"))
      .distinct()
      .withColumn("bucket", pmod(hash(col("price"), col("size")), lit(32)))
    val wLocal = Window.partitionBy("bucket")
      .orderBy(col("price").asc, col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = pts
      .withColumn("pm", max(col("size")).over(wLocal))
      .filter(col("pm").isNull || col("pm") < col("size"))
      .drop("pm", "bucket")
    val wGlobal = Window
      .orderBy(col("price").asc, col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    local
      .withColumn("pm", max(col("size")).over(wGlobal))
      .filter(col("pm").isNull || col("pm") < col("size"))
      .select(col("price"), col("size"))
      .orderBy("price", "size")
  }

  val q109Sql: String =
    """WITH pts AS (
      |  SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part
      |), m AS (
      |  SELECT price, size,
      |         max(size) OVER (ORDER BY price ASC, size DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM pts
      |)
      |SELECT price, size FROM m WHERE pm IS NULL OR pm < size
      |ORDER BY price, size""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q109_skyline" -> (q109 _),
    "q99_mktshare"      -> (q99 _),
    "q100_nation_pairs" -> (q100 _),
    "q101_sole_supplier" -> (q101 _))

  val oracle: Map[String, String] = Map(
    "q109_skyline" -> q109Sql,
    "q99_mktshare"      -> q99Sql,
    "q100_nation_pairs" -> q100Sql,
    "q101_sole_supplier" -> q101Sql)
}
