package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.shims

import graft.plans.GraftExtensions
import graft.sources.Tables

/** SQL surface of the engine: the star schema as temp views plus
  * graft's native functions, so every capability is reachable through
  * `spark.sql(...)` as well as the DataFrame API.
  */
object GraftSql {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  // last sfDir registered per live session — registering is 10 parquet
  // schema reads + file listings, far too expensive to repeat per query.
  // The maps are only ever touched under their own monitor for a cheap
  // get/put; the expensive registration runs under a PER-SESSION lock,
  // so one session's slow first registration never blocks another
  // session's cached fast path.
  private val registeredDir = new java.util.WeakHashMap[SparkSession, String]()
  private val sessionLocks = new java.util.WeakHashMap[SparkSession, Object]()

  private def lockFor(spark: SparkSession): Object =
    sessionLocks.synchronized {
      sessionLocks.computeIfAbsent(spark, _ => new Object)
    }

  /** Register the sf tables as temp views and graft functions into the
    * session (idempotent; cached per (session, sfDir) — re-registers only
    * when the data directory changes).
    *
    * The cache assumes the catalog and the files under `sfDir` are not
    * mutated behind it: dropping/shadowing a temp view or replacing the
    * parquet files requires [[invalidate]] before the next `sql` call.
    */
  def register(spark: SparkSession, sfDir: String): Unit = {
    val cached = registeredDir.synchronized(registeredDir.get(spark))
    if (cached != sfDir) {
      lockFor(spark).synchronized {
        val current = registeredDir.synchronized(registeredDir.get(spark))
        if (current != sfDir) {
          TableNames.filterNot(_ == "events")
            .foreach(n => Tables.table(spark, sfDir, n).createOrReplaceTempView(n))
          // events needs the nanos→micros ts conversion — never expose the raw view
          Tables.events(spark, sfDir).createOrReplaceTempView("events")
          GraftExtensions.functions.foreach { case (name, info, builder) =>
            shims.registerFunction(spark, name, info, builder)
          }
          // the native top-k operator's SQL surface: the planner
          // strategy plus the row_number()≤k rewrite rule, injected
          // through the runtime extension points so sessions built
          // without GraftExtensions still plan TopKPerKeyExec from SQL
          if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKey.TopKPerKeyStrategy)) {
            spark.experimental.extraStrategies =
              spark.experimental.extraStrategies :+ graft.plans.TopKPerKey.TopKPerKeyStrategy
          }
          if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKPerKey.RowNumberLimitToTopK)) {
            spark.experimental.extraOptimizations =
              spark.experimental.extraOptimizations :+ graft.plans.TopKPerKey.RowNumberLimitToTopK
          }
          registeredDir.synchronized(registeredDir.put(spark, sfDir))
        }
      }
    }
  }

  /** Drop the cached registration for a session — call after mutating
    * data under a registered sfDir or touching the temp views, so the
    * next `sql`/`register` rebuilds them from current state.
    */
  def invalidate(spark: SparkSession): Unit =
    registeredDir.synchronized(registeredDir.remove(spark))

  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    register(spark, sfDir)
    spark.sql(query)
  }

  /** B13's query text — the SINGLE source for both the Spark run and
    * the DuckDB oracle (the driver compare is only meaningful if the
    * two sides execute character-identical SQL; a second copy would
    * let them drift).
    */
  val Q6Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** B13: pure-SQL query (TPC-H Q6 shape) — demonstrates the SQL
    * entry point; single scan with every predicate pushed down.
    */
  def b13SqlQ6(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q6Sql)

  /** B19: correlated scalar subqueries through SQL (TPC-H Q17 shape) —
    * lineitems whose quantity exceeds 2× their part's average. The
    * inner aggregates are correlated on the outer row's part key;
    * Catalyst decorrelates each into an aggregate + outer join
    * (RewriteCorrelatedScalarSubquery) — the naive per-row re-execution
    * reading is never what runs (PlanSpec asserts no ScalarSubquery
    * survives). The avg threshold is expressed as `qty · count >
    * 2 · sum` in DECIMAL so both engines compare exact numbers (no
    * double AVG). Honest plan note: MergeScalarSubqueries only merges
    * UNcorrelated subqueries in Spark 4.1, so the two correlated
    * aggregates keep separate (narrow, pushdown-pruned) lineitem
    * passes; when scan cost dominates at full scale, the hand-written
    * single-pass form — one groupBy(partkey).agg(count, sum) joined
    * back, b11's shape — is the equivalent the optimizer does not yet
    * produce.
    */
  val Q17Sql: String =
    """SELECT p.p_brand, COUNT(*) AS n_heavy
      |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * (
      |    SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
      |  ) > (
      |    SELECT 2 * SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
      |    FROM lineitem l3 WHERE l3.l_partkey = p.p_partkey
      |  )
      |GROUP BY p.p_brand""".stripMargin

  /** Engine-side form of [[Q17Sql]] (round-14, guide §2.4): the two
    * correlated scalar subqueries decorrelate into two SEPARATE
    * per-partkey aggregates over lineitem (the before plan scans
    * lineitem three times). Both subqueries aggregate the same group —
    * COUNT(*) and SUM(quantity) per l_partkey — so one shared
    * aggregate serves both sides of the predicate. Equivalence: every
    * outer row comes from the lineitem join, so its partkey group is
    * non-empty (both subqueries bind non-NULL, exactly as the shared
    * aggregate row does); the comparison stays in exact decimal. The
    * oracle keeps [[Q17Sql]]; the gate hash proves equivalence.
    */
  val Q17EngineSql: String =
    """WITH a AS (
      |  SELECT l_partkey, COUNT(*) AS cnt, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT p.p_brand, COUNT(*) AS n_heavy
      |FROM part p
      |JOIN lineitem l ON l.l_partkey = p.p_partkey
      |JOIN a ON a.l_partkey = p.p_partkey
      |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * a.cnt > 2 * a.sq
      |GROUP BY p.p_brand""".stripMargin

  def b19SqlCorrelated(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q17EngineSql)

  /** B23: TPC-H Q21 shape — the hardest correlation pattern in the
    * suite: a correlated EXISTS and a correlated NOT EXISTS against the
    * SAME table, both on the outer row's order key with a <>-predicate
    * on the supplier ("the only supplier whose lineitem returned in a
    * multi-supplier order"; returnflag stands in for the
    * receipt-past-commit lateness column this schema lacks). Catalyst
    * decorrelates EXISTS → left semi and NOT EXISTS → left anti
    * (RewritePredicateSubquery), so the plan is three keyed joins on
    * l_orderkey — never a per-row subquery. The final ORDER BY
    * (numwait DESC, suppkey) is total, so LIMIT 20 is deterministic.
    */
  val Q21Sql: String =
    """SELECT s.l_suppkey AS suppkey, COUNT(*) AS numwait
      |FROM lineitem s JOIN orders o ON o.o_orderkey = s.l_orderkey
      |WHERE o.o_orderstatus = 'F' AND s.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = s.l_orderkey AND l2.l_suppkey <> s.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = s.l_orderkey AND l3.l_suppkey <> s.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s.l_suppkey
      |ORDER BY numwait DESC, suppkey
      |LIMIT 20""".stripMargin

  // round-14 examined, deliberately NOT rewritten: replacing the
  // semi/anti joins with one per-order distinct-supplier aggregate was
  // measured SLOWER warm at sf0.1 (0.8 s original vs 1.3 s two-agg vs
  // 2.0 s distinct-Expand in one-session A/B) — the decorrelated
  // semi/anti pair broadcasts and never touches a distinct buffer.
  def b23SqlQ21(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q21Sql)

  /** B24: TPC-H Q22 shape ("global sales opportunity") — the classic
    * mix of an UNcorrelated scalar subquery (the positive-balance
    * average over the candidate countries) with a correlated NOT
    * EXISTS (customers who never ordered). This schema has no c_phone,
    * so c_nationkey plays the country-code role. The average threshold
    * is never computed as a divided value: `bal · count > sum` in
    * DECIMAL (b19's Q17 idiom), so both engines compare exact
    * integer-scaled numbers. Q22's "customers without orders" is empty
    * in this dataset (every customer ordered), so the anti side keeps
    * the same shape on a selective predicate: customers who never
    * placed an URGENT order — the priority filter pushes into the
    * orders scan before the anti join. Catalyst plans the scalar
    * subqueries as once-executed subquery stages (uncorrelated —
    * nothing per-row) and rewrites NOT EXISTS to a keyed LEFT ANTI
    * join on o_custkey (plan-asserted); at scale that is one customer
    * scan, one filtered orders anti-join, and a tiny broadcast
    * threshold.
    */
  val Q22Sql: String =
    """SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer c
      |WHERE c.c_nationkey IN (0, 3, 7, 11, 14, 19, 21)
      |  AND CAST(c.c_acctbal AS DECIMAL(18,2)) * (
      |    SELECT COUNT(*) FROM customer c2
      |    WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey IN (0, 3, 7, 11, 14, 19, 21)
      |  ) > (
      |    SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) FROM customer c2
      |    WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey IN (0, 3, 7, 11, 14, 19, 21)
      |  )
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c.c_nationkey""".stripMargin

  def b24SqlQ22(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q22Sql)

  /** B26: TPC-H Q18 shape ("large volume customer") — the HAVING-driven
    * IN subquery: orders whose total lineitem quantity clears a
    * threshold, joined back to customer and re-aggregated. Quantity
    * sums run in DECIMAL and cast to double at the end (b1's idiom), so
    * both engines agree bit-exactly. Catalyst rewrites the IN subquery
    * to a LEFT SEMI join on l_orderkey; the HAVING aggregate and the
    * orders⋈lineitem join shuffle on the SAME key, so at scale the
    * exchange is reused rather than repeated, and AQE handles the big
    * order's skew. The ORDER BY (totalprice DESC, orderdate, orderkey)
    * is total — o_orderkey is in the group key — so LIMIT 100 is
    * deterministic.
    */
  val Q18Sql: String =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200)
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      |ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
      |LIMIT 100""".stripMargin

  /** Engine-side form of [[Q18Sql]] (round-14, guide §2.4): the IN
    * subquery's per-order quantity aggregate and the outer per-order
    * re-aggregate run over the SAME group (o_orderkey is unique, the
    * customer/order attributes are functionally determined by it), so
    * one lineitem aggregate serves as both the filter and the output
    * sum — the before plan carried 12 HashAggregates / 10 scans, this
    * one aggregate + 3 scans. The ORDER BY is total (orderkey unique)
    * so LIMIT 100 is deterministic in both forms. The oracle keeps
    * [[Q18Sql]]; the gate hash proves equivalence.
    */
  val Q18EngineSql: String =
    """WITH oq AS (
      |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
      |  CAST(oq.sq AS DOUBLE) AS sum_qty
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN oq ON oq.l_orderkey = o.o_orderkey
      |WHERE oq.sq > 200
      |ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
      |LIMIT 100""".stripMargin

  def b26SqlQ18(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q18EngineSql)

  /** B27: TPC-H Q15 shape ("top supplier") — an aggregate CTE consumed
    * twice: once as the join input, once under an uncorrelated scalar
    * MAX subquery that selects the winner(s). Revenue stays DECIMAL
    * through the MAX equality (exact in both engines — a double
    * comparison at the top would be ULP-fragile) and casts to double
    * only in the output projection (b1's idiom). Catalyst plans the
    * MAX as a once-executed subquery stage over the reused revenue
    * aggregate — never per-row — and the supplier dim broadcasts. At
    * scale: one lineitem shuffle on l_suppkey (the date filter pushes
    * into the scan), a driver-sized scalar, a broadcast join.
    */
  val Q15Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
      |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin

  def b27SqlQ15(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q15Sql)

  /** B28: TPC-H Q7 shape ("volume shipping") — the two-hop fact chain
    * lineitem→orders→customer with BOTH endpoints dimension-decorated
    * (supplier nation, customer nation) and a symmetric nation-pair
    * disjunction that spans the two dims, so it cannot push into
    * either scan alone — the planner must decorate first, filter the
    * pair after. Money stays DECIMAL to the final cast (b1's idiom);
    * the year is cast BIGINT in-SQL because Spark's year() is INT and
    * DuckDB's is BIGINT. At scale: the 25-row nation dim broadcasts
    * twice, supplier broadcasts, the two big shuffles are
    * lineitem⋈orders on orderkey and ⋈customer on custkey — the
    * minimum for this chain — and the date filter pushes into the
    * lineitem scan (plan-asserted, with no cartesian anywhere despite
    * the cross-dim OR).
    */
  val Q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
      |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
      |  AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1, 2, 3""".stripMargin

  def b28SqlQ7(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q7Sql)

  /** B29: TPC-H Q10 shape ("returned item reporting") — the classic
    * customer-ranking report: revenue lost to returns over a half-year
    * window, grouped by the full customer row, top 20. Money in
    * DECIMAL to the final cast (b1's idiom); the ORDER BY
    * (revenue DESC, c_custkey) is total because custkey is in the
    * group key, so LIMIT 20 is deterministic cross-engine even on
    * revenue ties. At scale: both date and returnflag filters push
    * into their scans, lineitem⋈orders shuffles on orderkey, the
    * aggregated per-customer frame joins customer (broadcast at test
    * SF, keyed at 100 TB), nation broadcasts, and the top 20 is a
    * TakeOrdered — never a global sort.
    */
  val Q10Sql: String =
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |GROUP BY c.c_custkey, c.c_name, n.n_name
      |ORDER BY revenue DESC, c.c_custkey
      |LIMIT 20""".stripMargin

  def b29SqlQ10(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q10Sql)

  /** B30: TPC-H Q12 shape ("shipping modes and order priority") — the
    * conditional-aggregation idiom: one pass, two CASE-gated counts
    * per group (urgent vs non-urgent lineitems per linestatus; this
    * schema has no shipmode/receiptdate, so linestatus plays the mode
    * role over a one-year ship window). The CASE sums are integer
    * counts — exact in any order — but DuckDB widens SUM(int) to
    * HUGEINT, so both are CAST back to BIGINT (the round-6 oracle
    * lesson, now a meta-spec). At scale: the date filter pushes into
    * the lineitem scan, one orderkey-keyed join (orders projects two
    * columns), the aggregate is two-phase with map-side combine onto a
    * handful of groups.
    */
  val Q12Sql: String =
    """SELECT l.l_linestatus,
      |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l.l_linestatus""".stripMargin

  def b30SqlQ12(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q12Sql)

  /** B31: TPC-H Q5 shape ("local supplier volume") — the snowflake
    * walk customer→orders→lineitem→supplier with the LOCAL-supplier
    * constraint (s_nationkey = c_nationkey, a second equality folded
    * into the supplier join) and the nation→region rollup filter. The
    * constraint is what distinguishes Q5 from a plain star join: the
    * supplier join key is composite (suppkey AND the customer's
    * nation), so the planner must carry c_nationkey through the fact
    * chain — a cross-table equality no single scan can push. Money in
    * DECIMAL to the final cast. At scale: region/nation/supplier all
    * broadcast, the two big shuffles are orderkey and custkey, the
    * date filter pushes into the orders scan (plan-asserted, no
    * cartesian).
    */
  val Q5Sql: String =
    """SELECT n.n_name,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n.n_name""".stripMargin

  def b31SqlQ5(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q5Sql)

  /** B32: TPC-H Q8 shape ("national market share") — the
    * ratio-of-conditional-sum idiom: one nation's share of a regional
    * market's volume per year. Both sums run in exact DECIMAL and cast
    * to DOUBLE only at the division (two exactly-equal operands both
    * sides → identical quotient); the CASE else-branch is an explicit
    * DECIMAL zero so an empty numerator year reads 0.0, not NULL. The
    * seven-way join is the widest in the suite — part prunes the fact
    * rows first (selective p_type), nation×2/region/supplier
    * broadcast, the two big shuffles stay orderkey/custkey.
    */
  val Q8Sql: String =
    """WITH flat AS (
      |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |    n2.n_name AS supp_nation,
      |    CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2))) AS volume
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      |  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
      |SELECT o_year,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_13' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
      |  CAST(SUM(volume) AS DOUBLE) AS total_volume
      |FROM flat
      |GROUP BY o_year""".stripMargin

  def b32SqlQ8(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q8Sql)

  /** B33: TPC-H Q19 shape ("discounted revenue") — the disjunctive
    * cross-table predicate: three OR'd branches, each a conjunction of
    * part attributes (brand, size) AND lineitem attributes (quantity
    * band). No single scan can absorb the OR (each branch spans both
    * tables), so the join must evaluate it — the planner keeps it a
    * keyed partkey join with the residual OR as the join filter, never
    * a cartesian (plan-asserted). Revenue in DECIMAL to the final
    * cast. Single-row output: the driver compare pins both the count
    * and the exact revenue.
    */
  val Q19Sql: String =
    """SELECT COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 30)
      |   OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 10 AND l.l_quantity <= 40)
      |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity >= 20 AND l.l_quantity <= 50)""".stripMargin

  def b33SqlQ19(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q19Sql)

  /** B34: TPC-H Q9 shape ("product type profit") — the widest
    * profit-expression aggregation: lineitem decorated with part,
    * supplier, orders and the supplier's nation, profit = revenue minus
    * a cost term, grouped by (nation, order year). This schema has no
    * partsupp, so `p_retailprice · l_quantity` plays the
    * `ps_supplycost · l_quantity` role — deterministic and exact, every
    * factor a 2-decimal input cast to DECIMAL before multiplying (the
    * b1 money idiom; a double product would round differently between
    * engines). The p_name LIKE filter prunes part FIRST, and Catalyst
    * broadcasts part/supplier/nation, leaving two big shuffles
    * (l_orderkey for orders, then the group-by key) — the same plan a
    * 1000-executor cluster wants: the fact table never joins
    * un-filtered dimensions. Year is cast BIGINT in-SQL (Spark year()
    * is INT, DuckDB's is BIGINT).
    */
  val Q9Sql: String =
    """WITH flat AS (
      |  SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))
      |      - CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  WHERE p.p_name LIKE '%gear%')
      |SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      |FROM flat
      |GROUP BY nation, o_year""".stripMargin

  def b34SqlQ9(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q9Sql)

  /** B35: TPC-H Q2 shape ("minimum cost supplier") — the correlated
    * scalar subquery whose INNER side is itself a multi-table join:
    * for each qualifying part, the supplier(s) in the region achieving
    * the minimum supply cost. The part–supplier relationship comes from
    * the fact table (no partsupp here): supply cost per (part,
    * supplier) = the exact DECIMAL sum of that pair's extended prices —
    * deterministic, and the min-equality compares DECIMALs (a double
    * MIN would be ULP-fragile). Catalyst decorrelates the per-part MIN
    * into an aggregate joined on p_partkey (never per-row), the dims
    * broadcast, and the ORDER BY hits the unique (p_partkey, s_name)
    * pair, so LIMIT 100 is deterministic even when a part has
    * cost-tied suppliers (Q2 keeps ties, like b21). Honest plan note:
    * Spark INLINES the `ps` CTE (no materialization), and exchange
    * reuse does not unify the two consumers — the bridge aggregate's
    * lineitem scan+shuffle runs twice (verified in the AQE final
    * plan). The DataFrame form pays it once via localCheckpoint
    * (c53's pattern); this one stays pure SQL because the oracle
    * contract runs the character-identical text in DuckDB. At scale,
    * prefer the DataFrame composition when the bridge dominates.
    */
  val Q2Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s.s_acctbal, s.s_name, n.n_name AS nation, p.p_partkey,
      |  CAST(ps.supplycost AS DOUBLE) AS supplycost
      |FROM part p
      |JOIN ps ON ps.l_partkey = p.p_partkey
      |JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |WHERE p.p_size <= 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
      |  AND ps.supplycost = (
      |    SELECT MIN(ps2.supplycost)
      |    FROM ps ps2
      |    JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
      |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      |    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
      |    WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s.s_acctbal DESC, nation, s.s_name, p.p_partkey
      |LIMIT 100""".stripMargin

  /** Engine-side form of [[Q2Sql]] (round-14, guide §2.4/§7.2): the
    * correlated MIN subquery made Spark build the `ps` aggregate (a
    * full lineitem scan + (partkey, suppkey) decimal-sum exchange)
    * TWICE — once for the outer join tree, once decorrelated under the
    * min — plus two sort-merge joins to stitch the correlation back
    * (18 scans total in the before plan). The window form computes the
    * Europe-restricted supplier-cost frame ONCE and takes
    * MIN(supplycost) OVER (PARTITION BY l_partkey) — same value the
    * correlated subquery binds for every outer row (the subquery's
    * only correlation is l_partkey = p_partkey and its region filter
    * matches), then keeps rows at the minimum. Ties keep every minimal
    * row in both forms; supplycost is never NULL (sum over a non-empty
    * group). One lineitem scan, one aggregate exchange, one window
    * exchange — the duplicate subtree is gone. The DuckDB oracle keeps
    * running [[Q2Sql]]; the gate hash proves equivalence.
    */
  val Q2EngineSql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |eu AS (
      |  SELECT ps.l_partkey, ps.supplycost, s.s_acctbal, s.s_name, n.n_name
      |  FROM ps
      |  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  WHERE r.r_name = 'EUROPE'),
      |w AS (
      |  SELECT eu.*, MIN(supplycost) OVER (PARTITION BY l_partkey) AS mc FROM eu)
      |SELECT w.s_acctbal, w.s_name, w.n_name AS nation, p.p_partkey,
      |  CAST(w.supplycost AS DOUBLE) AS supplycost
      |FROM part p
      |JOIN w ON w.l_partkey = p.p_partkey
      |WHERE p.p_size <= 15 AND p.p_type = 'LARGE' AND w.supplycost = w.mc
      |ORDER BY w.s_acctbal DESC, nation, w.s_name, p.p_partkey
      |LIMIT 100""".stripMargin

  def b35SqlQ2(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q2EngineSql)

  /** B36: TPC-H Q16 shape ("parts/supplier relationship") — COUNT
    * DISTINCT over a NOT IN-filtered bridge: how many distinct
    * suppliers serve each (brand, type, size) bucket, excluding
    * complaint suppliers (negative account balance stands in for the
    * comment scan). The bridge is the DISTINCT (partkey, suppkey)
    * projection of lineitem — at 100 TB that distinct is a map-side
    * combinable shuffle an order smaller than the fact table, and the
    * COUNT(DISTINCT) reuses the same key. NOT IN over a provably
    * non-null key column plans as a null-tolerant anti join against a
    * ~100-row broadcast. ORDER BY is total (count DESC then the full
    * group key).
    */
  val Q16Sql: String =
    """SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part p ON p.p_partkey = ps.l_partkey
      |WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
      |  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p.p_brand, p.p_type, p.p_size
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin

  /** Engine-side form of [[Q16Sql]] (round 15, guide §2.3/§2.4): the
    * DISTINCT (l_partkey, l_suppkey) bridge is dropped. It is
    * REDUNDANT for this query: the only aggregate is
    * COUNT(DISTINCT l_suppkey) per (brand, type, size), which is
    * invariant to ANY row duplication — deduping (partkey, suppkey)
    * pairs first changes neither which suppliers appear in a group nor
    * which groups exist (a group exists iff ≥ 1 surviving row, same
    * either way). Dropping it removes the full-lineitem
    * (partkey, suppkey) exchange; the remaining distinct-aggregate
    * exchange carries map-side-deduped (brand, type, size, suppkey)
    * rows restricted to the ~16%-selective part filter — strictly
    * fewer bytes at any scale. A/B at sf0.1 (OPTIMIZATION_r15.md §1,
    * 5-pass medians, same session): bridge form 1.110 s @32c / 0.868 s @8c vs
    * join-first 0.649 s @32c / 0.512 s @8c — join-first kept. The
    * DuckDB oracle keeps running [[Q16Sql]]; the gate hash proves
    * equivalence.
    */
  val Q16EngineSql: String =
    """SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
      |  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p.p_brand, p.p_type, p.p_size
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin

  def b36SqlQ16(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q16EngineSql)

  /** B37: TPC-H Q20 shape ("potential part promotion") — the nested
    * subquery tower: suppliers IN (a grouped-HAVING subquery whose
    * threshold is ITSELF a correlated scalar over the fact table),
    * with the part set from a third IN subquery. The promotion rule
    * here: a supplier qualifies if, for some red part, their 1996
    * shipped quantity exceeds half the part's total 1996 shipments
    * (market dominance) — expressed as `2 · pair_qty > part_qty` in
    * DECIMAL so no fraction is ever materialized. Catalyst decorrelates
    * the HAVING scalar into a per-part aggregate joined on l_partkey
    * and plans both INs as left-semi joins; the two aggregates shuffle
    * on compatible keys, the part filter broadcasts. Deterministic
    * total output (name is unique per supplier).
    */
  val Q20Sql: String =
    """SELECT s.s_name, n.n_name AS nation
      |FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE s.s_suppkey IN (
      |  SELECT l.l_suppkey FROM lineitem l
      |  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY l.l_suppkey, l.l_partkey
      |  HAVING 2 * SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > (
      |    SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
      |    FROM lineitem l2
      |    WHERE l2.l_partkey = l.l_partkey
      |      AND l2.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |      AND l2.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      |ORDER BY s.s_name""".stripMargin

  def b37SqlQ20(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q20Sql)

  /** B38: TPC-H Q11 shape ("important stock identification") — an
    * aggregate CTE consumed twice, once per group and once under an
    * uncorrelated scalar SUM that sets a global-fraction threshold.
    * Value per part = exact DECIMAL sum of one nation's suppliers'
    * extended prices; the 0.1% threshold is `value · 1000 >
    * total` — the b24 cross-product idiom, no divided value anywhere,
    * both engines compare exact scaled decimals. Catalyst evaluates
    * the scalar ONCE over the reused `nval` aggregate (plan-asserted in
    * spec) — at scale: one nation-filtered fact shuffle on l_partkey,
    * a driver-sized scalar, a row-local filter.
    */
  val Q11Sql: String =
    """WITH nval AS (
      |  SELECT l.l_partkey AS partkey,
      |    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  WHERE n.n_name = 'NATION_3'
      |  GROUP BY l.l_partkey)
      |SELECT partkey, CAST(value AS DOUBLE) AS value
      |FROM nval
      |WHERE value * 1000 > (SELECT SUM(value) FROM nval)
      |ORDER BY value DESC, partkey""".stripMargin

  def b38SqlQ11(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q11Sql)

  /** B39: TPC-H Q4 shape ("order priority checking") — correlated
    * EXISTS whose inner predicate crosses tables: an order counts if
    * some lineitem shipped more than 60 days after the order date
    * (the late-shipment stand-in for commitdate < receiptdate, columns
    * this schema lacks). The correlation is equi on l_orderkey plus an
    * outer-referencing inequality — Catalyst folds BOTH into one
    * left-semi join (equi key + non-equi join filter, plan-asserted;
    * never a per-row subquery, never a cartesian). The quarter filter
    * pushes into the orders scan, so at scale this is one filtered
    * semi-join shuffle on the order key and a 5-row aggregate.
    */
  val Q4Sql: String =
    """SELECT o.o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin

  def b39SqlQ4(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, Q4Sql)

  /** B40: explicit GROUPING SETS — the general form b6's ROLLUP and
    * b14's CUBE are sugar for, plus the GROUPING() markers that let a
    * consumer distinguish "NULL because aggregated away" from "NULL in
    * the data" (the reason every BI layer emits them). This text stays
    * the ORACLE side (DuckDB); markers cast BIGINT (Spark emits
    * TINYINT/INT, DuckDB BIGINT — the width meta-spec rule).
    */
  val GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())""".stripMargin

  /** Engine-side two-phase form of [[GroupingSetsSql]] (round-14, guide
    * §2.3): the grouping-sets Expand multiplies its input by the number
    * of sets, so it runs over the finest-grouping PARTIAL (≤ |rf×ls|
    * rows), not over lineitem — the fact table is aggregated once,
    * map-side-combined. Exact by decimal/long associativity
    * (Σ_sets Σ_group ≡ Σ_rows bit-for-bit; the double cast stays at the
    * edge); GROUPING() markers are a property of the grouping-set
    * shape, not of the input rows, so they are unchanged. Equivalence
    * is oracle-proven: the DuckDB side keeps running the direct text
    * above and the gate hash must not move.
    */
  val GroupingSetsEngineSql: String =
    """WITH base AS (
      |  SELECT l_returnflag, l_linestatus,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s,
      |    COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  CAST(CAST(SUM(s) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty,
      |  SUM(cnt) AS n
      |FROM base
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())""".stripMargin

  def b40GroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, GroupingSetsEngineSql)

  /** B41's SQL parameterized on the source table so the spec can run
    * the IDENTICAL text against a synthetic orders view with a planted
    * empty month (the gate corpus has no gap months — the zero-fill
    * branch needs data that exercises it). Portable SQL: the same text
    * runs on Spark and DuckDB, so the two sides cannot drift.
    */
  def b41SqlOn(table: String): String =
    s"""WITH RECURSIVE b AS (
       |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
       |         date_trunc('month', max(o_orderdate)) AS hi
       |  FROM $table),
       |spine(mon, hi) AS (
       |  SELECT lo, hi FROM b
       |  UNION ALL
       |  SELECT mon + INTERVAL 1 MONTH, hi FROM spine WHERE mon < hi),
       |m AS (
       |  SELECT date_trunc('month', o_orderdate) AS mon,
       |         COUNT(*) AS n_orders,
       |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
       |  FROM $table GROUP BY 1)
       |SELECT s.mon AS month_start,
       |  CAST(COALESCE(m.n_orders, 0) AS BIGINT) AS n_orders,
       |  CAST(COALESCE(m.rev, 0) AS DOUBLE) AS revenue
       |FROM spine s LEFT JOIN m ON m.mon = s.mon""".stripMargin

  val RecursiveSpineSql: String = b41SqlOn("orders")

  /** B42's SQL, parameterized on the two table names so the spec can
    * plant an order-LESS customer (the gate corpus has none — the
    * (0, NULL) branch needs data that exercises it). Portable: the
    * same text runs on Spark and DuckDB.
    */
  def b42SqlOn(customer: String, orders: String): String =
    s"""SELECT c.c_custkey,
       |  t.n_orders,
       |  CAST(t.max_price AS DOUBLE) AS max_price
       |FROM $customer c, LATERAL (
       |  SELECT COUNT(*) AS n_orders, MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS max_price
       |  FROM $orders WHERE o_custkey = c.c_custkey
       |) t""".stripMargin

  val LateralSql: String = b42SqlOn("customer", "orders")

  /** B42: LATERAL correlated derived table through spark.sql — the
    * modern SQL surface for "per row of the outer table, run this
    * parameterized subquery" (every customer's order count and max
    * price here). The semantic richness over a plain join+groupBy:
    * an ungrouped aggregate subquery yields exactly ONE row even for
    * customers with no orders (count 0, max NULL) — the join+groupBy
    * spelling silently drops them. The naive reading executes the
    * subquery per outer row; Catalyst decorrelates the lateral into
    * one grouped aggregate left-outer-joined on the correlation key
    * (plan-asserted: no per-row subquery, no nested loop survives),
    * so the 100 TB cost is one keyed aggregate + one join. MAX in
    * DECIMAL (double MAX is ULP-stable, but the DECIMAL keeps the
    * b1 money idiom), cast to double at the edge.
    */
  def b42LateralAgg(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, LateralSql)

  /** B41: recursive CTE through spark.sql (Spark 4's `WITH RECURSIVE` →
    * UnionLoop) — the gap-filled month spine every time-series report
    * needs: a calendar month axis generated BY RECURSION from the data's
    * own [min, max] order-date bounds, LEFT-joined to the monthly
    * revenue aggregate so empty months surface as explicit zero rows
    * (a plain GROUP BY silently drops them — the classic dashboard bug).
    * Scale shape: the recursion advances one ROW per step (bounded by
    * the calendar span, ~80 iterations here — never data-sized), the
    * corpus-sized work is ONE map-side-combined monthly aggregate, and
    * the spine side of the join is tiny so AQE broadcasts it. Revenue
    * sums in DECIMAL (order-independent) and casts to double at the
    * edge, b1's idiom.
    */
  def b41RecursiveCte(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, RecursiveSpineSql)

  /** B46: multi-column DISTINCT aggregation in one pass — the
    * cardinality dashboard (distinct customers / suppliers / parts per
    * order-year) every warehouse runs: Spark plans N COUNT DISTINCTs
    * over one input as a single Expand-based aggregate — the table is
    * read ONCE and rows multiply by N before the keyed exchange, the
    * standard trade (the alternative is N separate scans; the
    * approximate escape hatch is HLL, b12's posture). Portable SQL —
    * the identical text runs on both engines; year() cast BIGINT
    * (Spark INT vs DuckDB BIGINT, the width meta-spec rule), the money
    * sum in exact DECIMAL cast once to DOUBLE.
    */
  val MultiDistinctSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  COUNT(*) AS n_lines,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** The joined narrow frame feeding b46's split posture — year key,
    * the three distinct-counted keys, and the unscaled money term. The
    * revenue is carried as long sums over the unscaled product instead
    * of one decimal sum: a decimal(23,4) aggregation buffer forces the
    * non-vectorized BigDecimal update path for every row (round 14
    * measured 2.7 s vs 1.5 s for the identical aggregate with long-only
    * buffers at sf0.1). Exactness: u = unscaled(price_dec18_2) x (100 −
    * unscaled(disc_dec3_2)) IS price x (1−disc) at scale 4 as an
    * integer (u ≤ 1e10, non-negative by data contract); the hi/lo split
    * at 10^5 keeps both partial sums < 2^63 to ~9e13 rows per
    * order_year (far past 100 TB's ~4e11 lineitem rows); the final
    * reconstruction (hi*1e5 + lo)/1e4 runs once per group in decimal
    * and casts to double, which is the same correctly-rounded value the
    * direct decimal sum produces.
    */
  private val MultiDistinctBaseSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  o_custkey, l_suppkey, l_partkey,
      |  unscaled_long(CAST(l_extendedprice AS DECIMAL(18,2)))
      |    * (100 - unscaled_long(CAST(l_discount AS DECIMAL(3,2)))) AS u
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** B46 engine side, round 15: SPLIT distinct posture (s19's split
    * applied to b46, the r14-verdict A/B). The Expand form multiplies
    * every joined row ×4 (one branch per distinct + the plain
    * aggregate) before the year-keyed exchange; the split form
    * materializes the narrow joined frame ONCE (localCheckpoint — a
    * deterministic row-local projection, so materializing changes no
    * value) and runs the plain aggregate plus one dedup aggregate per
    * distinct over it, joined back on the ≤ 7-row year key. Each
    * distinct stream pre-reduces map-side (partial dedup on
    * (year, key)), so the three exchanges together carry the DISTINCT
    * key sets — far below the Expand's 4× row stream wherever keys
    * repeat, which is exactly when multi-distinct is expensive. A/B at
    * sf0.1 (OPTIMIZATION_r15.md §2, 5-pass medians, same session):
    * Expand 2.310 s @32c / 1.955 s @8c vs split 1.577 s @32c /
    * 1.338 s @8c — split kept at both core counts. Exactness: COUNT(*)/SUM(hi)/SUM(lo) aggregate
    * the identical checkpointed rows; COUNT(DISTINCT k) per year ≡
    * count of the deduped (year, k) set — definitionally equal; the
    * revenue reconstruction is exact by [[MultiDistinctBaseSql]]'s
    * argument. The DuckDB oracle keeps running
    * [[MultiDistinctSql]]; the gate hash proves equivalence.
    */
  def b46MultiDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
    val j = sql(spark, sfDir, MultiDistinctBaseSql).localCheckpoint()
    val base = j
      .groupBy(col("order_year"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(expr("u div 100000")).as("hi"),
        sum(expr("u % 100000")).as("lo")
      )
    def dcount(c: String, as: String) =
      j.select(col("order_year"), col(c)).distinct()
        .groupBy(col("order_year")).agg(count(lit(1)).as(as))
    base
      .join(dcount("o_custkey", "n_customers"), Seq("order_year"))
      .join(dcount("l_suppkey", "n_suppliers"), Seq("order_year"))
      .join(dcount("l_partkey", "n_parts"), Seq("order_year"))
      .select(
        col("order_year"), col("n_lines"), col("n_customers"), col("n_suppliers"), col("n_parts"),
        expr("CAST((CAST(hi AS DECIMAL(38,0)) * 100000 + lo) / 10000 AS DOUBLE)").as("revenue")
      )
  }

  /** B49: INTERSECT ALL / EXCEPT ALL — the MULTISET set operations
    * (b8 covered the DISTINCT forms): per-key multiplicities survive,
    * which is what bag semantics means and what Spark plans via
    * count-min aggregates + generate (no distinct collapse). Customers
    * appear once per qualifying order, so multiset and set counts
    * genuinely diverge on this data (the spec asserts it). Portable
    * SQL — identical text both engines.
    */
  val SetOpsAllSql: String =
    """WITH hv AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
      |urg AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |tagged AS (
      |  SELECT o_custkey, 'both_all' AS tag FROM (SELECT * FROM hv INTERSECT ALL SELECT * FROM urg)
      |  UNION ALL
      |  SELECT o_custkey, 'hv_only_all' AS tag FROM (SELECT * FROM hv EXCEPT ALL SELECT * FROM urg))
      |SELECT tag, COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS n_keys
      |FROM tagged GROUP BY tag""".stripMargin

  def b49SetOpsAll(spark: SparkSession, sfDir: String): DataFrame =
    sql(spark, sfDir, SetOpsAllSql)

  /** C13: vector search through SQL using graft's registered native
    * functions (array_l2_normalize / array_dot) — the
    * SparkSessionExtensions surface.
    */
  def c13SqlVector(spark: SparkSession, sfDir: String): DataFrame =
    sql(
      spark,
      sfDir,
      """WITH e AS (SELECT vec_id,
        |             array_l2_normalize(CAST(embedding AS ARRAY<DOUBLE>)) AS vn
        |           FROM embeddings),
        |q AS (SELECT vn AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS neighbor_id, array_dot(e.vn, q.qv) AS cos
        |FROM e CROSS JOIN q
        |WHERE e.vec_id >= 10
        |ORDER BY cos DESC, neighbor_id
        |LIMIT 5""".stripMargin
    )
}
