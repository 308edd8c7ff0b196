package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** The TPC-H remainder — Q2/Q9/Q11/Q12/Q16/Q20/Q21 — previously recorded
  * as fixture-infeasible because the driver fixture carries no `partsupp`
  * table and no ship-mode / commit-date / receipt-date lineitem columns
  * (SURVEY §2.3). Closed here by DERIVING those columns deterministically
  * from the fixture with pure integer formulas evaluated IDENTICALLY in
  * both engines (the same CTE text, modulo dialect spelling, prefixes the
  * Spark SQL and the DuckDB oracle):
  *
  *   - `partsupp`: 4 suppliers per part, ps_suppkey = (p_partkey*4 + j)
  *     mod |supplier| for j in 0..3 (the 4 keys are consecutive ints, so
  *     they are distinct mod any |supplier| >= 4); availqty and
  *     supplycost (integer cents) are affine hashes of (p_partkey, j).
  *   - lineitem extension: l_shipmode picked from the 7 TPC-H modes by
  *     (l_orderkey*7 + l_linenumber) mod 7; commit/receipt dates are
  *     day-offsets of l_shipdate (commit in [-30, +30], receipt in
  *     [+1, +30]) — every formula integer, no RNG, no engine-private
  *     hash, so both engines materialize the SAME rows.
  *
  * Scale: the derived `ps` is 4|part| rows built from a broadcast 1-row
  * supplier count — dimension-sized, never a shuffle; the lineitem
  * extension is a narrow per-row map the optimizer fuses into the scan.
  * Money stays in integer minor units end-to-end (the q_decimal_exact
  * discipline); every query ORDER BYs a total key.
  */
object TpchDerived extends graft.SparkEntry.Module {

  /** partsupp CTE. Dialect: `v` = table-name suffix ("_v" for the Spark
    * temp views, "" for DuckDB), `unnestJ` = the 4-row j generator.
    */
  private def psCte(v: String, unnestJ: String): String =
    s"""ps AS (
       |  SELECT p_partkey AS ps_partkey,
       |         (p_partkey * 4 + j) % ns AS ps_suppkey,
       |         1 + (p_partkey * 7 + j * 131) % 9999 AS ps_availqty,
       |         100 + (p_partkey * 13 + j * 17) % 99900 AS ps_supplycost_cents
       |  FROM part$v
       |  CROSS JOIN (SELECT count(*) AS ns FROM supplier$v)
       |  CROSS JOIN ($unnestJ))""".stripMargin

  private def sparkPs: String = psCte("_v", "SELECT explode(sequence(0, 3)) AS j")
  private def duckPs: String = psCte("", "SELECT unnest(generate_series(0, 3)) AS j")

  /** Extended-lineitem CTE: shipmode + commit/receipt dates. `shipmodeExpr`
    * and `dateAdd` differ by dialect; the arithmetic is shared text.
    */
  private def liCte(v: String, modeIdx: String => String,
                    dateAdd: (String, String) => String): String = {
    val idx = "CAST(1 + (l_orderkey * 7 + l_linenumber) % 7 AS INT)"
    val commit = dateAdd("CAST(l_shipdate AS DATE)",
      "CAST((l_orderkey + 3 * l_linenumber) % 61 - 30 AS INT)")
    val receipt = dateAdd("CAST(l_shipdate AS DATE)",
      "CAST(1 + (l_orderkey * 3 + l_linenumber) % 30 AS INT)")
    s"""li AS (
       |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       |         l_extendedprice, l_discount, CAST(l_shipdate AS DATE) AS l_shipdate,
       |         ${modeIdx(idx)} AS l_shipmode,
       |         $commit AS l_commitdate,
       |         $receipt AS l_receiptdate
       |  FROM lineitem$v)""".stripMargin
  }

  private val Modes = "'REG AIR', 'AIR', 'RAIL', 'SHIP', 'TRUCK', 'MAIL', 'FOB'"

  private def sparkLi: String =
    liCte("_v", i => s"element_at(array($Modes), $i)",
      (d, n) => s"date_add($d, $n)")

  private def duckLi: String =
    liCte("", i => s"([$Modes])[$i]",
      (d, n) => s"$d + to_days($n)")

  private def withViews(s: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach {
      case "lineitem" => Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      case "orders"   => Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      case "part"     => Tables.part(s, dir).createOrReplaceTempView("part_v")
      case "supplier" => Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      case "nation"   => Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      case "region"   => Tables.region(s, dir).createOrReplaceTempView("region_v")
    }

  /** Query bodies shared verbatim between engines: `v` suffixes table
    * names, the CTE prelude is dialect-resolved by the caller.
    */
  private def q2Body(v: String): String =
    s"""SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost_cents
       |FROM part$v, ps, supplier$v, nation$v, region$v
       |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
       |  AND p_size = 10 AND p_type = 'ECONOMY'
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'EUROPE'
       |  AND ps_supplycost_cents = (
       |    SELECT min(ps2.ps_supplycost_cents)
       |    FROM ps ps2, supplier$v s2, nation$v n2, region$v r2
       |    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
       |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
       |      AND r2.r_name = 'EUROPE')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  private def q9Body(v: String): String =
    s"""SELECT nation, o_year, CAST(sum(amount) AS BIGINT) AS profit_x10000
       |FROM (
       |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |         CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
       |           - ps_supplycost_cents * 100 * CAST(l_quantity AS BIGINT) AS amount
       |  FROM part$v, supplier$v, lineitem$v, ps, orders$v, nation$v
       |  WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
       |    AND ps_partkey = l_partkey AND p_partkey = l_partkey
       |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
       |    AND p_name LIKE 'red%') profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin

  private def q11Body(v: String): String =
    s"""SELECT n_name, CAST(sum(val) AS BIGINT) AS value_cents
       |FROM (SELECT n_name, ps_supplycost_cents * ps_availqty AS val
       |      FROM ps, supplier$v, nation$v
       |      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey) value_by_nation
       |CROSS JOIN (SELECT sum(ps_supplycost_cents * ps_availqty) AS t FROM ps) tot
       |GROUP BY n_name, t
       |HAVING sum(val) * 50 > t
       |ORDER BY value_cents DESC, n_name""".stripMargin

  private def q12Body(v: String): String =
    s"""SELECT l_shipmode,
       |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM orders$v, li
       |WHERE o_orderkey = l_orderkey AND l_shipmode IN ('MAIL', 'SHIP')
       |  AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
       |  AND l_receiptdate >= date '1997-01-01' AND l_receiptdate < date '1998-01-01'
       |GROUP BY l_shipmode
       |ORDER BY l_shipmode""".stripMargin

  private def q16Body(v: String): String =
    s"""SELECT p_brand, p_type, p_size,
       |       count(DISTINCT ps_suppkey) AS supplier_cnt
       |FROM ps, part$v
       |WHERE p_partkey = ps_partkey
       |  AND p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
       |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
       |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier$v
       |                         WHERE s_name LIKE '%77%')
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  private def q20Body(v: String): String =
    s"""SELECT s_name FROM supplier$v, nation$v
       |WHERE s_suppkey IN (
       |    SELECT ps_suppkey FROM ps
       |    WHERE ps_partkey IN (SELECT p_partkey FROM part$v WHERE p_name LIKE 'red%')
       |      AND ps_availqty * 2 > (
       |        SELECT sum(CAST(l_quantity AS BIGINT)) FROM li
       |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |          AND l_shipdate >= date '1997-01-01' AND l_shipdate < date '1998-01-01'))
       |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
       |ORDER BY s_name""".stripMargin

  private def q21Body(v: String): String =
    s"""SELECT s_name, count(*) AS numwait
       |FROM supplier$v, li l1, orders$v, nation$v
       |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
       |  AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
       |  AND EXISTS (SELECT 1 FROM li l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM li l3
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_suppkey <> l1.l_suppkey
       |                    AND l3.l_receiptdate > l3.l_commitdate)
       |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin

  // NS: Q2 (min-cost supplier): correlated scalar MIN subquery over the
  // derived partsupp — Catalyst decorrelates to a per-part min joined
  // back; every dim (supplier/nation/region and ps itself) is
  // dimension-sized and broadcasts; the LIMIT rides a total order.
  // NS: Q9 (product-type profit): the 6-way profit snowflake; revenue and
  // supply cost both in integer 1e-4 units so the per-(nation, year) sum
  // is exact under any partial-aggregation order.
  // NS: Q11 (important stock): value concentration by nation with the
  // global total as a broadcast 1-row cross join; HAVING in pure integer
  // cross-multiplication (sum*50 > t), no float share.
  // NS: Q12 (shipmode priority census): the derived commit/receipt window
  // filters fuse into the lineitem scan; one small group-by on shipmode.
  // NS: Q16 (supplier-part census): count(DISTINCT) over the derived ps
  // with a NOT IN anti-subquery on the excluded-supplier list.
  // NS: Q20 (excess stock): nested IN subqueries with a correlated
  // aggregate comparison — NULL-semantics kept (no shipments -> NULL
  // comparison -> excluded), identical in both engines.
  // NS: Q21 (waiting supplier): the EXISTS / NOT EXISTS pair over the
  // extended lineitem — decorrelates to one semi and one anti join on
  // l_orderkey; count(*) per supplier, total-ordered.
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_tpch_q2" -> { (s, dir) =>
      withViews(s, dir, Seq("part", "supplier", "nation", "region"))
      s.sql(s"WITH $sparkPs\n${q2Body("_v")}")
    },
    "q_sql_tpch_q9" -> { (s, dir) =>
      withViews(s, dir, Seq("part", "supplier", "lineitem", "orders", "nation"))
      s.sql(s"WITH $sparkPs\n${q9Body("_v")}")
    },
    "q_sql_tpch_q11" -> { (s, dir) =>
      withViews(s, dir, Seq("part", "supplier", "nation"))
      s.sql(s"WITH $sparkPs\n${q11Body("_v")}")
    },
    "q_sql_tpch_q12" -> { (s, dir) =>
      withViews(s, dir, Seq("lineitem", "orders"))
      s.sql(s"WITH $sparkLi\n${q12Body("_v")}")
    },
    "q_sql_tpch_q16" -> { (s, dir) =>
      withViews(s, dir, Seq("part", "supplier"))
      s.sql(s"WITH $sparkPs\n${q16Body("_v")}")
    },
    "q_sql_tpch_q20" -> { (s, dir) =>
      withViews(s, dir, Seq("part", "supplier", "lineitem", "nation"))
      s.sql(s"WITH $sparkPs,\n$sparkLi\n${q20Body("_v")}")
    },
    "q_sql_tpch_q21" -> { (s, dir) =>
      withViews(s, dir, Seq("supplier", "lineitem", "orders", "nation"))
      s.sql(s"WITH $sparkLi\n${q21Body("_v")}")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_sql_tpch_q2" -> s"WITH $duckPs\n${q2Body("")}",
    "q_sql_tpch_q9" -> s"WITH $duckPs\n${q9Body("")}",
    "q_sql_tpch_q11" -> s"WITH $duckPs\n${q11Body("")}",
    "q_sql_tpch_q12" -> s"WITH $duckLi\n${q12Body("")}",
    "q_sql_tpch_q16" -> s"WITH $duckPs\n${q16Body("")}",
    "q_sql_tpch_q20" -> s"WITH $duckPs,\n$duckLi\n${q20Body("")}",
    "q_sql_tpch_q21" -> s"WITH $duckLi\n${q21Body("")}"
  )
}
