package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static lint over every registered DuckDB oracle, spelling out the
  * q_sql_tpch_q22 failure class as a gate: DuckDB's sum() over a BIGINT
  * returns HUGEINT, which the driver's pandas bridge materializes as
  * float64 — so a value-identical result byte-hash-mismatches against
  * Spark's int64. Any integer-typed sum that lands DIRECTLY in an output
  * column must be wrapped `CAST(sum(...) AS BIGINT)` on the oracle side
  * (mirroring the Spark side's long sums).
  *
  * Scope (kept exact to stay false-positive-free over all current
  * oracles): a `sum(<arg>)` is flagged only when ALL hold —
  *   - <arg> is integer-ish: it contains an `AS BIGINT` cast, or
  *     references an alias defined via `CAST(... AS BIGINT) AS x` /
  *     `count(...) AS x` / `len(...) AS x` in the same SQL;
  *   - <arg> has no float math (`/`, DOUBLE, literals like 1.0, ln/log/
  *     pow/exp/round) — those coerce the sum to DOUBLE, which is safe;
  *   - the call is not already wrapped in a CAST;
  *   - the sum is aliased straight into a column (`AS name`) and that
  *     alias is never referenced again downstream — i.e. it IS a final
  *     output column, not a CTE intermediate that a consumer casts.
  */
class OracleLintSpec extends AnyFunSuite {

  private val IntAliasDefs = Seq(
    """(?i)AS BIGINT\)\s+AS\s+(\w+)""".r,
    """(?i)\b(?:count|len)\s*\((?:[^()]|\([^()]*\))*\)\s+AS\s+(\w+)""".r)

  private val Floaty =
    """(?i)/|DOUBLE|\.\d|ln\(|log|pow\(|exp\(|round\(""".r

  private def balancedEnd(s: String, open: Int): Int = {
    var d = 0; var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => d += 1
        case ')' => d -= 1; if (d == 0) return i + 1
        case _   =>
      }
      i += 1
    }
    -1
  }

  test("every registered query has an oracle (3-way key parity, forward direction)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"query registered without a DuckDB oracle: $missing")
  }

  test("every oracle has a registered query (3-way key parity, reverse direction)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"DuckDB oracle registered without a query: $orphans")
  }

  test("the registry refuses a key registered twice or half registered, naming it") {
    val query: SparkEntry.Query = (_, _) => null
    def module(qs: Seq[String], os: Seq[String]): SparkEntry.Module = new SparkEntry.Module {
      val queries: Map[String, SparkEntry.Query] = qs.map(_ -> query).toMap
      val oracleSql: Map[String, String] = os.map(_ -> "SELECT 1").toMap
    }
    def refusal(modules: SparkEntry.Module*): String =
      intercept[IllegalStateException](SparkEntry.registry(modules)).getMessage
    val a = module(Seq("q_a", "q_b"), Seq("q_a", "q_b"))
    assert(refusal(a, module(Seq("q_b"), Seq("q_b"))).contains("key q_b is registered twice"))
    assert(refusal(a, module(Seq("q_c"), Nil)) == "query q_c has no DuckDB oracle")
    assert(refusal(a, module(Nil, Seq("q_c"))) == "oracle q_c has no query")
    val (qs, os) = SparkEntry.registry(Seq(a, module(Seq("q_c"), Seq("q_c"))))
    assert(qs.keySet == Set("q_a", "q_b", "q_c") && os.keySet == qs.keySet)
  }

  test("no oracle exposes a raw integer sum as an output column (HUGEINT dtype trap)") {
    val violations = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val intAliases = IntAliasDefs.flatMap(_.findAllMatchIn(sql).map(_.group(1))).toSet
      "(?i)\\bsum\\s*\\(".r.findAllMatchIn(sql).flatMap { m =>
        val open = sql.indexOf('(', m.start)
        val end = balancedEnd(sql, open)
        val arg = sql.substring(open + 1, end - 1)
        val intish = "(?i)AS BIGINT".r.findFirstIn(arg).isDefined ||
          intAliases.exists(a => s"\\b$a\\b".r.findFirstIn(arg).isDefined)
        val floaty = Floaty.findFirstIn(arg).isDefined
        val wrapped = sql.substring(0, m.start).trim.toUpperCase.endsWith("CAST(")
        val aliased = "(?i)^AS\\s+(\\w+)".r.findFirstMatchIn(sql.substring(end).dropWhile(_.isWhitespace))
        aliased match {
          case Some(am) if intish && !floaty && !wrapped &&
              !Set("BIGINT", "DOUBLE", "INTEGER", "VARCHAR", "HUGEINT")
                .contains(am.group(1).toUpperCase) =>
            // (an `AS <type>` capture means the sum sits inside a wider
            // CAST(<arith involving sum> AS BIGINT) — already handled)
            val alias = am.group(1)
            val defEnd = end + sql.substring(end).indexOf(alias) + alias.length
            val consumedDownstream =
              s"\\b$alias\\b".r.findFirstIn(sql.substring(defEnd)).isDefined
            if (consumedDownstream) None
            else Some(s"$name: sum(${arg.trim.take(40)}) AS $alias")
          case _ => None
        }
      }
    }
    assert(violations.isEmpty,
      s"raw BIGINT sums in oracle output columns (wrap in CAST(... AS BIGINT)):\n  ${violations.mkString("\n  ")}")
  }
}
