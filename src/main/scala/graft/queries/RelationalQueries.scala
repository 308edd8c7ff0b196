package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Hash, Ordinals, Tables}

/** Relational surface: scans, projections/filters, joins, aggregations
  * (SURVEY.md §2.1-2.4 query keys; NS = north-star extensions).
  *
  * Oracle-determinism rules (SURVEY.md §7.4): every query ORDER BYs a unique
  * key set, ints are BIGINT on both sides, float aggregates are rounded
  * identically on both sides, and `events.ts` is always read through
  * [[Tables.events]] (Spark) / `CAST(ts AS TIMESTAMP)` (DuckDB) so both
  * engines see microsecond precision.
  */
object RelationalQueries extends graft.SparkEntry.Module {

  /** q_shuffle_forecast: reducer count of the forecast shuffle (matches the
    * session's `spark.sql.shuffle.partitions`=32 so the forecast prices the
    * plan Spark would actually run) and the estimated serialized row width
    * used to turn row counts into task bytes (a fixed planning constant —
    * production would read avg row size from file statistics).
    */
  val ShuffleForecastReducers = 32
  val ShuffleForecastRowBytes = 64L

  /** Content fingerprint of fixture files (path+size+mtime of every file
    * under the given roots), used to key derived managed tables (the
    * bucketed-join copies) so a fixture rewrite at the same path can never
    * serve stale derived data.
    */
  private def fixtureFingerprint(roots: Seq[String]): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(walk) else Seq(f)
    val desc = roots.flatMap(r => walk(new java.io.File(r)))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(desc.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** The in-memory catalog forgets managed tables between JVMs, but their
    * warehouse locations persist — and `saveAsTable` refuses to create a
    * table over an orphaned location ([LOCATION_ALREADY_EXISTS]). The
    * bucketed copies are pure derived caches keyed by fixture fingerprint,
    * so a location the catalog doesn't know about is safe to delete.
    */
  private def clearStaleManagedLocation(s: SparkSession, table: String): Unit = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, table.toLowerCase)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
  }

  // ---- §2.1 scans ----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full-file scan + typed projection of the points relation
    // (/root/reference/master.py:45-52 load_data): parquet scan with column
    // pruning instead of a whole-file text parse.
    "q_scan_points" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          size(col("embedding")).cast("long").as("n_dims"),
          element_at(col("embedding"), 1).as("c0"))
        .orderBy("vec_id")
    },
    // Range-split scan (/root/reference/master.py:28-43 inputSplit): uniform
    // chunk = N/m rows per worker, remainder to the last. In Spark the real
    // analog is FileSourceScanExec split planning; this query demonstrates
    // the *semantics* as a deterministic bucketing so the oracle can check it.
    "q_scan_split" -> { (s, dir) =>
      val m = 4
      val pts = Tables.embeddings(s, dir).select("vec_id")
      val n = pts.count()
      val chunk = math.max(1L, n / m) // uniform split, master.py:31; >=1 guards n<m
      // global ordinals via range-partition + per-partition offsets — never
      // a single-partition row_number (graft.core.Ordinals, SCALE.md)
      Ordinals.withGlobalRowNumbers(pts, "vec_id")
        .select(col("vec_id"),
          least(floor((col("rn") - 1) / chunk), lit(m - 1)).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), min("vec_id").as("first_id"), max("vec_id").as("last_id"))
        .orderBy("bucket")
    },
    // Batch scan of the events stream table (extension surface for §2.9).
    "q_scan_events" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    },
    // NS: free-rider pipeline telemetry via `Dataset.observe` — named
    // aggregate metrics collected DURING a pass (here a noop-sink write of
    // the scan), zero extra jobs and zero extra shuffles: the metrics are
    // accumulator-style partial aggregates merged on the driver. At 100 TB
    // this is how row counts / checksums / quality tallies piggyback on an
    // ingest or rewrite pass instead of costing a second full read. The
    // metrics used are order-insensitive exact values (count; sum of
    // integral-valued quantities — exact in double; max), so the one-row
    // emit hash-matches a direct SQL aggregate.
    "q_observe_metrics" -> { (s, dir) =>
      val obs = org.apache.spark.sql.Observation()
      Tables.lineitem(s, dir)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum("l_quantity").as("sum_qty"),
          max("l_extendedprice").as("max_price"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      val s2 = s
      import s2.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[Double],
        m("max_price").asInstanceOf[Double]))
        .toDF("n_rows", "sum_qty", "max_price")
    },

    // ---- §2.2 projections / filters ---------------------------------------

    // Text line -> typed vector projection (master.py:49-50): format the
    // vector to a CSV string and parse it back; round-trips exactly because
    // both engines print shortest-roundtrip doubles.
    "q_project_parse" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          concat_ws(", ", transform(col("embedding"), x => x.cast("string"))).as("line"))
        .select(col("vec_id"),
          transform(split(col("line"), ", "), x => x.cast("double")).as("c"))
        .select(col("vec_id"), size(col("c")).cast("long").as("n"),
          element_at(col("c"), 1).as("c0"), element_at(col("c"), 64).as("c63"))
        .orderBy("vec_id")
    },
    // The reference's only explicit filter is skip-empty-partition
    // (mapper.py:74-75); generalized predicate filter + projection, pushed
    // down to the parquet scan.
    "q_filter_nonempty" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"), col("l_discount"))
        // all output columns in the sort: (l_orderkey, l_linenumber) is NOT
        // unique in the synthetic lineitem, and a non-total order makes the
        // row-order-sensitive oracle compare nondeterministic
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    },
    // NS: typed field extraction from the JSON props string on events.
    "q_project_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    },
    // NS: schema-declared JSON parse (from_json -> typed struct; the
    // scale-preferred form — one parse per row into Tungsten fields, vs a
    // JSON-path walk per extracted field).
    "q_project_json_struct" -> { (s, dir) =>
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
      Tables.events(s, dir)
        .select(col("event_id"), from_json(col("props"), schema).as("p"))
        .select(col("event_id"), col("p.k").as("k"))
        .orderBy("event_id")
    },
    // Spark 4 VARIANT — the semi-structured type with shredded binary
    // storage: parse once into the open-schema VARIANT encoding, extract
    // typed paths per read. At 100 TB this beats per-field JSON-path walks
    // (one parse, binary sub-field access) and beats a declared struct
    // when the schema drifts (unknown fields keep round-tripping).
    // try_variant_get on a missing path yields NULL, not an error.
    "q_variant_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "long").as("k"),
          try_variant_get(col("v"), "$.missing", "long").as("absent"))
        .orderBy("event_id")
    },
    // CSV source parity (the reference's input format, master.py:45-52):
    // round-trip the points through a real CSV file written/read with an
    // explicit schema, then verify values survived.
    "q_scan_csv" -> { (s, dir) =>
      val path = {
        val d = new java.io.File(s"target/sink_tmp/csv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        d.mkdirs(); d.getAbsolutePath
      }
      Tables.embeddings(s, dir)
        .select(col("vec_id"), element_at(col("embedding"), 1).as("x"),
          element_at(col("embedding"), 2).as("y"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("vec_id LONG, x DOUBLE, y DOUBLE")
        .csv(path)
        .orderBy("vec_id")
    },
    // NS: ORC source/sink round trip — the second columnar format a 100 TB
    // lake mixes in. Write the supplier dim to ORC once per invocation
    // (overwrite; cheap at dim size), read it back through the ORC reader,
    // and aggregate — the oracle runs the same aggregate on the original
    // parquet, so the round trip must be lossless.
    "q_scan_orc" -> { (s, dir) =>
      val path = {
        val d = new java.io.File(s"target/sink_tmp/orc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        d.mkdirs(); d.getAbsolutePath
      }
      Tables.supplier(s, dir).write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("s_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"), round(sum("s_acctbal"), 2).as("sum_bal"))
        .orderBy("nationkey")
    },
    // GEN: the reference's input pipeline as a FIRST-CLASS DataSource V2
    // table (graft.sources.PointGen): range-split partition planning
    // (master.py:28-43 as Batch.planInputPartitions), column pruning, and
    // id-range filter pushdown that narrows the generated domain BEFORE
    // splits are laid out. Rows are a pure md5 function of id, so the
    // oracle regenerates the identical table from range(n) — the custom
    // source is hash-gated end to end, not just smoke-tested. The agg sums
    // exact integer cents (coordinates have 2 decimals by construction).
    "q_source_pointgen" -> { (s, _) =>
      s.read.format("graft.sources.PointGen")
        .option("rows", 4000).option("partitions", 8).load()
        .filter(col("id") >= 500 && col("id") < 3500)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(x * 100) AS BIGINT)")).as("sum_x_cents"),
          min("x").as("min_x"), max("y").as("max_y"))
        .orderBy("bucket")
    },
    // NS: schema evolution across parquet snapshot generations — the
    // data-lake reality that columns get ADDED over time. v1 (no priority
    // column) and v2 (priority added) written as sibling dirs; one
    // mergeSchema read unions them with nulls for the pre-evolution rows.
    // mergeSchema costs a footer read per FILE GROUP, not a data scan —
    // and at 100 TB you'd pin the merged schema in a catalog instead;
    // this query is the migration-window read path.
    "q_schema_evolution" -> { (s, dir) =>
      val base = {
        val d = new java.io.File(s"target/sink_tmp/evo_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        d.mkdirs(); d.getAbsolutePath
      }
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$base/gen=1")
      o.filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$base/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$base/gen=1", s"$base/gen=2")
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("pri"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("pri")
    },
    // NS: snapshot diff — derive the CHANGESET between two table versions
    // (the inverse of q_merge_upsert, which applies one): full outer join
    // on the key, classify added/removed/changed/unchanged, aggregate
    // counts + price deltas. MERGE needs both unmatched sides, so the
    // join shuffles both snapshots on the key — there is no broadcast
    // shortcut for a diff, which is exactly why CDC systems ship deltas
    // instead of re-diffing snapshots at 100 TB; this query is the
    // backfill/repair path.
    "q_snapshot_diff" -> { (s, dir) =>
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p0"))
      val next = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 13 =!= 0) // deletions
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.05)
            .otherwise(col("o_totalprice")).as("p1"))
      // synthetic 'added' keys are NEGATED orderkeys: orderkeys are
      // strictly positive at every sf, so negation can never collide with
      // a real key (a fixed additive offset would, once keys pass it)
      val added = Tables.orders(s, dir).filter(col("o_orderkey") % 11 === 0)
        .select((-col("o_orderkey")).as("k"), col("o_totalprice").as("p1"))
      // deltas sum as integer ten-thousandths (the p*1.05 branch has a
      // 4-decimal true grid; round(p*1e4) recovers the exact integer from
      // the same double on both engines) — a float delta sum drifts across
      // engines once it reaches 1e10 and a 4-dec round lands on a boundary
      // (caught by the synthetic-sf1 stress gate); integer sums cannot.
      base.join(next.unionByName(added), Seq("k"), "full_outer")
        .select(col("k"),
          when(col("p0").isNull, "added")
            .when(col("p1").isNull, "removed")
            .when(col("p0") =!= col("p1"), "changed")
            .otherwise("unchanged").as("change_type"),
          (coalesce(expr("CAST(round(p1 * 10000) AS BIGINT)"), lit(0L)) -
            coalesce(expr("CAST(round(p0 * 10000) AS BIGINT)"), lit(0L))).as("delta_e4"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          (sum("delta_e4").cast("double") / 1e4).as("sum_delta"))
        .orderBy("change_type")
    },
    // NS: raw text-lines source/sink round trip — the entry format of an
    // LLM corpus (one document per line; no schema, no escaping). The
    // aggregate proves the round trip lossless at line granularity against
    // an oracle over the ORIGINAL table: same line count, char mass, word
    // mass, and length envelope. spark.read.text is a pure narrow scan —
    // at 100 TB it is the cheapest possible ingest (no parse stage at all)
    // which is exactly why raw dumps ship this way.
    "q_scan_text" -> { (s, dir) =>
      val path = {
        val d = new java.io.File(s"target/sink_tmp/text_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        d.mkdirs(); d.getAbsolutePath
      }
      // PRECONDITION, enforced loudly in the write job itself (zero extra
      // pass): line granularity is only lossless while documents.text has
      // no embedded newlines and no NULLs (write.text throws on NULL; an
      // embedded '\n' would silently split one doc into two lines and
      // diverge n_lines/min/max from the oracle's count over documents).
      // A fixture change that breaks the invariant fails this query with
      // an explicit error instead of a silent hash mismatch.
      Tables.documents(s, dir)
        .select(when(col("text").isNull.or(col("text").contains("\n")),
            raise_error(lit("q_scan_text precondition violated: documents.text must be non-null and newline-free")))
          .otherwise(col("text")).as("text"))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .select(length(col("value")).cast("long").as("n_chars"),
          size(split(col("value"), " ")).cast("long").as("n_words"))
        .agg(count(lit(1)).as("n_lines"),
          sum("n_chars").as("total_chars"),
          sum("n_words").as("total_words"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
    },
    // NS: JSON-lines source/sink round trip (the interchange format of
    // most raw web-scrape corpora). Read back with an EXPLICIT schema —
    // schema inference would re-scan the whole dataset at 100 TB.
    "q_scan_json" -> { (s, dir) =>
      val path = {
        val d = new java.io.File(s"target/sink_tmp/json_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        d.mkdirs(); d.getAbsolutePath
      }
      Tables.nation(s, dir).write.mode("overwrite").json(path)
      s.read.schema("n_nationkey LONG, n_name STRING, n_regionkey LONG")
        .json(path)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    },

    // ---- §2.3 joins --------------------------------------------------------

    // NS: equi inner join orders ⋈ customer (SortMergeJoin/BHJ — Catalyst
    // picks; customer is small enough to broadcast at every sf).
    "q_join_equi" -> { (s, dir) =>
      Tables.orders(s, dir).join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    // NS: null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    // match EACH OTHER instead of vanishing — the join semantics for
    // "unknown" dimension keys that plain equality silently drops. The
    // spelling is reduce-before-join: both sides collapse to their key
    // census FIRST (bounded by the key domain), so the join multiplies
    // counts instead of materializing the pair product (which would be
    // ~75M rows at sf0.1 for the raw-rows spelling). NULL still
    // hash-partitions (it's a normal grouping value under <=>), so the
    // plan stays a standard equi-join at any scale.
    "q_join_nullsafe" -> { (s, dir) =>
      val lk = when(pmod(col("o_custkey"), lit(10)) === 0, lit(null))
        .otherwise(pmod(col("o_custkey"), lit(10))).cast("long")
      val rk = when(pmod(col("c_custkey"), lit(10)) === 0, lit(null))
        .otherwise(pmod(col("c_custkey"), lit(10))).cast("long")
      val l = Tables.orders(s, dir).select(lk.as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_l"))
      val r = Tables.customer(s, dir).select(rk.as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_r"))
      l.join(r, l("k") <=> r("k"))
        .select(l("k").as("k"), col("n_l"), col("n_r"),
          (col("n_l") * col("n_r")).as("n_pairs"))
        .orderBy(asc_nulls_first("k"))
    },
    // NS: explicit broadcast of the small dims (the reference broadcasts
    // centroids inside every RPC request — master.py:182-186; here the dim
    // tables ride to every executor once).
    "q_join_broadcast" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .orderBy("r_name")
    },
    // NS: left-semi — customers having at least one order.
    "q_join_semi" -> { (s, dir) =>
      Tables.customer(s, dir).join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
    // NS: left-anti — customers with no high-value (>400k) order. (A plain
    // no-orders anti-join is empty at every sf in these fixtures.)
    "q_join_anti" -> { (s, dir) =>
      Tables.customer(s, dir).join(
          Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
    // Left outer join: every customer with their order count — zero-order
    // customers kept with n_orders 0. Same shuffle cost as the inner form;
    // the outer side's unmatched rows stream through without a probe hit.
    "q_join_left" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("sum_price"))
        .orderBy("c_custkey")
    },
    // Full outer join: per-user click vs purchase counts, keeping users who
    // only ever did one of the two (the classic reconciliation shape).
    "q_join_outer" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("n_clicks"))
      val buys = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("pu")).agg(count(lit(1)).as("n_purchases"))
      clicks.join(buys, col("cu") === col("pu"), "full_outer")
        .select(coalesce(col("cu"), col("pu")).as("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy("user_id")
    },
    // NS range/theta join, written scale-first: clicks within 5 minutes
    // after a purchase by the same user. The equi part (user_id) carries the
    // shuffle; the time band is a residual predicate — no nested-loop join
    // over the full cross product at any sf.
    "q_join_range" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      purchases.join(clicks,
          col("p_user") === col("c_user") &&
          col("c_ts") > col("p_ts") &&
          col("c_ts") <= col("p_ts") + expr("INTERVAL 5 MINUTES"), "left")
        .groupBy(col("p_id"))
        .agg(sum(when(col("c_user").isNotNull, 1L).otherwise(0L)).as("n_clicks_5m"))
        .orderBy("p_id")
    },
    // NS as-of join: latest order at or before each event's ts per user,
    // via the scalable union+window trick (one shuffle, no per-row probe):
    // tag both sides, sort by (key, t, tag) within user, carry the last seen
    // order key forward. DuckDB checks with its native ASOF JOIN.
    "q_join_asof" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("k"), col("ts").as("t"), lit(1).as("tag"),
          col("event_id"), lit(null).cast("long").as("o_key"))
      val ord = Tables.orders(s, dir)
        .select(col("o_custkey").as("k"), col("o_orderdate").as("t"), lit(0).as("tag"),
          lit(null).cast("long").as("event_id"), col("o_orderkey").as("o_key"))
      // Within a user: orders sort before events at the same instant (tag),
      // and later orders overwrite earlier ones (orderkey tie-break).
      val w = Window.partitionBy("k").orderBy(col("t"), col("tag"), col("o_key"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(ord)
        .withColumn("asof_order", last("o_key", ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("asof_order"))
        .orderBy("event_id")
    },
    // NS: NEAREST as-of join — completes the as-of family (backward =
    // q_join_asof, native = q_join_asof_native): each event matches the
    // order minimizing |order_time − event_time| within the user, ties
    // preferring the backward match (the "state in force" convention).
    // Composed from the SAME union+window spelling run in both
    // directions — one (user, time) sort carries BOTH the
    // unbounded-preceding last() and the unbounded-following first()
    // frames, so the nearest join costs exactly what backward alone
    // costs (one shuffle, one sort); the distance compare is exact
    // integer microseconds.
    "q_join_asof_nearest" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("k"), unix_micros(col("ts")).as("t"),
          lit(1).as("tag"), col("event_id"), lit(null).cast("long").as("o_key"))
      val ord = Tables.orders(s, dir)
        .select(col("o_custkey").as("k"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
          lit(0).as("tag"), lit(null).cast("long").as("event_id"),
          col("o_orderkey").as("o_key"))
      val base = Window.partitionBy("k").orderBy(col("t"), col("tag"), col("o_key"))
      val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev.unionByName(ord)
        .withColumn("b_key", last("o_key", ignoreNulls = true).over(wb))
        .withColumn("b_t", last(when(col("o_key").isNotNull, col("t")),
          ignoreNulls = true).over(wb))
        .withColumn("f_key", first("o_key", ignoreNulls = true).over(wf))
        .withColumn("f_t", first(when(col("o_key").isNotNull, col("t")),
          ignoreNulls = true).over(wf))
        .filter(col("tag") === 1)
        .withColumn("d_b", col("t") - col("b_t"))
        .withColumn("d_f", col("f_t") - col("t"))
        .select(col("event_id"),
          when(col("b_key").isNull && col("f_key").isNull, lit(null).cast("long"))
            .when(col("f_key").isNull || (col("b_key").isNotNull && col("d_b") <= col("d_f")),
              col("b_key"))
            .otherwise(col("f_key")).as("nearest_order"),
          when(col("b_key").isNull && col("f_key").isNull, lit(null).cast("string"))
            .when(col("f_key").isNull || (col("b_key").isNotNull && col("d_b") <= col("d_f")),
              lit("backward"))
            .otherwise(lit("forward")).as("side"),
          when(col("b_key").isNull && col("f_key").isNull, lit(null).cast("long"))
            .when(col("f_key").isNull || (col("b_key").isNotNull && col("d_b") <= col("d_f")),
              col("d_b"))
            .otherwise(col("d_f")).as("delta_us"))
        .orderBy("event_id")
    },

    // NS: the SAME as-of semantics through the engine's native operator —
    // graft's custom LogicalPlan + SparkStrategy + BinaryExecNode
    // (plans.AsOfJoin): co-partitioned by EnsureRequirements, sorted by
    // (key, time), merged in one O(|L|+|R|) forward pass with O(1) state.
    // Oracle = q_join_asof's DuckDB ASOF JOIN; equivalence with the
    // union+window spelling is additionally spec-pinned.
    "q_join_asof_native" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      val ord = Tables.orders(s, dir)
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ot"),
          col("o_orderkey"))
      graft.plans.AsOfJoin(ev, "user_id", "t", ord, "o_custkey", "ot",
          "o_orderkey", "asof_order")
        .select(col("event_id"), col("asof_order"))
        .orderBy("event_id")
    },
    // NS: star join — the fact scanned ONCE against three dims, two of
    // them broadcast (part, supplier) so the only real shuffle is the
    // orders equi-join + the final group-by. The 100 TB plan shape for
    // every star schema: no dim ever sort-merge-joins the fact.
    "q_star_join" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val revenue = sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
      li.join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderstatus"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("p_brand", "o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          countDistinct("s_nationkey").as("n_supp_nations"),
          // 4 decimals: the product has <=4 true decimals, so the sum's
          // 4-dec grid is boundary-free; rounding at 2 sits ON the .005
          // boundary and float-sum order flips it (seen live at sf0.001)
          round(revenue, 4).as("revenue"))
        .orderBy("p_brand", "o_orderstatus")
    },

    // ---- §2.4 aggregations -------------------------------------------------

    // NS: exact money aggregation in integer cents. Partial (map-side)
    // aggregation makes the shuffle K groups, not N rows.
    // Why cents and not DECIMAL(18,2): integer sums are exact AND
    // engine-version-proof — double→DECIMAL cast/rounding semantics are an
    // engine-implementation detail (they have drifted across oracle engine
    // versions), while `round(p*100)` to a 2-decimal-sourced double is the
    // same integer on every engine. At 100 TB this is why financial columns
    // aggregate as integer minor units: partial aggregation across 10^5
    // tasks cannot drift and no cast boundary is ever in play.
    "q_decimal_exact" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_orderstatus")
        .agg(sum("cents").as("total_cents"),
          count(lit(1)).as("n_orders"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("o_orderstatus")
    },
    // price sums go through integer minor units (cents / 1e-4 units for
    // the discount product's 4-dec grid): a fact-wide float sum reaches
    // ~4e10 per group at 10x scale, where cross-engine partial-order drift
    // (~ulp*sqrt(n)) rivals the round-half margin — the boundary class the
    // synthetic-sf1 stress gate caught on q_incremental_agg. Integer sums
    // are order-free; the one final division is deterministic. avgs stay
    // float: avg = sum/n keeps relative drift ~1e-15, six orders inside
    // the 6-dec grid at any scale.
    "q_agg_stats" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"), // integral values: exact in double
          (sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .cast("double") / 1e2).as("sum_base"),
          (sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"))
            .cast("double") / 1e4).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // NS: exact distinct per group (the approximate HLL variant is
    // q_distinct_approx — rows-only, no hash oracle for a sketch).
    "q_distinct" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("event_type")
    },
    // NS: HLL++ approximate distinct with its acceptance check fused in —
    // the q_ann_recall pattern applied to the sketch: the query computes
    // the approx count AND the exact count, and emits the exact value plus
    // a within-3*rsd verdict. The sketch value itself can't hash-match a
    // non-HLL oracle, but the tolerance CLAIM can: the oracle emits
    // literal 1, so a sketch drifting out of its error bound goes
    // hash-red at the driver. (Production at 100 TB runs the approx
    // aggregate alone; this registered form is its self-eval, and the
    // ScalaTest spec keeps the raw approx-vs-exact tolerance property.)
    "q_distinct_approx" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct("user_id").as("approx"),
          countDistinct("user_id").as("n_users"))
        .select(col("event_type"), col("n_users"),
          when(abs(col("approx") - col("n_users")) <= lit(3 * 0.05) * col("n_users"), 1L)
            .otherwise(0L).as("within_3rsd"))
        .orderBy("event_type")
    },
    // NS: pivot events by type -> per-user counts (explicit value list, so
    // no extra distinct-values job; missing cells filled 0).
    "q_pivot" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("click").cast("long").as("click"),
          col("error").cast("long").as("error"), col("purchase").cast("long").as("purchase"),
          col("signup").cast("long").as("signup"), col("view").cast("long").as("view"))
        .orderBy("user_id")
    },
    // NS: unpivot (melt) — pivot's inverse: wide measure columns to long
    // (key, metric, value) rows. Pure narrow Expand (3 output rows per
    // input row), no shuffle; the orderBy is the only exchange.
    "q_unpivot" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        // value included in the sort: the synthetic lineitem has duplicate
        // (l_orderkey, l_linenumber) pairs, so without it the order is not
        // total and the row-order-sensitive oracle compare can flip
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")
    },
    // NS: co-located bucketed join — the 100 TB co-location story as a
    // runnable query. Both sides are written `bucketBy(8, custkey)` +
    // sorted; the SortMergeJoin then needs NO Exchange on either input
    // (bucket layout satisfies the join's distribution requirement). At
    // scale this is how repeated fact⋈fact joins amortize their shuffle
    // into the write. Oracle checks the join result equals the plain join.
    // The managed-table name is keyed on a fingerprint of the source
    // parquet files (size+mtime), so a fixture rewrite at the same sfDir
    // can never serve stale bucketed data; the one-time bucket-write cost
    // lands in bench pass 1 only (and is deliberately excluded by the
    // min-of-2 report — it is amortized setup, not per-query work).
    "q_join_bucketed" -> { (s, dir) =>
      val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val fp = fixtureFingerprint(Seq(s"$dir/orders.parquet", s"$dir/customer.parquet"))
      val (oT, cT) = (s"orders_bkt_${sfx}_$fp", s"customer_bkt_${sfx}_$fp")
      if (!s.catalog.tableExists(oT)) {
        clearStaleManagedLocation(s, oT)
        Tables.orders(s, dir).write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .mode("overwrite").saveAsTable(oT)
      }
      if (!s.catalog.tableExists(cT)) {
        clearStaleManagedLocation(s, cT)
        Tables.customer(s, dir).write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .mode("overwrite").saveAsTable(cT)
      }
      s.table(oT).hint("merge")
        .join(s.table(cT).hint("merge"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("nationkey")
    },
    // NS: dynamic partition pruning — the 100 TB reason to partition a
    // fact table: a filter on the DIM side (not statically foldable into a
    // partition predicate) prunes the fact scan at RUNTIME via a
    // dynamicpruning subquery on the broadcast side. The fact is a derived
    // event_type-partitioned copy of events (fingerprint-keyed cache, like
    // the bucketed tables); the dim carries a conversion flag the optimizer
    // cannot see through statically. Plan-asserted in PlanPropertiesSpec.
    "q_join_dpp" -> { (s, dir) =>
      val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val fp = fixtureFingerprint(Seq(s"$dir/events.parquet"))
      val path = new java.io.File(s"target/sink_tmp/dpp_${sfx}_$fp").getAbsolutePath
      val dimPath = new java.io.File(s"target/sink_tmp/dpp_dim_${sfx}_$fp").getAbsolutePath
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(path)
      }
      if (!new java.io.File(dimPath, "_SUCCESS").exists()) {
        // explicit Rows + schema (not toDF): no scala-reflection encoder
        // derivation, so the query builds under any classloader (REPL, tests).
        // The dim must be a FILE table, not a LocalRelation: Catalyst folds a
        // Filter over a LocalRelation into the relation itself
        // (ConvertToLocalRelation), and the DPP rule then finds no selective
        // predicate on the build side — with a file-backed dim the filter
        // survives and the fact scan gets its dynamicpruning subquery.
        val dimSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "et STRING, is_conversion INT")
        val dimRows = Seq(("click", 0), ("error", 0), ("purchase", 1), ("signup", 1), ("view", 0))
          .map { case (t, f) => org.apache.spark.sql.Row(t, f) }
        s.createDataFrame(java.util.Arrays.asList(dimRows: _*), dimSchema)
          .write.mode("overwrite").parquet(dimPath)
      }
      val dim = s.read.parquet(dimPath)
      s.read.parquet(path)
        .join(broadcast(dim.filter(col("is_conversion") === 1)), col("event_type") === col("et"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
        .orderBy("event_type")
    },
    // NS: Z-order (Morton) layout — the multi-column data-skipping story a
    // 100 TB lake uses when queries filter on BOTH user and value: interleave
    // the bits of the two dimension keys, cluster rows by z-ranges, and each
    // z-bucket becomes a file whose min/max spans a small rectangle in BOTH
    // dimensions (so either predicate prunes it). The query materializes the
    // layout's pruning evidence: per z-bucket row counts + per-dimension
    // min/max envelopes. Pure integer bit math — the oracle replays it
    // exactly.
    "q_zorder_layout" -> { (s, dir) =>
      val ub = col("user_id").bitwiseAND(lit(255L))
      val vb = floor(col("value") * 10).cast("long").bitwiseAND(lit(255L))
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(ub, i).bitwiseAND(lit(1L)), 2 * i + 1) +
          shiftleft(shiftright(vb, i).bitwiseAND(lit(1L)), 2 * i)
      }.reduce(_ + _)
      Tables.events(s, dir)
        .select(ub.as("ub"), vb.as("vb"), z.as("z"))
        .groupBy(shiftright(col("z"), 8).as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min("ub").as("min_ub"), max("ub").as("max_ub"),
          min("vb").as("min_vb"), max("vb").as("max_vb"))
        .orderBy("z_bucket")
    },
    // NS: the SQL front door — the engine's full TPC-H-Q1 shape submitted
    // as ANSI SQL through spark.sql() over a registered view, proving a
    // reference user can keep their SQL verbatim. Same Catalyst plan as
    // the DataFrame form: pushdown, partial+final agg, one shuffle.
    "q_sql_tpch" -> { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      // integer minor-unit sums (the q_agg_stats rationale): fact-wide
      // float price sums drift past the round-half margin at 10x scale
      s.sql("""SELECT l_returnflag, l_linestatus,
              |       round(sum(l_quantity), 2) AS sum_qty,
              |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 1e2 AS sum_base_price,
              |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS sum_disc_price,
              |       round(avg(l_quantity), 6) AS avg_qty,
              |       round(avg(l_discount), 6) AS avg_disc,
              |       count(*) AS count_order
              |FROM lineitem_v
              |WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },
    // TPC-H Q3 (shipping priority): the multi-join SQL shape — customer
    // filters broadcast onto orders, the orders ⋈ lineitem join shuffles on
    // the orderkey, revenue is a partial+final agg, and the top-10 ends in
    // TakeOrdered. AQE reorders/sizes the joins from runtime stats; revenue
    // rounds at 4 (the product's true decimal grid — 2-dec price × 2-dec
    // discount — so no half-boundary row can flip between engines).
    "q_sql_tpch_q3" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_orderkey,
              |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
              |       o_orderdate, o_orderpriority
              |FROM customer_v c
              |JOIN orders_v o ON c.c_custkey = o.o_custkey
              |JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
              |WHERE c.c_mktsegment = 'BUILDING'
              |  AND o.o_orderdate < timestamp '1998-06-01 00:00:00'
              |  AND l.l_shipdate > timestamp '1998-06-01 00:00:00'
              |GROUP BY l_orderkey, o_orderdate, o_orderpriority
              |ORDER BY revenue DESC, o_orderdate, l_orderkey
              |LIMIT 10""".stripMargin)
    },
    // NS: TPC-H Q5 shape (local-supplier revenue by nation): the 6-table
    // snowflake join — lineitem x orders x customer x supplier filtered to
    // customer and supplier in the SAME nation, nation x region pruning the
    // fact scan to one region. Catalyst broadcasts every dim (region/
    // nation/supplier/customer are all dimension-sized), so the fact table
    // is scanned once with no fact-side shuffle before the K-group
    // aggregate; revenue sums as integer 1e-4 units (the discount
    // product's true decimal grid) — a per-nation sum crosses 1e10 at 10x
    // scale, where float partial-order drift rivals even the 5e-5
    // round-half margin; integer sums are order-free, and revenue DESC
    // ordering stays deterministic because the values are exact.
    "q_sql_tpch_q5" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      Tables.region(s, dir).createOrReplaceTempView("region_v")
      s.sql("""SELECT n_name,
              |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
              |FROM customer_v c
              |JOIN orders_v o   ON c.c_custkey = o.o_custkey
              |JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
              |JOIN supplier_v s ON l.l_suppkey = s.s_suppkey
              |                 AND c.c_nationkey = s.s_nationkey
              |JOIN nation_v n   ON c.c_nationkey = n.n_nationkey
              |JOIN region_v r   ON n.n_regionkey = r.r_regionkey
              |WHERE r.r_name = 'ASIA'
              |  AND o.o_orderdate >= timestamp '1996-01-01 00:00:00'
              |  AND o.o_orderdate <  timestamp '1998-01-01 00:00:00'
              |GROUP BY n_name
              |ORDER BY revenue DESC, n_name""".stripMargin)
    },
    // NS: TPC-H Q18 shape (large-volume orders): group-having semi-filter —
    // the inner aggregate finds orders whose total quantity clears the
    // threshold (integral sums, exact in double), the outer 3-table join
    // re-aggregates only those. Catalyst plans the IN as a semi join on
    // orderkey; at 100 TB the inner aggregate is the fact table's only
    // full-scan shuffle and the survivors are a sliver.
    "q_sql_tpch_q18" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
              |       sum(l_quantity) AS total_qty
              |FROM customer_v c
              |JOIN orders_v o   ON c.c_custkey = o.o_custkey
              |JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
              |WHERE o.o_orderkey IN (
              |  SELECT l_orderkey FROM lineitem_v
              |  GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
              |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
              |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
              |LIMIT 20""".stripMargin)
    },
    // NS: TPC-H Q4 shape (order-priority checking): correlated EXISTS with
    // an INTER-TABLE date predicate (l_shipdate > o_orderdate + 90 days —
    // the correlation references a column of the OUTER table inside an
    // arithmetic expression, a decorrelation case plainer EXISTS queries
    // don't exercise). Catalyst plans it as one semi join on orderkey with
    // the date residual evaluated at the join, so the fact side is scanned
    // once; the date-window filter pushes to the orders scan.
    "q_sql_tpch_q4" -> { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT o_orderpriority, count(*) AS order_count
              |FROM orders_v o
              |WHERE o.o_orderdate >= timestamp '1996-07-01 00:00:00'
              |  AND o.o_orderdate <  timestamp '1996-10-01 00:00:00'
              |  AND EXISTS (SELECT 1 FROM lineitem_v l
              |              WHERE l.l_orderkey = o.o_orderkey
              |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    },
    // NS: TPC-H Q14 shape (promotion effect): conditional-aggregate share
    // over a dim-joined fact month — revenue in exact 1e-4 integer units
    // (the Q5 rationale) so the promo share is an integer ppm verdict, not
    // a float ratio; part broadcasts (dimension-sized), the month filter
    // pushes to the fact scan.
    "q_sql_tpch_q14" -> { (s, dir) =>
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT
              |  CAST(sum(CASE WHEN p_type = 'PROMO'
              |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
              |    ELSE 0 END) AS BIGINT) / 1e4 AS promo_revenue,
              |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS total_revenue,
              |  CAST(sum(CASE WHEN p_type = 'PROMO'
              |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
              |    ELSE 0 END) * 1000000
              |    DIV sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS promo_ppm
              |FROM lineitem_v JOIN part_v ON l_partkey = p_partkey
              |WHERE l_shipdate >= timestamp '1996-03-01 00:00:00'
              |  AND l_shipdate <  timestamp '1996-04-01 00:00:00'""".stripMargin)
    },
    // NS: TPC-H Q10 shape (returned-item reporting): lost revenue per
    // customer from R-flagged lineitems in a quarter — the 4-table join
    // with the selective fact-side flag filter pushed to the lineitem
    // scan, revenue in exact 1e-4 integer units so the top-20 ordering is
    // deterministic, ending in TakeOrdered.
    "q_sql_tpch_q10" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      s.sql("""SELECT c_custkey, c_name, n_name,
              |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
              |FROM customer_v c
              |JOIN orders_v o   ON c.c_custkey = o.o_custkey
              |JOIN lineitem_v l ON l.l_orderkey = o.o_orderkey
              |JOIN nation_v n   ON c.c_nationkey = n.n_nationkey
              |WHERE o.o_orderdate >= timestamp '1996-10-01 00:00:00'
              |  AND o.o_orderdate <  timestamp '1997-01-01 00:00:00'
              |  AND l.l_returnflag = 'R'
              |GROUP BY c_custkey, c_name, n_name
              |ORDER BY revenue DESC, c_custkey
              |LIMIT 20""".stripMargin)
    },
    // NS: TPC-H Q6 shape (forecasting revenue change): the pure
    // scan-filter-aggregate — no join at all, so the whole query is one
    // WholeStageCodegen pass whose three predicates ALL push to the parquet
    // scan (shipdate year band, discount band, quantity cap); at 100 TB
    // row-group min/max statistics skip everything outside the year. The
    // per-row discount revenue rounds to exact 1e-4 integer units before
    // the sum (the Q5/Q14 discipline), so the single-row verdict is
    // bit-reproducible under any partial-aggregation order.
    "q_sql_tpch_q6" -> { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT count(*) AS n_items,
              |  CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
              |FROM lineitem_v
              |WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
              |  AND l_shipdate <  timestamp '1998-01-01 00:00:00'
              |  AND l_discount BETWEEN 0.02 AND 0.04
              |  AND l_quantity < 24""".stripMargin)
    },
    // NS: TPC-H Q15 shape (top supplier): reduce-before-join twice over —
    // the quarter's lineitems collapse to one revenue row per supplier
    // FIRST (map-side combine on the only row-scale shuffle), the max is a
    // scalar subquery over that supplier-sized frame, and only the winning
    // row(s) join the supplier dim. Revenue in exact 1e-4 integer units
    // makes the argmax tie-proof (integer equality, no float ==).
    "q_sql_tpch_q15" -> { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      s.sql("""WITH rev AS (
              |  SELECT l_suppkey AS supplier_no,
              |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS total_x
              |  FROM lineitem_v
              |  WHERE l_shipdate >= timestamp '1998-01-01 00:00:00'
              |    AND l_shipdate <  timestamp '1998-04-01 00:00:00'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_x / 1e4 AS total_revenue
              |FROM supplier_v JOIN rev ON s_suppkey = supplier_no
              |WHERE total_x = (SELECT max(total_x) FROM rev)
              |ORDER BY s_suppkey""".stripMargin)
    },
    // NS: TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // SCALAR AGGREGATE subquery — avg quantity per part referenced from the
    // outer row's filter. Catalyst decorrelates it to a per-part aggregate
    // joined back on partkey (one shuffle each side, never a per-outer-row
    // re-execution); the brand filter prunes the part dim before its
    // broadcast. The avg is sum/count over integral doubles (quantities are
    // whole numbers, exactly representable), so the 0.5*avg comparison is
    // deterministic; revenue rounds per-row to 1e-4 integer units.
    "q_sql_tpch_q17" -> { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      s.sql("""SELECT count(*) AS n_small,
              |  CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS small_revenue
              |FROM lineitem_v l JOIN part_v p ON p.p_partkey = l.l_partkey
              |WHERE p.p_brand = 'Brand#3'
              |  AND l.l_quantity < 0.5 * (SELECT avg(l2.l_quantity)
              |                            FROM lineitem_v l2
              |                            WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
    },
    // NS: TPC-H Q19 shape (discounted revenue, disjunctive predicates): the
    // OR-of-ANDs residual — three (brand, size-band, quantity-band)
    // conjuncts OR'd together straddle BOTH join sides, so the filter
    // cannot fully push below the join; Catalyst instead infers the
    // single-side supersets (brand IN the three brands, size <= the widest
    // band) and pushes THOSE into each scan, keeping the exact OR as the
    // post-join residual on the broadcast hash join. Plan-pinned in
    // PlanPropertiesSpec: part broadcasts, and the part scan carries a
    // pushed brand filter despite the disjunction.
    "q_sql_tpch_q19" -> { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      s.sql("""SELECT count(*) AS n_items,
              |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
              |FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
              |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
              |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
              |   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
    },
    // NS: TPC-H Q22 shape (global sales opportunity): the null-immune
    // NOT EXISTS anti join plus a scalar "above average" gate — spelled in
    // exact integer cents so the avg comparison can never flip under
    // Spark's partial-sum reordering: cents*n_pos > sum_pos_cents is pure
    // BIGINT arithmetic (the two scalars broadcast as 1-row subqueries).
    // The anti join probes only the date-bounded orders slice; customer
    // never shuffles (broadcast or AQE's choice at scale).
    "q_sql_tpch_q22" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""WITH c AS (
              |  SELECT c_custkey, c_nationkey,
              |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
              |  FROM customer_v)
              |SELECT c_nationkey, count(*) AS numcust,
              |       CAST(sum(cents) AS BIGINT) AS totacctbal_cents
              |FROM c
              |WHERE cents * (SELECT count(*) FROM c WHERE cents > 0)
              |        > (SELECT sum(cents) FROM c WHERE cents > 0)
              |  AND NOT EXISTS (SELECT 1 FROM orders_v o
              |                  WHERE o.o_custkey = c.c_custkey
              |                    AND o.o_orderdate >= timestamp '2000-07-01 00:00:00')
              |GROUP BY c_nationkey
              |ORDER BY c_nationkey""".stripMargin)
    },
    // NS: TPC-H Q8 shape (national market share): the widest snowflake in
    // the suite — lineitem joined to part, supplier, orders, customer, and
    // nation TWICE plus region (7 joins), with the share computed as a
    // conditional aggregate over the SAME pass (never two scans). All dims
    // broadcast; the region + part-type filters prune their dims before
    // broadcast; revenue in exact 1e-4 integer units so the per-year share
    // is an integer ppm verdict. Completes the feasible TPC-H set for this
    // fixture (Q2/Q9/Q11/Q12/Q16/Q20/Q21 need partsupp or ship-mode/date
    // columns the fixture does not carry — recorded in SURVEY §2).
    "q_sql_tpch_q8" -> { (s, dir) =>
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      Tables.region(s, dir).createOrReplaceTempView("region_v")
      s.sql("""WITH vol AS (
              |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
              |         CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v,
              |         n2.n_name AS supp_nation
              |  FROM part_v p
              |  JOIN lineitem_v l ON p.p_partkey = l.l_partkey
              |  JOIN supplier_v s ON s.s_suppkey = l.l_suppkey
              |  JOIN orders_v o   ON o.o_orderkey = l.l_orderkey
              |  JOIN customer_v c ON c.c_custkey = o.o_custkey
              |  JOIN nation_v n1  ON c.c_nationkey = n1.n_nationkey
              |  JOIN region_v r   ON n1.n_regionkey = r.r_regionkey
              |  JOIN nation_v n2  ON s.s_nationkey = n2.n_nationkey
              |  WHERE r.r_name = 'AMERICA' AND p.p_type = 'MEDIUM')
              |SELECT o_year,
              |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) AS BIGINT) / 1e4 AS nation_revenue,
              |  CAST(sum(v) AS BIGINT) / 1e4 AS total_revenue,
              |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) * 1000000
              |       DIV sum(v) AS BIGINT) AS mkt_share_ppm
              |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin)
    },
    // NS: TPC-H Q7 shape (volume shipping): the DISJUNCTIVE dim predicate —
    // the nation-pair filter (A->B OR B->A) references BOTH nation copies,
    // so it cannot push below either dim join; Catalyst keeps all four dims
    // (supplier, customer, nation x2) broadcast and evaluates the OR as a
    // post-join filter, the fact again scanned once shuffle-free below the
    // final K-group aggregate. Revenue sums in exact 1e-4 integer units
    // (the Q5 rationale: per-group sums cross 1e10 at 10x where float
    // partial-order drift rivals the round-half margin).
    "q_sql_tpch_q7" -> { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      s.sql("""SELECT supp_nation, cust_nation, l_year,
              |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
              |FROM (
              |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
              |         l_extendedprice, l_discount
              |  FROM supplier_v s
              |  JOIN lineitem_v l ON s.s_suppkey = l.l_suppkey
              |  JOIN orders_v o   ON o.o_orderkey = l.l_orderkey
              |  JOIN customer_v c ON c.c_custkey = o.o_custkey
              |  JOIN nation_v n1  ON s.s_nationkey = n1.n_nationkey
              |  JOIN nation_v n2  ON c.c_nationkey = n2.n_nationkey
              |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
              |) shipping
              |GROUP BY supp_nation, cust_nation, l_year
              |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
    },
    // NS: join-key skew census — the diagnostic a 100 TB pipeline runs
    // BEFORE choosing plain vs salted vs broadcast join: the full key
    // frequency table collapses to a (frequency -> key count) histogram
    // (first shuffle reduces the fact to ~|keys| rows; the histogram is
    // then distinct-frequency-sized, i.e. at most a few thousand rows for
    // any real distribution, the same bounded-domain argument as
    // q_percentile_bucket), and the census reads off max/p99 frequency,
    // the hottest key's row share, and a max/avg skew ratio — all exact
    // integer arithmetic, so the salting decision is reproducible. The
    // only window runs over the tiny histogram, never the key table.
    // NS: skew-salting PLAN — the prescriptive step after q_skew_census's
    // diagnosis: for the top-5 hottest join keys, the salt factor that
    // levels each one to the per-reducer target (total rows DIV 32
    // tasks, floored at 1): salt = ceil(freq / target) as exact integer
    // (f + t − 1) DIV t. The census is the same distinct-frequency
    // reduce; the hot-key pick is TakeOrdered (distributed top-k), and
    // everything after runs on 5 rows. This is the table q_salted_join's
    // explode factor should be read from at 100 TB, made queryable.
    "q_salt_plan" -> { (s, dir) =>
      val freq = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("f"))
      val target = freq.agg(expr("greatest(sum(f) DIV 32, CAST(1 AS BIGINT))").as("t"))
      freq.orderBy(col("f").desc, col("o_custkey")).limit(5)
        .crossJoin(broadcast(target))
        .select(col("o_custkey").as("hot_key"), col("f").as("freq"), col("t").as("target_rows"),
          expr("(f + t - 1) DIV t").as("salt_factor"))
        .withColumn("needs_salt", (col("salt_factor") > 1L).cast("long"))
        .orderBy(col("freq").desc, col("hot_key"))
    },

    "q_skew_census" -> { (s, dir) =>
      val hist = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("nk"))
      val tot = hist.agg(
        sum("nk").as("n_keys"),
        sum(col("f") * col("nk")).as("n_rows"),
        max("f").as("max_f"))
      val cum = hist.withColumn("cum",
        sum("nk").over(org.apache.spark.sql.expressions.Window.orderBy("f")))
      val p99 = cum.crossJoin(broadcast(tot.select(col("n_keys").as("nk_tot"))))
        .filter(col("cum") * 100 >= col("nk_tot") * 99)
        .agg(min("f").as("p99_f"))
      tot.crossJoin(broadcast(p99))
        .select(col("n_rows"), col("n_keys"), col("max_f"), col("p99_f"),
          expr("max_f * 1000000 DIV n_rows").as("top_share_ppm"),
          expr("max_f * 100 * n_keys DIV n_rows").as("skew_x100"))
    },
    // NS: shuffle-reducer forecast — q_skew_census answers "is one KEY too
    // hot"; this answers the next plan-review question at 100 TB: "does any
    // REDUCER overflow". After hash-partitioning a shuffle into N tasks,
    // many distinct keys collide into each reducer, so a task can blow the
    // 2 GB partition/fetch ceiling with NO hot key at all — the failure AQE
    // cannot repair, because coalescing only merges small partitions and
    // skew-split only triggers on single-key skew. Forecast it from the key
    // census alone: key -> row count (the only row-scale shuffle; in
    // production this census comes from the upstream write's statistics,
    // the arithmetic is identical), reducer = stable 32-bit hash mod N
    // (md5-derived, replayed bit-equal by the oracle), then an N-row
    // per-reducer census of keys / rows / estimated bytes vs the ceiling,
    // with the load share vs perfect balance as exact integer x100.
    "q_shuffle_forecast" -> { (s, dir) =>
      val n = ShuffleForecastReducers
      val keyRows = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("f"))
      val red = keyRows
        .groupBy(pmod(Hash.prefix(concat(lit("red:"), col("l_orderkey").cast("string"))), lit(n))
          .as("reducer"))
        .agg(count(lit(1)).as("n_keys"), sum("f").as("n_rows"))
      val tot = red.agg(sum("n_rows").as("total_rows"))
      red.crossJoin(broadcast(tot))
        .select(col("reducer"), col("n_keys"), col("n_rows"),
          (col("n_rows") * lit(ShuffleForecastRowBytes)).as("est_bytes"),
          (col("n_rows") * lit(ShuffleForecastRowBytes) > lit(2147483647L))
            .cast("long").as("over_2gb"),
          expr(s"n_rows * $n * 100 DIV total_rows").as("load_x100"))
        .orderBy("reducer")
    },
    // NS: TPC-H Q13 shape (customer order-count distribution) spelled
    // reduce-before-join: orders aggregate to one (custkey, c_count) row
    // per customer FIRST (one high-card shuffle with map-side combine),
    // and only that reduced frame left-joins customer — the join carries
    // one row per customer, never one per order, so the second aggregate
    // (the distribution histogram) is distinct-count-sized. The naive
    // join-then-count spelling shuffles the full order table against
    // customer; this one never does. Ordering is total because c_count is
    // unique per histogram row.
    "q_sql_tpch_q13" -> { (s, dir) =>
      val oc = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cc"))
      Tables.customer(s, dir)
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("cc"), lit(0L)).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    // NS: recursive CTE through the SQL front door (Spark 4's native WITH
    // RECURSIVE / UnionLoop): a 90-day calendar spine generated by bounded
    // integer recursion, left-joined to the per-day order census so silent
    // zero-activity days become explicit rows — the gap-filling primitive
    // resampling and SLA monitors need, in pure ANSI SQL identical on both
    // engines. Scale shape: the recursion only ever touches the
    // spine (bounded by the day count, ~36k rows for a century — driver
    // trivia), while the fact table aggregates ONCE into a day-keyed
    // census that joins the spine; row-scale data never enters the loop.
    "q_sql_recursive" -> { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""WITH RECURSIVE spine(n) AS (
              |  SELECT 0 AS n
              |  UNION ALL
              |  SELECT n + 1 FROM spine WHERE n < 89
              |),
              |daily AS (
              |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
              |  FROM orders_v
              |  WHERE o_orderdate >= timestamp '1996-01-01 00:00:00'
              |    AND o_orderdate <  timestamp '1996-03-31 00:00:00'
              |  GROUP BY 1)
              |SELECT date_add(DATE '1996-01-01', n) AS day,
              |       coalesce(n_orders, 0) AS n_orders
              |FROM spine LEFT JOIN daily ON date_add(DATE '1996-01-01', n) = d
              |ORDER BY day""".stripMargin)
    },
    // NS: zone-map prune forecast — the data-skipping dry run a 100 TB
    // lake runs before committing to a layout: per storage block
    // (l_orderkey DIV 512 — a file/row-group stand-in recomputable by any
    // engine) collect the min/max envelope of the predicate column plus
    // the true selected-row count, then collapse the block frame to a
    // one-row census: blocks pruned vs scanned, rows the zone maps force
    // reading vs rows actually wanted, and the waste ratio. All exact
    // integers off ONE partial+final aggregate over the fact — the block
    // frame is |keys|/512-sized, the census is what layout tools (Z-order
    // vs natural, q_zorder_layout's sibling) compare numerically.
    "q_zonemap_prune" -> { (s, dir) =>
      val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))
      val sel = col("l_shipdate") >= lo && col("l_shipdate") < hi
      val blocks = Tables.lineitem(s, dir)
        .groupBy(expr("l_orderkey DIV 512").as("blk"))
        .agg(count(lit(1)).as("n"),
          min("l_shipdate").as("b_lo"), max("l_shipdate").as("b_hi"),
          sum(sel.cast("long")).as("n_sel"))
      val scanned = (col("b_hi") >= lo && col("b_lo") < hi).cast("long")
      blocks
        .agg(count(lit(1)).as("n_blocks"), sum("n").as("n_rows"),
          sum(scanned).as("n_scanned_blocks"),
          sum(scanned * col("n")).as("scanned_rows"),
          sum("n_sel").as("selected_rows"))
        .select(col("n_blocks"), col("n_rows"), col("n_scanned_blocks"),
          col("scanned_rows"), col("selected_rows"),
          expr("scanned_rows * 1000000 DIV n_rows").as("scan_ppm"),
          expr("scanned_rows * 100 DIV greatest(selected_rows, 1)").as("waste_x100"))
    },
    // NS: RLE run census — the storage-encoding forecast for a sorted
    // layout, computed WITHOUT any sort: in a layout ordered by
    // (returnflag, linestatus, ship day), the run count of each sort-key
    // PREFIX equals its distinct-combination count (sorted layouts make
    // equal prefixes contiguous), so one reduce to the (flag, status, day)
    // frame (bounded: |flags| x |status| x |days|, a few thousand rows)
    // answers what a dictionary/RLE parquet writer will achieve —
    // rows-per-run per column, exact integers. This is the aggregate-only
    // spelling of "how compressible is this column order"; the naive
    // spelling (global sort + lag-compare) is a full-table range exchange.
    "q_rle_census" -> { (s, dir) =>
      // keys coalesced to a chr(1) sentinel: Spark's countDistinct(k1, k2)
      // DROPS rows where either key is NULL while DuckDB's
      // count(DISTINCT (k1, k2)) counts the NULL-bearing struct — the
      // sentinel (mirrored in the oracle) makes both engines total over
      // nullable key columns
      val g = Tables.lineitem(s, dir)
        .groupBy(coalesce(col("l_returnflag"), lit("\u0001")).as("k1"),
          coalesce(col("l_linestatus"), lit("\u0001")).as("k2"),
          to_date(col("l_shipdate")).as("k3"))
        .agg(count(lit(1)).as("n"))
      g.agg(sum("n").as("n_rows"),
          countDistinct(col("k1")).as("runs_flag"),
          countDistinct(col("k1"), col("k2")).as("runs_status"),
          count(lit(1)).as("runs_day"))
        .select(col("n_rows"), col("runs_flag"), col("runs_status"), col("runs_day"),
          expr("n_rows DIV runs_flag").as("rpr_flag"),
          expr("n_rows DIV runs_status").as("rpr_status"),
          expr("n_rows DIV runs_day").as("rpr_day"))
    },
    // NS: table statistics through ANALYZE — the CBO feed every serious
    // deployment maintains (join reorder, broadcast decisions, and every
    // q_*_forecast here assume a stats store exists): write the dim as a
    // managed table (fixture-fingerprint-keyed, the q_join_bucketed
    // convention), run ANALYZE TABLE ... FOR ALL COLUMNS, and read the
    // catalog's row count + per-column stats back. Registered as a fused
    // self-eval (catalog row count vs exact count; column-stat
    // completeness) because the catalog itself is not oracle-visible —
    // the oracle pins the verdicts to 1 and the row count to the exact
    // SQL count, so a stats regression (ANALYZE silently skipping
    // columns, stale counts served for a rewritten fixture) goes
    // hash-red.
    "q_analyze_stats" -> { (s, dir) =>
      val sfx = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val fp = fixtureFingerprint(Seq(s"$dir/supplier.parquet"))
      val t = s"supplier_an_${sfx}_$fp"
      if (!s.catalog.tableExists(t)) {
        clearStaleManagedLocation(s, t)
        Tables.supplier(s, dir).write.mode("overwrite").saveAsTable(t)
      }
      // fast path keyed on stats PRESENCE, not table existence: a run
      // interrupted between saveAsTable and ANALYZE must re-run ANALYZE
      // on the next call, not serve a permanently stats-less table
      def tableStats = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).stats
      if (tableStats.flatMap(_.rowCount).isEmpty)
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      val stats = tableStats
      val rc = stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)
      val nColStats = stats.map(_.colStats.size.toLong).getOrElse(0L)
      val exact = Tables.supplier(s, dir).count()
      s.range(1).select(
        lit(exact).as("n_rows"),
        lit(if (rc == exact) 1L else 0L).as("rowcount_ok"),
        lit(if (stats.exists(_.sizeInBytes > 0)) 1L else 0L).as("size_ok"),
        lit(if (nColStats == Tables.supplier(s, dir).columns.length) 1L else 0L)
          .as("col_stats_ok"))
    },
    // NS: self-join size forecast from a sample — the question every dedup
    // / blocking / semdedup plan must answer BEFORE running: how many
    // candidate pairs will this key produce? Exact answer needs the full
    // key census; the sampling estimator gets it from a p=1/4 Bernoulli
    // key-DOMAIN sample (md5-membership, deterministic): sampling KEYS
    // (not rows) keeps each sampled key's full count intact, so
    // Σ c(c−1) over sampled keys unbiasedly estimates p·Σ c(c−1) and the
    // forecast is sampled·4 — EXACT integer arithmetic end to end, and
    // the sample census is 4x cheaper than the full one at any scale.
    // Both the estimate and the true pair mass (the validation this
    // fixture can still afford) are emitted with the error ratio.
    "q_selfjoin_forecast" -> { (s, dir) =>
      val census = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      val withS = census.withColumn("in_sample",
        (pmod(Hash.prefix(concat(lit("sjf:"), col("l_partkey").cast("string"))), lit(100L)) < 25)
          .cast("long"))
      withS.agg(count(lit(1)).as("n_keys"),
          sum(col("c") * (col("c") - 1)).as("actual_pairs"),
          sum(col("in_sample")).as("n_sampled_keys"),
          sum(col("in_sample") * col("c") * (col("c") - 1)).as("sampled_pairs"))
        .select(col("n_keys"), col("actual_pairs"), col("n_sampled_keys"),
          (col("sampled_pairs") * 4).as("est_pairs"),
          expr("sampled_pairs * 4 * 100 DIV greatest(actual_pairs, 1)").as("err_x100"))
    },
    // NS: full cube over region x nation (rollup's sibling; all 4 grouping
    // sets), subtotals labeled via coalesce like q_rollup.
    "q_cube" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_customers"), col("sum_bal"))
        .orderBy("region", "nation")
    },
    // NS: explicit GROUPING SETS — the general form rollup/cube specialize:
    // exactly the requested (region,nation), (region), () subtotal grids,
    // computed in one pass (Expand + single hash aggregate), not three
    // scans unioned.
    "q_grouping_sets" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupingSets(Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_customers"), col("sum_bal"))
        .orderBy("region", "nation")
    },
    // NS: exact percentiles per group (type-7 linear interpolation — the
    // shared definition between Spark `percentile` and DuckDB
    // `quantile_cont`). The scale path for this shape is
    // `approx_percentile` (t-digest sketch, mergeable partials) — kept off
    // the hash oracle like every sketch.
    "q_quantiles" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 6).as("p75"))
        .orderBy("l_returnflag")
    },
    // NS: scalar-subquery shape — orders above twice the global average
    // price. The 1-row aggregate broadcasts onto the scan (no shuffle of
    // the fact side); the threshold is rounded to 6 decimals on both
    // engines so a row at the float boundary cannot flip membership.
    "q_scalar_subquery" -> { (s, dir) =>
      val stats = Tables.orders(s, dir).agg(round(avg("o_totalprice"), 6).as("avg_price"))
      Tables.orders(s, dir).crossJoin(broadcast(stats))
        .filter(col("o_totalprice") > col("avg_price") * 2)
        .select(col("o_orderkey"), col("o_totalprice"), col("avg_price"))
        .orderBy("o_orderkey")
    },
    // NS: second-moment statistical aggregates — correlation, sample
    // stddev/variance/covariance per group. All distributive via
    // (n, sum, sum-of-squares, sum-of-products) partials: map-side combine,
    // K rows shuffled. Rounding margins sized per column magnitude (the
    // two engines use different numerically-stable accumulations).
    "q_corr_stats" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qty_price"))
        .orderBy("l_returnflag")
    },
    // NS: approximate percentiles (mergeable bounded-memory sketch — the
    // q_quantiles path at 100 TB) with the acceptance check fused in, same
    // self-eval pattern as q_distinct_approx: approx AND exact quartiles
    // in one pass, emit the exact values plus a 2%-relative-error verdict
    // the oracle pins to literal 1 (accuracy=10000 -> rank error 1e-4,
    // well inside 2% on a smooth price distribution). The raw
    // approx-vs-exact property stays in ScalaTest.
    "q_quantiles_approx" -> { (s, dir) =>
      val relOk = (a: Column, e: Column) => abs(a - e) / abs(e) < lit(0.02)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)").as("ps"),
          expr("percentile(l_extendedprice, 0.25)").as("e25"),
          expr("percentile(l_extendedprice, 0.5)").as("e50"),
          expr("percentile(l_extendedprice, 0.75)").as("e75"))
        .select(col("l_returnflag"),
          round(col("e25"), 6).as("p25"), round(col("e50"), 6).as("p50"),
          round(col("e75"), 6).as("p75"),
          when(relOk(col("ps")(0), col("e25")) && relOk(col("ps")(1), col("e50")) &&
            relOk(col("ps")(2), col("e75")), 1L).otherwise(0L).as("within_tol"))
        .orderBy("l_returnflag")
    },
    // NS: skew-safe salted aggregation (core.Skew two-stage pattern) as a
    // first-class query: identical results to the plain groupBy — which is
    // exactly what the oracle checks — while a hot key (one event_type
    // dominating a 100 TB stream) spreads over 16 sub-keys in stage 1.
    // value is quantized to integer micros BEFORE the two-stage sum: the
    // salted partial order differs from any single-pass order, so a float
    // sum drifts across engines in last ulps and a 6-dec round lands ON a
    // boundary once sums grow (caught by the synthetic-sf1 stress gate);
    // integer sums are order-free and bit-exact at every scale.
    "q_salted_agg" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("value_e6", expr("CAST(round(value * 1000000) AS BIGINT)"))
      graft.core.Skew.saltedStats(ev, "event_type", "value_e6", col("user_id"))
        .select(col("event_type"), col("n"),
          (col("sum_value_e6").cast("double") / 1e6).as("sum_value"))
        .orderBy("event_type")
    },
    // NS: skew-salted join (core.Skew.saltedJoin) as a first-class query —
    // the big side gets a deterministic per-row salt, the small side is
    // exploded salts x, and the join key becomes (key, salt), so one hot
    // user cannot pin a single task at 100 TB. Semantics = plain inner
    // equi-join (the oracle), spec-proven on zipf data in
    // SkewAndBucketingSpec.
    "q_salted_join" -> { (s, dir) =>
      val big = Tables.events(s, dir).select(col("user_id"), col("event_id"), col("value"))
      val small = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      graft.core.Skew.saltedJoin(big, small, "user_id", col("event_id"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
        .orderBy("nationkey")
    },
    // NS: rollup region -> nation with labeled subtotal rows (coalesce keeps
    // NULL-ordering semantics out of the cross-engine compare).
    "q_rollup" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("sum_bal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_customers"), col("sum_bal"))
        .orderBy("region", "nation")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_scan_points" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |       CAST(len(embedding) AS BIGINT) AS n_dims,
        |       CAST(embedding[1] AS DOUBLE) AS c0
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_scan_split" ->
      """WITH rn AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn,
        |                   count(*) OVER () AS n FROM embeddings),
        |b AS (SELECT vec_id, CAST(least((rn - 1) // greatest(1, n // 4), 3) AS BIGINT) AS bucket FROM rn)
        |SELECT bucket, count(*) AS n_rows, min(vec_id) AS first_id, max(vec_id) AS last_id
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_scan_events" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // observe() metrics == the direct aggregates (all order-insensitive)
    "q_observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin,
    "q_project_parse" ->
      """WITH lines AS (
        |  SELECT vec_id,
        |         array_to_string(list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(x AS VARCHAR)), ', ') AS line
        |  FROM embeddings),
        |parsed AS (SELECT vec_id, list_transform(string_split(line, ', '), x -> CAST(x AS DOUBLE)) AS c FROM lines)
        |SELECT vec_id, CAST(len(c) AS BIGINT) AS n, c[1] AS c0, c[64] AS c63
        |FROM parsed ORDER BY vec_id""".stripMargin,
    "q_filter_nonempty" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin,
    "q_project_json" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_project_json_struct" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_variant_json" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |       CAST(NULL AS BIGINT) AS absent
        |FROM events ORDER BY event_id""".stripMargin,
    // the CSV round trip preserves doubles exactly (shortest-roundtrip
    // print/parse), so the oracle reads the parquet source directly
    "q_scan_csv" ->
      """SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // the oracle replays the two schema generations as a UNION with null
    // back-fill — mergeSchema must be exactly that
    "q_schema_evolution" ->
      """WITH v1 AS (SELECT o_totalprice, NULL AS pri FROM orders WHERE o_orderstatus = 'F'),
        |v2 AS (SELECT o_totalprice, o_orderpriority AS pri FROM orders WHERE o_orderstatus = 'O'),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT coalesce(pri, '<pre-evolution>') AS pri, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM u GROUP BY 1 ORDER BY pri""".stripMargin,
    "q_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p0 FROM orders),
        |nxt AS (SELECT o_orderkey AS k,
        |               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05
        |                    ELSE o_totalprice END AS p1
        |        FROM orders WHERE o_orderkey % 13 <> 0
        |        UNION ALL
        |        SELECT -o_orderkey, o_totalprice
        |        FROM orders WHERE o_orderkey % 11 = 0),
        |j AS (SELECT b.p0, n.p1 FROM base b FULL OUTER JOIN nxt n ON b.k = n.k)
        |SELECT CASE WHEN p0 IS NULL THEN 'added' WHEN p1 IS NULL THEN 'removed'
        |            WHEN p0 <> p1 THEN 'changed' ELSE 'unchanged' END AS change_type,
        |       count(*) AS n,
        |       CAST(sum(coalesce(CAST(round(p1 * 10000) AS BIGINT), 0) -
        |                coalesce(CAST(round(p0 * 10000) AS BIGINT), 0)) AS BIGINT) / 1e4 AS sum_delta
        |FROM j GROUP BY 1 ORDER BY change_type""".stripMargin,
    // round trips must be lossless: the oracle aggregates the ORIGINAL
    // parquet, the query aggregates the text/ORC/JSON copy
    "q_scan_text" ->
      """SELECT count(*) AS n_lines,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
        |       CAST(min(length(text)) AS BIGINT) AS min_chars,
        |       CAST(max(length(text)) AS BIGINT) AS max_chars
        |FROM documents""".stripMargin,
    "q_scan_orc" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |       count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS sum_bal
        |FROM supplier GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_scan_json" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_join_equi" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    // IS NOT DISTINCT FROM == Spark's <=>; NULLS FIRST matches Spark's
    // asc_nulls_first default
    "q_join_nullsafe" ->
      """WITH l AS (SELECT nullif(o_custkey % 10, 0) AS k, CAST(count(*) AS BIGINT) AS n_l
        |           FROM orders GROUP BY 1),
        |r AS (SELECT nullif(c_custkey % 10, 0) AS k, CAST(count(*) AS BIGINT) AS n_r
        |      FROM customer GROUP BY 1)
        |SELECT l.k, l.n_l, r.n_r, l.n_l * r.n_r AS n_pairs
        |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
        |ORDER BY l.k NULLS FIRST""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       round(coalesce(sum(o_totalprice), 0.0), 2) AS sum_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_outer" ->
      """WITH c AS (SELECT user_id AS cu, count(*) AS n_clicks FROM events
        |           WHERE event_type = 'click' GROUP BY user_id),
        |p AS (SELECT user_id AS pu, count(*) AS n_purchases FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT coalesce(cu, pu) AS user_id,
        |       coalesce(n_clicks, 0) AS n_clicks,
        |       coalesce(n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p ON cu = pu
        |ORDER BY user_id""".stripMargin,
    "q_join_range" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events WHERE event_type = 'click')
        |SELECT p.p_id,
        |       CAST(count(c.c_ts) AS BIGINT) AS n_clicks_5m
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |       AND c.c_ts > p.p_ts AND c.c_ts <= p.p_ts + INTERVAL 5 MINUTE
        |GROUP BY p.p_id ORDER BY p.p_id""".stripMargin,
    "q_join_asof" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey,
        |                  row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        |           FROM orders)
        |SELECT e.event_id, o.o_orderkey AS asof_order
        |FROM events e ASOF LEFT JOIN (SELECT * FROM o WHERE rn = 1) o
        |  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    // the identical union + two-frame window spelling; NULL-handling is
    // inert because ties within (t, tag) are all-events or all-orders
    "q_join_asof_nearest" ->
      """WITH u AS (
        |  SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS t, 1 AS tag,
        |         event_id, CAST(NULL AS BIGINT) AS o_key
        |  FROM events
        |  UNION ALL
        |  SELECT o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)), 0,
        |         CAST(NULL AS BIGINT), o_orderkey
        |  FROM orders),
        |w AS (
        |  SELECT *,
        |         last_value(o_key IGNORE NULLS) OVER wb AS b_key,
        |         last_value(CASE WHEN o_key IS NOT NULL THEN t END IGNORE NULLS)
        |           OVER wb AS b_t,
        |         first_value(o_key IGNORE NULLS) OVER wf AS f_key,
        |         first_value(CASE WHEN o_key IS NOT NULL THEN t END IGNORE NULLS)
        |           OVER wf AS f_t
        |  FROM u
        |  WINDOW wb AS (PARTITION BY k ORDER BY t, tag, o_key
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY k ORDER BY t, tag, o_key
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id,
        |       CASE WHEN b_key IS NULL AND f_key IS NULL THEN CAST(NULL AS BIGINT)
        |            WHEN f_key IS NULL OR (b_key IS NOT NULL AND t - b_t <= f_t - t)
        |              THEN b_key ELSE f_key END AS nearest_order,
        |       CASE WHEN b_key IS NULL AND f_key IS NULL THEN CAST(NULL AS VARCHAR)
        |            WHEN f_key IS NULL OR (b_key IS NOT NULL AND t - b_t <= f_t - t)
        |              THEN 'backward' ELSE 'forward' END AS side,
        |       CASE WHEN b_key IS NULL AND f_key IS NULL THEN CAST(NULL AS BIGINT)
        |            WHEN f_key IS NULL OR (b_key IS NOT NULL AND t - b_t <= f_t - t)
        |              THEN t - b_t ELSE f_t - t END AS delta_us
        |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin,
    "q_star_join" ->
      """SELECT p.p_brand, o.o_orderstatus, count(*) AS n_lines,
        |       count(DISTINCT s.s_nationkey) AS n_supp_nations,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY p.p_brand, o.o_orderstatus
        |ORDER BY p_brand, o_orderstatus""".stripMargin,
    "q_join_asof_native" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey,
        |                  row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        |           FROM orders)
        |SELECT e.event_id, o.o_orderkey AS asof_order
        |FROM events e ASOF LEFT JOIN (SELECT * FROM o WHERE rn = 1) o
        |  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q_agg_stats" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 1e2 AS sum_base,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS sum_disc_price,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // sketch self-eval: the oracle pins the tolerance verdict to literal 1
    // — an HLL estimate outside 3*rsd of the exact count goes hash-red
    "q_distinct_approx" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       CAST(1 AS BIGINT) AS within_3rsd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_pivot" ->
      // CAST ... AS BIGINT: DuckDB sum(int) is HUGEINT, which pandas
      // materializes as float64 and the driver's hash then diverges from
      // Spark's int64 — same cast discipline as q_join_range above.
      """SELECT user_id,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // bucketing is a physical layout: logical result == plain join
    "q_join_bucketed" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |       count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "q_sql_tpch" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 1e2 AS sum_base_price,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS sum_disc_price,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_decimal_exact" ->
      """WITH t AS (SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderstatus, CAST(sum(cents) AS BIGINT) AS total_cents,
        |       count(*) AS n_orders, min(cents) AS min_cents, max(cents) AS max_cents
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_sql_tpch_q5" ->
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
        |FROM customer c
        |JOIN orders o   ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |               AND c.c_nationkey = s.s_nationkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_sql_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       sum(l_quantity) AS total_qty
        |FROM customer c
        |JOIN orders o   ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 20""".stripMargin,
    "q_sql_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_sql_tpch_q14" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) / 1e4 AS promo_revenue,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS total_revenue,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
        |    ELSE 0 END) * 1000000
        |    // sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS promo_ppm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,
    "q_sql_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
        |FROM customer c
        |JOIN orders o   ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q_source_pointgen" ->
      s"""WITH g AS (
        |  SELECT id,
        |    (${Hash.prefixSql("'px:' || CAST(id AS VARCHAR)")} % 2000000 - 1000000) / 100.0 AS x,
        |    (${Hash.prefixSql("'py:' || CAST(id AS VARCHAR)")} % 2000000 - 1000000) / 100.0 AS y,
        |    CAST(id % 16 AS INT) AS bucket
        |  FROM range(0, 4000) t(id)
        |  WHERE id >= 500 AND id < 3500)
        |SELECT bucket, count(*) AS n,
        |       CAST(sum(CAST(round(x * 100) AS BIGINT)) AS BIGINT) AS sum_x_cents,
        |       min(x) AS min_x, max(y) AS max_y
        |FROM g GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "q_sql_tpch_q6" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin,
    "q_sql_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS total_x
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_x / 1e4 AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_x = (SELECT max(total_x) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_sql_tpch_q17" ->
      """SELECT count(*) AS n_small,
        |  CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS small_revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#3'
        |  AND l.l_quantity < 0.5 * (SELECT avg(l2.l_quantity)
        |                            FROM lineitem l2
        |                            WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    "q_sql_tpch_q19" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_sql_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer)
        |SELECT c_nationkey, count(*) AS numcust,
        |       CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        |FROM c
        |WHERE cents * (SELECT count(*) FROM c WHERE cents > 0)
        |        > (SELECT sum(cents) FROM c WHERE cents > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q_sql_tpch_q8" ->
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v,
        |         n2.n_name AS supp_nation
        |  FROM part p
        |  JOIN lineitem l ON p.p_partkey = l.l_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o   ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r   ON n1.n_regionkey = r.r_regionkey
        |  JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        |  WHERE r.r_name = 'AMERICA' AND p.p_type = 'MEDIUM')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) AS BIGINT) / 1e4 AS nation_revenue,
        |  CAST(sum(v) AS BIGINT) / 1e4 AS total_revenue,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) * 1000000
        |       // sum(v) AS BIGINT) AS mkt_share_ppm
        |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_sql_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 1e4 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |         l_extendedprice, l_discount
        |  FROM supplier s
        |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o   ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    // catalog not oracle-visible: the oracle pins the self-eval verdicts
    "q_analyze_stats" ->
      """SELECT count(*) AS n_rows,
        |       CAST(1 AS BIGINT) AS rowcount_ok,
        |       CAST(1 AS BIGINT) AS size_ok,
        |       CAST(1 AS BIGINT) AS col_stats_ok
        |FROM supplier""".stripMargin,
    "q_selfjoin_forecast" ->
      s"""WITH census AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1),
        |s AS (SELECT c,
        |             CASE WHEN ${Hash.prefixSql("'sjf:' || CAST(l_partkey AS VARCHAR)")}
        |                       % 100 < 25 THEN 1 ELSE 0 END AS in_sample
        |      FROM census)
        |SELECT count(*) AS n_keys,
        |       CAST(sum(c * (c - 1)) AS BIGINT) AS actual_pairs,
        |       CAST(sum(in_sample) AS BIGINT) AS n_sampled_keys,
        |       CAST(sum(in_sample * c * (c - 1)) * 4 AS BIGINT) AS est_pairs,
        |       CAST(sum(in_sample * c * (c - 1)) * 4 * 100
        |            // greatest(sum(c * (c - 1)), 1) AS BIGINT) AS err_x100
        |FROM s""".stripMargin,
    "q_sql_tpch_q13" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cc FROM orders
        |            WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(cc, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_sql_recursive" ->
      """WITH RECURSIVE spine(n) AS (
        |  SELECT 0 AS n
        |  UNION ALL
        |  SELECT n + 1 FROM spine WHERE n < 89
        |),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1996-03-31 00:00:00'
        |  GROUP BY 1)
        |SELECT DATE '1996-01-01' + n AS day,
        |       coalesce(n_orders, 0) AS n_orders
        |FROM spine LEFT JOIN daily ON DATE '1996-01-01' + n = d
        |ORDER BY day""".stripMargin,
    "q_zonemap_prune" ->
      """WITH blocks AS (
        |  SELECT l_orderkey // 512 AS blk, count(*) AS n,
        |         min(l_shipdate) AS b_lo, max(l_shipdate) AS b_hi,
        |         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |                        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
        |  FROM lineitem GROUP BY 1),
        |census AS (
        |  SELECT count(*) AS n_blocks, CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(sum(CASE WHEN b_hi >= TIMESTAMP '1997-01-01 00:00:00'
        |                        AND b_lo <  TIMESTAMP '1997-04-01 00:00:00'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned_blocks,
        |         CAST(sum(CASE WHEN b_hi >= TIMESTAMP '1997-01-01 00:00:00'
        |                        AND b_lo <  TIMESTAMP '1997-04-01 00:00:00'
        |                       THEN n ELSE 0 END) AS BIGINT) AS scanned_rows,
        |         CAST(sum(n_sel) AS BIGINT) AS selected_rows
        |  FROM blocks)
        |SELECT n_blocks, n_rows, n_scanned_blocks, scanned_rows, selected_rows,
        |       CAST(scanned_rows * 1000000 // n_rows AS BIGINT) AS scan_ppm,
        |       CAST(scanned_rows * 100 // greatest(selected_rows, 1) AS BIGINT) AS waste_x100
        |FROM census""".stripMargin,
    "q_rle_census" ->
      """WITH g AS (SELECT coalesce(l_returnflag, chr(1)) AS k1,
        |                  coalesce(l_linestatus, chr(1)) AS k2,
        |                  CAST(l_shipdate AS DATE) AS k3, count(*) AS n
        |           FROM lineitem GROUP BY 1, 2, 3)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |       count(DISTINCT k1) AS runs_flag,
        |       count(DISTINCT (k1, k2)) AS runs_status,
        |       count(*) AS runs_day,
        |       CAST(sum(n) // count(DISTINCT k1) AS BIGINT) AS rpr_flag,
        |       CAST(sum(n) // count(DISTINCT (k1, k2)) AS BIGINT) AS rpr_status,
        |       CAST(sum(n) // count(*) AS BIGINT) AS rpr_day
        |FROM g""".stripMargin,
    // identical census, TakeOrdered hot keys, exact integer ceil
    "q_salt_plan" ->
      """WITH freq AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS f
        |              FROM orders GROUP BY 1),
        |t AS (SELECT greatest(CAST(sum(f) AS BIGINT) // 32, 1) AS t FROM freq),
        |hot AS (SELECT o_custkey, f FROM freq ORDER BY f DESC, o_custkey LIMIT 5)
        |SELECT hot.o_custkey AS hot_key, hot.f AS freq, t.t AS target_rows,
        |       (hot.f + t.t - 1) // t.t AS salt_factor,
        |       CAST((hot.f + t.t - 1) // t.t > 1 AS BIGINT) AS needs_salt
        |FROM hot CROSS JOIN t
        |ORDER BY freq DESC, hot_key""".stripMargin,
    "q_skew_census" ->
      """WITH freq AS (SELECT o_custkey, count(*) AS f FROM orders GROUP BY 1),
        |hist AS (SELECT f, count(*) AS nk FROM freq GROUP BY 1),
        |tot AS (SELECT sum(nk) AS n_keys, sum(f * nk) AS n_rows, max(f) AS max_f FROM hist),
        |cum AS (SELECT f, sum(nk) OVER (ORDER BY f) AS cum FROM hist),
        |p99 AS (SELECT min(f) AS p99_f FROM cum CROSS JOIN tot
        |        WHERE cum * 100 >= n_keys * 99)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
        |       max_f, p99_f,
        |       CAST(max_f * 1000000 // n_rows AS BIGINT) AS top_share_ppm,
        |       CAST(max_f * 100 * n_keys // n_rows AS BIGINT) AS skew_x100
        |FROM tot CROSS JOIN p99""".stripMargin,
    "q_shuffle_forecast" ->
      s"""WITH f AS (SELECT l_orderkey, count(*) AS f FROM lineitem GROUP BY 1),
         |r AS (SELECT ${Hash.prefixSql("'red:' || CAST(l_orderkey AS VARCHAR)")}
         |             % $ShuffleForecastReducers AS reducer, f
         |      FROM f),
         |c AS (SELECT reducer, count(*) AS n_keys, CAST(sum(f) AS BIGINT) AS n_rows
         |      FROM r GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows FROM c)
         |SELECT reducer, n_keys, n_rows,
         |       CAST(n_rows * $ShuffleForecastRowBytes AS BIGINT) AS est_bytes,
         |       CAST(n_rows * $ShuffleForecastRowBytes > 2147483647 AS BIGINT) AS over_2gb,
         |       CAST(n_rows * $ShuffleForecastReducers * 100 // total_rows AS BIGINT) AS load_x100
         |FROM c CROSS JOIN tot
         |ORDER BY reducer""".stripMargin,
    "q_sql_tpch_q3" ->
      """SELECT l_orderkey,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       o_orderdate, o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value
        |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |               FROM lineitem)
        |      ON l_quantity, l_extendedprice, l_discount
        |      INTO NAME metric VALUE value)
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |       count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        |ORDER BY region, nation""".stripMargin,
    "q_scalar_subquery" ->
      """WITH a AS (SELECT round(avg(o_totalprice), 6) AS avg_price FROM orders)
        |SELECT o_orderkey, o_totalprice, avg_price
        |FROM orders CROSS JOIN a
        |WHERE o_totalprice > avg_price * 2
        |ORDER BY o_orderkey""".stripMargin,
    "q_corr_stats" ->
      """SELECT l_returnflag,
        |       round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
        |       round(stddev_samp(l_quantity), 6) AS sd_qty,
        |       round(var_samp(l_quantity), 6) AS var_qty,
        |       round(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS cov_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // sketch self-eval (same pattern as q_distinct_approx): exact
    // quartiles + a pinned within-2%-relative verdict for the
    // approx_percentile estimates
    "q_quantiles_approx" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |       CAST(1 AS BIGINT) AS within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // plain aggregate: the salted two-stage MUST be indistinguishable
    // same micros quantization: sum(BIGINT) is exact, the single final
    // division is one deterministic IEEE op on both engines
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) / 1e6 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_zorder_layout" -> {
      val zExpr = (0 until 8).map(i =>
        s"(((ub >> $i) & 1) << ${2 * i + 1}) + (((vb >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH k AS (SELECT user_id & 255 AS ub,
         |                  CAST(floor(value * 10) AS BIGINT) & 255 AS vb
         |           FROM events),
         |z AS (SELECT ub, vb, $zExpr AS z FROM k)
         |SELECT z >> 8 AS z_bucket, count(*) AS n,
         |       min(ub) AS min_ub, max(ub) AS max_ub,
         |       min(vb) AS min_vb, max(vb) AS max_vb
         |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
    },
    // the DPP join semantics == a static IN filter on the conversion types
    "q_join_dpp" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // salted join == plain inner equi-join
    "q_salted_join" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |       count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin
  )
}
