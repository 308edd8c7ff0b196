package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Hash, Tables, Vec}

/** Scalar-function surface: string / math / array / json / date / map
  * (SURVEY.md §2.8). All vector math is HOF-composed (codegen-friendly,
  * no UDFs); cross-engine float formatting is normalized by `round(_, 3)`
  * (keeps magnitudes out of exponent notation) and `+ 0.0` (DuckDB prints
  * -0.0 as "0.0", Java as "-0.0").
  */
object ScalarQueries extends graft.SparkEntry.Module {

  /** First `n` elements of an array column, Spark side. */
  private def head(c: Column, n: Int): Column = slice(c, 1, n)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // String -> vector parse with the reference's comma normalization
    // (handlePoints regex r',([^ ])' -> ', \1' at /root/reference/master.py:85):
    // synthesize the malformed "x,y" form, normalize, split, cast.
    "q_split_cast" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          concat_ws(",", transform(head(col("embedding"), 2), x => x.cast("string"))).as("raw"))
        .select(col("vec_id"),
          transform(split(regexp_replace(col("raw"), ",([^ ])", ", $1"), ", "),
            x => x.cast("double")).as("c"))
        .select(col("vec_id"), element_at(col("c"), 1).as("x"), element_at(col("c"), 2).as("y"))
        .orderBy("vec_id")
    },
    // Vector -> delimited string (reducer.py:72 comma form / mapper.py:83-84
    // space form): first 8 dims rounded to 3 decimals, comma-joined.
    "q_fmt_join" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          concat_ws(",", transform(head(col("embedding"), 8),
            x => (round(x, 3) + lit(0.0)).cast("string"))).as("line"))
        .orderBy("vec_id")
    },
    // Shuffle-key routing cid % R with the reference's 1-based fixup
    // (pid == 0 -> R, /root/reference/mapper.py:76-80), R = 2.
    "q_mod_partition" -> { (s, dir) =>
      val r = 2
      val assigned = graft.kmeans.KmeansQueries.queries("q_assign_nearest")(s, dir)
      assigned
        .withColumn("pid",
          when(pmod(col("cid"), lit(r)) === 0, r).otherwise(pmod(col("cid"), lit(r))).cast("long"))
        .groupBy("pid").agg(count(lit(1)).as("n"))
        .orderBy("pid")
    },
    // NS text scalars over documents: casing, lengths, tokenization, regex.
    "q_string_funcs" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          upper(col("lang")).as("lang_uc"),
          substring(col("text"), 1, 10).as("prefix"),
          regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
          length(regexp_replace(col("text"), "[^aeiou]", "")).cast("long").as("n_vowels"))
        .orderBy("doc_id")
    },
    // NS: edit distance (Levenshtein) of each doc's head against a fixed
    // probe — the character-level near-dup verifier (complements the
    // token-level Jaccard/minhash family; cost is O(len^2) per ROW, so at
    // scale it runs only on candidate pairs, never all-pairs).
    "q_edit_distance" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          levenshtein(substring(col("text"), 1, 16), lit("data processing ")).cast("long").as("dist"))
        .orderBy("doc_id")
    },
    // NS: fuzzy (edit-distance) similarity JOIN — the entity-resolution
    // operator: rows collapse to the DISTINCT value domain FIRST (the
    // vocab-first trick: 2000 part rows -> 64 names; at 100 TB the pair
    // stage runs over the value vocabulary, never the row count), blocked
    // by the name's last word so no all-pairs product exists, then exact
    // Levenshtein <= 3 inside each block. Row weights (n_a, n_b) ride
    // along so a merge step knows how many rows each cluster represents.
    "q_fuzzy_join" -> { (s, dir) =>
      val names = Tables.part(s, dir)
        .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n"))
        .withColumn("noun", element_at(split(col("name"), " "), -1))
      val a = names.select(col("noun"), col("name").as("name_a"), col("n").as("n_a"))
      val b = names.select(col("noun"), col("name").as("name_b"), col("n").as("n_b"))
      a.join(b, Seq("noun"))
        .filter(col("name_a") < col("name_b"))
        // r13: length-band pre-filter — |len(a)-len(b)| <= 3 is a NECESSARY
        // condition for levenshtein <= 3 (each unit of length difference
        // costs one edit), so it drops no qualifying pair and cuts the
        // candidate set BEFORE the expensive DP (guide §3.2 reduce-before-
        // join applied to the pair generator; at scale the block self-join
        // emits billions of candidate pairs and length is already in-row)
        .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 3)
        // r12: threshold-banded levenshtein (Spark 3.5+): O(len*k) banded
        // DP with an internal |len diff| early-out, returns -1 past the
        // bound — exact distance for every surviving row, so the output
        // is unchanged and the dominant per-pair cost drops ~len/k
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b"), 3).cast("long").as("dist"),
          col("n_a"), col("n_b"))
        .filter(col("dist") >= 0)
        .orderBy("name_a", "name_b")
    },
    // NS: entity resolution end-to-end — the q_fuzzy_join edge set fed
    // through the SAME connected-components machinery the text dedup
    // pipeline uses (TextDedup.connectedComponents: min-label propagation
    // with pointer jumping), then every name mapped to its cluster's
    // canonical spelling (the name holding the component's min part key).
    // Composition story: candidate generation (blocked fuzzy join over the
    // distinct-value domain) and canonicalization (CC + representative
    // pick) are the same two phases at any key type — shingle sketches or
    // string names — so the 100 TB scale analysis of the dedup pipeline
    // carries over unchanged.
    "q_fuzzy_cluster" -> { (s, dir) =>
      val names = Tables.part(s, dir)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n"), min("p_partkey").as("nid"))
        .withColumn("noun", element_at(split(col("name"), " "), -1))
      val a = names.select(col("noun"), col("name").as("name_a"), col("nid").as("na"))
      val b = names.select(col("noun"), col("name").as("name_b"), col("nid").as("nb"))
      val edges = a.join(b, Seq("noun"))
        // r12: banded levenshtein (see q_fuzzy_join) — same edge set
        // r13: length-band pre-filter ahead of the DP (see q_fuzzy_join);
        // conjunct order is load-bearing — the cheap band short-circuits
        .filter(col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= 3 &&
          levenshtein(col("name_a"), col("name_b"), 3) >= 0)
        .select(col("na").as("doc_a"), col("nb").as("doc_b"))
      val labels = graft.text.TextDedup.connectedComponents(
        names.select(col("nid").as("doc_id")), edges)
      val canon = names.select(col("nid").as("component"), col("name").as("canonical"))
      names.join(labels, names("nid") === labels("doc_id"))
        .join(canon, "component")
        .select(col("name"), col("canonical"), col("n"))
        .orderBy("name")
    },
    // NS date/time scalars over orders.
    "q_date_funcs" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
        .orderBy("o_orderkey")
    },
    // NS array ops on embeddings: size/slice + elementwise HOFs
    // (generalizes the reducer's elementwise loop, reducer.py:23-25).
    "q_array_funcs" -> { (s, dir) =>
      val c = col("embedding")
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          size(c).cast("long").as("n"),
          round(aggregate(head(c, 8), lit(0.0), (a, x) => a + x), 6).as("sum8"),
          size(filter(c, x => x > 0)).cast("long").as("n_pos"),
          array_max(c).as("mx"),
          round(aggregate(transform(c, x => x * x), lit(0.0), (a, x) => a + x), 6).as("sq_norm"))
        .orderBy("vec_id")
    },
    // NS map ops: per-doc word->count map via map_from_entries, then keyed
    // lookups and cardinality.
    "q_map_funcs" -> { (s, dir) =>
      // `ws` materialized first: `filter(ws, ...)` sits inside the outer
      // lambda, and an unmaterialized split would re-run per distinct word
      val m = map_from_entries(transform(array_distinct(col("ws")),
        w => struct(w.as("k"), size(filter(col("ws"), x => x === w)).cast("long").as("v"))))
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"),
          size(map_keys(col("m"))).cast("long").as("n_distinct"),
          coalesce(element_at(col("m"), "table"), lit(0L)).as("n_table"),
          coalesce(element_at(col("m"), "query"), lit(0L)).as("n_query"))
        .orderBy("doc_id")
    },

    // NS: rendezvous (highest-random-weight) routing + elastic-rescale
    // census — the shard router that survives cluster growth: each doc
    // goes to argmax_k h(shard_k, doc_id), and when a 5th shard joins,
    // the HRW guarantee says docs move ONLY to the new shard (old shards
    // never trade docs — the property that makes rescaling an append,
    // not a reshuffle). The argmax is one BIGINT `greatest` over packed
    // (score*8 + shard_idx) keys (the tie-break is the packed index, so
    // no float and no struct ordering is involved); the whole router is a
    // NARROW map — zero joins, zero blowup — followed by one bounded
    // census aggregate. n_moved_in > 0 only on the new shard, spec-pinned.
    "q_rendezvous_route" -> { (s, dir) =>
      def key(k: Int): Column = Hash.prefix(concat(lit(s"hrw:s$k:"), col("doc_id"))) * 8 + k
      def route(n: Int): Column =
        concat(lit("s"), pmod(greatest((0 until n).map(key): _*), lit(8L)))
      val routed = Tables.documents(s, dir)
        .select(col("doc_id"), route(4).as("before"), route(5).as("after"))
      val afterC = routed.groupBy(col("after").as("shard"))
        .agg(count(lit(1)).as("n_after"),
          sum(when(col("before") =!= col("after"), 1L).otherwise(0L)).as("n_moved_in"))
      val beforeC = routed.groupBy(col("before").as("shard"))
        .agg(count(lit(1)).as("n_before"))
      // both censuses are shard-bounded frames; the narrow routing map is
      // recomputed rather than materialized (row-scale caching is the
      // anti-pattern at 100 TB, the map is cheaper than the write)
      afterC.join(beforeC, Seq("shard"), "full_outer")
        .na.fill(0L, Seq("n_before", "n_after", "n_moved_in"))
        .select(col("shard"), col("n_before"), col("n_after"), col("n_moved_in"))
        .orderBy("shard")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_split_cast" ->
      """WITH raw AS (
        |  SELECT vec_id,
        |         array_to_string(list_transform(CAST(embedding[1:2] AS DOUBLE[]), x -> CAST(x AS VARCHAR)), ',') AS raw
        |  FROM embeddings),
        |parsed AS (
        |  SELECT vec_id,
        |         list_transform(string_split(regexp_replace(raw, ',([^ ])', ', \1', 'g'), ', '),
        |                        x -> CAST(x AS DOUBLE)) AS c
        |  FROM raw)
        |SELECT vec_id, c[1] AS x, c[2] AS y FROM parsed ORDER BY vec_id""".stripMargin,
    "q_fmt_join" ->
      """SELECT vec_id,
        |       array_to_string(list_transform(CAST(embedding[1:8] AS DOUBLE[]),
        |                       x -> CAST(round(x, 3) + 0.0 AS VARCHAR)), ',') AS line
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_mod_partition" ->
      s"""${graft.kmeans.KmeansQueries.preludeSql}
         |SELECT CAST(CASE WHEN cid % 2 = 0 THEN 2 ELSE cid % 2 END AS BIGINT) AS pid,
         |       count(*) AS n
         |FROM assign GROUP BY pid ORDER BY pid""".stripMargin,
    "q_edit_distance" ->
      """SELECT doc_id,
        |       CAST(levenshtein(substr(text, 1, 16), 'data processing ') AS BIGINT) AS dist
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same blocked edges -> recursive min-reachable fixpoint (the
    // q_dedup_components oracle pattern) -> canonical = component-min name
    "q_fuzzy_cluster" ->
      s"""WITH RECURSIVE
        |names AS (SELECT p_name AS name, count(*) AS n, min(p_partkey) AS nid
        |          FROM part GROUP BY 1),
        |k AS (SELECT name, n, nid, string_split(name, ' ')[-1] AS noun FROM names),
        |e0 AS (SELECT a.nid AS a, b.nid AS b
        |       FROM k a JOIN k b ON a.noun = b.noun AND a.name < b.name
        |       WHERE levenshtein(a.name, b.name) <= 3),
        |${graft.text.TextDedup.componentsSql("names", "nid")}
        |SELECT k.name, c.name AS canonical, k.n
        |FROM k JOIN labels lab ON k.nid = lab.nid JOIN k c ON c.nid = lab.component
        |ORDER BY k.name""".stripMargin,
    "q_fuzzy_join" ->
      """WITH names AS (SELECT p_name AS name, count(*) AS n FROM part GROUP BY 1),
        |k AS (SELECT name, n, string_split(name, ' ')[-1] AS noun FROM names)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        |       a.n AS n_a, b.n AS n_b
        |FROM k a JOIN k b ON a.noun = b.noun AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    "q_string_funcs" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |       upper(lang) AS lang_uc,
        |       substr(text, 1, 10) AS prefix,
        |       regexp_extract(text, '^(\w+)', 1) AS first_word,
        |       CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mo,
        |       CAST(day(o_orderdate) AS BIGINT) AS dom,
        |       date_trunc('month', o_orderdate) AS month_start,
        |       CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_array_funcs" ->
      s"""WITH ${Tables.PointsCte}
        |SELECT vec_id,
        |       CAST(len(c) AS BIGINT) AS n,
        |       round(list_reduce(list_prepend(0.0, c[1:8]), (a, x) -> a + x), 6) + 0.0 AS sum8,
        |       CAST(len(list_filter(c, x -> x > 0)) AS BIGINT) AS n_pos,
        |       list_max(c) AS mx,
        |       round(list_reduce(list_prepend(0.0, list_transform(c, x -> x * x)), (a, x) -> a + x), 6) AS sq_norm
        |FROM pts ORDER BY vec_id""".stripMargin,
    "q_map_funcs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |             map_from_entries(list_transform(list_distinct(ws),
        |               u -> struct_pack(k := u, v := CAST(len(list_filter(ws, x -> x = u)) AS BIGINT)))) AS m
        |      FROM w)
        |SELECT doc_id,
        |       CAST(cardinality(m) AS BIGINT) AS n_distinct,
        |       coalesce(m['table'][1], 0) AS n_table,
        |       coalesce(m['query'][1], 0) AS n_query
        |FROM m ORDER BY doc_id""".stripMargin,
    // packed-key HRW argmax, identical on both engines
    "q_rendezvous_route" -> {
      def key(k: Int) =
        s"(${Hash.prefixSql(s"'hrw:s$k:' || CAST(doc_id AS VARCHAR)")} * 8 + $k)"
      def route(n: Int) =
        s"'s' || CAST(greatest(${(0 until n).map(key).mkString(", ")}) % 8 AS VARCHAR)"
      s"""WITH r AS (
         |  SELECT doc_id, ${route(4)} AS before, ${route(5)} AS after
         |  FROM documents),
         |a AS (SELECT after AS shard, count(*) AS n_after,
         |             CAST(sum(CASE WHEN before <> after THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
         |      FROM r GROUP BY after),
         |b AS (SELECT before AS shard, count(*) AS n_before FROM r GROUP BY before)
         |SELECT coalesce(a.shard, b.shard) AS shard,
         |       coalesce(b.n_before, 0) AS n_before,
         |       coalesce(a.n_after, 0) AS n_after,
         |       coalesce(a.n_moved_in, 0) AS n_moved_in
         |FROM a FULL OUTER JOIN b ON a.shard = b.shard
         |ORDER BY shard""".stripMargin
    }
  )
}
