package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Hash

/** Multimodal columns (north-star): image/audio/video as opaque `binary`
  * columns with typed metadata, processed by per-partition batch functions.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB ([[FakeDecoder]]); everything around
  * it — the (blob, meta struct) schema, the `Dataset.mapPartitions` batch
  * shape (Scala's analog of `mapInPandas`: one iterator per partition, so
  * a real decoder amortizes model/codec init per partition, not per row),
  * partitioning, and the re-aggregation back to columnar — is real and
  * oracle-checked.
  *
  * The `documents.text` bytes stand in for media payloads.
  */
object BlobQueries extends graft.SparkEntry.Module {

  /** A media row: opaque payload + typed metadata. */
  case class Blob(doc_id: Long, payload: Array[Byte], kind: String, n_bytes: Long)
  /** One extracted "frame": (doc_id, frame index, byte value at the sample). */
  case class Frame(doc_id: Long, idx: Long, v: Long)

  /** STUB decoder: a real implementation would decode the codec and emit
    * pixel/sample frames; this deterministic fake "samples a frame" every
    * `stride` bytes and returns the byte value — same batch shape, same
    * schema, no codec dependency.
    */
  object FakeDecoder {
    val Stride = 32
    def frames(b: Blob): Iterator[Frame] =
      (0 until b.payload.length by Stride).iterator.zipWithIndex.map {
        case (off, i) => Frame(b.doc_id, i.toLong, (b.payload(off) & 0xff).toLong)
      }
  }

  /** documents -> typed media table: payload bytes + metadata struct. */
  def blobs(spark: SparkSession, sfDir: String): Dataset[Blob] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .map(r => {
        val bytes = r.getString(1).getBytes("UTF-8")
        Blob(r.getLong(0), bytes, "text/plain", bytes.length.toLong)
      })
  }

  /** Per-partition batch decode (the mapInPandas shape): one decoder
    * instance per partition iterator.
    */
  def decodeFrames(blobs: Dataset[Blob]): Dataset[Frame] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // decoder/codec init would happen here, once per partition
      it.flatMap(FakeDecoder.frames)
    }
  }

  /** A fixed-width "thumbnail": nearest-neighbor resample of the payload to
    * `ThumbW` taps + mean intensity — the resize / feature-extract shape
    * (a real pipeline would emit pixels-after-resize or a model embedding;
    * the batch plumbing is identical).
    */
  case class Thumb(doc_id: Long, taps: Array[Long], mean_v: Double)
  val ThumbW = 8

  /** Per-partition batch resize (one "model" per partition, like
    * [[decodeFrames]]). Nearest-neighbor: tap k reads byte floor(k*n/W).
    */
  def resizeThumbs(blobs: Dataset[Blob]): Dataset[Thumb] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.map { b =>
        val n = b.payload.length
        val taps = Array.tabulate(ThumbW)(k => (b.payload((k.toLong * n / ThumbW).toInt) & 0xff).toLong)
        var s = 0L
        var i = 0
        while (i < n) { s += (b.payload(i) & 0xff); i += 1 }
        Thumb(b.doc_id, taps, s.toDouble / n)
      }
    }
  }

  /** One audio "analysis window": doc, window index, sample count, energy. */
  case class AudioWindow(doc_id: Long, w_idx: Long, n_samples: Long, energy: Double)
  val WindowSamples = 64

  /** Audio feature-extraction shape: window the payload into fixed
    * [[WindowSamples]]-sample non-overlapping windows and compute each
    * window's energy (mean squared sample, samples centered at 128). A real
    * pipeline would run FFT/mel filters per window — same batch shape,
    * same per-partition init amortization, no codec dependency.
    */
  def audioWindows(blobs: Dataset[Blob]): Dataset[AudioWindow] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // window/FFT plan init would happen here, once per partition
      it.flatMap { b =>
        b.payload.grouped(WindowSamples).zipWithIndex.map { case (w, i) =>
          var s = 0.0
          var j = 0
          while (j < w.length) { val v = (w(j) & 0xff) - 128.0; s += v * v; j += 1 }
          AudioWindow(b.doc_id, i.toLong, w.length.toLong, s / w.length)
        }
      }
    }
  }

  /** Target shard size for [[queries q_blob_shard]] (bytes). */
  val ShardBytes = 65536L

  /** Packing-scope width for [[queries q_blob_shard]]: blobs pack within
    * (kind, doc_id DIV PackGroupDocs), never within a whole `kind` — `kind`
    * has a handful of values, so a kind-scoped window would sort an entire
    * modality's corpus in ONE task at 100 TB (a global sort in disguise).
    * The group key is pure integer arithmetic on doc_id, so the manifest
    * stays recomputable from (kind, doc_id, n_bytes) alone. Cost of the
    * scoping: each group's last shard may run under-full — a bounded
    * padding loss (< ShardBytes per group), not a correctness change.
    */
  val PackGroupDocs = 256L

  /** Size-balanced shard manifest over (doc_id, kind, n_bytes) rows:
    * greedy running-byte-sum packing in deterministic doc order within each
    * (kind, pack_group) scope. Shard ids are local to their scope; the
    * manifest carries both keys, so a streaming dataloader addresses a
    * shard as (kind, pack_group, shard_id).
    */
  def shardManifest(blobMeta: DataFrame,
                    groupDocs: Long = PackGroupDocs,
                    shardBytes: Long = ShardBytes): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("kind", "pack_group").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    blobMeta
      .select(col("doc_id"), col("kind"), col("n_bytes"))
      .withColumn("pack_group", expr(s"doc_id DIV $groupDocs"))
      .withColumn("cum_before", coalesce(sum("n_bytes").over(w), lit(0L)))
      .withColumn("shard_id", expr(s"cum_before DIV $shardBytes"))
      .groupBy("kind", "pack_group", "shard_id")
      .agg(count(lit(1)).as("n_blobs"), sum("n_bytes").as("shard_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("kind", "pack_group", "shard_id")
  }

  /** A perceptual-hash-style signature: bit b = [mean of block b > global
    * mean] over 8 equal byte blocks — the aHash construction a real image
    * dedup runs on decoded pixels, applied to the payload bytes here
    * (robust to small payload perturbations, unlike the exact digest).
    */
  case class PHash(doc_id: Long, sig: Long)

  def phashes(blobs: Dataset[Blob]): Dataset[PHash] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.map { b =>
        val n = b.payload.length
        var total = 0L
        var i = 0
        while (i < n) { total += (b.payload(i) & 0xff); i += 1 }
        val mean = total.toDouble / n
        var sig = 0L
        var blk = 0
        while (blk < 8) {
          val lo = (blk.toLong * n / 8).toInt
          val hi = ((blk + 1).toLong * n / 8).toInt
          var s = 0L
          var j = lo
          while (j < hi) { s += (b.payload(j) & 0xff); j += 1 }
          if (hi > lo && s.toDouble / (hi - lo) > mean) sig |= 1L << blk
          blk += 1
        }
        PHash(b.doc_id, sig)
      }
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Metadata extraction over the binary payload column: byte length +
    // content digest, computed on the binary type itself.
    "q_blob_meta" -> { (s, dir) =>
      blobs(s, dir).toDF()
        .select(col("doc_id"), col("kind"), col("n_bytes"),
          octet_length(col("payload")).cast("long").as("octets"),
          md5(col("payload")).as("digest"))
        .orderBy("doc_id")
    },
    // Frame sampling through the stubbed per-partition decoder, then
    // re-aggregated: frame count + byte-value checksum per doc.
    "q_blob_frames" -> { (s, dir) =>
      decodeFrames(blobs(s, dir)).toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"), sum("v").as("checksum"))
        .orderBy("doc_id")
    },
    // Audio-style frame windowing through the per-partition batch map:
    // per-window energy rows, the input shape of any spectral feature
    // stage.
    "q_blob_audio" -> { (s, dir) =>
      audioWindows(blobs(s, dir)).toDF()
        .select(col("doc_id"), col("w_idx"), col("n_samples"),
          round(col("energy"), 6).as("energy"))
        .orderBy("doc_id", "w_idx")
    },
    // Resize / feature-extract over the payload: 8 nearest-neighbor taps +
    // mean intensity, flattened to scalar columns for the oracle.
    "q_blob_resize" -> { (s, dir) =>
      val tapCols = (0 until ThumbW).map(k => col("taps")(k).as(s"t$k"))
      resizeThumbs(blobs(s, dir)).toDF()
        .select(col("doc_id") +: tapCols :+ round(col("mean_v"), 6).as("mean_v"): _*)
        .orderBy("doc_id")
    },
    // NS: size-balanced shard packing — the WebDataset/tar-shard layout
    // step of a multimodal corpus: blobs pack greedily into ~ShardBytes
    // shards by a running byte sum in deterministic doc order, so any
    // engine can recompute shard membership from (kind, doc_id, n_bytes)
    // alone. The window scope is (kind, doc_id DIV PackGroupDocs) — see
    // [[PackGroupDocs]]: no single window partition ever holds a whole
    // modality, so the pack is embarrassingly parallel at any corpus size
    // and the result feeds a partitionBy write. Output is the shard
    // manifest (the index file a streaming dataloader reads).
    "q_blob_shard" -> { (s, dir) => shardManifest(blobs(s, dir).toDF()) },
    // NS: perceptual-hash dedup buckets — aHash signatures through the
    // per-partition batch map, grouped: one shuffle of (sig, doc_id) pairs
    // (8 bytes/doc, never payloads), the media-dedup analog of the text
    // LSH buckets. Collision groups are candidates for a byte-level or
    // embedding-level residual check downstream.
    "q_blob_phash" -> { (s, dir) =>
      phashes(blobs(s, dir)).toDF()
        .groupBy("sig")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical"))
        .filter(col("n_docs") >= 2)
        .orderBy("sig")
    },
    // NS: media-dedup eval closing the phash loop (candidate -> verify):
    // how many perceptual-bucket candidate pairs are EXACT byte
    // duplicates? Both pair masses are computed by COUNTING FORMULA
    // (C(n,2) from bucket populations; Σ C(n_digest,2) within buckets) —
    // no pair row is ever materialized, the q_selfjoin_forecast insight
    // applied to media dedup, so the eval costs two small aggregates at
    // any corpus size. Precision ppm = exact / candidate in exact integer
    // division; the gap is the near-dup (or collision) mass a byte-level
    // or embedding residual check downstream would adjudicate.
    "q_blob_dedup" -> { (s, dir) =>
      val sigs = phashes(blobs(s, dir)).toDF()
      val digs = blobs(s, dir).toDF()
        .select(col("doc_id"), md5(col("payload")).as("dg"))
      val joined = sigs.join(digs, "doc_id")
      val bySig = joined.groupBy("sig").agg(count(lit(1)).as("n"))
      val byDg = joined.groupBy("sig", "dg").agg(count(lit(1)).as("nd"))
      val cand = bySig.agg(count(lit(1)).as("n_buckets"),
        sum(expr("n * (n - 1) DIV 2")).as("cand_pairs"))
      val exact = byDg.agg(sum(expr("nd * (nd - 1) DIV 2")).as("exact_pairs"))
      cand.crossJoin(exact)
        .select(col("n_buckets"), col("cand_pairs"), col("exact_pairs"),
          expr("exact_pairs * 1000000 DIV greatest(cand_pairs, 1)").as("precision_ppm"))
    },

    // NS: payload-integrity audit — the manifest-vs-bytes checksum pass a
    // media lakehouse runs before training (a corrupted shard silently
    // poisons a run; the fix is quarantine, not retry). The manifest
    // digest is md5 of the payload bytes with a DETERMINISTIC ~2% fault
    // injection (md5 of a tagged copy when Hash.prefix(doc_id) % 50 == 0 — the
    // q_forward_fill injected-fault precedent, so both engines plant
    // identical corruption); the audit recomputes the digest from bytes
    // and censuses mismatches per source. One narrow map over payloads +
    // one combinable aggregate — at 100 TB the cost is the read, and the
    // digest compare shuffles 16-byte strings, never payloads.
    "q_blob_integrity" -> { (s, dir) =>
      val d = graft.core.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          pmod(Hash.prefix(concat(lit("chk:"), col("doc_id"))), lit(50L))
            .as("h"))
        .withColumn("manifest_dg",
          when(col("h") === 0, md5(concat(lit("corrupt:"), col("text"))))
            .otherwise(md5(col("text"))))
        .withColumn("computed_dg", md5(col("text")))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_blobs"),
          sum((col("manifest_dg") =!= col("computed_dg")).cast("long")).as("n_corrupt"))
        .withColumn("corrupt_ppm", expr("n_corrupt * 1000000 DIV n_blobs"))
        .orderBy("source")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_blob_meta" ->
      """SELECT doc_id, 'text/plain' AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS octets,
        |       md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The fixture text is ASCII, so byte k == ord(substr(text, k+1, 1)).
    "q_blob_frames" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) + 1, 32), i -> ord(substr(text, CAST(i AS INT), 1))) AS vs
        |  FROM documents)
        |SELECT doc_id, CAST(len(vs) AS BIGINT) AS n_frames,
        |       CAST(list_sum(vs) AS BIGINT) AS checksum
        |FROM f ORDER BY doc_id""".stripMargin,
    // ASCII fixture: sample at 0-based offset o == ord(substr(text, o+1, 1));
    // windows are [w*64, min((w+1)*64, n)) 0-based -> 1-based substr offsets
    "q_blob_audio" ->
      s"""WITH w AS (
         |  SELECT doc_id, text, length(text) AS n,
         |         unnest(range(0, CAST(ceil(length(text) / ${WindowSamples}.0) AS BIGINT))) AS w_idx
         |  FROM documents),
         |e AS (
         |  SELECT doc_id, w_idx,
         |         least((w_idx + 1) * $WindowSamples, n) - w_idx * $WindowSamples AS n_samples,
         |         list_avg(list_transform(
         |           range(w_idx * $WindowSamples + 1, least((w_idx + 1) * $WindowSamples, n) + 1),
         |           i -> (ord(substr(text, CAST(i AS INT), 1)) - 128.0) *
         |                (ord(substr(text, CAST(i AS INT), 1)) - 128.0))) AS energy
         |  FROM w)
         |SELECT doc_id, CAST(w_idx AS BIGINT) AS w_idx,
         |       CAST(n_samples AS BIGINT) AS n_samples, round(energy, 6) AS energy
         |FROM e ORDER BY doc_id, w_idx""".stripMargin,
    // ASCII fixture: byte at 0-based offset o == ord(substr(text, o+1, 1)).
    "q_blob_resize" -> {
      val taps = (0 until ThumbW).map(k =>
        s"CAST(ord(substr(text, CAST((($k * length(text)) // $ThumbW) + 1 AS INT), 1)) AS BIGINT) AS t$k")
        .mkString(",\n|       ")
      s"""SELECT doc_id,
         |       $taps,
         |       round(list_avg(list_transform(range(1, length(text) + 1),
         |             i -> ord(substr(text, CAST(i AS INT), 1)))), 6) AS mean_v
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // same running-sum frame, same integer shard AND pack-group arithmetic
    "q_blob_shard" ->
      s"""WITH b AS (SELECT doc_id, 'text/plain' AS kind,
         |                  CAST(doc_id // $PackGroupDocs AS BIGINT) AS pack_group,
         |                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |           FROM documents),
         |c AS (SELECT doc_id, kind, pack_group, n_bytes,
         |             coalesce(sum(n_bytes) OVER (PARTITION BY kind, pack_group ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |      FROM b)
         |SELECT kind, pack_group, CAST(cum_before // $ShardBytes AS BIGINT) AS shard_id,
         |       CAST(count(*) AS BIGINT) AS n_blobs,
         |       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2, 3 ORDER BY kind, pack_group, shard_id""".stripMargin,
    // same block boundaries (integer //), same exact-integer block sums,
    // same double divisions — bit-identical signatures
    "q_blob_phash" ->
      """WITH b AS (SELECT doc_id, length(text) AS n,
        |                  list_transform(range(1, length(text) + 1),
        |                    i -> ord(substr(text, CAST(i AS INT), 1))) AS bytes
        |           FROM documents),
        |m AS (SELECT doc_id, n, bytes,
        |             CAST(list_sum(bytes) AS DOUBLE) / n AS mean FROM b),
        |sig AS (SELECT doc_id,
        |               list_sum(list_transform(range(0, 8), blk ->
        |                 CASE WHEN ((blk + 1) * n) // 8 > (blk * n) // 8 AND
        |                           CAST(list_sum(bytes[(blk * n) // 8 + 1 : ((blk + 1) * n) // 8]) AS DOUBLE)
        |                             / (((blk + 1) * n) // 8 - (blk * n) // 8) > mean
        |                      THEN CAST(1 AS BIGINT) << CAST(blk AS INT) ELSE CAST(0 AS BIGINT) END)) AS sig
        |        FROM m)
        |SELECT CAST(sig AS BIGINT) AS sig, count(*) AS n_docs, min(doc_id) AS canonical
        |FROM sig GROUP BY sig HAVING count(*) >= 2
        |ORDER BY sig""".stripMargin,
    // same aHash prelude; both pair masses by counting formula
    "q_blob_dedup" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS n,
        |                  list_transform(range(1, length(text) + 1),
        |                    i -> ord(substr(text, CAST(i AS INT), 1))) AS bytes
        |           FROM documents),
        |m AS (SELECT doc_id, text, n, bytes,
        |             CAST(list_sum(bytes) AS DOUBLE) / n AS mean FROM b),
        |sig AS (SELECT doc_id, md5(text) AS dg,
        |               list_sum(list_transform(range(0, 8), blk ->
        |                 CASE WHEN ((blk + 1) * n) // 8 > (blk * n) // 8 AND
        |                           CAST(list_sum(bytes[(blk * n) // 8 + 1 : ((blk + 1) * n) // 8]) AS DOUBLE)
        |                             / (((blk + 1) * n) // 8 - (blk * n) // 8) > mean
        |                      THEN CAST(1 AS BIGINT) << CAST(blk AS INT) ELSE CAST(0 AS BIGINT) END)) AS sig
        |        FROM m),
        |bysig AS (SELECT sig, count(*) AS n FROM sig GROUP BY 1),
        |bydg AS (SELECT sig, dg, count(*) AS nd FROM sig GROUP BY 1, 2),
        |c AS (SELECT count(*) AS n_buckets,
        |             CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs FROM bysig),
        |e AS (SELECT CAST(sum(nd * (nd - 1) // 2) AS BIGINT) AS exact_pairs FROM bydg)
        |SELECT n_buckets, cand_pairs, exact_pairs,
        |       CAST(exact_pairs * 1000000 // greatest(cand_pairs, 1) AS BIGINT) AS precision_ppm
        |FROM c CROSS JOIN e""".stripMargin,
    // identical md5-over-bytes digests and fault-injection rule
    "q_blob_integrity" ->
      s"""WITH d AS (
        |  SELECT doc_id, source, text,
        |         ${Hash.prefixSql("'chk:' || CAST(doc_id AS VARCHAR)")} % 50 AS h
        |  FROM documents),
        |m AS (SELECT source,
        |             CASE WHEN h = 0 THEN md5('corrupt:' || text) ELSE md5(text) END AS manifest_dg,
        |             md5(text) AS computed_dg
        |      FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_blobs,
        |       CAST(sum(CASE WHEN manifest_dg <> computed_dg THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |       CAST(sum(CASE WHEN manifest_dg <> computed_dg THEN 1 ELSE 0 END) AS BIGINT)
        |         * 1000000 // count(*) AS corrupt_ppm
        |FROM m GROUP BY source ORDER BY source""".stripMargin
  )
}
