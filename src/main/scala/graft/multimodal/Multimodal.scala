package graft.multimodal

import graft.{Q, Tables}
import graft.text.Tokens.{duckWordList, words}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Multimodal column plumbing: media as opaque binary columns with typed
  * metadata, decoded/feature-extracted in partition-local batches.
  *
  * The decode step is a STUB — this container has no image/audio codecs —
  * implemented as a deterministic fake (byte statistics + frame count
  * derived from payload length). Everything around it is the real Spark
  * shape a 100 TB media pipeline needs: a `binary` payload column + typed
  * metadata schema, and per-partition batched iteration (the Scala
  * equivalent of `mapInPandas` batches) so a real decoder would amortize
  * model/codec init once per partition, not per row.
  */
object Multimodal {

  /** Input shape: one media object per row. */
  final case class MediaRow(
      doc_id: Long, media_type: String, payload: Array[Byte],
      width: Int, height: Int)

  /** Output shape of the (stubbed) decoder. */
  final case class MediaFeatures(
      doc_id: Long, media_type: String, byte_len: Int, byte_sum: Long,
      n_frames: Int, width: Int, height: Int)

  /** STUB decoder — deterministic fake standing in for a codec call.
    * Real implementation would decode `payload` here, once-per-partition
    * init above the row loop. */
  private def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map { r =>
      var sum = 0L
      var i = 0
      while (i < r.payload.length) { sum += r.payload(i) & 0xff; i += 1 }
      MediaFeatures(r.doc_id, r.media_type, r.payload.length, sum,
        n_frames = r.payload.length / 256 + 1, r.width, r.height)
    }

  /** Fabricates media rows from `documents` (payload = UTF-8 bytes), runs
    * the partition-batched decode, returns features. The stub decode's
    * byte statistics are independently recomputable from the source text,
    * so the whole binary-column + mapPartitions path is ORACLE-GATED: the
    * DuckDB twin re-derives every output column (char-code sums stand in
    * for byte sums — the corpus is ASCII), and a drift anywhere in the
    * Dataset encode → partition-batch → decode loop breaks the hash. */
  /** The binary-ingest pipeline up through the partition-batched decode —
    * shared by the ingest and frame-sampling operators. */
  private def features(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        col("text").cast("binary").as("payload"),
        (lit(64) + col("n_chars") % 512).cast("int").as("width"),
        (lit(64) + col("doc_id") % 512).cast("int").as("height"))
      .as[MediaRow]
      .mapPartitions(decodeBatch _)
      .toDF()
  }

  val multimodalIngest: Q = Q.sql(
    "multimodal_ingest",
    """SELECT doc_id,
      |  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  length(text) AS byte_len,
      |  CAST(list_sum(list_transform(range(1, length(text) + 1),
      |    i -> ascii(text[i]))) AS BIGINT) AS byte_sum,
      |  CAST(length(text) // 256 + 1 AS INT) AS n_frames,
      |  CAST(64 + n_chars % 512 AS INT) AS width,
      |  CAST(64 + doc_id % 512 AS INT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    features(s, d).orderBy("doc_id")
  }

  /** Frame sampling over the decoded media: at most 8 evenly-strided
    * frames per object, each with its byte offset — the "pick k frames of
    * the video for the vision encoder" step. Sampling is declarative
    * (explode of a stride sequence) on top of the batched decode, so the
    * row explosion happens executor-side after pruning, never on the
    * driver. Oracle re-derives the sampled indices arithmetically. */
  val multimodalFrames: Q = Q.sql(
    "multimodal_frames",
    """WITH f AS (SELECT doc_id, CAST(length(text) // 256 + 1 AS INT) AS n_frames
      |           FROM documents),
      |s AS (SELECT doc_id, n_frames,
      |        CAST(greatest(1, n_frames // 8) AS INT) AS stride FROM f),
      |x AS (SELECT doc_id, n_frames,
      |        CAST(unnest(range(0, n_frames, stride)) AS INT) AS frame_idx
      |      FROM s)
      |SELECT doc_id, n_frames, frame_idx,
      |  CAST(frame_idx AS BIGINT) * 256 AS byte_offset
      |FROM x ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    features(s, d)
      .select(col("doc_id"), col("n_frames"),
        expr("explode(sequence(0, n_frames - 1, greatest(1, n_frames div 8)))")
          .as("frame_idx"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        (col("frame_idx").cast("long") * 256).as("byte_offset"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Resize planning for the vision-encoder input: scale each media
    * object to fit a 224×224 budget preserving aspect ratio (the actual
    * pixel resample lives in the stubbed decode stage; the geometry — the
    * part that decides bytes moved and batch shapes — is exact integer
    * arithmetic, so it is oracle-checked). Scale factor is computed in
    * fixed-point (×10⁶ integer division) to keep both engines identical. */
  val multimodalResize: Q = Q.sql(
    "multimodal_resize",
    """WITH m AS (SELECT doc_id,
      |    CAST(64 + n_chars % 512 AS INT) AS width,
      |    CAST(64 + doc_id % 512 AS INT) AS height
      |  FROM documents),
      |s AS (SELECT doc_id, width, height,
      |        least(1000000, least(224000000 // width, 224000000 // height)) AS scale_ppm
      |      FROM m)
      |SELECT doc_id, width, height,
      |  CAST(width * scale_ppm // 1000000 AS INT) AS out_w,
      |  CAST(height * scale_ppm // 1000000 AS INT) AS out_h,
      |  CAST(scale_ppm AS BIGINT) AS scale_ppm,
      |  CAST(CASE WHEN scale_ppm < 1000000 THEN 1 ELSE 0 END AS INT) AS downscaled
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(64) + col("n_chars") % 512).cast("int").as("width"),
        (lit(64) + col("doc_id") % 512).cast("int").as("height"))
      .withColumn("scale_ppm",
        least(lit(1000000L),
          least(expr("224000000L div width"), expr("224000000L div height"))))
      .select(col("doc_id"), col("width"), col("height"),
        expr("CAST(width * scale_ppm div 1000000 AS INT)").as("out_w"),
        expr("CAST(height * scale_ppm div 1000000 AS INT)").as("out_h"),
        col("scale_ppm").cast("long").as("scale_ppm"),
        when(col("scale_ppm") < 1000000, 1).otherwise(0).cast("int").as("downscaled"))
      .orderBy("doc_id")
  }

  /** Content-digest dedup of the binary payload — the "same image under
    * ten URLs" step, run BEFORE decode so duplicate media never reach the
    * (expensive) codec stage. Hashing is over the raw bytes of the binary
    * column, grouped per media type; a pure hash-groupBy, so it scales
    * like dedup_exact. The oracle hashes the identical bytes (the corpus
    * is ASCII, so md5(text) = md5(payload)) — any drift in the
    * binary-ingest encode breaks the hash. */
  val multimodalDedup: Q = Q.sql(
    "multimodal_dedup",
    """SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  md5(text) AS content_hash,
      |  count(*) AS n_objects, min(doc_id) AS min_doc_id,
      |  CAST(sum(length(text)) AS BIGINT) AS total_bytes
      |FROM documents
      |GROUP BY 1, 2 ORDER BY media_type, content_hash""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        col("doc_id"),
        col("text").cast("binary").as("payload"))
      .groupBy(col("media_type"), md5(col("payload")).as("content_hash"))
      .agg(count(lit(1)).as("n_objects"), min("doc_id").as("min_doc_id"),
        sum(length(col("payload"))).as("total_bytes"))
      .orderBy("media_type", "content_hash")
  }

  /** Pre-codec quality gate over the decoded feature stream — the reject
    * pass a media pipeline runs between ingest and the (expensive)
    * encoder: undersized blobs (truncated upload), oversized blobs
    * (budget), extreme aspect ratios (banner/scrollbar junk for a vision
    * encoder), over-long clips. Flags ride the SAME mapPartitions decode
    * path as ingest (the gate exercises the real plumbing); the report is
    * a |media_type|-bounded partial-agg rollup with per-rule counts and
    * the pass rate. Thresholds are fixed constants shared with the
    * oracle, which re-derives every feature from the source bytes. */
  val multimodalQualityGate: Q = Q.sql(
    "multimodal_quality_gate",
    """WITH f AS (SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    length(text) AS byte_len,
      |    CAST(length(text) // 256 + 1 AS INT) AS n_frames,
      |    CAST(64 + n_chars % 512 AS INT) AS width,
      |    CAST(64 + doc_id % 512 AS INT) AS height
      |  FROM documents),
      |g AS (SELECT media_type,
      |        CASE WHEN byte_len < 16 THEN 1 ELSE 0 END AS f_undersize,
      |        CASE WHEN byte_len > 4096 THEN 1 ELSE 0 END AS f_oversize,
      |        CASE WHEN width > 4 * height OR height > 4 * width THEN 1 ELSE 0 END AS f_aspect,
      |        CASE WHEN n_frames > 16 THEN 1 ELSE 0 END AS f_frames
      |      FROM f)
      |SELECT media_type, count(*) AS n_objects,
      |  CAST(sum(f_undersize) AS BIGINT) AS n_undersize,
      |  CAST(sum(f_oversize) AS BIGINT) AS n_oversize,
      |  CAST(sum(f_aspect) AS BIGINT) AS n_aspect,
      |  CAST(sum(f_frames) AS BIGINT) AS n_frames_over,
      |  CAST(sum(CASE WHEN f_undersize + f_oversize + f_aspect + f_frames = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  round(1.0 * sum(CASE WHEN f_undersize + f_oversize + f_aspect + f_frames = 0
      |    THEN 1 ELSE 0 END) / count(*), 4) AS pass_rate
      |FROM g GROUP BY media_type ORDER BY media_type""".stripMargin) { (s, d) =>
    val g = features(s, d)
      .select(col("media_type"),
        when(col("byte_len") < 16, 1).otherwise(0).as("f_undersize"),
        when(col("byte_len") > 4096, 1).otherwise(0).as("f_oversize"),
        when(col("width") > lit(4) * col("height") ||
          col("height") > lit(4) * col("width"), 1).otherwise(0).as("f_aspect"),
        when(col("n_frames") > 16, 1).otherwise(0).as("f_frames"))
    val failSum = col("f_undersize") + col("f_oversize") + col("f_aspect") +
      col("f_frames")
    g.withColumn("passed", when(failSum === 0, 1).otherwise(0))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_objects"),
        sum("f_undersize").cast("long").as("n_undersize"),
        sum("f_oversize").cast("long").as("n_oversize"),
        sum("f_aspect").cast("long").as("n_aspect"),
        sum("f_frames").cast("long").as("n_frames_over"),
        sum("passed").cast("long").as("n_pass"),
        round(lit(1.0) * sum("passed") / count(lit(1)), 4).as("pass_rate"))
      .orderBy("media_type")
  }

  /** Audio framing plan — the fbank/MFCC window geometry computed from
    * the payload: treating the (stub-decoded) payload as 16 kHz mono
    * 1-byte samples, emit per clip the 25 ms window / 10 ms hop count
    * (400/160 samples), the clip duration and the unwindowed tail — what
    * a feature extractor needs to size its output tensor BEFORE decoding
    * (allocation planning at 100 TB happens on metadata, not samples).
    * Rides the mapPartitions decode path; per-row integer arithmetic,
    * zero shuffle; oracle re-derives from the source bytes. */
  val multimodalAudioWindows: Q = Q.sql(
    "multimodal_audio_windows",
    """WITH a AS (SELECT doc_id, length(text) AS n_samples
      |  FROM documents WHERE CAST(doc_id % 3 + 1 AS INT) = 2)
      |SELECT doc_id, n_samples,
      |  CAST(n_samples * 1000 // 16000 AS INT) AS duration_ms,
      |  CAST(CASE WHEN n_samples >= 400
      |    THEN (n_samples - 400) // 160 + 1 ELSE 0 END AS INT) AS n_windows,
      |  CAST(CASE WHEN n_samples >= 400
      |    THEN n_samples - (400 + ((n_samples - 400) // 160) * 160)
      |    ELSE n_samples END AS INT) AS tail_samples
      |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
    features(s, d)
      .filter(col("media_type") === "audio")
      .select(col("doc_id"), col("byte_len").as("n_samples"))
      .select(col("doc_id"), col("n_samples"),
        expr("CAST(n_samples * 1000 div 16000 AS INT)").as("duration_ms"),
        expr("""CAST(CASE WHEN n_samples >= 400
                THEN (n_samples - 400) div 160 + 1 ELSE 0 END AS INT)""")
          .as("n_windows"),
        expr("""CAST(CASE WHEN n_samples >= 400
                THEN n_samples - (400 + ((n_samples - 400) div 160) * 160)
                ELSE n_samples END AS INT)""").as("tail_samples"))
      .orderBy("doc_id")
  }

  /** WebDataset-style shard manifest: assign every media object to an
    * output shard of ~4 KiB target payload per (modality, source) lane,
    * in deterministic doc_id order, and report the manifest (items,
    * bytes, id range, fill) per shard. This is the metadata plane of
    * "write the corpus as tar shards for sequential training reads" —
    * the op that decides file boundaries before any byte moves. A shard
    * is the shard of its first byte's offset (start_off // target), the
    * close-when-over-target rule real shard writers use, so items never
    * split across shards and a shard overshoots by at most one item.
    *
    * Scale shape: the running-offset tape window partitions by
    * (media_type, source) — modality alone would be a 3-partition window
    * over the corpus (the quantile scale-killer shape); source keeps lane
    * cardinality growing with the corpus. The shard rollup groups on a
    * SUPERSET of the window key, so the window's exchange satisfies it:
    * the whole manifest costs one shuffle (the pack_efficiency pin).
    * Output is |shards| ≈ corpus_bytes / 4 KiB rows, itself parallel. */
  val multimodalShards: Q = Q.sql(
    "multimodal_shards",
    """WITH t AS (SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    source, CAST(n_chars AS BIGINT) AS byte_len
      |  FROM documents),
      |c AS (SELECT *, CAST(sum(byte_len) OVER (
      |      PARTITION BY media_type, source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - byte_len
      |    AS BIGINT) AS start_off
      |  FROM t)
      |SELECT media_type, source, start_off // 4096 AS shard_idx,
      |  count(*) AS n_items, CAST(sum(byte_len) AS BIGINT) AS shard_bytes,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  round(100.0 * sum(byte_len) / 4096, 2) AS fill_pct
      |FROM c GROUP BY 1, 2, 3
      |ORDER BY media_type, source, shard_idx""".stripMargin) { (s, d) =>
    val lane = Window.partitionBy("media_type", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        col("source"), col("n_chars").cast("long").as("byte_len"))
      .withColumn("start_off",
        (sum("byte_len").over(lane) - col("byte_len")).cast("long"))
      .groupBy(col("media_type"), col("source"),
        expr("start_off div 4096").as("shard_idx"))
      .agg(count(lit(1)).as("n_items"), sum("byte_len").as("shard_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        round(lit(100.0) * sum("byte_len") / 4096, 2).as("fill_pct"))
      .orderBy("media_type", "source", "shard_idx")
  }

  /** Context-budget cost table for interleaved multimodal training: per
    * (media_type, lang), how many encoder tokens the media side costs
    * (sampled frames × a 64-token patch grid — the multimodal_frames
    * stride rule, so the budget prices exactly what the sampler emits)
    * next to the caption's text tokens, the media:text ratio, and each
    * cell's share of the whole corpus budget. This is the table that
    * decides sequence-packing geometry for a vision-language run: a
    * ratio ≫ 1 means media dominates the window and caption text is
    * nearly free; the share column is the sampling-weight input.
    *
    * Scale: one per-row projection (frame count and sampled-frame count
    * are integer arithmetic on metadata — no decode), ONE partial-agg
    * groupBy bounded at |media_type|×|langs| cells, 1-row total
    * broadcast. Exact integer sums; ratios rounded once. */
  val multimodalTokenBudget: Q = Q.sql(
    "multimodal_token_budget",
    s"""WITH f AS (SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    CAST(length(text) // 256 + 1 AS INT) AS n_frames,
      |    len(${duckWordList()}) AS n_words
      |  FROM documents),
      |s AS (SELECT doc_id, media_type, n_words,
      |        CAST(1 + (n_frames - 1) // greatest(1, n_frames // 8) AS INT)
      |          AS n_sampled
      |      FROM f),
      |j AS (SELECT d.lang, s.media_type,
      |        CAST(s.n_sampled AS BIGINT) * 64 AS media_tokens,
      |        CAST(s.n_words AS BIGINT) AS caption_tokens
      |      FROM s JOIN documents d ON d.doc_id = s.doc_id),
      |g AS (SELECT media_type, lang, count(*) AS n_docs,
      |        CAST(sum(media_tokens) AS BIGINT) AS media_tokens,
      |        CAST(sum(caption_tokens) AS BIGINT) AS caption_tokens
      |      FROM j GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(media_tokens + caption_tokens) AS BIGINT) AS total
      |      FROM g)
      |SELECT media_type, lang, n_docs, media_tokens, caption_tokens,
      |  media_tokens + caption_tokens AS cell_tokens,
      |  round(1.0 * media_tokens / caption_tokens, 4) AS media_text_ratio,
      |  round(1.0 * (media_tokens + caption_tokens) / total, 4) AS budget_share
      |FROM g CROSS JOIN t
      |ORDER BY media_type, lang""".stripMargin) { (s, d) =>
    val f = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        expr("cast(length(text) div 256 + 1 as int)").as("n_frames"),
        size(words).as("n_words"))
    // sampled-frame count under the multimodal_frames stride rule:
    // |range(0, n-1, stride)| = 1 + (n-1) div stride
    val g = f
      .select(col("lang"), col("media_type"),
        (expr("cast(1 + (n_frames - 1) div greatest(1, n_frames div 8) as int)")
          .cast("long") * 64).as("media_tokens"),
        col("n_words").cast("long").as("caption_tokens"))
      .groupBy("media_type", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("media_tokens").cast("long").as("media_tokens"),
        sum("caption_tokens").cast("long").as("caption_tokens"))
    val t = g.agg(sum(col("media_tokens") + col("caption_tokens"))
      .cast("long").as("total"))
    g.crossJoin(broadcast(t))
      .select(col("media_type"), col("lang"), col("n_docs"),
        col("media_tokens"), col("caption_tokens"),
        (col("media_tokens") + col("caption_tokens")).as("cell_tokens"),
        round(lit(1.0) * col("media_tokens") / col("caption_tokens"), 4)
          .as("media_text_ratio"),
        round(lit(1.0) * (col("media_tokens") + col("caption_tokens"))
          / col("total"), 4).as("budget_share"))
      .orderBy("media_type", "lang")
  }

  /** Interleaved vision-language sequence manifest (the MMC4/OBELICS
    * shape): each document contributes its sampled-frame media tokens
    * (multimodal_token_budget's accounting) followed by its caption
    * tokens, and documents pack contiguously into 2048-token training
    * sequences. The manifest gives every doc its sequence span and the
    * offset where text begins (`caption_off`) — what a VL dataloader
    * needs to place image-patch embeddings and attention boundaries.
    *
    * Scale: packing is SHARD-LOCAL — documents pack within fixed
    * 256-doc shards (doc_id div 256, the corpus_split determinism), so
    * the cumulative window partitions on (media_type, shard) with a
    * BOUNDED partition size at any corpus scale. A global ORDER BY
    * doc_id stream would funnel 100 TB through one window partition —
    * the audit_value_quantiles lesson; per-shard packing is also what a
    * distributed packer actually does (pack_sequences' per-source
    * stream, made scale-proof). Cost: ≤ one under-filled tail sequence
    * per (media_type, shard). */
  val multimodalInterleave: Q = Q.sql(
    "multimodal_interleave",
    s"""WITH f AS (SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    CAST(doc_id // 256 AS BIGINT) AS shard,
      |    CAST(length(text) // 256 + 1 AS INT) AS n_frames,
      |    len(${duckWordList()}) AS n_words
      |  FROM documents),
      |t AS (SELECT doc_id, media_type, shard,
      |        CAST(1 + (n_frames - 1) // greatest(1, n_frames // 8) AS BIGINT) * 64
      |          AS media_tokens,
      |        CAST(n_words AS BIGINT) AS caption_tokens
      |      FROM f),
      |c AS (SELECT *, media_tokens + caption_tokens AS n_tok,
      |        CAST(sum(media_tokens + caption_tokens) OVER (
      |          PARTITION BY media_type, shard ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          - (media_tokens + caption_tokens) AS BIGINT) AS start_off
      |      FROM t)
      |SELECT doc_id, media_type, shard, media_tokens, caption_tokens,
      |  start_off, start_off + media_tokens AS caption_off,
      |  start_off // 2048 AS seq_first,
      |  (start_off + n_tok - 1) // 2048 AS seq_last,
      |  CAST(start_off // 2048 <> (start_off + n_tok - 1) // 2048 AS INT)
      |    AS straddles
      |FROM c ORDER BY media_type, shard, doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        expr("cast(doc_id div 256 as bigint)").as("shard"),
        (expr("cast(1 + (cast(length(text) div 256 + 1 as int) - 1) div " +
          "greatest(1, cast(length(text) div 256 + 1 as int) div 8) as bigint)")
          * 64).as("media_tokens"),
        size(words).cast("bigint").as("caption_tokens"))
    val w = Window.partitionBy("media_type", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("n_tok", col("media_tokens") + col("caption_tokens"))
      .withColumn("start_off",
        (sum("n_tok").over(w) - col("n_tok")).cast("long"))
      .select(col("doc_id"), col("media_type"), col("shard"),
        col("media_tokens"), col("caption_tokens"), col("start_off"),
        (col("start_off") + col("media_tokens")).as("caption_off"),
        expr("start_off div 2048").as("seq_first"),
        expr("(start_off + n_tok - 1) div 2048").as("seq_last"),
        expr("cast(start_off div 2048 <> (start_off + n_tok - 1) div 2048 as int)")
          .as("straddles"))
      .orderBy("media_type", "shard", "doc_id")
  }

  /** A/V sync audit: align every sampled video frame (24 fps timeline,
    * exact integer ms) to the LATEST audio analysis window at or before
    * it (16 kHz / 25 ms / 10 ms hop — the multimodal_audio_windows model)
    * and report per-container drift. The alignment is the engine's native
    * AS-OF JOIN (AsOfJoinExec, keyed by container), the same operator the
    * audit plane uses — per-key sorted merge, no window×frame pair
    * explosion at any scale. Short containers with no complete audio
    * window exercise the left-outer (unsynced) path. */
  val multimodalAvSync: Q = Q.sql(
    "multimodal_av_sync",
    """WITH v AS (SELECT doc_id, length(text) AS blen FROM documents
      |           WHERE CAST(doc_id % 3 + 1 AS INT) = 3),
      |fs AS (SELECT doc_id, CAST(blen // 256 + 1 AS INT) AS n_frames,
      |         CAST(greatest(1, (blen // 256 + 1) // 8) AS INT) AS stride
      |       FROM v),
      |fr AS (SELECT doc_id,
      |         CAST(unnest(range(0, n_frames, stride)) AS BIGINT) * 1000 // 24
      |           AS frame_ts
      |       FROM fs),
      |w0 AS (SELECT doc_id,
      |         CASE WHEN blen >= 400 THEN (blen - 400) // 160 + 1 ELSE 0 END
      |           AS n_windows
      |       FROM v),
      |wn AS (SELECT doc_id AS w_doc,
      |         CAST(unnest(range(0, n_windows)) AS BIGINT) * 10 AS win_ts
      |       FROM w0 WHERE n_windows > 0),
      |j AS (SELECT f.doc_id, f.frame_ts, w.win_ts
      |      FROM fr f ASOF LEFT JOIN wn w
      |        ON f.doc_id = w.w_doc AND f.frame_ts >= w.win_ts)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames_sampled,
      |  CAST(count(win_ts) AS BIGINT) AS n_synced,
      |  max(frame_ts - win_ts) AS max_drift_ms,
      |  round(CAST(sum(frame_ts - win_ts) AS DOUBLE) / count(win_ts), 4)
      |    AS mean_drift_ms
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val video = features(s, d).filter(col("media_type") === "video")
      .select(col("doc_id"), col("byte_len"), col("n_frames"))
    val frames = video
      .select(col("doc_id"),
        expr("explode(sequence(0, n_frames - 1, greatest(1, n_frames div 8)))")
          .as("frame_idx"))
      .select(col("doc_id"),
        expr("(cast(frame_idx as bigint) * 1000) div 24").as("frame_ts"))
    val windows = video
      .select(col("doc_id").as("w_doc"),
        expr("""CASE WHEN byte_len >= 400
                THEN (byte_len - 400) div 160 + 1 ELSE 0 END""").as("n_windows"))
      .filter(col("n_windows") > 0)
      .select(col("w_doc"),
        expr("explode(sequence(0, n_windows - 1))").as("win_idx"))
      .select(col("w_doc"), (col("win_idx").cast("long") * 10).as("win_ts"))
    graft.plans.AsOf.join(frames, windows,
        key = ("doc_id", "w_doc"), time = ("frame_ts", "win_ts"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames_sampled"),
        count(col("win_ts")).as("n_synced"),
        max(col("frame_ts") - col("win_ts")).as("max_drift_ms"),
        round(sum(col("frame_ts") - col("win_ts")).cast("double") /
          count(col("win_ts")), 4).as("mean_drift_ms"))
      .orderBy("doc_id")
  }

  /** Storage-level chunk dedup (CDC-style, fixed 256-byte chunking): the
    * pre-decode dedup a 100 TB media lake runs on raw payload bytes —
    * chunk, content-hash, and bill per media type how many bytes a
    * content-addressed store would actually keep. The explosion happens
    * executor-side after pruning; both aggregates are hash-partitioned
    * partial aggs (chunk-hash cardinality ~ corpus bytes / 256, uniformly
    * spread by the hash — never skewed). */
  val multimodalChunkDedup: Q = Q.sql(
    "multimodal_chunk_dedup",
    """WITH c AS (SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    CAST(unnest(range(0, greatest(CAST(ceil(length(text) / 256.0) AS INT), 1)))
      |      AS INT) AS ci,
      |    text
      |  FROM documents),
      |ch AS (SELECT media_type, md5(substr(text, ci * 256 + 1, 256)) AS h,
      |         length(substr(text, ci * 256 + 1, 256)) AS clen
      |       FROM c),
      |g AS (SELECT media_type, h, CAST(count(*) AS BIGINT) AS cnt,
      |        max(clen) AS clen
      |      FROM ch GROUP BY 1, 2)
      |SELECT media_type, CAST(sum(cnt) AS BIGINT) AS total_chunks,
      |  CAST(count(*) AS BIGINT) AS uniq_chunks,
      |  CAST(sum(cnt * clen) AS BIGINT) AS total_bytes,
      |  CAST(sum(clen) AS BIGINT) AS uniq_bytes,
      |  round(CAST(sum(clen) AS DOUBLE) / sum(cnt * clen), 4) AS dedup_ratio
      |FROM g GROUP BY 1 ORDER BY media_type""".stripMargin) { (s, d) =>
    val chunks = Tables.documents(s, d)
      .select(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        col("text"),
        // greatest(...,1) guards the empty-doc edge: Spark evaluates
        // sequence(0,-1) as the DESCENDING list [0,-1] (two spurious
        // chunks) where DuckDB's range(0,0) is empty — clamp so an
        // empty text yields exactly one empty chunk in both engines
        expr("explode(sequence(0, greatest(cast(ceil(length(text) / 256.0) as int), 1) - 1))")
          .as("ci"))
      .select(col("media_type"),
        md5(expr("cast(substring(text, ci * 256 + 1, 256) as binary)")).as("h"),
        expr("length(substring(text, ci * 256 + 1, 256))").as("clen"))
    chunks.groupBy("media_type", "h")
      .agg(count(lit(1)).as("cnt"), max(col("clen")).as("clen"))
      .groupBy("media_type")
      .agg(sum(col("cnt")).cast("long").as("total_chunks"),
        count(lit(1)).as("uniq_chunks"),
        sum(col("cnt") * col("clen")).cast("long").as("total_bytes"),
        sum(col("clen")).cast("long").as("uniq_bytes"),
        round(sum(col("clen")).cast("double") / sum(col("cnt") * col("clen")), 4)
          .as("dedup_ratio"))
      .orderBy("media_type")
  }

  /** ViT patch budgeting on top of the resize geometry: after the fit-to-
    * 224 scale, how many 14×14 patches does each image cost the vision
    * encoder, and what patch budget does each media type bill per epoch?
    * Integer geometry end-to-end (the resize op's exact scale_ppm), one
    * partial-agg rollup; p50/p90 are cumulative-rank picks on the bounded
    * patch-count histogram (≤ 16×16 grid values — token_length_quantiles
    * discipline, no per-row rank window). */
  val multimodalPatchGrid: Q = Q.sql(
    "multimodal_patch_grid",
    """WITH m AS (SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    CAST(64 + n_chars % 512 AS INT) AS width,
      |    CAST(64 + doc_id % 512 AS INT) AS height
      |  FROM documents
      |  WHERE CAST(doc_id % 3 + 1 AS INT) <> 2),
      |s AS (SELECT doc_id, media_type, width, height,
      |        least(1000000, least(224000000 // width, 224000000 // height))
      |          AS scale_ppm
      |      FROM m),
      |g AS (SELECT media_type,
      |        ((width * scale_ppm // 1000000) + 13) // 14 AS pw,
      |        ((height * scale_ppm // 1000000) + 13) // 14 AS ph
      |      FROM s),
      |pc AS (SELECT media_type, pw * ph AS n_patches FROM g),
      |h AS (SELECT media_type, n_patches, CAST(count(*) AS BIGINT) AS c
      |      FROM pc GROUP BY 1, 2),
      |t AS (SELECT media_type, CAST(sum(c) AS BIGINT) AS n_imgs,
      |        CAST(sum(n_patches * c) AS BIGINT) AS total_patches
      |      FROM h GROUP BY 1),
      |r AS (SELECT media_type, n_patches, c,
      |        sum(c) OVER (PARTITION BY media_type ORDER BY n_patches
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM h)
      |SELECT t.media_type, t.n_imgs, t.total_patches,
      |  min(CASE WHEN r.cum * 2 >= t.n_imgs THEN r.n_patches END) AS p50_patches,
      |  min(CASE WHEN r.cum * 10 >= t.n_imgs * 9 THEN r.n_patches END) AS p90_patches
      |FROM t JOIN r ON r.media_type = t.media_type
      |GROUP BY 1, 2, 3 ORDER BY t.media_type""".stripMargin) { (s, d) =>
    val m = Tables.documents(s, d)
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        (lit(64) + col("n_chars") % 512).cast("int").as("width"),
        (lit(64) + col("doc_id") % 512).cast("int").as("height"))
      .filter(col("media_type") =!= "audio")
      .withColumn("scale_ppm",
        least(lit(1000000L),
          least(expr("224000000L div width"), expr("224000000L div height"))))
      .withColumn("pw", expr("((width * scale_ppm div 1000000) + 13) div 14"))
      .withColumn("ph", expr("((height * scale_ppm div 1000000) + 13) div 14"))
      .select(col("media_type"), (col("pw") * col("ph")).as("n_patches"))
    val h = m.groupBy("media_type", "n_patches").agg(count(lit(1)).as("c"))
    val t = h.groupBy("media_type")
      .agg(sum("c").cast("long").as("n_imgs"),
        sum(col("n_patches") * col("c")).cast("long").as("total_patches"))
    val w = Window.partitionBy("media_type").orderBy("n_patches")
      .rowsBetween(Window.unboundedPreceding, 0)
    val r = h.withColumn("cum", sum("c").over(w))
    t.join(r.select(col("media_type").as("rm"), col("n_patches"), col("cum")),
        col("rm") === col("media_type"))
      .groupBy(col("media_type"), col("n_imgs"), col("total_patches"))
      .agg(
        min(when(col("cum") * 2 >= col("n_imgs"), col("n_patches")))
          .as("p50_patches"),
        min(when(col("cum") * 10 >= col("n_imgs") * 9, col("n_patches")))
          .as("p90_patches"))
      .orderBy("media_type")
  }

  val all: Seq[Q] = Seq(multimodalIngest, multimodalFrames, multimodalResize,
    multimodalDedup, multimodalQualityGate, multimodalAudioWindows,
    multimodalShards, multimodalTokenBudget, multimodalInterleave,
    multimodalAvSync, multimodalChunkDedup, multimodalPatchGrid)
}
