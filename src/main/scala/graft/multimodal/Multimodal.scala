package graft.multimodal

import graft.{Memo, QueryDef, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal-column plumbing: opaque binary payloads with typed
  * metadata, batched decode / feature-extraction / frame-sampling.
  * Declared north-star extension (BASELINE.json).
  *
  * The container has no image/audio codecs, so DECODE IS A DETERMINISTIC
  * STUB (md5-derived pseudo-metadata) — clearly marked below. Everything
  * around it is the real Spark shape a production pipeline needs:
  *  - payloads as BinaryType columns (parquet BYTE_ARRAY; at 100 TB these
  *    scans project only the needed columns and the payload column is
  *    late-materialized),
  *  - per-partition batched processing via Dataset.mapPartitions (the
  *    Scala analogue of mapInPandas: one iterator per partition, decoder
  *    state initialized once per partition, not per row),
  *  - typed output schema via case-class Encoders,
  *  - frame sampling as a generated array column (explode-ready).
  */
object Multimodal {

  final case class Payload(doc_id: Long, payload: Array[Byte])
  final case class Decoded(
      doc_id: Long, n_bytes: Int, format: String,
      width: Int, height: Int, mean_intensity: Double)

  /** STUB decoder — stands in for an image codec. Deterministic:
    * metadata is arithmetic over the md5 digest of the payload. A real
    * deployment swaps `decodeOne` for the codec call; the partition
    * iterator shape stays identical. */
  private def decodeOne(md: java.security.MessageDigest, p: Payload): Decoded = {
    val h = md.digest(p.payload)
    def ub(i: Int): Int = h(i) & 0xff
    Decoded(
      doc_id = p.doc_id,
      n_bytes = p.payload.length,
      format = if (ub(0) % 2 == 0) "png" else "jpeg",
      width = 16 * (1 + ub(1) % 64),
      height = 16 * (1 + ub(2) % 64),
      mean_intensity = ub(3) * 1.0 / 255)
  }

  /** Batched decode: one decoder instance per partition. */
  def decode(payloads: Dataset[Payload]): Dataset[Decoded] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5") // per-partition init
      it.map(p => decodeOne(md, p))
    }
  }

  /** mm01 — binary payload metadata, oracle-checked: the stub decode's
    * md5 arithmetic is reproduced in SQL on both engines. */
  val mm01 = QueryDef.sql("mm01_binary_features",
    """SELECT doc_id,
      |  CAST(strlen(text) AS INTEGER) AS n_bytes,
      |  CASE WHEN CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) % 2 = 0
      |       THEN 'png' ELSE 'jpeg' END AS format,
      |  CAST(16 * (1 + CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) % 64) AS INTEGER) AS width,
      |  CAST(16 * (1 + CAST(('0x' || substr(md5(text), 5, 2)) AS INTEGER) % 64) AS INTEGER) AS height,
      |  CAST(('0x' || substr(md5(text), 7, 2)) AS INTEGER) * 1e0 / 255 AS mean_intensity
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val payloads = T.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[Payload]
    decode(payloads)
      .toDF()
      .select("doc_id", "n_bytes", "format", "width", "height", "mean_intensity")
      .orderBy("doc_id")
  }

  /** mm02 — frame sampling: every k-th frame index of a pseudo-video
    * whose frame count derives from the payload size. Pure expression
    * (sequence + explode-ready array), oracle-checked. */
  val mm02 = QueryDef.sql("mm02_frame_sample",
    """SELECT doc_id, n_frames,
      |  array_to_string(frames, ',') AS frames,
      |  CAST(len(frames) AS INTEGER) AS n_sampled
      |FROM (
      |  SELECT doc_id,
      |    CAST(1 + n_chars % 120 AS INTEGER) AS n_frames,
      |    CAST(range(0, CAST(1 + n_chars % 120 AS INTEGER), 5) AS INTEGER[]) AS frames
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .select(col("doc_id"),
        (lit(1) + col("n_chars") % 120).cast("int").as("n_frames"))
      .withColumn("frames", sequence(lit(0), col("n_frames") - 1, lit(5)))
      .withColumn("n_sampled", size(col("frames")))
      // comma-join the frame indices: array cells break the driver's
      // pandas sort; the sampling logic above stays array-typed
      .withColumn("frames", array_join(col("frames").cast("array<string>"), ","))
      .orderBy("doc_id")
  }

  /** mm03 — per-partition batched feature extraction over the decoded
    * stream: aggregate stats of the stub decoder's outputs. Fully
    * oracled (the stub's md5 arithmetic is deterministic — the oracle
    * re-derives it via mm01's SQL and aggregates); averages are an
    * exact integer sum with one final double division on both engines. */
  val mm03 = QueryDef.sql("mm03_decode_stats",
    s"""WITH dec AS (SELECT * FROM (${"\n"}${mm01.oracle.get}${"\n"}) m)
       |SELECT format, COUNT(*) AS n,
       |  CAST(SUM(width) AS DOUBLE) / COUNT(*) AS avg_width,
       |  CAST(SUM(height) AS DOUBLE) / COUNT(*) AS avg_height,
       |  MAX(n_bytes) AS max_bytes
       |FROM dec
       |GROUP BY format
       |ORDER BY format""".stripMargin) { (s, d) =>
    import s.implicits._
    val payloads = T.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[Payload]
    decode(payloads).toDF()
      .groupBy("format")
      .agg(count(lit(1)).as("n"),
        (sum("width").cast("double") / count(lit(1))).as("avg_width"),
        (sum("height").cast("double") / count(lit(1))).as("avg_height"),
        max("n_bytes").as("max_bytes"))
      .orderBy("format")
  }

  final case class Embedded(doc_id: Long, emb: String, l2sq: Long)

  /** STUB embedding "model" — stands in for an ONNX/torch session. The
    * k-th component is the first 2 bytes of md5(text || ":" || k) as an
    * unsigned int (0..65535) — integer-exact, so parity needs no float
    * formatting. A real deployment swaps `predictBatch`'s body for the
    * model call; the per-partition init + grouped micro-batch shape
    * stays identical. */
  private def predictBatch(md: java.security.MessageDigest,
      batch: Seq[(Long, String)]): Seq[Embedded] =
    batch.map { case (id, text) =>
      val comps = (0 until 8).map { k =>
        val h = md.digest(s"$text:$k".getBytes("UTF-8"))
        ((h(0) & 0xff) << 8) | (h(1) & 0xff)
      }
      Embedded(id, comps.mkString(","),
        comps.map(c => c.toLong * c).sum)
    }

  /** Test access: the spec proves batch-boundary/partitioning
    * independence by re-running the batcher at a different size. */
  private[graft] def predictBatchForTest(md: java.security.MessageDigest,
      batch: Seq[(Long, String)]): Seq[Embedded] = predictBatch(md, batch)

  /** mm04 — batched embedding inference: the model-serving shape of a
    * multimodal pipeline (the step after mm01's decode). The "model"
    * loads ONCE per partition (the expensive session/GPU-context init a
    * per-row UDF would pay per record) and rows are scored in
    * micro-batches of 32 (`Iterator.grouped` — the Scala analogue of
    * mapInPandas' arrow batches; batch size is the GPU-throughput dial).
    * Output components stay integer-exact (md5-derived), so the full
    * embedding string and its L2² norm are bit-oracle-able — no float
    * formatting ambiguity between engines. At 100 TB this is a pure
    * narrow map: no shuffle, embarrassingly parallel, and the batch
    * boundary never affects the result (spec asserts partitioning
    * independence). */
  val mm04 = QueryDef.sql("mm04_batch_inference",
    """SELECT doc_id,
      |  array_to_string([
      |    CAST(('0x' || substr(md5(text || ':0'), 1, 4)) AS INTEGER),
      |    CAST(('0x' || substr(md5(text || ':1'), 1, 4)) AS INTEGER),
      |    CAST(('0x' || substr(md5(text || ':2'), 1, 4)) AS INTEGER),
      |    CAST(('0x' || substr(md5(text || ':3'), 1, 4)) AS INTEGER),
      |    CAST(('0x' || substr(md5(text || ':4'), 1, 4)) AS INTEGER),
      |    CAST(('0x' || substr(md5(text || ':5'), 1, 4)) AS INTEGER),
      |    CAST(('0x' || substr(md5(text || ':6'), 1, 4)) AS INTEGER),
      |    CAST(('0x' || substr(md5(text || ':7'), 1, 4)) AS INTEGER)], ',') AS emb,
      |  CAST((SELECT SUM(c * c) FROM UNNEST([
      |    CAST(('0x' || substr(md5(text || ':0'), 1, 4)) AS BIGINT),
      |    CAST(('0x' || substr(md5(text || ':1'), 1, 4)) AS BIGINT),
      |    CAST(('0x' || substr(md5(text || ':2'), 1, 4)) AS BIGINT),
      |    CAST(('0x' || substr(md5(text || ':3'), 1, 4)) AS BIGINT),
      |    CAST(('0x' || substr(md5(text || ':4'), 1, 4)) AS BIGINT),
      |    CAST(('0x' || substr(md5(text || ':5'), 1, 4)) AS BIGINT),
      |    CAST(('0x' || substr(md5(text || ':6'), 1, 4)) AS BIGINT),
      |    CAST(('0x' || substr(md5(text || ':7'), 1, 4)) AS BIGINT)]) t(c)) AS BIGINT)
      |    AS l2sq
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = T.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5") // model init, once
      it.grouped(32).flatMap(batch => predictBatch(md, batch))
    }.toDF()
      .select("doc_id", "emb", "l2sq")
      .orderBy("doc_id")
  }

  /** mm05 — CLIP-score pair filtering, the LAION curation gate: an
    * (image, caption) pair survives iff the cosine between its two
    * modality embeddings clears a threshold (LAION-400M used 0.28 on
    * CLIP ViT-B/32 scores). The fixture has no paired-modality rows, so
    * adjacent vec_ids stand in as a pair (even = image-side, odd =
    * caption-side embedding; `pair_id = vec_id DIV 2` — in a real
    * multimodal table the two embeddings are columns of ONE row and the
    * join disappears entirely). Scale: an equi-join on the pair id —
    * co-partitioned, no candidate generation at all — then the narrow
    * codegen'd vec_dot score; this is the cheapest filter in the whole
    * curation family, which is exactly why LAION could run it at
    * 5-billion-pair scale. Exact oracle: same pairing and the same
    * sequential-double cosine in DuckDB. */
  val mm05 = QueryDef.sql("mm05_clip_score_filter",
    """WITH img AS (
      |  SELECT vec_id // 2 AS pair_id, vec_id AS img_id, embedding AS ie
      |  FROM embeddings WHERE vec_id % 2 = 0),
      |cap AS (
      |  SELECT vec_id // 2 AS pair_id, vec_id AS cap_id, embedding AS ce
      |  FROM embeddings WHERE vec_id % 2 = 1),
      |scored AS (
      |  SELECT i.pair_id, img_id, cap_id,
      |    list_sum(list_transform(range(1, len(ie)+1),
      |      k -> CAST(ie[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, len(ie)+1),
      |         k -> CAST(ie[k] AS DOUBLE) * CAST(ie[k] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, len(ce)+1),
      |         k -> CAST(ce[k] AS DOUBLE) * CAST(ce[k] AS DOUBLE)))))
      |      AS clip_cos
      |  FROM img i JOIN cap c ON i.pair_id = c.pair_id)
      |SELECT pair_id, img_id, cap_id, clip_cos, clip_cos >= 0.28e0 AS kept
      |FROM scored
      |ORDER BY pair_id""".stripMargin) { (s, d) =>
    graft.functions.FloatDot.register(s)
    val e = T.embeddings(s, d)
    val img = e.filter(col("vec_id") % 2 === 0)
      .select(expr("vec_id DIV 2").as("pair_id"),
        col("vec_id").as("img_id"), col("embedding").as("ie"))
    val cap = e.filter(col("vec_id") % 2 === 1)
      .select(expr("vec_id DIV 2").as("pair_id"),
        col("vec_id").as("cap_id"), col("embedding").as("ce"))
    img.join(cap, "pair_id")
      .withColumn("clip_cos",
        expr("vec_dot(ie, ce) / (sqrt(vec_dot(ie, ie)) * sqrt(vec_dot(ce, ce)))"))
      .select(col("pair_id"), col("img_id"), col("cap_id"), col("clip_cos"),
        (col("clip_cos") >= lit(0.28)).as("kept"))
      .orderBy("pair_id")
  }

  /** mm06 — interleaved multimodal sequence packing: the context-window
    * assembly step of a multimodal pretrain. Each document contributes
    * an interleaved stream [vision tokens][text tokens]: the sampled
    * frames of mm02's pseudo-video (every 5th frame of
    * `1 + n_chars % 120`) cost 16 vision tokens each, then the
    * whitespace text tokens follow. The concatenated corpus stream
    * (doc_id order) is sliced into 2048-token context windows, and the
    * report is the per-window MODALITY BUDGET — vision vs text fill —
    * which is the audit a modality-balance dial needs (vision-heavy
    * windows starve the LM loss; all-text windows waste the vision
    * tower). Same scale shape as sp06: the only wide op is the
    * distributed prefix sum (graft.GlobalCumsum — no single-partition
    * window), then a per-doc bin explode (fanout ≈ doc_tokens/2048)
    * into a map-side-combinable hash agg on a dense int key. All
    * overlap arithmetic is exact int64; the one double (vision_share)
    * is a single IEEE division of exact ints on both engines. */
  val mm06 = QueryDef.sql("mm06_interleaved_packing",
    """WITH tok AS (
      |  SELECT doc_id,
      |    16 * ((1 + n_chars % 120 + 4) // 5) AS vt,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tt
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, vt, tt, vt + tt AS ct,
      |    CAST(SUM(vt + tt) OVER (ORDER BY doc_id
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS cum
      |  FROM tok),
      |e AS (
      |  SELECT doc_id, vt, tt, cum, cum - ct AS st,
      |    UNNEST(range((cum - ct) // 2048, (cum - 1) // 2048 + 1)) AS bin
      |  FROM c)
      |SELECT CAST(bin AS BIGINT) AS bin_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN st // 2048 = bin THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_starting,
      |  CAST(SUM(greatest(0, least(st + vt, (bin+1)*2048) - greatest(st, bin*2048)))
      |    AS BIGINT) AS vision_tokens,
      |  CAST(SUM(greatest(0, least(cum, (bin+1)*2048) - greatest(st + vt, bin*2048)))
      |    AS BIGINT) AS text_tokens,
      |  CAST(SUM(least(cum, (bin+1)*2048) - greatest(st, bin*2048)) AS BIGINT)
      |    AS fill_tokens,
      |  CAST(SUM(greatest(0, least(st + vt, (bin+1)*2048) - greatest(st, bin*2048))) AS DOUBLE)
      |    / SUM(least(cum, (bin+1)*2048) - greatest(st, bin*2048)) AS vision_share
      |FROM e GROUP BY bin
      |ORDER BY bin_id""".stripMargin) { (s, d) =>
    val tok = T.documents(s, d)
      .select(col("doc_id"),
        expr("CAST(16 * ((1 + n_chars % 120 + 4) div 5) AS BIGINT)").as("vt"),
        size(split(col("text"), " ")).cast("long").as("tt"))
      .withColumn("ct", col("vt") + col("tt"))
    graft.GlobalCumsum.withRunningSum(tok, Seq(col("doc_id")), "ct", "cum")
      .withColumn("st", col("cum") - col("ct"))
      .withColumn("bin",
        explode(expr("sequence(st div 2048, (cum - 1) div 2048)")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr("st div 2048") === col("bin"), 1).otherwise(0))
          .cast("long").as("docs_starting"),
        sum(greatest(lit(0L), least(col("st") + col("vt"), (col("bin") + 1) * 2048) -
          greatest(col("st"), col("bin") * 2048))).cast("long").as("vision_tokens"),
        sum(greatest(lit(0L), least(col("cum"), (col("bin") + 1) * 2048) -
          greatest(col("st") + col("vt"), col("bin") * 2048))).cast("long").as("text_tokens"),
        sum(least(col("cum"), (col("bin") + 1) * 2048) -
          greatest(col("st"), col("bin") * 2048)).cast("long").as("fill_tokens"),
        (sum(greatest(lit(0L), least(col("st") + col("vt"), (col("bin") + 1) * 2048) -
          greatest(col("st"), col("bin") * 2048))).cast("double") /
          sum(least(col("cum"), (col("bin") + 1) * 2048) -
            greatest(col("st"), col("bin") * 2048))).as("vision_share"))
      .select(col("bin").cast("long").as("bin_id"), col("n_docs"),
        col("docs_starting"), col("vision_tokens"), col("text_tokens"),
        col("fill_tokens"), col("vision_share"))
      .orderBy("bin_id")
  }

  /** mm07 — perceptual-hash near-dup admission over the binary payload
    * table, closing the dedup modality matrix (r12 verdict #5): text has
    * dd03/dd16/st14, embeddings have dd07/st19/ss15 — the multimodal
    * payloads had none. The pHash shape: non-overlapping 16-byte payload
    * tiles (the deterministic stand-in for patch/frame features, exactly
    * as mm01's decode stubs the codec — a real deployment swaps the tile
    * featurizer) are 60-bit md5-fingerprinted, and a 60-bit SimHash over
    * the tile set gives each payload a perceptual fingerprint: payloads
    * sharing most tiles land within a few Hamming bits, so an appended
    * tail or a re-encoded container (same content bytes) collides while
    * unrelated payloads stay far. Banded exactly like dd07b (4 bands ×
    * r = clamp(⌈log2 N⌉−4, 8, 15) bits, pairs must share ≥1 band) —
    * candidates are NEVER corpus² (spec-locked), and the corpus-adaptive
    * band width keeps uniform per-band df ~16 at any N, so candidate
    * pairs grow ~linearly in N instead of the fixed 8-bit space's
    * ~N²/256 birthday pairing (r14 verdict #1; the reported min-Hamming
    * stays over the legacy low-32-bit window, so the >6 admission cut's
    * calibration — and every small-N decision — is untouched). Admission
    * mirrors dd16: the delta (doc_id % 5 = 0 plays the day's batch)
    * probes the standing corpus bands plus lower-id delta docs; Hamming
    * ≤ 6 on any candidate rejects; admitted payloads commit their 4 band
    * rows as the index delta. Bands hotter than max(100, 32·N/2^r) in
    * the standing index are pruned from both probes before any pair
    * forms (the dd16 stop-band playbook — see the in-body comment for
    * the relative-threshold rationale). The old r = 15 clamp (4 bands
    * × 15 bits exhaust a 60-bit fingerprint) is now a MODE BOUNDARY,
    * not a ceiling: past ~2^19 docs the dial keeps climbing
    * (r = clamp(⌈log2 N⌉−4, 8, 30)) and the layout switches to four
    * fixed 30-bit lanes of a 120-bit fingerprint — a second 60-bit
    * word minted from hex 16..30 of the SAME per-tile md5 — so uniform
    * per-band df stays ~16 out to N ≈ 2^34. Below the boundary nothing
    * moves: the dial, bands, Hamming window, prune threshold, and
    * every decision are bit-identical to the narrow era (every graded
    * scale has N < 2^19), and the oracle mirrors BOTH modes through
    * one CASE on the shared dial. Everything is md5-derived, so DuckDB
    * re-derives every fingerprint, band, dial, threshold, and decision
    * bit-exactly — at any dial point, either side of the boundary. */
  /** The shared perceptual-hash CTE prefix (tiles → th → bits → hash →
    * rr → banded) of the mm07 and dd17 oracles — ONE string so the two
    * SQL mirrors of [[perceptualParts]] can never drift. Margin already
    * stripped; ends after the banded CTE's comma. */
  private def phashCtesDuck: String = "WITH " + phashCtesBody("documents")

  /** [[phashCtesDuck]] over an arbitrary (doc_id, text) source CTE —
    * sp12's oracle re-derives the same fingerprint chain over the GATED
    * document set instead of the raw table. No leading WITH so it can
    * sit mid-chain. */
  private def phashCtesBody(src: String): String =
    s"""tiles AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id,
      |          UNNEST(list_transform(range(0, CAST(length(text) // 16 AS INT)),
      |            i -> substr(text, CAST(i*16+1 AS INT), 16))) AS s
      |        FROM $src WHERE length(text) >= 16)),
      |th AS (SELECT doc_id,
      |         CAST(('0x' || substr(md, 9, 7)) AS BIGINT) * 4294967296
      |           + CAST(('0x' || substr(md, 1, 8)) AS BIGINT) AS f,
      |         CAST(('0x' || substr(md, 24, 7)) AS BIGINT) * 4294967296
      |           + CAST(('0x' || substr(md, 16, 8)) AS BIGINT) AS f2
      |       FROM (SELECT doc_id, md5(CAST(h AS VARCHAR)) AS md FROM tiles)),
      |hash AS (SELECT doc_id,
      |           ${(0 to 59).map(j => s"(CASE WHEN SUM(CASE WHEN (f >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END)").mkString(" + ")} AS ph,
      |           ${(0 to 59).map(j => s"(CASE WHEN SUM(CASE WHEN (f2 >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END)").mkString(" + ")} AS ph2
      |         FROM th GROUP BY doc_id),
      |rr AS (SELECT ${graft.operators.Similarity.simhashBitsWideDuck} AS r FROM hash),
      |banded AS (SELECT doc_id, ph, k,
      |             (CASE WHEN r > 15 THEN
      |                (CASE WHEN k < 2 THEN ph >> (30 * CAST(k AS INT))
      |                      ELSE ph2 >> (30 * (CAST(k AS INT) - 2)) END)
      |              ELSE ph >> (r * CAST(k AS INT)) END)
      |             & ((CAST(1 AS BIGINT) << r) - 1) AS band
      |           FROM hash, rr, generate_series(0, 3) g(k)),""".stripMargin

  val mm07 = QueryDef.sql("mm07_perceptual_neardup_admission",
    s"""$phashCtesDuck
      |cn AS (SELECT COUNT(*) AS n FROM hash WHERE doc_id % 5 <> 0),
      |binc AS (SELECT * FROM banded WHERE doc_id % 5 = 0),
      |bcorp AS (SELECT * FROM banded WHERE doc_id % 5 <> 0),
      |bdf AS (SELECT k, band, COUNT(*) AS bdf FROM bcorp GROUP BY 1, 2),
      |stop AS (SELECT k, band FROM bdf, rr, cn
      |         WHERE bdf > GREATEST(100.0, 32.0 * cn.n / POW(2, rr.r))),
      |bincp AS (SELECT binc.* FROM binc
      |          WHERE NOT EXISTS (SELECT 1 FROM stop
      |                            WHERE stop.k = binc.k
      |                              AND stop.band = binc.band)),
      |cand_c AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
      |                  x.ph AS ha, y.ph AS hb
      |           FROM bincp x JOIN bcorp y ON x.k = y.k AND x.band = y.band),
      |cvc AS (SELECT da, MIN(bit_count(xor(ha, hb) & 4294967295)) AS corpus_min
      |        FROM cand_c GROUP BY da),
      |cand_d AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
      |                  x.ph AS ha, y.ph AS hb
      |           FROM bincp x JOIN bincp y ON x.k = y.k AND x.band = y.band
      |                                    AND y.doc_id < x.doc_id),
      |dvd AS (SELECT da, MIN(bit_count(xor(ha, hb) & 4294967295)) AS batch_min
      |        FROM cand_d GROUP BY da),
      |ids AS (SELECT DISTINCT doc_id FROM binc)
      |SELECT ids.doc_id,
      |  CAST(COALESCE(cvc.corpus_min, 99) AS INTEGER) AS corpus_min_hamming,
      |  CAST(COALESCE(dvd.batch_min, 99) AS INTEGER) AS batch_min_hamming,
      |  (COALESCE(cvc.corpus_min, 99) > 6
      |     AND COALESCE(dvd.batch_min, 99) > 6) AS admitted,
      |  CAST(CASE WHEN COALESCE(cvc.corpus_min, 99) > 6
      |              AND COALESCE(dvd.batch_min, 99) > 6
      |       THEN 4 ELSE 0 END AS BIGINT) AS index_rows_added
      |FROM ids LEFT JOIN cvc ON ids.doc_id = cvc.da
      |         LEFT JOIN dvd ON ids.doc_id = dvd.da
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // The PARTS are memoized one level lower (sharedParts) so a
    // full-suite run prices the tile→md5→bit-sum fingerprint build once
    // for mm07 AND dd17 (r15 verdict #1), not once per consumer.
    mm07Memo(s, d)(admissionFromParts(sharedParts(s, d)))
  }

  private val mm07Memo = Memo.slot[DataFrame]("multimodal.mm07")(_.unpersist())

  /** The perceptual fingerprint build, memoized and shared by mm07 and
    * dd17 (r15 verdict #1 — previously each consumer rebuilt the
    * tile→md5→bit-sum aggregate). The cached hash frame is one row per
    * doc (doc_id + 1–2 longs) so it stays resident like the ss15
    * standing index; specs plant their own frames through
    * [[perceptualParts]], which still owns its unpersist. */
  private val partsMemo = Memo.slot[PerceptualParts]("multimodal.parts")(_.hash.unpersist())

  private[graft] def sharedParts(s: SparkSession, d: String): PerceptualParts =
    partsMemo(s, d)(perceptualParts(s, T.documents(s, d)))

  /** The banded intermediates of mm07's dataflow, factored so mm07,
    * dd17 and the spec entry [[perceptualAdmission]] share one
    * construction. `hash` is CACHED — the caller must unpersist it when
    * done. */
  private[graft] case class PerceptualParts(
      eligible: DataFrame, hash: DataFrame, r: Int, nAll: Long, nCorp: Long,
      banded: DataFrame, binc: DataFrame, bcorp: DataFrame, bincP: DataFrame)

  /** mm07's dataflow over an arbitrary (doc_id, text) frame — factored
    * (the incrementalBandIndex precedent) so the spec can plant
    * perceptual extremes: exact copies, tail-appended payloads (tile
    * set unchanged → Hamming 0 by construction), unrelated payloads.
    * `forceBandBits` is a test hook pinning adaptive ≡ fixed at small N
    * and the recall invariants across dial points; production always
    * takes the dial. */
  private[graft] def perceptualParts(
      s: SparkSession, docs: DataFrame,
      forceBandBits: Option[Int] = None): PerceptualParts = {
    val eligible = docs.filter(length(col("text")) >= 16)
    // corpus-adaptive band WIDTH (r14 verdict #1 — dd07b's dial on the
    // perceptual space), now on the BEYOND-CLAMP chain (the boundary
    // r15 named): r = clamp(⌈log2 N⌉ − 4, 8, 30). Up to r = 15 this is
    // bit-identical to the legacy dial; past ~2^19 docs the layout
    // switches to 4 × 30-bit lanes of a 120-bit fingerprint (below),
    // keeping uniform per-band df ~16 out to N ≈ 2^34 instead of
    // resuming ~N/32768 growth at the old 60-bit clamp. N is counted
    // BEFORE the fingerprint build — every eligible doc owns ≥1 tile,
    // and deciding the mode up front keeps the narrow-mode groupBy at
    // 60 aggregates (the wide fingerprint's 60 extra bit-sums are
    // built only when the dial can use them). Counted as DISTINCT
    // doc_id (r15 ADVICE #4) so the Spark dial input is definitionally
    // the oracle's rr CTE (COUNT(*) over the per-doc hash frame) even
    // on a frame with duplicate doc_ids.
    val nAll = eligible.select("doc_id").distinct().count()
    val r = forceBandBits.getOrElse(
      graft.operators.Similarity.simhashBitsWide(nAll))
    val (hash0, _) = perceptualHashBanded(eligible, r)
    val hash = hash0.cache()
    val banded = bandPerceptual(hash, r)
    // the stop-band threshold reads the standing-corpus N — one tiny
    // pass over the cached hash frame
    val nCorp = hash.agg(
      count(when(col("doc_id") % 5 =!= 0, 1))).head().getLong(0)
      val binc = banded.filter(col("doc_id") % 5 === 0)
      val bcorp = banded.filter(col("doc_id") % 5 =!= 0)
      // stop-band prune (r13 verdict #1 — the dd16 playbook on the
      // binary modality): one hot perceptual band — black frames, blank
      // images, constant-fill payloads all tile to identical
      // fingerprints — emits n² candidate pairs inside BOTH equi-joins
      // below. Bands whose standing-index df exceeds the threshold are
      // broadcast-anti-joined out of the probe side, which starves both
      // joins of the hot band; a delta payload whose only collisions
      // rode such bands carries zero evidence and is ADMITTED (dd16's
      // boilerplate semantics, oracle-mirrored). Unlike dd16's raw-md5
      // band space (df ≈ 1 uniform → a fixed df>100 cut), an r-bit band
      // holds N/2^r payloads even when nothing is wrong, so the cut is
      // RELATIVE: df > max(100, 32·N/2^r) = 32× the uniform expectation
      // — degenerate concentration, not corpus growth. (At r = 8 this
      // is exactly the fixed-band era's N/8 cut, so the dial leaves the
      // small-N prune semantics untouched.)
      val bdf = bcorp.groupBy("k", "band").agg(count(lit(1)).as("bdf"))
      val stop = bdf
        .filter(col("bdf") >
          greatest(lit(100.0), lit(32.0 * nCorp / (1L << r))))
        .select("k", "band")
      val bincP = binc.join(broadcast(stop), Seq("k", "band"), "left_anti")
    PerceptualParts(eligible, hash, r, nAll, nCorp, banded, binc, bcorp, bincP)
  }

  /** The LAZY core of [[perceptualParts]]: tile fingerprints → per-doc
    * 60/120-bit perceptual hash, plus the banded unpivot built on the
    * RETURNED hash frame (callers that cache the hash must re-band via
    * [[bandPerceptual]] so the bands read the cached copy). Factored so
    * sp12's fused pipeline can run the identical construction with no
    * cache and no eager action (the sp11 discipline). */
  private[graft] def perceptualHashBanded(
      eligible: DataFrame, r: Int): (DataFrame, DataFrame) = {
    val wide = r > 15
    // the whole tile → distinct → md5-feature → bit-majority chain is
    // ONE native codegen'd call per payload (r18,
    // graft.functions.PerceptualHashUtil — bit-identical to the
    // exploded SQL form it fuses, the formula every mm07/dd17/sp12
    // oracle still re-derives): the composed form paid two corpus-wide
    // exchanges per build — explode tiles → (doc_id, h) DISTINCT, then
    // a per-doc groupBy with 60/120 bit-sum aggregates. The per-doc
    // tile set is bounded by the payload size, so the hash build is
    // embarrassingly parallel; still widened (guarded no-op at real
    // scale) because the kernel is compute-dense over a possibly
    // single-file scan. The 60-bit feature layout (r14 verdict #1 low
    // 32 legacy bits + 28 stacked; wide mode's second word from the
    // same md5) is documented at the kernel.
    graft.functions.PerceptualHash.register(eligible.sparkSession)
    val signed = T.widened(eligible, graft.Tables.DenseKernelFloor)
      .select(col("doc_id"), expr("perceptual_hash120(text)").as("pw"))
    val hash =
      if (!wide) signed.select(col("doc_id"), col("pw")(0).as("ph"))
      else signed.select(col("doc_id"), col("pw")(0).as("ph"),
        col("pw")(1).as("ph_hi"))
    (hash, bandPerceptual(hash, r))
  }

  /** The 4-band unpivot of a perceptual hash frame: legacy r-bit windows
    * of the 60-bit ph while r ≤ 15; past the clamp, 4 fixed 30-bit lanes
    * (two per fingerprint word) each contributing its low r bits — lanes
    * never straddle a word, and identical payloads still collide on
    * EVERY band at any width. */
  private[graft] def bandPerceptual(hash: DataFrame, r: Int): DataFrame = {
    val mask = (1L << r) - 1
    if (r <= 15) {
      hash
        .select(col("doc_id"), col("ph"), explode(expr("sequence(0, 3)")).as("k"))
        .withColumn("band",
          expr(s"shiftright(ph, $r * CAST(k AS INT)) & ${mask}L"))
    } else {
      hash
        .select(col("doc_id"), col("ph"), col("ph_hi"),
          explode(expr("sequence(0, 3)")).as("k"))
        .withColumn("band",
          expr(s"(CASE WHEN k < 2 THEN shiftright(ph, 30 * CAST(k AS INT)) " +
            s"ELSE shiftright(ph_hi, 30 * (CAST(k AS INT) - 2)) END) & ${mask}L"))
    }
  }

  /** Spec entry: builds its own parts and releases the cached
    * hash when the decision frame is materialized. The production
    * QueryDef path goes through [[sharedParts]] instead. */
  private[graft] def perceptualAdmission(
      s: SparkSession, docs: DataFrame,
      forceBandBits: Option[Int] = None): DataFrame = {
    val parts = perceptualParts(s, docs, forceBandBits)
    try admissionFromParts(parts) finally parts.hash.unpersist()
  }

  private[graft] def admissionFromParts(parts: PerceptualParts): DataFrame = {
    import parts.{binc, bcorp, bincP}
    {
      def minHamming(other: DataFrame, lowerOnly: Boolean): DataFrame = {
        val cond = col("x.k") === col("y.k") && col("x.band") === col("y.band") &&
          (if (lowerOnly) col("y.doc_id") < col("x.doc_id") else lit(true))
        bincP.as("x").join(other.as("y"), cond)
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
            col("x.ph").as("ha"), col("y.ph").as("hb"))
          .distinct()
          // the reported min-Hamming stays over the legacy 32-bit
          // window (low bits of the 60-bit fingerprint): the operator's
          // output contract — and the >6 admission cut calibrated to it
          // — is unchanged by the band-space widening; the upper 28
          // bits exist only to give the adaptive LSH layout room
          .withColumn("hm",
            expr("CAST(bit_count((ha ^ hb) & 4294967295) AS INT)"))
          .groupBy("da").agg(min("hm").as("hmin"))
      }
      val cvc = minHamming(bcorp, lowerOnly = false)
      val dvd = minHamming(bincP, lowerOnly = true)
      val out = binc.select("doc_id").distinct()
        .join(cvc.select(col("da").as("doc_id"),
          col("hmin").as("corpus_min")), Seq("doc_id"), "left")
        .join(dvd.select(col("da").as("doc_id"),
          col("hmin").as("batch_min")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("corpus_min"), lit(99)).cast("int")
            .as("corpus_min_hamming"),
          coalesce(col("batch_min"), lit(99)).cast("int")
            .as("batch_min_hamming"))
        .withColumn("admitted",
          col("corpus_min_hamming") > 6 && col("batch_min_hamming") > 6)
        .withColumn("index_rows_added",
          when(col("admitted"), lit(4L)).otherwise(lit(0L)))
        .orderBy("doc_id")
        .cache()
      out.count()
      out
    }
  }

  /** dd17 — cross-modality consistency join (the r14 verdict's other
    * optional next to mm08): joins the BINARY modality's near-dup
    * evidence (mm07's tile-set perceptual fingerprint, via the shared
    * [[perceptualParts]] kernel — adaptive bands, wide mode past 2^19,
    * stop-band prune) against the TEXT modality's exact fingerprint
    * (dd01's 60-bit md5 key) over the same payloads, and classifies
    * every banded candidate pair: a pair that is a perceptual twin
    * (legacy low-32 Hamming ≤ 6) AND text-equal is an ordinary dup; a
    * perceptual twin whose text fingerprints DIFFER is the
    * cross-modality inconsistency a curation pipeline quarantines —
    * re-encoded/tail-appended payloads, caption swaps, container
    * tampering (same content bytes under a different byte-exact form).
    * Output is the bounded per-doc rollup (docs with ≥1 candidate):
    * candidate/twin/consistent/suspect counts + the quarantine bit.
    * Scale shape: candidates come ONLY from the banded equi-join with
    * hot bands pruned from BOTH sides (pairs need a surviving shared
    * band), the text fingerprint is an 8-byte equi-join key, and the
    * rollup is a hash aggregate — never corpus², no windows. Everything
    * is md5-derived: the oracle re-derives fingerprints of BOTH
    * modalities, the dial, the prune, and every verdict bit-exactly
    * (the mm07 oracle property, now across two modalities). */
  val dd17 = QueryDef.sql("dd17_crossmodal_consistency",
    s"""$phashCtesDuck
      |cn AS (SELECT COUNT(*) AS n FROM hash),
      |bdf AS (SELECT k, band, COUNT(*) AS bdf FROM banded GROUP BY 1, 2),
      |stop AS (SELECT k, band FROM bdf, rr, cn
      |         WHERE bdf > GREATEST(100.0, 32.0 * cn.n / POW(2, rr.r))),
      |bp AS (SELECT banded.* FROM banded
      |       WHERE NOT EXISTS (SELECT 1 FROM stop
      |                         WHERE stop.k = banded.k
      |                           AND stop.band = banded.band)),
      |pairs AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
      |                 x.ph AS ha, y.ph AS hb
      |          FROM bp x JOIN bp y ON x.k = y.k AND x.band = y.band
      |                             AND y.doc_id < x.doc_id),
      |tf AS (SELECT doc_id,
      |         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS tf
      |       FROM documents WHERE length(text) >= 16),
      |pt AS (SELECT da, db,
      |         CAST(bit_count(xor(ha, hb) & 4294967295) AS INT) <= 6 AS is_twin,
      |         (ta.tf = tb.tf) AS text_equal
      |       FROM pairs JOIN tf ta ON ta.doc_id = da
      |                  JOIN tf tb ON tb.doc_id = db),
      |sides AS (SELECT da AS doc_id, is_twin, text_equal FROM pt
      |          UNION ALL
      |          SELECT db AS doc_id, is_twin, text_equal FROM pt)
      |SELECT doc_id, COUNT(*) AS n_candidates,
      |  CAST(SUM(CASE WHEN is_twin THEN 1 ELSE 0 END) AS BIGINT) AS n_twins,
      |  CAST(SUM(CASE WHEN is_twin AND text_equal THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
      |  CAST(SUM(CASE WHEN is_twin AND NOT text_equal THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
      |  (SUM(CASE WHEN is_twin AND NOT text_equal THEN 1 ELSE 0 END) > 0) AS is_suspect
      |FROM sides
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    dd17Memo(s, d)(consistencyFromParts(sharedParts(s, d)))
  }

  private val dd17Memo = Memo.slot[DataFrame]("multimodal.dd17")(_.unpersist())

  /** dd17's dataflow over an arbitrary (doc_id, text) frame — factored
    * (the perceptualParts precedent) so the spec can plant the
    * cross-modality extremes: byte-exact copies (consistent twins),
    * tail-appends (perceptual twin, text differs → suspect), unrelated
    * payloads (candidates at most, never twins). */
  private[graft] def crossmodalConsistency(
      s: SparkSession, docs: DataFrame,
      forceBandBits: Option[Int] = None): DataFrame = {
    val parts = perceptualParts(s, docs, forceBandBits)
    try consistencyFromParts(parts) finally parts.hash.unpersist()
  }

  private[graft] def consistencyFromParts(parts: PerceptualParts): DataFrame = {
    {
      // prune hot bands from BOTH sides: a pair needs a surviving
      // shared band, so one anti-join on the self-joined frame is the
      // pairwise form of mm07's probe-side starvation
      val bdf = parts.banded.groupBy("k", "band").agg(count(lit(1)).as("bdf"))
      val stop = bdf
        .filter(col("bdf") >
          greatest(lit(100.0), lit(32.0 * parts.nAll / (1L << parts.r))))
        .select("k", "band")
      val bp = parts.banded.join(broadcast(stop), Seq("k", "band"), "left_anti")
      val pairs = bp.as("x").join(bp.as("y"),
          col("x.k") === col("y.k") && col("x.band") === col("y.band") &&
            col("y.doc_id") < col("x.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          col("x.ph").as("ha"), col("y.ph").as("hb"))
        .distinct()
      // text modality: dd01's exact-dup fingerprint, an 8-byte join key
      val tf = parts.eligible
        .select(col("doc_id"),
          conv(substring(md5(col("text")), 1, 15), 16, 10)
            .cast("long").as("tf"))
      val pt = pairs
        .join(tf.select(col("doc_id").as("da"), col("tf").as("tfa")), Seq("da"))
        .join(tf.select(col("doc_id").as("db"), col("tf").as("tfb")), Seq("db"))
        .select(col("da"), col("db"),
          (expr("CAST(bit_count((ha ^ hb) & 4294967295) AS INT)") <= 6)
            .as("is_twin"),
          (col("tfa") === col("tfb")).as("text_equal"))
      // both pair endpoints emitted from ONE evaluation of the pair
      // chain (r16 verdict #5): the unionAll form re-ran the banded
      // self-join + distinct + both fingerprint joins once per side
      val sides = pt.select(explode(array(
          struct(col("da").as("doc_id"), col("is_twin"), col("text_equal")),
          struct(col("db").as("doc_id"), col("is_twin"), col("text_equal"))))
          .as("s"))
        .select(col("s.doc_id"), col("s.is_twin"), col("s.text_equal"))
      val out = sides.groupBy("doc_id").agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("is_twin"), 1L).otherwise(0L)).as("n_twins"),
          sum(when(col("is_twin") && col("text_equal"), 1L).otherwise(0L))
            .as("n_consistent"),
          sum(when(col("is_twin") && !col("text_equal"), 1L).otherwise(0L))
            .as("n_suspect"))
        .withColumn("is_suspect", col("n_suspect") > 0)
        .orderBy("doc_id")
        .cache()
      out.count()
      out
    }
  }

  /** mm08's dataflow over an arbitrary (doc_id, text) frame — factored
    * (the perceptualParts precedent) so the spec can plant temporal
    * extremes: frozen-frame runs, a hard scene cut, a one-character
    * frame perturbation. */
  private[graft] def temporalFrameStats(
      s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eligible = docs.filter(length(col("text")) >= 32)
    // frames IN ORDER (vs mm07's order-free tile SET): posexplode keeps
    // the frame index the temporal deltas are defined over
    val frames = T.widened(eligible, graft.Tables.DenseKernelFloor)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, CAST(length(text) div 16 AS INT) - 1), " +
          "i -> substring(text, i*16+1, 16))")))
      .withColumnRenamed("pos", "fi")
      .withColumnRenamed("col", "frame")
    // per-frame 32-bit SimHash over the frame's 13 character 4-grams:
    // md5 of the whole frame would destroy locality (one changed byte →
    // ~16 Hamming bits); shingle-level SimHash keeps near-identical
    // frames within a few bits — the property the delta thresholds need.
    // Computed by the native codegen'd frame_simhash32 kernel (r18 —
    // st21's stream-signing function, shared): the old explode +
    // groupBy(doc, fi) form materialized 13 shingle ROWS per frame and
    // paid a corpus-wide (doc, fi) exchange for the 32 bit-sums; the
    // fused kernel is one map-side call per frame, bit-identical
    // (st21's spec pins native ≡ the exploded SQL route; the DuckDB
    // oracle below still re-derives via the exploded formula).
    graft.functions.FrameSimhash.register(s)
    val fh = frames.select(col("doc_id"), col("fi"),
      expr("frame_simhash32(frame)").as("ph"))
    // consecutive-frame Hamming deltas: windows are PARTITIONED BY
    // doc_id (frames per payload are bounded by the payload size, so
    // no partition can outgrow an executor at any corpus scale). The
    // whole classification is ONE dataflow — lag and the running
    // break-count share a single Window over (doc_id, fi), and the
    // frozen islands come out of a two-level aggregation instead of a
    // second filtered window + joins (a join-per-stat plan recomputed
    // the fingerprint pipeline once PER BRANCH — three full scans):
    // grouping rows by (doc_id, running count of non-frozen steps)
    // puts each frozen run in its own group, so max(statics per group)
    // IS the longest frozen run, and n_frames = n_deltas + 1 because
    // frames are contiguous.
    val byDoc = Window.partitionBy("doc_id").orderBy("fi")
    val d = fh
      .withColumn("prev", lag("ph", 1).over(byDoc))
      .filter(col("prev").isNotNull)
      .withColumn("delta", expr("CAST(bit_count(ph ^ prev) AS INT)"))
      .withColumn("brk",
        sum(when(col("delta") > 2, 1).otherwise(0)).over(byDoc))
    val grp = d.groupBy("doc_id", "brk").agg(
      count(lit(1)).as("n"),
      sum(when(col("delta") > 10, 1L).otherwise(0L)).as("cuts"),
      sum(when(col("delta") <= 2, 1L).otherwise(0L)).as("statics"))
    grp.groupBy("doc_id").agg(
        (sum("n") + 1).cast("int").as("n_frames"),
        sum("cuts").as("n_cuts"),
        sum("statics").as("static_deltas"),
        max("statics").as("max_static_run"),
        (sum("statics").cast("double") / sum("n")).as("static_ratio"),
        (sum("statics").cast("double") / sum("n") >= 0.5)
          .as("is_static_heavy"))
      .orderBy("doc_id")
  }

  /** mm08 — frame-level TEMPORAL near-dup over the binary payload
    * stream (r14 verdict optional #7): mm07 dedups whole payloads
    * across the corpus; mm08 looks INSIDE each payload at its frame
    * sequence — the video-curation primitives a training pipeline needs
    * before paying to embed every frame. Frames are the payload's
    * consecutive 16-byte windows (mm02's pseudo-video model, mm07's
    * tile granularity), each fingerprinted with a 32-bit SimHash over
    * its character 4-grams so near-identical frames land within a few
    * Hamming bits. Consecutive-frame deltas then classify the stream:
    * delta ≤ 2 is a FROZEN step (stuck encoder, station logo, black
    * run — frames to drop before embedding), delta > 10 is a hard
    * SCENE CUT (the keyframe boundaries to sample at); per payload we
    * emit the frame count, cut count, frozen-step count, the longest
    * frozen run (gaps-and-islands), the frozen ratio, and an
    * is_static_heavy verdict (≥ half the steps frozen → the payload is
    * temporal boilerplate). Everything is a narrow per-document
    * dataflow — windows partition by doc_id, no cross-document join
    * exists anywhere, so the operator is embarrassingly parallel and
    * scales linearly to any corpus. All md5-derived: DuckDB re-derives
    * every fingerprint, delta, island, and verdict bit-exactly. */
  val mm08 = QueryDef.sql("mm08_temporal_framedup",
    """WITH fr AS (
      |  SELECT doc_id, i AS fi, substr(text, CAST(i*16+1 AS INT), 16) AS frame
      |  FROM (SELECT doc_id, text,
      |          UNNEST(range(0, CAST(length(text) // 16 AS INT))) AS i
      |        FROM documents WHERE length(text) >= 32)),
      |sh AS (SELECT doc_id, fi,
      |         CAST(('0x' || substr(md5(substr(frame, CAST(j+1 AS INT), 4)), 1, 8)) AS BIGINT) AS f
      |       FROM fr, generate_series(0, 12) g(j)),
      |bits AS (SELECT doc_id, fi, b,
      |           SUM(CASE WHEN (f >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sb
      |         FROM sh, generate_series(0, 31) gb(b) GROUP BY doc_id, fi, b),
      |fh AS (SELECT doc_id, fi,
      |         CAST(SUM(CASE WHEN sb > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS ph
      |       FROM bits GROUP BY doc_id, fi),
      |d AS (SELECT doc_id, fi, delta,
      |        SUM(CASE WHEN delta > 2 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY fi) AS brk
      |      FROM (
      |        SELECT doc_id, fi,
      |          bit_count(xor(ph, LAG(ph) OVER (PARTITION BY doc_id ORDER BY fi))) AS delta
      |        FROM fh) x WHERE delta IS NOT NULL),
      |grp AS (SELECT doc_id, brk, COUNT(*) AS n,
      |          SUM(CASE WHEN delta > 10 THEN 1 ELSE 0 END) AS cuts,
      |          SUM(CASE WHEN delta <= 2 THEN 1 ELSE 0 END) AS statics
      |        FROM d GROUP BY doc_id, brk)
      |SELECT doc_id,
      |  CAST(SUM(n) + 1 AS INTEGER) AS n_frames,
      |  CAST(SUM(cuts) AS BIGINT) AS n_cuts,
      |  CAST(SUM(statics) AS BIGINT) AS static_deltas,
      |  CAST(MAX(statics) AS BIGINT) AS max_static_run,
      |  CAST(SUM(statics) AS DOUBLE) / SUM(n) AS static_ratio,
      |  (CAST(SUM(statics) AS DOUBLE) / SUM(n)) >= 0.5e0 AS is_static_heavy
      |FROM grp GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    temporalFrameStats(s, T.documents(s, d))
  }

  /** sp12 — the fused MULTIMODAL curation pipeline (r15 verdict #5):
    * sp11's composition discipline on the binary modality. One job
    * takes a payload batch through the rule gate (ta09) → perceptual
    * near-dup admission of the doc_id % 5 delta against the gated
    * standing corpus (mm07's banded tile-SimHash evidence: any twin —
    * legacy low-32 Hamming ≤ 6 — against a corpus doc or a lower-id
    * batch doc rejects) → cross-modality quarantine (dd17's verdict: a
    * perceptual twin whose exact text fingerprints differ marks BOTH
    * ends suspect — re-encodes/tail-appends never enter the mix, and
    * the standing corpus member is retro-quarantined) → half-token-
    * budget selection over quality order → 2048-token packing (the
    * sp09/sp11 tail, shared code AND shared oracle string).
    *
    * Composition without barriers (the sp11 discipline): gate →
    * fingerprints → banded evidence → admission is ONE lazy DAG — no
    * cache, no eager action except the driver-side dial count (the
    * mm07 precedent: one count() picks the band width; at 100 TB it is
    * table stats) and the two GlobalCumsum prefix-sum passes of the
    * packing tail. Branch recomputation of the fingerprint chain is
    * the documented composition price (sp11's "lazy re-signing").
    * Unlike standalone mm07/dd17 (two prune conventions: probe-side on
    * corpus-df, both-sides on all-df), the fused pipeline prunes hot
    * bands ONCE — both sides, all-docs df over the gated set — and
    * derives admission AND quarantine evidence from the SAME pruned
    * pair list: one banded self-join feeds a two-row unpivot and ONE
    * hash aggregate of per-doc flags. Candidates are never corpus²;
    * the text fingerprint is an 8-byte equi-join key; windows: zero
    * (plan-locked). The oracle re-derives every stage — quality, gate,
    * tile fingerprints, dial, prune, twin/quarantine verdicts, budget,
    * packing — in one SQL, so drift in ANY stage is a hash miss. */
  val sp12 = QueryDef.sql("sp12_multimodal_curation_pipeline",
    s"""WITH ${graft.operators.Curation.qualityCte},
      |rules AS (SELECT doc_id, keep FROM (
      |${graft.operators.Curation.ta09.oracle.get}
      |) r),
      |gd AS (SELECT q.doc_id, q.nt, q.quality, d.text
      |       FROM q JOIN rules USING (doc_id)
      |              JOIN documents d USING (doc_id)
      |       WHERE rules.keep),
      |${phashCtesBody("gd")}
      |cn AS (SELECT COUNT(*) AS n FROM hash),
      |bdf AS (SELECT k, band, COUNT(*) AS bdf FROM banded GROUP BY 1, 2),
      |stop AS (SELECT k, band FROM bdf, rr, cn
      |         WHERE bdf > GREATEST(100.0, 32.0 * cn.n / POW(2, rr.r))),
      |bp AS (SELECT banded.* FROM banded
      |       WHERE NOT EXISTS (SELECT 1 FROM stop
      |                         WHERE stop.k = banded.k
      |                           AND stop.band = banded.band)),
      |pairs AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
      |                 x.ph AS ha, y.ph AS hb
      |          FROM bp x JOIN bp y ON x.k = y.k AND x.band = y.band
      |                             AND y.doc_id < x.doc_id),
      |tf AS (SELECT doc_id,
      |         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS tf
      |       FROM gd WHERE length(text) >= 16),
      |pt AS (SELECT da, db,
      |         CAST(bit_count(xor(ha, hb) & 4294967295) AS INT) <= 6 AS is_twin,
      |         (ta.tf = tb.tf) AS text_equal
      |       FROM pairs JOIN tf ta ON ta.doc_id = da
      |                  JOIN tf tb ON tb.doc_id = db),
      |sides AS (SELECT da AS doc_id, (is_twin AND da % 5 = 0) AS rej,
      |                 (is_twin AND NOT text_equal) AS susp FROM pt
      |          UNION ALL
      |          SELECT db, (is_twin AND da % 5 <> 0 AND db % 5 = 0),
      |                 (is_twin AND NOT text_equal) FROM pt),
      |fl AS (SELECT doc_id, bool_or(rej) AS rejected,
      |              bool_or(susp) AS suspect
      |       FROM sides GROUP BY doc_id),
      |adm AS (SELECT gd.doc_id, gd.nt, gd.quality
      |        FROM gd LEFT JOIN fl USING (doc_id)
      |        WHERE NOT COALESCE(fl.rejected, FALSE)
      |          AND NOT COALESCE(fl.suspect, FALSE)),
      |${graft.operators.Curation.budgetPackSql("adm")}""".stripMargin) {
    (s, d) => graft.operators.Curation.budgetPack(multimodalAdmitted(s, d))
  }

  /** sp12's fused gate → fingerprint → evidence → admission chain,
    * factored (the admittedCuration precedent) so PlanShapeSpec can
    * lock THIS frame's physical plan — the query's own executed plan
    * is the packing tail downstream of the GlobalCumsum checkpoints.
    * Fully lazy except the dial count. */
  private[graft] def multimodalAdmitted(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Curation
    val rules = Curation.ta09.fn(s, d).select(col("doc_id"), col("keep"))
    val gated = Curation.qualityDf(s, d)
      .join(rules, "doc_id").filter(col("keep"))
      .join(T.documents(s, d).select("doc_id", "text"), "doc_id")
      .select("doc_id", "nt", "quality", "text")
    val elig = gated.filter(length(col("text")) >= 16)
      .select("doc_id", "text")
    // the dial: ONE driver-side count over the gated eligible set (the
    // mm07 precedent — at 100 TB this is table stats), distinct doc_id
    // so it is definitionally the oracle's hash-frame COUNT(*)
    val nAll = elig.select("doc_id").distinct().count()
    val r = graft.operators.Similarity.simhashBitsWide(nAll)
    // ONE exchange keyed the way every consumer needs it (guide §2.4):
    // the stop-band census, the banded self-join's two sides, and the
    // anti-join probe all key on (k, band), but with the exchange BELOW
    // the fingerprint kernel each consumer re-ran perceptual_hash120
    // over the whole gated corpus (measured: two 32-task kernel stages
    // of ~11.6 s summed task time each per sp12 run — the "binary
    // feature decode repeated per branch" cost). Repartitioning the
    // banded frame by (k, band) puts one shared exchange ABOVE the
    // kernel: the decode+hash runs once, and the census/self-join read
    // co-partitioned post-kernel rows (4 small columns, not payloads —
    // the §8 rule: shuffle the proxy, decode the heavy bytes once).
    val (_, banded0) = perceptualHashBanded(elig, r)
    val banded = banded0.repartition(col("k"), col("band"))
    val stop = banded.groupBy("k", "band").agg(count(lit(1)).as("bdf"))
      .filter(col("bdf") >
        greatest(lit(100.0), lit(32.0 * nAll / (1L << r))))
      .select("k", "band")
    val bp = banded.join(broadcast(stop), Seq("k", "band"), "left_anti")
    val pairs = bp.as("x").join(bp.as("y"),
        col("x.k") === col("y.k") && col("x.band") === col("y.band") &&
          col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        col("x.ph").as("ha"), col("y.ph").as("hb"))
      .distinct()
    // text fingerprints from the RAW documents table, not the gated
    // frame: the inner joins below probe tf only at pair endpoints, and
    // every endpoint is a gated eligible doc, so fingerprinting the
    // superset (same length>=16 filter, doc_id unique) joins to the
    // identical rows — while the tf branch no longer re-evaluates the
    // quality+rules gate chain (guide §1.2: don't recompute what a
    // cheaper equivalent input already provides)
    val tf = T.documents(s, d).filter(length(col("text")) >= 16)
      .select(col("doc_id"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("tf"))
    val pt = pairs
      .join(tf.select(col("doc_id").as("da"), col("tf").as("tfa")), Seq("da"))
      .join(tf.select(col("doc_id").as("db"), col("tf").as("tfb")), Seq("db"))
      .select(col("da"), col("db"),
        (expr("CAST(bit_count((ha ^ hb) & 4294967295) AS INT)") <= 6)
          .as("is_twin"),
        (col("tfa") === col("tfb")).as("text_equal"))
    // per-doc admission flags in ONE pass: a two-row unpivot of each
    // pair (da > db, so in a delta-delta pair only the HIGHER id takes
    // the rejection — mm07's lower-id-evidence rule) then a hash agg
    val flags = pt.select(explode(array(
        struct(col("da").as("doc_id"),
          (col("is_twin") && col("da") % 5 === 0).as("rej"),
          (col("is_twin") && !col("text_equal")).as("susp")),
        struct(col("db").as("doc_id"),
          (col("is_twin") && col("da") % 5 =!= 0 && col("db") % 5 === 0)
            .as("rej"),
          (col("is_twin") && !col("text_equal")).as("susp")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.rej").as("rej"),
        col("e.susp").as("susp"))
      .groupBy("doc_id")
      .agg(max("rej").as("rejected"), max("susp").as("suspect"))
    gated
      .join(flags, Seq("doc_id"), "left")
      .filter(!coalesce(col("rejected"), lit(false)) &&
        !coalesce(col("suspect"), lit(false)))
      .select("doc_id", "nt", "quality")
  }

  val defs: Seq[QueryDef] =
    Seq(mm01, mm02, mm03, mm04, mm05, mm06, mm07, mm08, dd17, sp12)
}
