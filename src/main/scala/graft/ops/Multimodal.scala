package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators: image/audio/video handled as opaque
  * `BinaryType` columns with a typed metadata struct, per the standard
  * lakehouse pattern (path/bytes/metadata columns + batch decode).
  *
  * The container has no native media libs, so m02's generic DECODE stub
  * is a clearly-marked deterministic fake (see [[fakeDecode]]) — but m13
  * runs a REAL codec end-to-end: payloads are PNG-encoded grayscale
  * renders of the document bytes and the decode is a format-sniffing
  * `javax.imageio.ImageIO.read` (pure JVM). Everything around the seam —
  * binary schema, metadata struct, partition-batched decode plumbing,
  * frame sampling, downsampling — is real and oracle-checked. The
  * payloads derive from `documents.text` (UTF-8 bytes) so DuckDB can
  * verify byte-exact semantics.
  *
  * Scale (100 TB): media pipelines are embarrassingly parallel over rows;
  * the plan below never shuffles before the final (tiny) ordered output.
  * Batch size in [[m02]] bounds decoder memory per task exactly like an
  * Arrow `mapInPandas` batch would; binary payloads stay columnar in
  * parquet and are never collected to the driver.
  */
object Multimodal {

  /** One media row as the decode stub sees it. */
  final case class MediaRow(doc_id: Long, bytes: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, f0: Long, f1: Long, f2: Long, f3: Long,
      f4: Long, f5: Long, f6: Long, f7: Long)

  private val P = 1000000007L

  /** THE STUB: stands in for a real image/audio decoder (libjpeg/ffmpeg
    * not present in this container). Deterministic fake "feature
    * extraction": 8 accumulators, byte i feeds accumulator i % 8 as
    * acc = (acc * 31 + byte) mod P. A real deployment swaps only this
    * function body for e.g. a JNI decode + model forward pass; the
    * surrounding batched-partition plumbing is unchanged. */
  private def fakeDecode(bytes: Array[Byte]): Array[Long] = {
    val acc = new Array[Long](8)
    var i = 0
    while (i < bytes.length) {
      val k = i % 8
      acc(k) = (acc(k) * 31 + (bytes(i) & 0xffL)) % P
      i += 1
    }
    acc
  }

  /** documents with a synthesized binary media column + metadata struct:
    * the canonical multimodal schema (id, bytes, meta{fmt,n_bytes,sha}). */
  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select(
        $"doc_id",
        $"source",
        encode($"text", "UTF-8").as("bytes"))
      .withColumn("meta", struct(
        lit("utf8").as("fmt"),
        length($"bytes").as("n_bytes"),
        md5($"bytes").as("checksum")))
  }

  // ---------------------------------------------------------------- m01
  /** Binary ingest + metadata projection: per-doc byte length and MD5
    * checksum from the typed metadata struct. Pure narrow plan — the only
    * shuffle is the final presentation sort. */
  def m01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select(
        $"doc_id",
        $"meta.fmt".as("fmt"),
        $"meta.n_bytes".cast(LongType).as("n_bytes"),
        $"meta.checksum".as("checksum"))
      .orderBy($"doc_id")
  }

  val m01Sql: String =
    """SELECT doc_id, 'utf8' AS fmt, octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m02
  /** Batched partition decode: Dataset[MediaRow] → mapPartitions in
    * fixed-size batches (the Arrow/`mapInPandas` batch shape) → 8-dim
    * feature vector per doc via [[fakeDecode]]. This is the Scala-native
    * equivalent of a Pandas-UDF decode stage: per-task batching bounds
    * decoder memory, rows never leave the executor. */
  def m02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media: Dataset[MediaRow] = mediaTable(s, dir)
      .select($"doc_id", $"bytes").as[MediaRow]
    val batchSize = 64
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary = where a real decoder would run vectorized
        batch.iterator.map { r =>
          val f = fakeDecode(r.bytes)
          MediaFeatures(r.doc_id, f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
        }
      }
    }.toDF().orderBy($"doc_id")
  }

  /** Oracle mirrors fakeDecode: byte i → accumulator i%8, acc*31+b mod P.
    * list_reduce carries (acc, idx) packed as acc*8+idx is messy; instead
    * compute each accumulator independently over its byte subsequence. */
  val m02Sql: String = {
    val accs = (0 until 8).map { k =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(list_filter(generate_series(1, length(text)),
         |      i -> (i - 1) % 8 = $k), i -> CAST(ascii(text[i]) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS f$k""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT doc_id,\n  $accs\nFROM documents ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- m03
  /** Frame sampling: treat the payload as fixed 16-byte "frames" with
    * stride 32 (sample every 2nd frame — the video keyframe pattern);
    * emit frame count and a rolling checksum per sampled frame, then
    * aggregate per doc. The per-frame fold runs in a compiled kernel
    * ([[graft.functions.FrameSum]]) — one loop per row inside the codegen
    * stage, no per-element lambdas, no shuffle except the output sort. */
  def m03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      // fan-out: single-pass narrow plan over a compact scan — one cheap
      // shuffle widens the per-frame work to every core (no subtree reuse
      // here, so the shuffle is paid exactly once)
      .repartition($"doc_id")
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .withColumn("n_frames",
        greatest(lit(0), floor((length($"txt") - 16) / 32) + 1).cast(LongType))
      .withColumn("frame_sum", graft.functions.FrameSum($"txt", 16, 32))
      .select($"doc_id", $"n_frames", $"frame_sum")
      .orderBy($"doc_id")
  }

  val m03Sql: String =
    """SELECT doc_id,
      |  greatest(0, (length(text) - 16) // 32 + 1) AS n_frames,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(0, CAST(greatest(0, (length(text) - 16) // 32 + 1) AS INT) - 1),
      |      k -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(generate_series(1, 16),
      |               i -> CAST(ascii(text[k * 32 + i]) AS BIGINT))),
      |             (a, b) -> (a * 31 + b) % 1000000007))),
      |    (a, h) -> (a + h) % 1000000007) AS frame_sum
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m04
  /** Downsample ("resize"): keep every 4th byte of the payload, emit the
    * new length and MD5 of the downsampled bytes. Narrow; the char-step
    * loop is a compiled kernel ([[graft.functions.Downsample]]). */
  def m04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .repartition($"doc_id") // fan-out, see m03
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .withColumn("small", graft.functions.Downsample($"txt", 4))
      .select(
        $"doc_id",
        length($"small").cast(LongType).as("n_bytes_small"),
        md5(encode($"small", "UTF-8")).as("checksum_small"))
      .orderBy($"doc_id")
  }

  val m04Sql: String =
    """WITH small AS (
      |  SELECT doc_id, CASE WHEN length(text) = 0 THEN '' ELSE list_reduce(
      |    list_transform(generate_series(1, CAST(ceil(length(text) / 4.0) AS INT)),
      |      i -> text[(i - 1) * 4 + 1]),
      |    (a, b) -> a || b) END AS s
      |  FROM documents)
      |SELECT doc_id, length(s) AS n_bytes_small, md5(s) AS checksum_small
      |FROM small ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m05
  /** Exact media dedup — content-hash dedup of the BINARY payload, the
    * first pass of every multimodal curation pipeline (identical bytes =
    * identical asset, regardless of filename/source): md5 each payload,
    * group, keep the min doc_id as canonical, report groups with copies.
    *
    * Plan: ONE shuffle on the 16-byte digest (never on the payload —
    * the hash is computed map-side and the binary column is pruned from
    * the exchange), map-side partial aggregation. This is exactly how a
    * 100 TB asset store dedups: bytes stay where they are; only digests
    * travel. */
  def m05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select($"doc_id", md5($"bytes").as("content_md5"),
        octet_length($"bytes").cast(LongType).as("n_bytes"))
      .groupBy($"content_md5")
      .agg(
        count(lit(1)).as("n_copies"),
        min($"doc_id").as("canonical_doc_id"),
        max($"n_bytes").as("n_bytes"))
      .filter($"n_copies" >= 2)
      .orderBy($"content_md5")
  }

  val m05Sql: String =
    """SELECT md5(text) AS content_md5,
      |  COUNT(*) AS n_copies,
      |  MIN(doc_id) AS canonical_doc_id,
      |  CAST(MAX(strlen(text)) AS BIGINT) AS n_bytes
      |FROM documents
      |GROUP BY md5(text)
      |HAVING COUNT(*) >= 2
      |ORDER BY content_md5""".stripMargin

  // ---------------------------------------------------------------- m06
  /** Scene-change detection — the video-segmentation shape over m03's
    * frame model: consecutive sampled frames (16 bytes at stride 32) are
    * compared byte-wise, and a cut is declared where ≥ 12 of 16 bytes
    * differ. Emits per-doc frame and cut counts — the "how many scenes
    * does this asset have" signal a sampling stage keys on (sample per
    * scene, not per frame). The byte compare is exact integer counting;
    * no floats anywhere.
    *
    * Scale (100 TB): narrow per-row work — the frame walk is a compiled
    * kernel ([[graft.functions.FrameCuts]]; the equivalent nested-HOF
    * expression re-walked the string per substr and went quadratic in
    * payload length — measured 6× slower), payloads never leave their
    * partition, and the fan-out repartition (see m03) is the only
    * exchange. A real decoder would swap the byte compare for a
    * histogram distance inside the same batched-decode seam as m02. */
  def m06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .repartition($"doc_id") // fan-out, see m03
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .withColumn("n_frames",
        greatest(lit(0), floor((length($"txt") - 16) / 32) + 1).cast(LongType))
      .withColumn("n_cuts", graft.functions.FrameCuts($"txt", 16, 32, 12))
      .select($"doc_id", $"n_frames", $"n_cuts")
      .orderBy($"doc_id")
  }

  val m06Sql: String =
    """SELECT doc_id,
      |  greatest(0, (length(text) - 16) // 32 + 1) AS n_frames,
      |  CASE WHEN greatest(0, (length(text) - 16) // 32 + 1) < 2
      |       THEN CAST(0 AS BIGINT)
      |  ELSE CAST(len(list_filter(
      |    generate_series(0, CAST(greatest(0, (length(text) - 16) // 32 + 1) AS INT) - 2),
      |    k -> list_reduce(list_prepend(0, list_transform(generate_series(1, 16),
      |           i -> CASE WHEN text[k * 32 + i] <> text[(k + 1) * 32 + i]
      |                THEN 1 ELSE 0 END)), (a, b) -> a + b) >= 12)) AS BIGINT)
      |  END AS n_cuts
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m07
  /** Paired-modality manifest audit — the completeness gate a CLIP-style
    * (media, text, embedding) training set is built behind: per source,
    * how many media rows pair with an embedding row (doc_id ↔ vec_id),
    * how many bytes the paired subset carries, and the pairing rate.
    * Unpaired rows are the loss; a source whose rate drifts low has a
    * broken upstream embedding batch.
    *
    * Scale (100 TB): the join carries ONLY (doc_id, source, n_bytes)
    * against (vec_id) — payload bytes and vectors never enter the
    * shuffle; counts aggregate map-side; output is |sources| rows. */
  def m07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir)
      .select($"doc_id", $"source", $"meta.n_bytes".cast(LongType).as("n_bytes"))
    val emb = Tables.t(s, dir, "embeddings").select($"vec_id")
    media.join(emb, media("doc_id") === emb("vec_id"), "left")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_media"),
        sum(when($"vec_id".isNotNull, 1L).otherwise(0L)).as("n_paired"),
        sum(when($"vec_id".isNotNull, $"n_bytes").otherwise(0L)).as("paired_bytes"),
        round(sum(when($"vec_id".isNotNull, 1L).otherwise(0L)).cast(DoubleType)
          / count(lit(1)), 6).as("pair_rate"))
      .orderBy($"source")
  }

  val m07Sql: String =
    """SELECT source,
      |  COUNT(*) AS n_media,
      |  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_paired,
      |  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL
      |           THEN octet_length(encode(text)) ELSE 0 END) AS BIGINT)
      |    AS paired_bytes,
      |  round(CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS pair_rate
      |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- m08
  /** Per-source decode budget: the cluster-sizing report for the m02
    * decode pass — media count, total/max payload bytes, logical decode
    * batches at m02's batch size (⌈n/32⌉), and the straggler share
    * (max payload's ppm of the source's bytes: one 4-hour video in a
    * source of stills pins a task however the batches split). All
    * integer arithmetic — engine-exact.
    *
    * Scale (100 TB): one map-side-combinable aggregate over the
    * metadata struct — only byte LENGTHS are aggregated, payloads never
    * shuffle. (On a real lakehouse media table the metadata column is
    * stored beside the payload and the scan prunes the binary column
    * entirely; here the payload is synthesized from `text`, so the
    * synthetic scan necessarily reads it.) */
  def m08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_media"),
        sum($"meta.n_bytes".cast(LongType)).as("total_bytes"),
        max($"meta.n_bytes".cast(LongType)).as("max_bytes"))
      .select(
        $"source", $"n_media", $"total_bytes", $"max_bytes",
        expr("(n_media + 31) div 32").as("n_batches"),
        expr("(max_bytes * 1000000) div total_bytes").as("straggler_ppm"))
      .orderBy($"source")
  }

  val m08Sql: String =
    """WITH meta AS (
      |  SELECT source, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_media,
      |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |  MAX(n_bytes) AS max_bytes,
      |  CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches,
      |  CAST((MAX(n_bytes) * 1000000) // SUM(n_bytes) AS BIGINT)
      |    AS straggler_ppm
      |FROM meta GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- m09
  /** Frame-level video near-dup: two media payloads sharing many frame
    * hashes are the same footage re-containered/trimmed, even when the
    * byte-exact m05 tier misses them. Frames are the m03 model (16-byte
    * frames at stride 32); each doc reduces to its SET of frame hashes,
    * an inverted index on the hash generates pairs, and the overlap
    * coefficient |A∩B| / min(|A|,|B|) scores them (pairs sharing ≥ 2
    * frames emit). A document-frequency cut (df ≤ 1000) drops
    * ubiquitous frames — the video analog of d02's stop-shingles (black
    * frames, title cards) that would otherwise pair everything.
    *
    * Scale (100 TB): payload bytes never shuffle — the index carries
    * 8-byte frame hashes only, and the pair join has d02's bounded
    * hot-bucket fan-out thanks to the df cut. The per-frame hash is the
    * compiled RollingHash kernel inside one narrow codegen pass. */
  def m09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fh = mediaTable(s, dir)
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .withColumn("n_frames",
        greatest(lit(0), floor((length($"txt") - 16) / 32) + 1).cast(LongType))
      .filter($"n_frames" > 0)
      .select($"doc_id", explode(sequence(lit(0), $"n_frames" - 1)).as("k"), $"txt")
      .select($"doc_id",
        graft.functions.RollingHash(
          expr("substring(txt, k * 32 + 1, 16)"), 31L).as("fh"))
      .distinct()
      .localCheckpoint(eager = false) // reused: df cut, both join sides, sizes
    val df = fh.groupBy($"fh").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" <= 1000)
    val kept = fh.join(df.select($"fh"), Seq("fh"))
      .localCheckpoint(eager = false)
    val sizes = kept.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = kept.as("a").hint("SHUFFLE_HASH")
      .join(kept.as("b").hint("SHUFFLE_HASH"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"))
      .filter($"shared" >= 2)
    pairs
      .join(sizes.select($"doc_id".as("da"), $"n".as("na")), Seq("da"))
      .join(sizes.select($"doc_id".as("db"), $"n".as("nb")), Seq("db"))
      .select($"da", $"db", $"shared", $"na", $"nb",
        round($"shared".cast(DoubleType) / least($"na", $"nb"), 6).as("overlap"))
      .orderBy($"da", $"db")
  }

  val m09Sql: String =
    """WITH fr AS (
      |  SELECT doc_id, greatest(0, (length(text) - 16) // 32 + 1) AS n_frames, text
      |  FROM documents),
      |fh0 AS (
      |  SELECT DISTINCT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, 16),
      |        i -> CAST(ascii(text[k * 32 + i]) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS fh
      |  FROM fr, UNNEST(generate_series(0, CAST(n_frames AS INT) - 1)) AS t(k)
      |  WHERE n_frames > 0),
      |df AS (SELECT fh FROM (
      |         SELECT fh, COUNT(*) AS n_docs FROM fh0 GROUP BY fh)
      |       WHERE n_docs <= 1000),
      |kept AS (SELECT fh0.doc_id, fh0.fh FROM fh0 JOIN df ON fh0.fh = df.fh),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM kept a JOIN kept b ON a.fh = b.fh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING COUNT(*) >= 2)
      |SELECT p.da, p.db, p.shared, sa.n AS na, sb.n AS nb,
      |  round(CAST(p.shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
      |FROM pairs p
      |JOIN sizes sa ON p.da = sa.doc_id
      |JOIN sizes sb ON p.db = sb.doc_id
      |ORDER BY p.da, p.db""".stripMargin

  // ---------------------------------------------------------------- m10
  /** Payload concentration profile — the degenerate-asset detector run
    * before any decode budget is spent: the most frequent code point's
    * share of the payload (ppm) plus the distinct-symbol count. A share
    * near 10⁶ is a constant/black-frame asset (decode yields nothing); a
    * tiny share with a full symbol set is healthy compressed media. This
    * is the transcendental-free stand-in for byte-entropy screening —
    * the mode share bounds entropy from both sides, and unlike entropy
    * it needs no log and hash-compares exactly.
    *
    * Determinism: counts are exact integers from the compiled
    * [[graft.functions.CharStats]] walk (mode is MAX of counts —
    * tiebreak-free where argmax would not be); share is floor-div ppm.
    *
    * Scale (100 TB): pure narrow per-row work in one compiled kernel
    * pass; payloads never leave their partition (the m03 fan-out
    * repartition is the only exchange). A real byte-level screen swaps
    * the kernel body at the same seam as m02's decoder. */
  def m10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .repartition($"doc_id") // fan-out, see m03
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .withColumn("st", graft.functions.CharStats($"txt"))
      .withColumn("n_chars", length($"txt").cast(LongType))
      .withColumn("mode_cnt", $"st.mode_cnt")
      .select($"doc_id", $"n_chars", $"st.n_distinct".as("n_distinct"),
        when($"n_chars" > 0,
          expr("(1000000 * mode_cnt) div n_chars")).as("mode_share_ppm"))
      .orderBy($"doc_id")
  }

  val m10Sql: String =
    """WITH chars AS (
      |  SELECT doc_id, text[i] AS ch
      |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
      |hist AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      |         FROM chars GROUP BY 1, 2),
      |agg AS (SELECT doc_id, MAX(c) AS mode_cnt,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct, SUM(c) AS n_chars
      |  FROM hist GROUP BY doc_id)
      |SELECT d.doc_id, CAST(COALESCE(a.n_chars, 0) AS BIGINT) AS n_chars,
      |  COALESCE(a.n_distinct, 0) AS n_distinct,
      |  CASE WHEN a.n_chars > 0
      |       THEN CAST((1000000 * a.mode_cnt) // a.n_chars AS BIGINT)
      |  END AS mode_share_ppm
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- m11
  /** Windowed energy / silence profile — the voice-activity-detection
    * (VAD) pass of an audio curation pipeline, over the text-derived
    * payloads: each payload is framed into non-overlapping 32-code-point
    * windows, each window's energy is the exact integer sum of its code
    * points, and a window under [[QuietMax]] is "quiet" (the silence a
    * VAD trims before transcription). Reports per-asset frame count,
    * total/peak energy, quiet-frame count, and quiet share in ppm — the
    * numbers a speech pipeline uses to budget ASR compute and drop
    * dead-air assets. A real deployment swaps code-point sum for sample
    * RMS inside the same compiled frame loop
    * ([[graft.functions.WindowEnergy]]); framing, thresholding and the
    * rollup are what this op pins.
    *
    * Scale (100 TB): pure narrow per-row work — one compiled walk per
    * payload (no per-window string slicing, no explode), payloads never
    * leave their scan partition, and the only exchange is the final
    * presentation sort of per-asset rows. */
  val EnergyWin = 32
  val QuietMax: Long = 90L * EnergyWin

  def m11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Q.sortedNarrow(energyProfile(mediaTable(s, dir)), $"doc_id")
  }

  /** m11's narrow per-payload profile (pre-sort) — split out so the plan
    * audit can inspect the kernel stage (the presentation sort's lazy
    * checkpoint replaces the logical plan with an RDD scan). */
  private[graft] def energyProfile(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .withColumn("we", graft.functions.WindowEnergy($"txt", EnergyWin, QuietMax))
      .select($"doc_id",
        $"we.n_windows".as("n_windows"),
        $"we.energy_sum".as("energy_sum"),
        $"we.peak_energy".as("peak_energy"),
        $"we.n_quiet".as("n_quiet"),
        when($"we.n_windows" > 0,
          expr("(1000000 * we.n_quiet) div we.n_windows")).as("quiet_ppm"))
  }

  val m11Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, length(text) // $EnergyWin AS nw,
       |    list_transform(range(length(text) // $EnergyWin), k ->
       |      list_sum(list_transform(
       |        string_split(text[k*$EnergyWin+1 : k*$EnergyWin+$EnergyWin], ''),
       |        c -> ascii(c)))) AS es
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(nw AS BIGINT) AS n_windows,
       |  CAST(COALESCE(list_sum(es), 0) AS BIGINT) AS energy_sum,
       |  CAST(COALESCE(list_max(es), 0) AS BIGINT) AS peak_energy,
       |  CAST(len(list_filter(es, e -> e < $QuietMax)) AS BIGINT) AS n_quiet,
       |  CASE WHEN nw > 0 THEN
       |    CAST((1000000 * len(list_filter(es, e -> e < $QuietMax))) // nw
       |      AS BIGINT) END AS quiet_ppm
       |FROM w ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m12
  /** Perceptual frame near-dup — the hamming-TOLERANT tier above m09's
    * exact frame hashes: per-frame 60-bit dHash gradients (compiled
    * [[graft.functions.FrameDHash]] kernel, 61-unit windows at stride
    * 32), banded 4×15 for candidate generation, hamming ≤ 6 to match.
    * Uniform byte shifts from a re-encode flip few gradient bits, so
    * this catches the re-encoded copies exact hashing misses; assets
    * sharing ≥ 2 tolerant frames pair up with their match count.
    *
    * Determinism: signatures and hamming are integer bit math; the pair
    * key is a total order.
    *
    * Scale (100 TB): d04's exact banding economics — signatures are one
    * compiled scan pass, only (doc_id, sig) longs enter the band
    * exchange, hot band buckets (> 1000 members: letterbox/black-frame
    * families) are cut BEFORE pair generation exactly like the
    * stop-shingle rule, and the hamming cut sits inside the join.
    *
    * Round-16 adjudication (settled same-window pairs, min of interleaved
    * runs): docs10x 5.47 s vs DuckDB 4.07 (1.35x), docs40x 17.08 vs 18.05
    * — **0.95x, Spark crosses ahead at 40x**. Two shape A/Bs measured
    * NEGATIVE and are not shipped: (a) collapsing the candidate distinct +
    * pair-count exchanges with a forced repartition(da, db) (9→8
    * exchanges) lost 7% — the distinct's map-side partial agg dedups the
    * ×4 band-duplicated candidates BEFORE the exchange, which the bare
    * repartition gives up (aggregate-before-shuffle beats share-one-
    * exchange here); (b) dropping the bands lazy checkpoint (the t38
    * recompute rule) lost 8% — three consumers of a 12-byte-row frame
    * favor one persist over three recomputes. */
  def m12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = mediaTable(s, dir)
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .select($"doc_id",
        explode(graft.functions.FrameDHash($"txt", 61, 32)).as("sig"))
      .distinct()
      .localCheckpoint(eager = false) // bands + sizes share it
    val bands = sigs
      .withColumn("b", explode(sequence(lit(0), lit(3))))
      .select($"doc_id", $"sig", $"b",
        expr("shiftright(sig, b * 15) & 32767").as("bv"))
      .localCheckpoint(eager = false) // bucket census + both join sides
    val keptBuckets = bands.groupBy($"b", $"bv")
      .agg(count(lit(1)).as("n")).filter($"n" <= 1000)
      .select($"b", $"bv")
    val kb = bands.join(keptBuckets.hint("SHUFFLE_HASH"), Seq("b", "bv"))
    val cand = kb.as("a").hint("SHUFFLE_HASH")
      .join(kb.as("b").hint("SHUFFLE_HASH"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id") &&
          expr("bit_count(a.sig ^ b.sig) <= 6"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .distinct()
    val sizes = sigs.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = cand.groupBy($"da", $"db")
      .agg(count(lit(1)).as("n_matched"))
      .filter($"n_matched" >= 2)
    pairs
      .join(sizes.select($"doc_id".as("da"), $"n".as("na")), Seq("da"))
      .join(sizes.select($"doc_id".as("db"), $"n".as("nb")), Seq("db"))
      .select($"da", $"db", $"n_matched", $"na", $"nb")
      .orderBy($"da", $"db")
  }

  val m12Sql: String =
    """WITH fr AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(text) >= 61
      |      THEN (length(text) - 61) // 32 + 1 ELSE 0 END AS nf
      |  FROM documents),
      |sg AS (
      |  SELECT DISTINCT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, 60),
      |        i -> CASE WHEN ascii(text[k * 32 + i]) > ascii(text[k * 32 + i + 1])
      |          THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)),
      |      (a, b) -> a + b) AS sig
      |  FROM fr, UNNEST(generate_series(0, CAST(nf AS INT) - 1)) AS t(k)
      |  WHERE nf > 0),
      |bands AS (
      |  SELECT doc_id, sig, b, (sig >> (b * 15)) & 32767 AS bv
      |  FROM sg, UNNEST(generate_series(0, 3)) AS t(b)),
      |keptb AS (SELECT b, bv FROM (
      |    SELECT b, bv, COUNT(*) AS n FROM bands GROUP BY 1, 2)
      |  WHERE n <= 1000),
      |kb AS (SELECT bands.* FROM bands JOIN keptb
      |       ON bands.b = keptb.b AND bands.bv = keptb.bv),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sig AS sa, b.sig AS sb
      |  FROM kb a JOIN kb b ON a.b = b.b AND a.bv = b.bv
      |    AND a.doc_id < b.doc_id
      |    AND bit_count(xor(a.sig, b.sig)) <= 6),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY 1),
      |pairs AS (SELECT da, db, CAST(COUNT(*) AS BIGINT) AS n_matched
      |          FROM cand GROUP BY 1, 2)
      |SELECT p.da, p.db, p.n_matched, sa.n AS na, sb.n AS nb
      |FROM pairs p
      |JOIN sizes sa ON p.da = sa.doc_id
      |JOIN sizes sb ON p.db = sb.doc_id
      |WHERE p.n_matched >= 2
      |ORDER BY p.da, p.db""".stripMargin

  // ---------------------------------------------------------------- m13
  /** One media row with a REAL image payload. */
  final case class PngRow(doc_id: Long, png: Array[Byte])
  final case class PngFeatures(
      doc_id: Long, decoded: Boolean, width: Int, height: Int,
      px_sum: Long, px_max: Long)

  /** Render a payload's bytes into a genuine width-32 grayscale image and
    * PNG-encode it with `javax.imageio` (pure JVM, part of the JDK).
    * Pixel (r,c) = byte r*32+c, zero-padded — so every pixel statistic is
    * an exact integer function of the text the oracle can recompute. */
  private[ops] def encodePng(bytes: Array[Byte]): Array[Byte] = {
    // memory-backed ImageIO streams: the default cache spools every
    // encode/decode through a temp FILE — pure per-call overhead here
    javax.imageio.ImageIO.setUseCache(false)
    val w = 32
    val h = math.max(1, (bytes.length + w - 1) / w)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < bytes.length) {
      raster.setSample(i % w, i / w, 0, bytes(i) & 0xff)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** REAL decode: format-sniffing `ImageIO.read` (no format hint — the
    * reader is chosen from the payload's magic bytes) + raster feature
    * extraction. Returns None when no installed reader recognizes the
    * payload — the caller degrades to digest features. */
  private[ops] def decodeImage(bytes: Array[Byte]): Option[PngFeatures] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      var (sum, max) = (0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = raster.getSample(x, y, 0).toLong
          sum += v; if (v > max) max = v
          x += 1
        }
        y += 1
      }
      Some(PngFeatures(0L, decoded = true, w, h, sum, max))
    }
  }

  /** Batched REAL image decode (VERDICT r9 next #6): payloads are
    * PNG-encoded grayscale renders of the document bytes — a genuine
    * codec on both sides of the seam (`javax.imageio`, sniffed reader),
    * in the same batched `mapPartitions` shape as [[m02]]. The gate pins
    * `decoded = true` on every row, so a silently-skipped codec path
    * fails the oracle, and the pixel stats are exact integers DuckDB
    * recomputes from the text.
    *
    * Scale (100 TB): decode is embarrassingly parallel per row; batches
    * bound codec memory per task; nothing shuffles before the final
    * presentation sort. A production pipeline swaps encodePng for real
    * stored assets and keeps the decode stage unchanged. */
  def m13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media: Dataset[PngRow] = mediaTable(s, dir)
      // fan-out (see m03): the compact scan is a single split, and codec
      // work is the expensive part — one cheap exchange of the raw bytes
      // spreads encode+decode across every core
      .repartition($"doc_id")
      .select($"doc_id", $"bytes").as[MediaRow]
      .mapPartitions(_.map(r => PngRow(r.doc_id, encodePng(r.bytes))))
    val batchSize = 64
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          decodeImage(r.png) match {
            case Some(f) => f.copy(doc_id = r.doc_id)
            case None => // digest fallback — decoded=false fails the gate
              val d = fakeDecode(r.png)
              PngFeatures(r.doc_id, decoded = false, 0, 0, d(0), d(1))
          }
        }
      }
      // sortedNarrow: a bare orderBy's range sampling would re-run the
      // whole codec stage — the dominant cost here — a second time
    }.toDF().transform(df => Q.sortedNarrow(df, df("doc_id")))
  }

  // ---------------------------------------------------------------- m14
  final case class PooledFeatures(
      doc_id: Long, decoded: Boolean, pooled_w: Int, pooled_h: Int,
      pooled_sum: Long, pooled_max: Long)

  /** 2×2 average-pool of a REAL decoded raster: each pooled cell is the
    * truncated mean (Σ div 4, padding zeros included) of its 2×2 block;
    * out-of-raster rows contribute 0, exactly like the oracle's
    * absent-pixel groups. Returns None when no reader sniffs the
    * payload. */
  private[ops] def poolDecoded(bytes: Array[Byte]): Option[PooledFeatures] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val (pw, ph) = ((w + 1) / 2, (h + 1) / 2)
      var (sum, max) = (0L, 0L)
      var py = 0
      while (py < ph) {
        var px = 0
        while (px < pw) {
          var cell = 0L
          var dy = 0
          while (dy < 2) {
            var dx = 0
            while (dx < 2) {
              val (x, y) = (2 * px + dx, 2 * py + dy)
              if (x < w && y < h) cell += raster.getSample(x, y, 0)
              dx += 1
            }
            dy += 1
          }
          val pv = cell / 4
          sum += pv; if (pv > max) max = pv
          px += 1
        }
        py += 1
      }
      Some(PooledFeatures(0L, decoded = true, pw, ph, sum, max))
    }
  }

  /** Real decoded downsample — m04's resize seam upgraded the way m13
    * upgraded m02's: the payload round-trips through a genuine PNG
    * codec and the 2×2 average-pool runs on the DECODED raster, not on
    * the raw bytes. Pooled values are truncated integer means, so the
    * oracle recomputes every one of them from the text's known 32-wide
    * pixel layout (`encodePng`) — a silently-skipped decode or a float
    * resampler both fail the gate.
    *
    * Scale (100 TB): same batched embarrassingly-parallel shape as m13
    * (fan-out exchange of raw bytes, codec + pool per row, nothing else
    * shuffles); swapping 2×2-mean for a real resampling kernel keeps
    * every Spark-side seam unchanged. */
  def m14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media: Dataset[PngRow] = mediaTable(s, dir)
      .repartition($"doc_id")
      .select($"doc_id", $"bytes").as[MediaRow]
      .mapPartitions(_.map(r => PngRow(r.doc_id, encodePng(r.bytes))))
    val batchSize = 64
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          poolDecoded(r.png) match {
            case Some(f) => f.copy(doc_id = r.doc_id)
            case None => // decoded=false fails the gate — see m13
              PooledFeatures(r.doc_id, decoded = false, 0, 0, 0L, 0L)
          }
        }
      }
      // sortedNarrow, as in m13: don't pay the codec twice for sampling
    }.toDF().transform(df => Q.sortedNarrow(df, df("doc_id")))
  }

  val m14Sql: String =
    """WITH px AS (
      |  SELECT doc_id,
      |    CAST(((i - 1) // 32) // 2 AS BIGINT) AS py,
      |    CAST(((i - 1) % 32) // 2 AS BIGINT) AS pxc,
      |    CAST(ascii(text[i]) AS BIGINT) AS v
      |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
      |cells AS (
      |  SELECT doc_id, py, pxc, SUM(v) // 4 AS pv
      |  FROM px GROUP BY 1, 2, 3),
      |agg AS (
      |  SELECT doc_id, SUM(pv) AS pooled_sum, MAX(pv) AS pooled_max
      |  FROM cells GROUP BY 1)
      |SELECT d.doc_id, TRUE AS decoded, 16 AS pooled_w,
      |  CAST(ceil(greatest(1, ceil(length(d.text) / 32.0)) / 2.0) AS INT)
      |    AS pooled_h,
      |  CAST(COALESCE(a.pooled_sum, 0) AS BIGINT) AS pooled_sum,
      |  CAST(COALESCE(a.pooled_max, 0) AS BIGINT) AS pooled_max
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- m15
  /** One media row with a REAL audio payload. */
  final case class WavRow(doc_id: Long, wav: Array[Byte])
  final case class AudioFeatures(
      doc_id: Long, decoded: Boolean, n_samples: Int, amp_sum: Long,
      amp_sqsum: Long, peak_abs: Long, zero_cross: Long)

  /** Render a payload's bytes into a genuine RIFF/WAVE file (16-bit PCM
    * mono little-endian, 8 kHz) via `javax.sound.sampled` (pure JVM):
    * sample i = (byte i − 128)·256, so every sample statistic is an
    * exact integer function of the text the oracle can recompute. An
    * empty payload emits one zero sample (a zero-frame WAV is not
    * readable back). */
  private[ops] def encodeWav(bytes: Array[Byte], center: Int = 128): Array[Byte] = {
    val n = math.max(1, bytes.length)
    val pcm = new Array[Byte](2 * n)
    var i = 0
    while (i < bytes.length) {
      // clamp keeps off-center renders (m16's center=32) inside 16-bit
      val v = math.min(32767, math.max(-32768, ((bytes(i) & 0xff) - center) * 256))
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** REAL audio decode: format-sniffing `AudioSystem.getAudioInputStream`
    * (the reader is chosen from the RIFF magic, no format hint) + exact
    * integer sample statistics — count, amplitude sum, energy (Σ s²),
    * peak |s|, and zero crossings (sign(s)≥0 transitions). Returns None
    * when no installed reader recognizes the payload or the format is
    * not the 16-bit mono PCM this pipeline ships. */
  private[ops] def decodeWav(bytes: Array[Byte]): Option[AudioFeatures] =
    decodeWavSamples(bytes).map { samples =>
      val n = samples.length
      var (sum, sqsum, peak, zc) = (0L, 0L, 0L, 0L)
      var prevNonNeg = false
      var i = 0
      while (i < n) {
        val v = samples(i)
        sum += v; sqsum += v * v
        val a = math.abs(v); if (a > peak) peak = a
        val nonNeg = v >= 0
        if (i > 0 && nonNeg != prevNonNeg) zc += 1
        prevNonNeg = nonNeg
        i += 1
      }
      AudioFeatures(0L, decoded = true, n, sum, sqsum, peak, zc)
    }

  /** Batched REAL audio decode (the m13 recipe at the audio seam):
    * payloads are genuine RIFF/WAVE PCM renders of the document bytes,
    * decoded back through the JVM's format-sniffing audio codec, with
    * sample-exact integer stats DuckDB recomputes from the text. The
    * gate pins `decoded = true` on every row, so a silently-skipped
    * codec path fails the oracle.
    *
    * Scale (100 TB): identical shape to m13 — one cheap fan-out exchange
    * of the raw bytes spreads codec work across every core, batches
    * bound codec memory per task, nothing shuffles before the final
    * presentation sort; a production pipeline swaps encodeWav for stored
    * assets (and this PCM reader for a compressed-codec JNI) and keeps
    * every Spark-side seam unchanged. */
  def m15(s: SparkSession, dir: String): DataFrame =
    // sortedNarrow, as in m13: don't pay the codec twice for sampling
    m15Body(s, dir).transform(df => Q.sortedNarrow(df, df("doc_id")))

  /** m15 pre-sort body — split out so PlanAuditSpec can see past the
    * sortedNarrow checkpoint boundary (the q02 pattern). */
  private[ops] def m15Body(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir)
      .repartition($"doc_id")
      .select($"doc_id", $"bytes").as[MediaRow]
      .mapPartitions(_.map(r => WavRow(r.doc_id, encodeWav(r.bytes))))
    val batchSize = 64
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          decodeWav(r.wav) match {
            case Some(f) => f.copy(doc_id = r.doc_id)
            case None => // decoded=false fails the gate — see m13
              AudioFeatures(r.doc_id, decoded = false, 0, 0L, 0L, 0L, 0L)
          }
        }
      }
    }.toDF()
  }

  // ---------------------------------------------------------------- m16
  final case class VadFeatures(
      doc_id: Long, decoded: Boolean, n_segments: Long,
      voiced_samples: Long, longest_segment: Long, voiced_ppm: Long)

  /** Voice-activity segmentation over REAL decoded samples — m11's
    * byte-level energy proxy upgraded to the decoded-PCM level the way
    * m13 upgraded m02. The render is SPEECH-SHAPED (center = the word
    * separator, 32): separators land at zero amplitude (silence),
    * letters land loud — so the waveform has the silence-gapped
    * utterance structure real VAD segments. A sample is voiced when
    * |s| ≥ 16384 (byte ≥ 96 under this map), a segment is a maximal
    * voiced run, and a run counts as speech when ≥ 3 samples long.
    * Emits per doc the segment count, total voiced samples, longest
    * run, and exact voiced ppm — the utterance-boundary statistics an
    * audio curation pipeline cuts training clips on. Returns None when
    * the payload doesn't sniff as the expected PCM. */
  private[ops] def decodeVad(bytes: Array[Byte]): Option[VadFeatures] =
    decodeWavSamples(bytes).map { samples =>
      val n = samples.length
      var (voiced, segs, longest, run) = (0L, 0L, 0L, 0L)
      var i = 0
      while (i < n) {
        if (math.abs(samples(i)) >= 16384L) {
          voiced += 1; run += 1
          if (run > longest) longest = run
          if (run == 3) segs += 1 // the run just became a real segment
        } else run = 0
        i += 1
      }
      VadFeatures(0L, decoded = true, segs, voiced, longest,
        if (n == 0) 0L else 1000000L * voiced / n)
    }

  /** Shared sniffing decode → raw 16-bit samples (m15/m16 seam). */
  private[ops] def decodeWavSamples(bytes: Array[Byte]): Option[Array[Long]] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val f = ais.getFormat
      if (f.getSampleSizeInBits != 16 || f.getChannels != 1 ||
        f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        None
      else {
        val data = ais.readAllBytes()
        val n = data.length / 2
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          out(i) =
            if (f.isBigEndian)
              ((data(2 * i).toInt << 8) | (data(2 * i + 1) & 0xff)).toLong
            else
              ((data(2 * i + 1).toInt << 8) | (data(2 * i) & 0xff)).toLong
          i += 1
        }
        Some(out)
      }
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Batched VAD over the real codec seam — same fan-out + batch shape
    * as m15; `decoded = true` pinned so a skipped codec fails the gate.
    * Scale: identical argument to m15. */
  def m16(s: SparkSession, dir: String): DataFrame =
    m16Body(s, dir).transform(df => Q.sortedNarrow(df, df("doc_id")))

  private[ops] def m16Body(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir)
      .repartition($"doc_id")
      .select($"doc_id", $"bytes").as[MediaRow]
      .mapPartitions(_.map(r => WavRow(r.doc_id, encodeWav(r.bytes, center = 32))))
    val batchSize = 64
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          decodeVad(r.wav) match {
            case Some(f) => f.copy(doc_id = r.doc_id)
            case None =>
              VadFeatures(r.doc_id, decoded = false, 0L, 0L, 0L, 0L)
          }
        }
      }
    }.toDF()
  }

  val m16Sql: String =
    """WITH s AS (
      |  SELECT doc_id, i,
      |    CASE WHEN ascii(text[i]) >= 96 THEN 1 ELSE 0 END AS voiced
      |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
      |isl AS (
      |  SELECT doc_id, i - row_number() OVER (
      |      PARTITION BY doc_id ORDER BY i) AS island
      |  FROM s WHERE voiced = 1),
      |runs AS (
      |  SELECT doc_id, island, COUNT(*) AS run_len
      |  FROM isl GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS n_segments,
      |    SUM(run_len) AS voiced_samples,
      |    MAX(run_len) AS longest_segment
      |  FROM runs GROUP BY 1)
      |SELECT d.doc_id, TRUE AS decoded,
      |  CAST(COALESCE(a.n_segments, 0) AS BIGINT) AS n_segments,
      |  CAST(COALESCE(a.voiced_samples, 0) AS BIGINT) AS voiced_samples,
      |  CAST(COALESCE(a.longest_segment, 0) AS BIGINT) AS longest_segment,
      |  CAST(1000000 * COALESCE(a.voiced_samples, 0)
      |    // greatest(1, length(d.text)) AS BIGINT) AS voiced_ppm
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val m15Sql: String =
    """WITH s AS (
      |  SELECT doc_id, i,
      |    (CAST(ascii(text[i]) AS BIGINT) - 128) * 256 AS v
      |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
      |lagged AS (
      |  SELECT doc_id, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      |  FROM s),
      |agg AS (
      |  SELECT doc_id, SUM(v) AS amp_sum, SUM(v * v) AS amp_sqsum,
      |    MAX(abs(v)) AS peak_abs,
      |    SUM(CASE WHEN prev IS NOT NULL AND (v >= 0) != (prev >= 0)
      |        THEN 1 ELSE 0 END) AS zero_cross
      |  FROM lagged GROUP BY 1)
      |SELECT d.doc_id, TRUE AS decoded,
      |  CAST(greatest(1, length(d.text)) AS INT) AS n_samples,
      |  CAST(COALESCE(a.amp_sum, 0) AS BIGINT) AS amp_sum,
      |  CAST(COALESCE(a.amp_sqsum, 0) AS BIGINT) AS amp_sqsum,
      |  CAST(COALESCE(a.peak_abs, 0) AS BIGINT) AS peak_abs,
      |  CAST(COALESCE(a.zero_cross, 0) AS BIGINT) AS zero_cross
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val m13Sql: String =
    """WITH chars AS (
      |  SELECT doc_id, CAST(ascii(text[i]) AS BIGINT) AS b
      |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
      |agg AS (SELECT doc_id, SUM(b) AS px_sum, MAX(b) AS px_max
      |        FROM chars GROUP BY doc_id)
      |SELECT d.doc_id, TRUE AS decoded, 32 AS width,
      |  CAST(greatest(1, ceil(length(d.text) / 32.0)) AS INT) AS height,
      |  CAST(COALESCE(a.px_sum, 0) AS BIGINT) AS px_sum,
      |  CAST(COALESCE(a.px_max, 0) AS BIGINT) AS px_max
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- m17
  /** End-to-end media curation chain — the multimodal t54 (VERDICT r15
    * item 7): ONE gated plan composes the three audited m-family
    * substrates the way a real asset-curation pass runs them:
    *   (1) m05's exact tier: content-digest dedup, canonical = min
    *       doc_id per md5 — identical bytes collapse first;
    *   (2) m12's perceptual tier ON THE SURVIVORS: per-frame 60-bit
    *       dHash, 4×15 banding with the hot-bucket (≤ 1000) cut,
    *       hamming ≤ 6, pairs sharing ≥ 2 tolerant frames — then the
    *       greedy min-id collapse: any survivor with a perceptual
    *       near-dup of SMALLER doc_id drops (da < db in every pair, so
    *       the drop set is exactly the distinct db side — deterministic,
    *       no closure needed, and both engines compute it identically);
    *   (3) m08's decode budget OVER THE KEPT SET: the per-source
    *       cluster-sizing report (batches at size 32, straggler ppm)
    *       a decode pass would be provisioned with — plus the funnel
    *       counts (raw → exact-kept → kept) that audit each tier's bite.
    *
    * Determinism: digests, bit math and floor divisions end to end;
    * ORDER BY source.
    *
    * Scale (100 TB): payloads never shuffle — the exact tier exchanges
    * 16-byte digests (m05's argument), the perceptual tier exchanges
    * (doc_id, sig) longs with the hot-bucket cut bounding pair fan-out
    * (m12's argument), and the survivor filters are id-only joins (the
    * frame-hash kernel runs over all docs map-side; re-running it on
    * the ~2% exact dups beats shuffling payloads to filter first). The
    * final report is a metadata-only map-side-combining aggregate to
    * |sources| rows (m08's argument). */
  def m17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, dir)
    def perDoc = media.select($"doc_id", $"source",
      md5($"bytes").as("h"), $"meta.n_bytes".cast(LongType).as("n_bytes"))
    // (1) exact tier: canonical ids per content digest
    val canon = perDoc.groupBy($"h").agg(min($"doc_id").as("doc_id"))
    val exactKept = perDoc.join(canon, Seq("h", "doc_id"), "left_semi")
      .select($"doc_id", $"source", $"n_bytes")
      .localCheckpoint(eager = false) // reused: sig filter, funnel, budget
    // (2) perceptual tier on the survivors (m12's banded substrate)
    val sigs = media
      .withColumn("txt", decode($"bytes", "UTF-8"))
      .select($"doc_id",
        explode(graft.functions.FrameDHash($"txt", 61, 32)).as("sig"))
      .distinct()
      .join(exactKept.select($"doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint(eager = false) // bucket census + both join sides
    val bands = sigs
      .withColumn("b", explode(sequence(lit(0), lit(3))))
      .select($"doc_id", $"sig", $"b",
        expr("shiftright(sig, b * 15) & 32767").as("bv"))
      .localCheckpoint(eager = false)
    val keptBuckets = bands.groupBy($"b", $"bv")
      .agg(count(lit(1)).as("n")).filter($"n" <= 1000)
      .select($"b", $"bv")
    val kb = bands.join(keptBuckets.hint("SHUFFLE_HASH"), Seq("b", "bv"))
    val drops = kb.as("a").hint("SHUFFLE_HASH")
      .join(kb.as("b").hint("SHUFFLE_HASH"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id") &&
          expr("bit_count(a.sig ^ b.sig) <= 6"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .distinct()
      .groupBy($"da", $"db").agg(count(lit(1)).as("n_matched"))
      .filter($"n_matched" >= 2)
      .select($"db".as("doc_id")).distinct()
    val kept = exactKept.join(drops, Seq("doc_id"), "left_anti")
    // (3) decode budget + funnel over the kept set
    val funnel = perDoc.groupBy($"source").agg(count(lit(1)).as("n_raw"))
      .join(exactKept.groupBy($"source").agg(count(lit(1)).as("n_exact")),
        Seq("source"))
    kept.groupBy($"source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum($"n_bytes").as("total_bytes"),
        max($"n_bytes").as("max_bytes"))
      .join(funnel, Seq("source"))
      .select(
        $"source", $"n_raw", $"n_exact", $"n_kept",
        $"total_bytes", $"max_bytes",
        expr("(n_kept + 31) div 32").as("n_batches"),
        expr("(max_bytes * 1000000) div total_bytes").as("straggler_ppm"))
      .orderBy($"source")
  }

  val m17Sql: String =
    """WITH perdoc AS (
      |  SELECT doc_id, source, md5(text) AS h,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |canon AS (SELECT h, MIN(doc_id) AS doc_id FROM perdoc GROUP BY h),
      |exact_kept AS (
      |  SELECT p.doc_id, p.source, p.n_bytes
      |  FROM perdoc p JOIN canon c ON p.h = c.h AND p.doc_id = c.doc_id),
      |fr AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(text) >= 61
      |      THEN (length(text) - 61) // 32 + 1 ELSE 0 END AS nf
      |  FROM documents),
      |sg0 AS (
      |  SELECT DISTINCT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, 60),
      |        i -> CASE WHEN ascii(text[k * 32 + i]) > ascii(text[k * 32 + i + 1])
      |          THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)),
      |      (a, b) -> a + b) AS sig
      |  FROM fr, UNNEST(generate_series(0, CAST(nf AS INT) - 1)) AS t(k)
      |  WHERE nf > 0),
      |sg AS (SELECT sg0.* FROM sg0 JOIN exact_kept USING (doc_id)),
      |bands AS (
      |  SELECT doc_id, sig, b, (sig >> (b * 15)) & 32767 AS bv
      |  FROM sg, UNNEST(generate_series(0, 3)) AS t(b)),
      |keptb AS (SELECT b, bv FROM (
      |    SELECT b, bv, COUNT(*) AS n FROM bands GROUP BY 1, 2)
      |  WHERE n <= 1000),
      |kb AS (SELECT bands.* FROM bands JOIN keptb
      |       ON bands.b = keptb.b AND bands.bv = keptb.bv),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sig AS sa, b.sig AS sb
      |  FROM kb a JOIN kb b ON a.b = b.b AND a.bv = b.bv
      |    AND a.doc_id < b.doc_id
      |    AND bit_count(xor(a.sig, b.sig)) <= 6),
      |drops AS (
      |  SELECT DISTINCT db AS doc_id FROM (
      |    SELECT da, db, COUNT(*) AS n_matched FROM cand GROUP BY 1, 2)
      |  WHERE n_matched >= 2),
      |kept AS (
      |  SELECT e.* FROM exact_kept e
      |  WHERE e.doc_id NOT IN (SELECT doc_id FROM drops)),
      |funnel AS (
      |  SELECT r.source, r.n_raw, x.n_exact FROM
      |    (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
      |     FROM perdoc GROUP BY source) r
      |  JOIN
      |    (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
      |     FROM exact_kept GROUP BY source) x
      |  ON r.source = x.source)
      |SELECT k.source, f.n_raw, f.n_exact,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(k.n_bytes) AS BIGINT) AS total_bytes,
      |  MAX(k.n_bytes) AS max_bytes,
      |  CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches,
      |  CAST((MAX(k.n_bytes) * 1000000) // SUM(k.n_bytes) AS BIGINT)
      |    AS straggler_ppm
      |FROM kept k JOIN funnel f ON k.source = f.source
      |GROUP BY k.source, f.n_raw, f.n_exact
      |ORDER BY k.source""".stripMargin

  def all: Seq[Q] = Seq(
    Q("m01_binary_meta", m01, Some(m01Sql)),
    Q("m02_feature_extract", m02, Some(m02Sql)),
    Q("m03_frame_sample", m03, Some(m03Sql)),
    Q("m04_resize", m04, Some(m04Sql)),
    Q("m05_media_dedup", m05, Some(m05Sql)),
    Q("m06_scene_cuts", m06, Some(m06Sql)),
    Q("m07_pair_manifest", m07, Some(m07Sql)),
    Q("m08_decode_budget", m08, Some(m08Sql)),
    Q("m09_video_neardup", m09, Some(m09Sql)),
    Q("m10_payload_concentration", m10, Some(m10Sql)),
    Q("m11_window_energy", m11, Some(m11Sql)),
    Q("m12_perceptual_neardup", m12, Some(m12Sql)),
    Q("m13_image_decode", m13, Some(m13Sql)),
    Q("m14_real_resize", m14, Some(m14Sql)),
    Q("m15_audio_decode", m15, Some(m15Sql)),
    Q("m16_audio_vad", m16, Some(m16Sql)),
    Q("m17_curation_chain", m17, Some(m17Sql)))
}
