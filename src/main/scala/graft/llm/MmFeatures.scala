package graft.llm

import graft.api.Scratch
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Decode-once image-feature materialization.
  *
  * The image-curation queries (`llm_mm_phash`, `llm_mm_dedup`,
  * `llm_mm_gate`) all start from the same expensive step: decode every PNG
  * payload through the real `javax.imageio` codec and derive the narrow
  * per-asset feature row (decoder-reported dims + 64-bit perceptual hash).
  * Run standalone, each query re-decoded the corpus — at sf30 that was
  * ~120 s of repeated codec work for three queries whose combined
  * post-decode logic costs seconds. At 100 TB the decode fleet is the
  * dominant cost of the whole image pipeline, so features are decoded
  * ONCE and persisted; every downstream query plans against the narrow
  * feature table and the payload bytes never leave the decode pass.
  *
  * Two layers:
  *
  *   - [[appendBatch]] — the production shape: decode ONE corpus increment
  *     and append its feature rows under a `batch=<id>` partition dir,
  *     never re-touching earlier batches (the incremental-index discipline
  *     of [[graft.streaming.IndexStream]] applied to decode). Decode work
  *     per call is proportional to the increment, not the corpus.
  *   - [[features]] — per-JVM decode-once resolution for a corpus dir: the
  *     first caller builds the feature table via three [[appendBatch]]
  *     increments (exercising the incremental path as the ONLY build
  *     path); every later caller — any query in the session — reads the
  *     persisted parquet. On a real cluster the features dir lives on
  *     shared storage next to the warehouse; in this sandbox it is a
  *     scratch dir (all JVMs share one host filesystem).
  *
  * Feature schema (narrow on purpose — this is what shuffles downstream):
  * `(asset_id LONG, w INT, h INT, phash_hi LONG, phash_lo LONG)`. The
  * hash ships as two 32-bit halves because the top bit of a single BIGINT
  * would overflow signed arithmetic in the DuckDB oracle.
  *
  * Reference tie-in: the reference pipeline materializes each layer once
  * and reads it many times (bronze→silver→gold,
  * `02_silver_layer_processing.py:11-44`); this applies the same
  * layer-materialization economics to the decode step of a multimodal
  * corpus.
  */
object MmFeatures {

  /** Total images decoded in this JVM — spec instrumentation proving the
    * decode-once contract (local-mode executors share the JVM). Not used
    * for any query semantics. */
  val decodeCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The decode kernel: one real ImageIO decode per image asset →
    * (asset_id, decoder-reported w/h, 64-bit average-hash as two halves).
    * Exact integer arithmetic end-to-end (gray·64 vs Σgray, never a float
    * mean) so the DuckDB oracle can recompute the grid analytically from
    * the generator's closed form. Pure per-asset map work: payloads never
    * shuffle; the output row is 36 bytes. */
  def decodeFeatures(in: Dataset[Multimodal.MediaAsset]): DataFrame = {
    import in.sparkSession.implicits._
    in.filter(_.meta.kind == "image")
      .mapPartitions { it =>
        it.map { a =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(a.media))
          decodeCount.incrementAndGet()
          val (w, h) = (img.getWidth, img.getHeight)
          val g3 = new Array[Long](64)
          var i = 0
          while (i < 64) {
            val p = img.getRGB((i % 8) * w / 8, (i / 8) * h / 8) & 0xffffff
            g3(i) = ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
            i += 1
          }
          val sum = g3.sum
          var hi = 0L; var lo = 0L
          i = 0
          while (i < 64) {
            if (g3(i) * 64 > sum) {
              if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
            }
            i += 1
          }
          (a.asset_id, w, h, hi, lo)
        }
      }
      .toDF("asset_id", "w", "h", "phash_hi", "phash_lo")
  }

  /** Decode ONE corpus increment and append its features under
    * `featuresDir/batch=<batchId>`. Idempotent per batch id (a re-run of
    * the same increment overwrites only its own partition dir — the
    * batch-id-overwrite exactly-once discipline of
    * [[graft.streaming.CurateStream]]); earlier batches are never read or
    * rewritten, so decode work is proportional to the increment. */
  def appendBatch(
      featuresDir: String,
      batchId: Long,
      increment: Dataset[Multimodal.MediaAsset]): Unit =
    decodeFeatures(increment)
      .write.mode("overwrite")
      .parquet(s"$featuresDir/batch=$batchId")

  /** Read the persisted feature table (all batches; the `batch` partition
    * column is maintenance metadata, dropped here). */
  def read(spark: SparkSession, featuresDir: String): DataFrame =
    graft.sources.Parquet.open(spark, featuresDir)
      .select("asset_id", "w", "h", "phash_hi", "phash_lo")

  /** AUDIO decode kernel — one real `javax.sound` PCM decode per audio
    * asset → DSP features (exact-integer energy + zero crossings, the
    * `llm_mm_audio` columns) PLUS the md5 digest of the decoded sample
    * stream (the `llm_mm_audio_dedup` key), so the whole audio family
    * costs ONE codec pass. Digesting the DECODED stream (not the
    * container bytes) is what lets two differently-padded containers
    * with identical audio dedup together. */
  def decodeAudioFeatures(in: org.apache.spark.sql.Dataset[Multimodal.MediaAsset]): DataFrame = {
    import in.sparkSession.implicits._
    in.filter(_.meta.kind == "audio")
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { a =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(a.media))
            val fmt = ais.getFormat
            val bytes = ais.readAllBytes()
            ais.close()
            audioDecodeCount.incrementAndGet()
            val n = bytes.length / 2
            var sumSq = 0L; var zc = 0L; var prevNeg = false; var i = 0
            while (i < n) {
              val s0 = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
              sumSq += s0.toLong * s0
              val neg = s0 < 0
              if (i > 0 && neg != prevNeg) zc += 1
              prevNeg = neg
              i += 1
            }
            md.reset()
            Some((a.asset_id, fmt.getSampleRate.toInt, fmt.getChannels,
              fmt.getSampleSizeInBits, n.toLong, sumSq, zc,
              md.digest(bytes).map("%02x".format(_)).mkString))
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }
      .toDF("asset_id", "sample_rate", "channels", "bits", "n_frames",
        "sum_sq", "zero_cross", "pcm_digest")
  }

  /** Audio decodes in this JVM — spec instrumentation like [[decodeCount]]. */
  val audioDecodeCount = new java.util.concurrent.atomic.AtomicLong(0L)

  private val audioBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Decode-once audio features for the corpus at `dir` — same contract
    * as [[features]]: first caller decodes and persists (incremental
    * `batch=` thirds, id predicates pushed before payload synthesis),
    * every later query reads the narrow parquet. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    val fdir = audioBuilt.computeIfAbsent(dir, _ => {
      val out = Scratch.dir("mm_audio_features")
      (0L to 2L).foreach { b =>
        decodeAudioFeatures(Multimodal.assets(spark, dir,
          col("doc_id") % 3 === 1 && expr("(doc_id DIV 3) % 3") === b))
          .write.mode("overwrite").parquet(s"$out/batch=$b")
      }
      out
    })
    graft.sources.Parquet.open(spark, fdir)
      .select("asset_id", "sample_rate", "channels", "bits", "n_frames",
        "sum_sq", "zero_cross", "pcm_digest")
  }

  /** Consolidate accumulated `batch=` increments into one partition —
    * the maintenance the decode table needs at fleet scale, where
    * per-partition compaction is a no-op (each micro-batch dir already
    * holds few files; the accretion is ACROSS batch dirs: one per
    * trigger, thousands per day of scan-planning drag).
    *
    * All but the newest `keepLast` batch dirs are rewritten into the
    * SMALLEST merged batch id. Safe only once the maintaining stream has
    * committed past the merged ids — a replay can then never target them
    * (the [[graft.streaming.FeatureStream]] checkpoint guarantees it);
    * keepLast ≥ 1 keeps the most recent, still-replayable trigger out of
    * the merge.
    *
    * Crash protocol (the [[graft.streaming.Maintenance]] manifest
    * discipline): the rewrite lands in a hidden tmp dir (carrying a
    * `_merged` marker file), then a `.compact_manifest` at the table
    * ROOT is the commit point. Completion order is delete-originals →
    * rename tmp→dest → delete manifest LAST, so the manifest keeps
    * naming the swap until the merged data is durable at its final
    * path; the marker (which travels with the rename) tells a re-run
    * whether the dest dir is the merged output or a not-yet-deleted
    * original, so no crash point can delete the only copy. A crash
    * before the manifest discards the tmp on the next run; after it,
    * the next run completes the swap idempotently BEFORE reading the
    * table. Returns (dirs before, dirs after). */
  def compactBatches(
      spark: SparkSession,
      featuresDir: String,
      keepLast: Int = 1): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(featuresDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0, 0)
    // Single-maintainer guard (see graft.sources.MaintenanceLease): two
    // live compactions would race the same tmp dir and root manifest.
    val lease = graft.sources.MaintenanceLease.acquire(
      fs, root, "MmFeatures.compactBatches")
    try compactBatchesLocked(spark, featuresDir, keepLast)
    finally graft.sources.MaintenanceLease.release(fs, lease)
  }

  private def compactBatchesLocked(
      spark: SparkSession,
      featuresDir: String,
      keepLast: Int): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(featuresDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root, ".compact_tmp_batches")
    val manifest = new Path(root, ".compact_manifest")

    def finishSwap(): Unit = if (fs.exists(manifest)) {
      val names = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(manifest)),
        java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
      val destName = names.minBy(_.stripPrefix("batch=").toLong)
      val dest = new Path(root, destName)
      val marker = new Path(dest, "_merged")
      if (fs.exists(marker)) {
        // Rename already happened: dest holds the merged data. Clear any
        // straggler originals and a leftover tmp, then commit.
        names.filter(_ != destName).foreach { n =>
          val p = new Path(root, n)
          if (fs.exists(p)) fs.delete(p, true)
        }
        if (fs.exists(tmp)) fs.delete(tmp, true)
      } else if (fs.exists(new Path(tmp, "_merged"))) {
        // Merged data still in tmp: finish the swap. Originals (dest's
        // name included) are safe to delete — the manifest survives this
        // whole block, so any crash here re-enters one of these branches.
        names.foreach { n =>
          val p = new Path(root, n)
          if (fs.exists(p)) fs.delete(p, true)
        }
        fs.rename(tmp, dest)
      }
      // else: manifest without a complete tmp or a renamed dest — an
      // aborted rewrite; originals are untouched, so just fall through.
      fs.delete(manifest, false) // LAST: commit point until durable
    }
    finishSwap() // complete a crashed prior run before reading

    val batches = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName)
      .sortBy(n => n.stripPrefix("batch=").toLong)
    val nBefore = batches.length
    val toMerge = batches.dropRight(math.max(keepLast, 1))
    if (toMerge.length <= 1) return (nBefore, nBefore)

    fs.delete(tmp, true)
    spark.read.parquet(toMerge.map(n => s"$featuresDir/$n"): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    // Marker rides the rename: finishSwap uses it to tell merged output
    // from a leftover original at the same path.
    fs.create(new Path(tmp, "_merged"), true).close()
    // Commit point: the manifest names exactly the dirs this rewrite
    // replaces.
    val out = fs.create(manifest, true)
    out.write(toMerge.mkString("\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    finishSwap()
    (nBefore, nBefore - toMerge.length + 1)
  }

  // Corpus dir → features dir, resolved once per JVM. ConcurrentHashMap's
  // computeIfAbsent guarantees a single build even under concurrent first
  // callers (Verify/Bench are sequential; specs may not be).
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Decode-once features for the corpus at `dir`: built on first use via
    * three [[appendBatch]] increments (id-sliced so the incremental path
    * IS the production path), then served from parquet for every
    * downstream query in this JVM. */
  def features(spark: SparkSession, dir: String): DataFrame = {
    val fdir = built.computeIfAbsent(dir, _ => {
      val out = Scratch.dir("mm_features")
      // Deterministic thirds of the image population — stands in for three
      // ingest days; each append decodes only its slice. Both the image
      // predicate (doc_id % 3 = 0) and the batch slice are id predicates
      // pushed to the parquet scan BEFORE payload synthesis, so each
      // append synthesizes and decodes exactly its increment's PNGs.
      (0L to 2L).foreach { b =>
        appendBatch(out, b, Multimodal.assets(spark, dir,
          col("doc_id") % 3 === 0 && expr("(doc_id DIV 3) % 3") === b))
      }
      out
    })
    read(spark, fdir)
  }
}
