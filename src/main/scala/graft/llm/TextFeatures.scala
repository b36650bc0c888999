package graft.llm

import graft.api.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shingle-once text-feature materialization — the decode-once discipline
  * of [[MmFeatures]] (images: one codec pass serves every image op)
  * applied to the text near-dup family's highest-volume repeated work.
  *
  * Every near-dup query starts from the same derivations over the same
  * corpus: tokenize, word-3-gram shingles, 64-bit shingle keys, MinHash
  * signature, SimHash fingerprint, passage windows. Run standalone, each
  * of `llm_dedup_{minhash,jaccard,clusters,keep,passage,simhash,
  * containment,threshold_sweep,eval}` re-derived them — at sf100 the five
  * heaviest each cost 400–550 s, dominated by identical re-shingling. At
  * 100 TB the shingle/signature pass is the dominant linear cost of the
  * whole text-dedup pipeline, so features are derived ONCE per (corpus,
  * params) and persisted; every downstream query plans against the narrow
  * feature table and the raw text never leaves the build pass.
  *
  * One row per document:
  * {{{
  *   doc_id   LONG
  *   n        INT          -- |distinct shingles| (the Jaccard denominator)
  *   sh       ARRAY<LONG>  -- xxhash64 shingle keys  (= Dedup.setsOf)
  *   shm      ARRAY<LONG>  -- md5_long shingle keys  (containment's oracle
  *                            hash — DuckDB md5_number_upper ≡ md5_long)
  *   sig      ARRAY<LONG>  -- 256-perm MinHash signature
  *   simhash  LONG         -- 64-bit MD5-token SimHash (oracle-exact)
  *   wins     ARRAY<LONG>  -- distinct 40-char word-anchored passage
  *                            window keys (md5_long)
  * }}}
  *
  * The 256-perm signature serves EVERY banding the family declares,
  * because the permutation family is indexed per-perm (a longer signature
  * is an identical-prefix superset — see [[graft.functions.MinHashSig]]):
  * [[bands]] slices the stored signature into r-row bands for any
  * r·b ≤ 256, producing band hashes bit-identical to
  * `Dedup.bandsOf(corpus, r, b)` — r=4/b=32 (default dedup), r=4/b=64
  * (audit-grade jaccard/split), r=3/b=42 (the τ=0.7 sweep) all read the
  * one stored column. Oracles are untouched: every derived key equals the
  * from-text derivation bit-for-bit (TextFeaturesSpec pins each column).
  *
  * Build layers (the [[MmFeatures]] pattern):
  *   - [[appendBatch]] — derive ONE corpus increment and append under a
  *     `batch=<id>` partition dir; work per call is proportional to the
  *     increment. Idempotent per batch id (partition-dir overwrite).
  *   - [[features]] — per-JVM build-once resolution: the first caller
  *     builds via three id-sliced [[appendBatch]] increments (the
  *     incremental path IS the only build path), later callers read the
  *     persisted parquet. Batch-dir accretion is compacted by
  *     [[MmFeatures.compactBatches]] (schema-agnostic; same manifest-last
  *     crash protocol).
  *
  * The streaming path ([[graft.streaming.CurateStream]]) keeps its own
  * per-batch band/set increments in [[graft.sources.SortedRunIndex]]
  * layout — this table is the BATCH family's shared input; both follow
  * derive-once-per-document.
  */
object TextFeatures {

  /** Stored signature length; [[bands]] serves any r·b ≤ this. */
  val SigPerms = 256

  /** Passage window length (chars) — must match `llm_dedup_passage`'s
    * oracle. */
  private val WinLen = 40

  /** Derive the full feature row for each document of `corpus`
    * (`doc_id`, `text`). One scan, one tokenize, one shingle pass; the
    * signature/simhash fold in codegen'd native expressions; no shuffle
    * at all — pure per-document map work. */
  def build(corpus: DataFrame): DataFrame = {
    corpus
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("shs", expr(
        """array_distinct(transform(
             sequence(1, greatest(size(toks) - 2, 1)),
             i -> concat_ws(' ', slice(toks, i, 3))))"""))
      .select(
        col("doc_id"),
        size(col("shs")).as("n"),
        expr("transform(shs, x -> xxhash64(x))").as("sh"),
        expr("transform(shs, x -> md5_long(x))").as("shm"),
        expr(s"minhash_sig(shs, $SigPerms)").as("sig"),
        expr("simhash_md5(toks)").as("simhash"),
        expr(
          s"""CASE WHEN length(text) > $WinLen THEN
                array_distinct(transform(
                  filter(sequence(1, length(text) - $WinLen),
                         i -> substring(text, i, 1) = ' '),
                  i -> md5_long(substring(text, i + 1, $WinLen))))
              ELSE CAST(array() AS ARRAY<BIGINT>) END""").as("wins"))
  }

  /** Band table (doc_id, band, bh) from the STORED signature — bit-identical
    * to `Dedup.bandsOf(corpus, r, b)` by the per-perm prefix property, with
    * zero re-shingling/re-hashing: one slice-and-hash transform over the
    * signature column. */
  def bands(feat: DataFrame, r: Int = 4, b: Int = 32): DataFrame = {
    require(r * b <= SigPerms,
      s"r*b = ${r * b} exceeds the stored $SigPerms-perm signature")
    // Native codegen band identities — see [[Dedup.bandsOf]]; bit-identical
    // to the historical interpreted-HOF spelling (BandHashesSpec).
    feat.select(col("doc_id"), posexplode(expr(s"band_hashes(sig, $r, $b)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  /** Derive ONE corpus increment's features and append under
    * `featuresDir/batch=<batchId>` — work proportional to the increment,
    * earlier batches never read or rewritten. */
  def appendBatch(featuresDir: String, batchId: Long, increment: DataFrame): Unit =
    build(increment)
      .write.mode("overwrite")
      .parquet(s"$featuresDir/batch=$batchId")

  /** Read the persisted feature table (the `batch` partition column is
    * maintenance metadata, dropped here). */
  def read(spark: SparkSession, featuresDir: String): DataFrame =
    graft.sources.Parquet.open(spark, featuresDir)
      .select("doc_id", "n", "sh", "shm", "sig", "simhash", "wins")

  /** The two corpora the batch dedup family declares: `near` is the
    * duplicate-bearing fixture (documents ∪ first-word-dropped variants);
    * `plain` is the lowercased documents table (curation/split queries). */
  private def corpusOf(s: SparkSession, dir: String, kind: String): DataFrame =
    kind match {
      case "near" => Dedup.nearCorpus(s, dir)
      case "plain" => graft.sources.Tables.load(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("text"))
      case other => throw new IllegalArgumentException(
        s"unknown corpus kind '$other' (expected near|plain)")
    }

  // (corpus dir, kind) → features dir, resolved once per JVM.
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shingle-once features for `(dir, kind)`: built on first use via three
    * id-sliced [[appendBatch]] increments, then served from parquet for
    * every downstream query in this JVM.
    *
    * By default the table lives in a per-JVM scratch dir (fresh sessions
    * rebuild it — correct, self-contained, what the gates exercise). Set
    * `SPARK_GRAFT_TEXTFEAT_DIR` to a base path to persist it ACROSS JVMs
    * instead — `<base>/<kind>` is built once and reused by any later
    * process, which is the production shape (on a real cluster the
    * feature table lives on shared storage next to the warehouse; one
    * nightly build serves every downstream job). The base must be
    * per-corpus — pointing two different corpora at one base would serve
    * the first corpus's features to the second, like any table path. */
  def features(spark: SparkSession, dir: String, kind: String): DataFrame = {
    val fdir = built.computeIfAbsent(s"$kind|$dir", _ =>
      sys.env.get("SPARK_GRAFT_TEXTFEAT_DIR") match {
        case Some(base) =>
          val out = s"$base/$kind"
          val p = new org.apache.hadoop.fs.Path(out)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(new org.apache.hadoop.fs.Path(out, "batch=2")))
            buildBatches(spark, dir, kind, out)
          out
        case None =>
          val out = Scratch.dir(s"text_features_$kind")
          buildBatches(spark, dir, kind, out)
          out
      })
    read(spark, fdir)
  }

  private def buildBatches(spark: SparkSession, dir: String, kind: String,
      out: String): Unit = {
    val corpus = corpusOf(spark, dir, kind)
    (0L to 2L).foreach { b =>
      // Fanout: the build is the family's heaviest per-doc CPU pass
      // (shingle + 256-perm MinHash) and each id-slice of the fixture scan
      // is one task — widen so the derivation parallelizes AND the written
      // batch has enough files for downstream scan parallelism (no-op at
      // cluster scale).
      appendBatch(out, b, graft.api.Fanout.widen(
        corpus.filter(pmod(col("doc_id"), lit(3)) === b)))
    }
  }
}
