package graft

import graft.llm.{Dedup, TextFeatures}
import org.apache.spark.sql.functions._

/** The shingle-once contract: every column of the persisted feature table
  * equals its from-text derivation bit-for-bit, and every feature-fed
  * query plan reproduces its from-corpus twin's pair set exactly. The
  * oracle gate at sf0.01 re-checks the end results; this pins WHY it
  * holds — per-column and per-path equality.
  */
class TextFeaturesSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("")).toSeq

  private lazy val near = Dedup.nearCorpus(spark, sfDir)
  private lazy val feat = TextFeatures.features(spark, sfDir, "near")

  test("stored sh/n columns equal Dedup.setsOf exactly") {
    val fromFeat = feat.select(col("doc_id"),
      array_join(expr("transform(sh, x -> CAST(x AS STRING))"), ",").as("sh"),
      col("n"))
    val fromText = Dedup.setsOf(near).select(col("doc_id"),
      array_join(expr("transform(sh, x -> CAST(x AS STRING))"), ",").as("sh"),
      col("n"))
    assert(canon(fromFeat) === canon(fromText))
  }

  test("stored-signature bands equal Dedup.bandsOf at every declared (r, b)") {
    // The per-perm prefix property is what makes ONE stored 256-perm
    // signature serve every banding; if it broke, candidate sets would
    // silently shrink. All three declared bandings checked.
    for ((r, b) <- Seq((4, 32), (4, 64), (3, 42))) {
      val fromFeat = canon(TextFeatures.bands(feat, r, b))
      val fromText = canon(Dedup.bandsOf(near, r, b))
      assert(fromFeat === fromText, s"band mismatch at r=$r b=$b")
    }
  }

  test("stored simhash equals simhash_md5 of the tokenized text") {
    val fromText = near.withColumn("toks", split(col("text"), "\\s+"))
      .select(col("doc_id"), expr("simhash_md5(toks)").as("simhash"))
    assert(canon(feat.select("doc_id", "simhash")) === canon(fromText))
  }

  test("stored wins column explodes to the passage window-key rows") {
    val L = 40
    val fromText = near.filter(length(col("text")) > L)
      .select(col("doc_id"), explode(expr(
        s"""transform(
              filter(sequence(1, length(text) - $L),
                     i -> substring(text, i, 1) = ' '),
              i -> md5_long(substring(text, i + 1, $L)))""")).as("w"))
      .distinct()
    val fromFeat = feat.select(col("doc_id"), explode(col("wins")).as("w"))
    assert(canon(fromFeat) === canon(fromText))
  }

  test("stored shm column explodes to the md5-keyed shingle rows") {
    val fromText = near
      .withColumn("toks", split(col("text"), "\\s+"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(
             sequence(1, greatest(size(toks) - 2, 1)),
             i -> concat_ws(' ', slice(toks, i, 3))))""")).as("shingle"))
      .select(col("doc_id"), expr("md5_long(shingle)").as("shingle"))
    val fromFeat = feat.select(col("doc_id"), explode(col("shm")).as("shingle"))
    assert(canon(fromFeat) === canon(fromText))
  }

  test("feature-fed pair plans equal their from-corpus twins exactly") {
    // The end-to-end claim per re-pointed family member: identical result
    // set, not just identical inputs.
    assert(canon(Dedup.minhashPairsFeat(feat)) === canon(Dedup.minhashPairs(near)))
    assert(canon(Dedup.lshJaccardPairsFeat(feat, tau = 0.7, r = 3, b = 42)) ===
      canon(Dedup.lshJaccardPairs(near, tau = 0.7, r = 3, b = 42)))
    assert(canon(Dedup.simhashPairsFromHashes(feat.select("doc_id", "simhash"))) ===
      canon(Dedup.simhashMd5Pairs(near)))
    assert(canon(Dedup.passagePairsFromWins(
      feat.select(col("doc_id"), explode(col("wins")).as("w")))) ===
      canon(Dedup.passagePairs(near)))
    assert(canon(Dedup.containmentPairsFromKeys(
      feat.select(col("doc_id"), explode(col("shm")).as("shingle")), feat)) ===
      canon(Dedup.containmentPairs(near)))
  }

  test("sf1 soak: LSH candidate recall equals the exact PPJoin ground truth") {
    assume(sys.env.get("GRAFT_SOAK").contains("1"),
      "soak disabled (set GRAFT_SOAK=1)")
    // The non-vacuous corpus the declared llm_dedup_eval_lsh row cannot
    // reach at gate scale: ~1.2M near-corpus docs, df-saturated 31-word
    // vocabulary — the regime where banded-LSH candidate generation and
    // prefix-filtered exact search genuinely diverge in shape.
    val dir = tempDir("eval_lsh_sf1")
    graft.tools.GenData.generate(spark, dir, 1.0)
    val truth = Dedup.exactJaccardPairs(Dedup.nearCorpus(spark, dir), tau = 0.8)
      .select("doc_a", "doc_b").persist()
    val lsh = Dedup.lshJaccardPairsFeat(
      TextFeatures.features(spark, dir, "near"), tau = 0.8, r = 4, b = 64)
      .select("doc_a", "doc_b")
    val nTruth = truth.count()
    val fn = truth.except(lsh).count()
    val fp = lsh.except(truth).count()
    info(s"sf1 truth pairs=$nTruth, fn=$fn, fp=$fp")
    assert(nTruth > 0, "vacuous ground truth — fixture regression")
    assert(fp === 0L, "exact verification admitted a non-true pair")
    // Analytic bound: per-true-pair miss (1 − 0.8⁴)⁶⁴ ≈ 4e-15 ⇒ expected
    // misses over nTruth pairs ≪ 1 — any observed miss is a band bug,
    // not LSH variance.
    assert(fn === 0L, s"LSH candidates missed $fn of $nTruth true pairs")
    truth.unpersist()
    ()
  }

  test("feature build is incremental: batches partition the corpus") {
    // Three id-sliced batch dirs must union to exactly one row per corpus
    // document — the same doc never derived twice, no doc missed.
    assert(feat.count() === near.count())
    assert(feat.select("doc_id").distinct().count() === near.count())
  }
}
