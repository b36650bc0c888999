package graft

import org.apache.spark.sql.functions._

/** Semantics checks for the dedup family at sf0.001 (the oracle-differential
  * gate covers exactness at sf0.01; this pins what the oracle can't express).
  */
class DedupSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("minhash-LSH reproduces the exact-Jaccard pair set (recall = 1 here)") {
    val exact = run("llm_dedup_jaccard").select("doc_a", "doc_b")
    val lsh = run("llm_dedup_minhash").select("doc_a", "doc_b")
    assert(exact.except(lsh).count() === 0L, "LSH missed exact pairs")
    assert(lsh.except(exact).count() === 0L, "LSH produced false pairs")
  }

  test("sweep's r=3/b=42 LSH pass reproduces the exact tau=0.7 pair set") {
    // The threshold sweep trades the prefix-filtered exact candidate pass
    // (quadratic on df-saturated corpora) for banded LSH at the loose
    // threshold; this pins that the swap is invisible in the result —
    // the same cross-check the oracle runs at sf0.01/sf0.1.
    import graft.llm.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("text"))
    val near = docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
    val lsh = Dedup.lshJaccardPairs(near, tau = 0.7, r = 3, b = 42)
      .select("doc_a", "doc_b")
    val exact = Dedup.exactJaccardPairs(near, tau = 0.7)
      .select("doc_a", "doc_b")
    assert(exact.except(lsh).count() === 0L, "sweep LSH missed exact pairs")
    assert(lsh.except(exact).count() === 0L, "sweep LSH produced false pairs")
  }

  test("simhash candidates include every constructed near-dup pair") {
    // Every doc and its first-word-dropped variant (id + 1e6) should land
    // within hamming ≤ 6 of each other.
    val pairs = run("llm_dedup_simhash")
      .filter(col("doc_b") === col("doc_a") + 1000000)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val found = pairs.count()
    assert(found >= (nDocs * 9) / 10, s"simhash found $found of $nDocs variant pairs")
    // And hamming distances for those pairs are small in absolute terms.
    assert(pairs.agg(max("hamming")).head.getAs[Number](0).intValue() <= 6)
  }

  test("simhash bucket cap drops pathological buckets, bounding the candidate join") {
    val s = spark
    import s.implicits._
    import graft.llm.Dedup
    // 500 byte-identical docs: every (chunk index, chunk value) bucket has
    // 500 members — far above the cap — so WITHOUT the cap the candidate
    // join would emit 500·499/2 ≈ 125k pairs; with it, those buckets are
    // dropped entirely (degenerate content is exact-dedup territory).
    val hot = (1L to 500L)
      .map(i => (i, "identical boilerplate text shared by every one of these rows"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashMd5Pairs(hot).count() === 0L,
      "oversized bucket must be dropped, not joined")

    // At-or-under the cap the join still runs: n identical docs yield all
    // n·(n−1)/2 hamming-0 pairs.
    val n = Dedup.simhashBucketCap
    val small = (1L to n.toLong)
      .map(i => (i, "identical boilerplate text shared by every one of these rows"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashMd5Pairs(small).count() === n.toLong * (n - 1) / 2)
  }

  test("incremental dedup against a band index equals from-scratch dedup") {
    import graft.llm.Dedup
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "lower(text) AS text")
    val full = d.unionAll(d.selectExpr(
      "doc_id + 1000000 AS doc_id",
      "regexp_replace(text, '^\\\\S+\\\\s+', '') AS text"))
    // Split by content hash: ~1/3 of documents arrive "today".
    val isNew = expr("pmod(xxhash64(text), 3) = 0")
    val old = full.filter(!isNew)
    val fresh = full.filter(isNew)

    val fromScratch = Dedup.minhashPairs(full).select("doc_a", "doc_b")
    val incremental = Dedup.minhashPairs(old).select("doc_a", "doc_b")
      .unionAll(Dedup.incrementPairs(fresh, Dedup.bandsOf(old), Dedup.setsOf(old))
        .select("doc_a", "doc_b"))
    assert(fromScratch.except(incremental).count() === 0L,
      "incremental path missed pairs")
    assert(incremental.except(fromScratch).count() === 0L,
      "incremental path invented pairs")
    assert(fresh.count() > 0 && old.count() > 0, "split must be non-trivial")

    // Partial-failure recovery: a re-run whose batch OVERLAPS the index
    // (some "new" docs already indexed) must not emit self-pairs or
    // duplicate rows.
    val overlap = fresh.unionAll(old.limit(20))
    val rerun = Dedup.incrementPairs(overlap, Dedup.bandsOf(old), Dedup.setsOf(old))
    assert(rerun.filter(col("doc_a") === col("doc_b")).count() === 0L,
      "overlapping re-run emitted self-pairs")
    assert(rerun.count() === rerun.select("doc_a", "doc_b").distinct().count(),
      "overlapping re-run emitted duplicate pair rows")
  }

  test("exact dedup is idempotent and halves the doubled corpus") {
    val out = run("llm_dedup_exact")
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.count() === nDocs)                     // one survivor per text
    assert(out.filter(col("n_copies") =!= 2).count() === 0L)
    assert(out.filter(col("doc_id") >= 1000000).count() === 0L) // keeps min id
  }

  test("embedding near-dup finds exactly the constructed pairs") {
    val out = run("llm_dedup_embed")
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(out.count() === nVecs)
    assert(out.filter(col("vec_b") =!= col("vec_a") + 1000000).count() === 0L)
    assert(out.filter(col("cosine") < 0.99).count() === 0L)
  }

  test("dedup eval confusion counts tie out against its own two legs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("text"))
    val corpus = docs.unionAll(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
    val nCand = graft.llm.Dedup.simhashMd5Pairs(corpus).count()
    val nTruth = graft.llm.Dedup.lshJaccardPairs(corpus, tau = 0.8).count()
    val r = run("llm_dedup_eval").collect().head
    val (tp, fp, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
    assert(tp + fp === nCand, "tp+fp must equal the candidate-pair count")
    assert(tp + fn === nTruth, "tp+fn must equal the ground-truth pair count")
    assert(r.getAs[Double]("precision") === tp.toDouble / (tp + fp))
    assert(r.getAs[Double]("recall") === tp.toDouble / (tp + fn))
    // The constructed near-dups guarantee a non-degenerate matrix.
    assert(tp > 0)
  }
}
