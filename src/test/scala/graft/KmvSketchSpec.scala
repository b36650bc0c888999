package graft

import graft.operators.KmvSketch
import graft.operators.KmvSketch.k
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMV bottom-k sketch: set-function purity (order/duplicate/partitioning
  * insensitive), exactness below k, merge = union, estimator accuracy at
  * the analytic bound, and the set-algebra (union/intersection) closure
  * the contamination estimate builds on. */
class KmvSketchSpec extends SparkSpec {

  import org.apache.spark.sql.expressions.UserDefinedFunction

  private lazy val sk: UserDefinedFunction = udaf(KmvSketch.agg)

  private def hashed(ids: DataFrame): DataFrame = {
    ids.selectExpr(s"${KmvSketch.hashExpr("id")} AS h")
  }

  private def sketchOf(ids: DataFrame, parts: Int): Array[Long] = {
    hashed(ids).repartition(parts).agg(sk(col("h"))).collect()(0)
      .getSeq[Long](0).toArray
  }

  test("below k the sketch IS the distinct hash set; estimate exact") {
    val ids = spark.range(0, 500).toDF("id")
    val s = sketchOf(ids, 4)
    assert(s.length == 500 && s.sameElements(s.sorted.distinct))
    val est = hashed(ids).agg(sk(col("h")).as("s"))
      .select(KmvSketch.estDistinct(col("s"))).collect()(0).getDouble(0)
    assert(est == 500.0)
  }

  test("set function: partitioning, row order and duplicates do not change the bits") {
    val ids = spark.range(0, 100000).toDF("id")
    val one = sketchOf(ids, 1)
    val many = sketchOf(ids, 23)
    assert(one.sameElements(many), "partitioning changed the sketch")
    val tripled = sketchOf(ids.union(ids).union(ids.orderBy(desc("id"))), 7)
    assert(one.sameElements(tripled), "duplicates/order changed the sketch")
    assert(one.length == k && one.sameElements(one.sorted.distinct))
  }

  test("two shards' sketches merge into the corpus sketch exactly") {
    val all = spark.range(0, 100000).toDF("id")
    val whole = sketchOf(all, 8)
    // Shard by parity, sketch separately, merge via the UNION-sketch
    // column algebra — bit-identical to sketching the whole corpus.
    val sa = hashed(all.filter(col("id") % 2 === 0)).agg(sk(col("h")).as("sa"))
    val sb = hashed(all.filter(col("id") % 2 === 1)).agg(sk(col("h")).as("sb"))
    val merged = sa.crossJoin(sb)
      .select(KmvSketch.unionSketch(col("sa"), col("sb")).as("u"))
      .collect()(0).getSeq[Long](0).toArray
    assert(whole.sameElements(merged), "shard merge != whole-corpus sketch")
  }

  test("estimator lands inside the analytic error envelope (~3/sqrt(k))") {
    val n = 200000
    val est = hashed(spark.range(0, n).toDF("id")).agg(sk(col("h")).as("s"))
      .select(KmvSketch.estDistinct(col("s"))).collect()(0).getDouble(0)
    val relErr = math.abs(est - n) / n
    assert(relErr < 3.0 / math.sqrt(k.toDouble),
      s"est $est vs $n: rel err $relErr outside 3/sqrt(k)")
  }

  test("overlap estimate from two sketches tracks a known 1/3 Jaccard") {
    // A = [0, 100k), B = [50k, 150k): |A∩B| = 50k, |A∪B| = 150k, J = 1/3.
    val a = hashed(spark.range(0, 100000).toDF("id")).agg(sk(col("h")).as("sa"))
    val b = hashed(spark.range(50000, 150000).toDF("id")).agg(sk(col("h")).as("sb"))
    val u = KmvSketch.unionSketch(col("sa"), col("sb"))
    val row = a.crossJoin(b).select(
      (KmvSketch.interCount(u, col("sa"), col("sb")).cast("double")
        / size(u).cast("double")).as("j"),
      ((KmvSketch.interCount(u, col("sa"), col("sb")).cast("double")
        / size(u).cast("double")) * KmvSketch.estDistinct(u)).as("inter"))
      .collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0 / 3.0) < 0.06,
      s"jaccard ${row.getDouble(0)} far from 1/3")
    assert(math.abs(row.getDouble(1) - 50000.0) / 50000.0 < 0.15,
      s"overlap ${row.getDouble(1)} far from 50k")
  }

  test("streamed deltas re-sketch to the batch sketch exactly, across a resumed drain") {
    import graft.streaming.KmvStream
    val landing = tempDir("kmv_landing") + "/obs"
    val state = tempDir("kmv_state")
    val cp = tempDir("kmv_cp")
    val all = spark.range(0, 60000).toDF("id")
      .withColumn("g", (col("id") % 3).cast("string"))
    def obs(df: DataFrame) = {
      df.selectExpr("g", s"${KmvSketch.hashExpr("id")} AS h")
    }
    // Wave 1 drains; wave 2 lands later and a SECOND drain resumes from
    // the checkpoint (only new files roll up).
    obs(all.filter(col("id") % 2 === 0)).coalesce(3)
      .write.mode("append").parquet(landing)
    KmvStream.runAvailableNow(spark, landing, state, cp, maxFilesPerTrigger = 1)
    obs(all.filter(col("id") % 2 === 1)).coalesce(2)
      .write.mode("append").parquet(landing)
    KmvStream.runAvailableNow(spark, landing, state, cp, maxFilesPerTrigger = 1)

    val streamed = KmvStream.sketches(spark, state).orderBy(col("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
    val batch = obs(all).groupBy(col("g")).agg(sk(col("h")).as("s"))
      .orderBy(col("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case ((g1, s1), (g2, s2)) =>
      assert(g1 == g2 && s1.sameElements(s2),
        s"group $g1: streamed sketch != batch sketch")
    }
  }

  test("pairwise merge is associative and commutative (the matrix estimator's algebra)") {
    // Three shards; every parenthesization and order of the pairwise
    // union-sketch merge must produce the same bits as sketching the
    // whole — what licenses estimating an n-way matrix from per-source
    // sketches alone (any reduction tree a 1000-executor combine picks).
    val all = spark.range(0, 90000).toDF("id")
    def shard(r: Int): DataFrame = all.filter(col("id") % 3 === r)
    val Seq(sa, sb, sc) = (0 to 2).map(r => sketchOf(shard(r), 3))
    def mergeArr(x: Array[Long], y: Array[Long]): Array[Long] =
      (x ++ y).distinct.sorted.take(k)
    val abC = mergeArr(mergeArr(sa, sb), sc)
    val aBC = mergeArr(sa, mergeArr(sb, sc))
    val cab = mergeArr(mergeArr(sc, sa), sb)
    val whole = sketchOf(all, 9)
    assert(abC.sameElements(aBC) && abC.sameElements(cab),
      "pairwise merge is not associative/commutative")
    assert(abC.sameElements(whole), "merged shards != whole-corpus sketch")
    // The Aggregator's own merge agrees with the column-algebra merge.
    val viaAgg = {
      import KmvSketch.Buf
      def buf(a: Array[Long]) =
        Buf(java.util.Arrays.copyOf(a, k), a.length)
      val m = KmvSketch.agg.merge(KmvSketch.agg.merge(buf(sa), buf(sb)), buf(sc))
      KmvSketch.agg.finish(m)
    }
    assert(viaAgg.sameElements(whole), "Aggregator merge != column algebra")
  }

  test("declared llm_kmv_matrix estimates track the exact overlap matrix") {
    // The oracle row proves the ESTIMATES are deterministic; this pins
    // that they are also close to truth: for each pair, the sketch
    // Jaccard must sit within the analytic envelope of the exact gram
    // Jaccard (k=1024 → ~3/sqrt(k) ≈ 0.094 absolute, plus truth's own
    // scale) — computed here over the same 5-gram universe.
    val est = SparkEntry.specs("llm_kmv_matrix").fn(spark, sfDir)
      .select(col("src_a"), col("src_b"), col("jaccard_est"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val exact = SparkEntry.specs("llm_source_overlap").fn(spark, sfDir)
      .select(col("src_a"), col("src_b"), col("jaccard"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(est.nonEmpty && exact.keySet.subsetOf(est.keySet))
    exact.foreach { case (pair, j) =>
      val e = est(pair)
      assert(math.abs(e - j) <= 0.094 + 0.25 * j,
        s"$pair: sketch jaccard $e vs exact $j outside envelope")
    }
  }

  test("SQL door: kmv_sketch(h) via spark.sql matches the DataFrame path") {
    KmvSketch.register(spark)
    val ids = spark.range(0, 5000).toDF("id")
    hashed(ids).createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql("SELECT kmv_sketch(h) AS s FROM kmv_in")
      .collect()(0).getSeq[Long](0).toArray
    assert(viaSql.sameElements(sketchOf(ids, 5)))
  }
}
