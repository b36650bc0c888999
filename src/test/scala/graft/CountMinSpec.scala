package graft

import org.apache.spark.sql.functions._

/** Count-min sketch properties (`rel_cms_freq`, operators/CountMin.scala):
  * the structural guarantees the 100 TB story rests on — sharded counter
  * grids merge by SUM to exactly the global grid, and point estimates
  * never undercount — checked on the fixture, not assumed. */
class CountMinSpec extends SparkSpec {

  test("CMS grids merge by SUM: sharded build == global build, and estimates never undercount") {
    val s = spark
    import s.implicits._
    val li = s.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val seeds = expr("explode(sequence(0, 3))").as("i")
    def grid(df: org.apache.spark.sql.DataFrame) = df
      .select($"l_partkey", seeds)
      .select($"i", expr(
        "md5_long(concat('cms', CAST(i AS STRING), ':', CAST(l_partkey AS STRING))) & 8191")
        .as("b"))
      .groupBy($"i", $"b").agg(count(lit(1)).as("c"))
    // Global single-pass grid.
    val global = grid(li)
    // 16 arbitrary shards, one grid each, merged by per-cell SUM — the
    // associativity that makes the sketch a map-side combine on a cluster.
    val merged = (0 until 16)
      .map(k => grid(li.filter(pmod($"l_orderkey", lit(16)) === k)))
      .reduce(_ unionByName _)
      .groupBy($"i", $"b").agg(sum($"c").as("c"))
    assert(merged.join(global, Seq("i", "b"), "full")
      .filter(merged("c") =!= global("c") ||
        merged("c").isNull || global("c").isNull)
      .isEmpty, "sharded CMS merge must equal the single-pass grid exactly")
    // Estimate >= truth for EVERY key (not just the declared probe set).
    val est = li.select($"l_partkey").distinct().select($"l_partkey", seeds)
      .withColumn("b", expr(
        "md5_long(concat('cms', CAST(i AS STRING), ':', CAST(l_partkey AS STRING))) & 8191"))
      .join(global, Seq("i", "b"), "left")
      .groupBy($"l_partkey").agg(min(coalesce($"c", lit(0L))).as("est"))
    val exact = li.groupBy($"l_partkey").agg(count(lit(1)).as("exact"))
    assert(est.join(exact, "l_partkey").filter($"est" < $"exact").isEmpty,
      "CMS point estimate undercut the true frequency — impossible by construction")
  }

  test("registered cms_sketch aggregator is bit-identical to the query spelling's grid") {
    val s = spark
    import s.implicits._
    val li = s.read.parquet(s"$sfDir/lineitem.parquet")
    // Aggregator-built flat sketch.
    val cmsUdaf = udaf(graft.operators.CountMin.agg)
    val sk = li.agg(cmsUdaf($"l_partkey".cast("string")).as("sk"))
      .as[Seq[Long]].head()
    // Query-spelling grid, pivoted into the same flat layout.
    val seeds = expr("explode(sequence(0, 3))").as("i")
    val flat = new Array[Long](graft.operators.CountMin.cells)
    li.select($"l_partkey", seeds)
      .select($"i", expr(
        "md5_long(concat('cms', CAST(i AS STRING), ':', CAST(l_partkey AS STRING))) & 8191")
        .as("b"))
      .groupBy($"i", $"b").agg(count(lit(1)).as("c"))
      .collect().foreach(r =>
        flat(r.getInt(0) * graft.operators.CountMin.width + r.getLong(1).toInt) =
          r.getLong(2))
    assert(sk === flat.toSeq,
      "aggregator sketch must equal the explode-spelling grid cell-for-cell")
    // And the aggregator-path query is row-identical to the spelling.
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
    assert(canon(SparkEntry.queries("rel_cms_agg")(s, sfDir)) ===
      canon(SparkEntry.queries("rel_cms_freq")(s, sfDir)))
  }

  test("rsi and stochastic stay inside their [0, 100] bands with full windows only") {
    val s = spark
    val rsi = SparkEntry.queries("ts_rsi")(s, sfDir)
    assert(rsi.filter(col("rsi") < 0 || col("rsi") > 100).isEmpty,
      "RSI must lie in [0, 100]")
    val so = SparkEntry.queries("ts_stochastic")(s, sfDir)
    assert(so.filter(col("k") < 0 || col("k") > 100 ||
      col("d") < 0 || col("d") > 100).isEmpty,
      "%K/%D must lie in [0, 100]")
    assert(so.filter(col("d").isNull).isEmpty,
      "every reported row must carry a full 3-row %D window")
  }
}
