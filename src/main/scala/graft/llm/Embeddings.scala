package graft.llm

import graft.api.{Exact, QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Embedding shaping operators: the pooling/normalization step between
  * chunk-level embeddings and document-level retrieval (mean-pool a group
  * of vectors, L2-normalize the result).
  *
  * Determinism discipline (what makes this oracle-checkable in floating
  * point): the group's vectors are collected SORTED by id and folded
  * sequentially — the per-dimension sum has one fixed association order on
  * both engines, instead of the partial-aggregation order a naive
  * per-dimension `sum()` would expose. The pooled unit vector is emitted as
  * (bucket, dim, value) rows so every output cell is scalar.
  *
  * Scale note: `collect_list` bounds state by group size — pooling groups
  * are chunk counts per document (tens to hundreds), never the corpus. For
  * genuinely unbounded groups the fallback is two-pass per-dimension
  * decimal sums; that trade-off is the same one `rel_agg_stringagg` makes.
  */
object Embeddings extends QueryModule {

  /** Iterative relations (k-means rounds, PCA components) cut lineage with
    * RELIABLE eager checkpoints — same discipline as [[Dedup.labels]]; the
    * checkpointed state is O(k×dims) / O(dims²), never corpus-sized.
    * Directory resolution (cluster-visible first) in [[graft.api.Checkpoints]]. */
  private def ensureCheckpointDir(s: org.apache.spark.sql.SparkSession): Unit =
    graft.api.Checkpoints.ensureDir(s)

  /** Power-iteration/deflation chains amplify quantization: a single
    * half-boundary rounding difference between engines at DECIMAL(30,6)
    * granularity (1e-6) grows through 15 normalization rounds past the
    * 1e-8 output rounding (observed at sf0.1). The PCA paths therefore
    * accumulate at DECIMAL(38,12) — 1e-12 granularity keeps any boundary
    * hit orders of magnitude below the output precision. */
  private def d12sum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")
  private def sql12Sum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(38,12))) AS DOUBLE)"

  /** Driver-side replica of `d12sum` over a term list: each double term is
    * converted to DECIMAL(38,12) exactly the way Spark's Cast does it
    * (decimal rendering of the double, then HALF_UP to scale 12 — DuckDB's
    * double→DECIMAL cast rounds the same way), summed exactly, and the
    * exact sum converted back to the nearest double. Bit-compatible with
    * the distributed spelling, so the driver-side PCA iteration below
    * stays differentially checkable against the oracle's unrolled CTEs. */
  private def d12sumLocal(terms: Iterator[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    while (terms.hasNext) {
      val t = terms.next()
      acc = acc.add(new java.math.BigDecimal(java.lang.Double.toString(t))
        .setScale(12, java.math.RoundingMode.HALF_UP))
    }
    acc.doubleValue
  }

  /** Gram-matrix power iteration with deflation, driver-side: the Gram is
    * O(dims²) and corpus-independent, so after the ONE distributed corpus
    * pass builds it, iterating ON the driver is the scale-correct split —
    * the same state discipline as k-means centroids (O(k×dims) driver
    * state). Returns `components` vectors of `dims` doubles. */
  private def powerDeflate(gram0: Array[Array[Double]], dims: Int,
      rounds: Int, components: Int): Seq[Array[Double]] = {
    var g = gram0.map(_.clone())
    (1 to components).map { _ =>
      var v = Array.fill(dims)(0.25)
      for (_ <- 1 to rounds) {
        val y = Array.tabulate(dims)(i =>
          d12sumLocal(Iterator.tabulate(dims)(j => g(i)(j) * v(j))))
        val nrm = math.sqrt(d12sumLocal(y.iterator.map(x => x * x)))
        v = y.map(_ / nrm)
      }
      val lam = d12sumLocal(
        for (i <- Iterator.range(0, dims); j <- Iterator.range(0, dims))
          yield g(i)(j) * v(i) * v(j))
      g = Array.tabulate(dims, dims)((i, j) => g(i)(j) - lam * v(i) * v(j))
      v
    }
  }

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // Matryoshka truncation diagnostic: how much cosine similarity is
    // lost when vectors are cut to their first d dims (the MRL question —
    // can cheap prefix embeddings serve recall while full vectors
    // re-rank?). Over the deterministic consecutive-id pair sample, the
    // |cos_d − cos_64| error aggregates per prefix length; d=64 is the
    // built-in zero anchor. One equi-join on vec_id (shuffle-bounded),
    // four slice-cosines per pair in one codegen'd pass (stack), exact
    // decimal mean — no sampling randomness, no driver state.
    "llm_embed_matryoshka" -> QuerySpec(
      fn = (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
          .select(col("vec_id"), col("ve"))
        val pairs = e.join(
          e.select((col("vec_id") - 1).as("vec_id"), col("ve").as("vb")),
          "vec_id")
          .select(col("ve").as("va"), col("vb"))
          .withColumn("cfull", VectorOps.cosine("va", "vb"))
        val dims = Seq(8, 16, 32, 64)
        val stackArgs = dims.map(d =>
          s"$d, abs(vec_cosine(slice(va, 1, $d), slice(vb, 1, $d)) - cfull)")
          .mkString(", ")
        pairs
          .select(expr(s"stack(${dims.size}, $stackArgs) AS (d, err)"))
          .groupBy(col("d"))
          .agg(count(lit(1)).as("n_pairs"),
            Exact.davg(col("err")).as("mean_abs_err"),
            max(col("err")).as("max_abs_err"))
          .select(col("d").cast("int").as("d"), col("n_pairs"),
            col("mean_abs_err"), col("max_abs_err"))
      },
      oracle = {
        def cosD(d: Int, a: String, b: String): String = {
          def norm2(v: String) =
            s"""list_reduce(list_transform(generate_series(1, $d),
                 i -> $v[i] * $v[i]), (x, y) -> x + y)"""
          s"""CASE WHEN ${norm2(a)} = 0 OR ${norm2(b)} = 0 THEN 0.0
              ELSE list_reduce(list_transform(generate_series(1, $d),
                     i -> $a[i] * $b[i]), (x, y) -> x + y)
                   / (sqrt(${norm2(a)}) * sqrt(${norm2(b)})) END"""
        }
        val arms = Seq(8, 16, 32, 64).map(d =>
          s"SELECT $d AS d, abs(${cosD(d, "va", "vb")} - cfull) AS err FROM p")
          .mkString(" UNION ALL ")
        Some(s"""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)]
                   AS ve
          FROM embeddings),
        p AS (
          SELECT a.ve AS va, b.ve AS vb, ${cosD(64, "a.ve", "b.ve")} AS cfull
          FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
        x AS ($arms)
        SELECT CAST(d AS INT) AS d, COUNT(*) AS n_pairs,
               ${Exact.sqlAvg("err")} AS mean_abs_err,
               MAX(err) AS max_abs_err
        FROM x GROUP BY d""")
      }),

    // ------------------------------------------------------------------
    // Johnson–Lindenstrauss random projection (Achlioptas ±1 signs):
    // 64 dims → 16 by a hash-derived sign matrix — the CHEAP
    // dimensionality reduction used before ANN/clustering when PCA's
    // corpus pass is not worth it (the projection needs no training and
    // preserves pairwise distances within JL distortion). Signs come from
    // md5 (≡ DuckDB md5_number_upper) so both engines hold the SAME
    // matrix; every projected coordinate is a FIXED-ORDER fold over the
    // 64 input dims (float addition is order-dependent — an aggregate's
    // arrival order would break the hash match), scaled by the exact
    // 1/√16 = 0.25. Output: 4 sample coordinates + the projected squared
    // norm (itself a fixed-order fold over the 16 coordinates). Pure
    // map-side codegen work; the corpus never shuffles.
    "llm_embed_project" -> QuerySpec(
      fn = (s, dir) => {
        // The ±1 sign matrix is a CONSTANT (md5 of 'rp:j:i' — row-
        // independent), yet the historical HOF spelling recomputed all
        // 16×64 md5 hashes per row inside interpreted lambdas: one
        // single-task stage of 1.27 s for 2 000 rows at sf0.1 (≈ 2 M md5
        // calls + interpreted folds). Hoist the signs to plan time via
        // the SAME Md5Hash.hash bits and unroll each coordinate into a
        // static codegen expression with the identical left-to-right
        // IEEE fold from 0.0 (a + (−x) ≡ a − x exactly), scaled by the
        // same 0.25 — outputs are bit-identical and the oracle is
        // untouched.
        val signs: IndexedSeq[IndexedSeq[Boolean]] =
          (0 to 15).map(j => (1 to 64).map(i =>
            (graft.functions.Md5Hash.hash(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(s"rp:$j:$i")) & 1L) == 0L))
        def projCol(j: Int) =
          lit(0.25) * (1 to 64).foldLeft(lit(0.0)) { (acc, i) =>
            val t = expr(s"element_at(ve, $i)")
            if (signs(j)(i - 1)) acc + t else acc - t
          }
        val withP = (0 to 15).foldLeft(
          Tables.load(s, dir, "embeddings")
            .withColumn("ve", VectorOps.asDouble("embedding"))) {
          (df, j) => df.withColumn(s"_p$j", projCol(j))
        }
        val l2sq = (0 to 15).foldLeft(lit(0.0)) { (acc, j) =>
          acc + col(s"_p$j") * col(s"_p$j")
        }
        withP.select(col("vec_id"),
          col("_p0").as("p0"), col("_p1").as("p1"),
          col("_p2").as("p2"), col("_p3").as("p3"),
          l2sq.as("l2sq"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        p AS (
          SELECT vec_id,
                 [0.25 * list_reduce(
                    list_prepend(CAST(0.0 AS DOUBLE),
                      [CASE WHEN (md5_number_upper('rp:' || CAST(j AS VARCHAR)
                                    || ':' || CAST(i AS VARCHAR)) & 1) = 0
                            THEN ve[i] ELSE -ve[i] END
                       for i in generate_series(1, 64)]),
                    (a, b) -> a + b)
                  for j in generate_series(0, 15)] AS pr
          FROM e)
        SELECT vec_id, pr[1] AS p0, pr[2] AS p1, pr[3] AS p2, pr[4] AS p3,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 [x * x for x in pr]), (a, b) -> a + b) AS l2sq
        FROM p""")),

    "llm_embed_pool" -> QuerySpec(
      fn = (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
          .withColumn("bucket", col("vec_id") % 50)
        e.groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(struct(col("vec_id"), col("ve")))).as("vs"))
          .withColumn("sum", expr("""
            aggregate(vs, transform(sequence(1, 64), x -> CAST(0.0 AS DOUBLE)),
              (acc, v) -> zip_with(acc, v.ve, (a, b) -> a + b))"""))
          .withColumn("mean", expr("transform(sum, x -> x / n)"))
          .withColumn("norm", expr(
            "sqrt(aggregate(mean, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x))"))
          .select(col("bucket"), posexplode(expr("transform(mean, x -> x / norm)")))
          .select(col("bucket"), (col("pos") + 1).as("dim"), col("col").as("value"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT vec_id, vec_id % 50 AS bucket,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        g AS (
          SELECT bucket, count(*) AS n, list(ve ORDER BY vec_id) AS vs
          FROM e GROUP BY bucket),
        p AS (
          SELECT bucket, n,
                 list_reduce(
                   list_prepend([CAST(0.0 AS DOUBLE) for i in generate_series(1, 64)], vs),
                   (acc, v) -> [acc[i] + v[i] for i in generate_series(1, 64)]) AS s
          FROM g),
        m AS (
          SELECT bucket,
                 list_transform(s, x -> x / n) AS mean
          FROM p),
        u AS (
          SELECT bucket, mean,
                 sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(mean, x -> x * x)), (a, b) -> a + b)) AS norm
          FROM m)
        SELECT bucket, dim, mean[dim] / norm AS value
        FROM u, generate_series(1, 64) gs(dim)""")),

    // Hashing-trick featurizer: tokens → signed counts in 64 hash buckets
    // (the classic feature-hashing embedding stand-in, and the bridge from
    // the text operators to the vector ones). Bucket = md5 hash mod 64,
    // sign = hash bit 7 — both reconstructible in DuckDB via
    // md5_number_upper, so the vectors are hash-compared exactly. One
    // shuffle (explode + group), integer-exact values.
    "llm_text_hashvec" -> QuerySpec(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("tok"))
          .withColumn("h", expr("md5_long(tok)"))
          .groupBy(col("doc_id"), pmod(col("h"), lit(64)).as("dim"))
          .agg(sum(when(expr("(h >> 7) & 1") === 1, 1L).otherwise(-1L)).as("value"))
      },
      oracle = Some("""
        SELECT doc_id, CAST(h % 64 AS BIGINT) AS dim,
               CAST(SUM(CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS value
        FROM (SELECT doc_id, md5_number_upper(unnest(string_split_regex(lower(text), '\s+'))) AS h
              FROM documents)
        GROUP BY doc_id, h % 64""")),

    // One Lloyd iteration of k-means (k = 8, seed centroids = the vectors
    // with vec_id 0..7 — a deterministic k-means∥-style seed stand-in):
    // ASSIGN every vector to its nearest centroid (squared L2, centroid-id
    // tie-break), then UPDATE each centroid as the per-dimension mean of
    // its members. The clustering step of an embedding-curation pipeline
    // (topic balancing, IVF coarse quantizer training); iterating to
    // convergence is this same plan in the driver loop [[Dedup.labels]]
    // already demonstrates.
    //
    // Scale shape: centroids BROADCAST onto one corpus pass (k·N distance
    // rows never shuffle — the argmin window partitions by vec_id, which
    // arrives pre-grouped from the crossJoin); the update is a
    // (cluster, dim)-keyed hash aggregate with map-side partials, state
    // O(k × dims) regardless of corpus size. No collect_list anywhere —
    // cluster members are unbounded, so the mean must be an aggregate, not
    // a gathered array.
    //
    // Numeric discipline: distances fold sequentially in one fixed order
    // (bit-identical on both engines); the mean accumulates in
    // DECIMAL(38,12) — associative, partition-order-independent — and
    // divides once in double.
    "llm_embed_kmeans" -> QuerySpec(
      fn = (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
          .select("vec_id", "ve")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("ve").as("cv"))
        val assigned = e.crossJoin(broadcast(cents))
          .withColumn("d2", expr("vec_l2sq(ve, cv)"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
          .filter(col("rn") === 1)
        assigned
          .select(col("cid"), posexplode(col("ve")))
          .groupBy(col("cid").as("cluster_id"), (col("pos") + 1).as("dim"))
          .agg(count(lit(1)).as("n"),
            (sum(col("col").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
              .cast("double") / count(lit(1))).as("centroid"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        c AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id < 8),
        d AS (
          SELECT vec_id, cid, ve,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   [(ve[i] - cv[i]) * (ve[i] - cv[i])
                    for i in generate_series(1, 64)]),
                   (a, b) -> a + b) AS d2
          FROM e, c),
        a AS (
          SELECT vec_id, cid, ve,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM d)
        SELECT cid AS cluster_id, CAST(dim AS INT) AS dim, COUNT(*) AS n,
               CAST(SUM(CAST(ve[dim] AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
                 AS centroid
        FROM a, generate_series(1, 64) gs(dim)
        WHERE rn = 1
        GROUP BY cid, dim""")),

    // ------------------------------------------------------------------
    // Cluster cards: the per-TOPIC summary a curator reads next to the
    // per-source llm_dataset_cards — one row per (cluster, top-5 term):
    // cluster size, cohesion (exact-decimal mean squared distance to the
    // seed centroid), and the cluster's most DISTINCTIVE terms by relative
    // frequency lift ((term share in cluster) / (term share in corpus) —
    // tf-idf's idf is vacuous on the fixture's ~31-term vocabulary, lift
    // is not). Assignment is the llm_embed_kmeans broadcast pass; the
    // term side is one (cluster, term)-keyed hash aggregate whose state is
    // bounded by k x vocabulary, then two broadcast joins of tiny
    // aggregates and a k-partition top-5 window. The lift chain is fixed-
    // order IEEE over exact integer counts.
    "llm_cluster_cards" -> QuerySpec(
      fn = (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
          .select("vec_id", "ve")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("ve").as("cv"))
        val assigned = e.crossJoin(broadcast(cents))
          .withColumn("d2", expr("vec_l2sq(ve, cv)"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
          .filter(col("rn") === 1)
          .select(col("vec_id").as("doc_id"), col("cid"), col("d2"))
        val stats = assigned.groupBy(col("cid"))
          .agg(count(lit(1)).as("n_docs"), Exact.davg(col("d2")).as("cohesion"))
        val ct = assigned
          .join(Tables.load(s, dir, "documents").select("doc_id", "text"), "doc_id")
          .select(col("cid"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
          .groupBy(col("cid"), col("term")).agg(count(lit(1)).as("n_occ"))
        val ctot = ct.groupBy("cid").agg(sum("n_occ").as("cluster_toks"))
        val gt = ct.groupBy("term").agg(sum("n_occ").as("corpus_occ"))
        val gtot = ct.agg(sum("n_occ").as("corpus_toks"))
        val ranked = ct
          .join(broadcast(ctot), "cid")
          .join(broadcast(gt), "term")
          .crossJoin(broadcast(gtot))
          .withColumn("lift",
            (col("n_occ").cast("double") / col("cluster_toks"))
              / (col("corpus_occ").cast("double") / col("corpus_toks")))
          .withColumn("term_rank", row_number().over(
            Window.partitionBy(col("cid"))
              .orderBy(col("lift").desc, col("term"))))
          .filter(col("term_rank") <= 5)
        ranked.join(broadcast(stats), "cid")
          .select(col("cid").as("cluster_id"), col("n_docs"), col("cohesion"),
            col("term_rank"), col("term"), col("n_occ"), col("lift"))
      },
      oracle = Some(s"""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        c AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id < 8),
        d AS (
          SELECT e.vec_id, c.cid,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   [(e.ve[i] - c.cv[i]) * (e.ve[i] - c.cv[i])
                    for i in generate_series(1, 64)]),
                   (a, b) -> a + b) AS d2
          FROM e, c),
        a AS (
          SELECT vec_id AS doc_id, cid, d2 FROM (
            SELECT vec_id, cid, d2,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d) WHERE rn = 1),
        stats AS (
          SELECT cid, COUNT(*) AS n_docs,
                 ${Exact.sqlAvg("d2")} AS cohesion
          FROM a GROUP BY cid),
        tok AS (
          SELECT a.cid,
                 unnest(string_split_regex(lower(doc.text), '\\s+')) AS term
          FROM a JOIN documents doc ON doc.doc_id = a.doc_id),
        ct AS (SELECT cid, term, COUNT(*) AS n_occ FROM tok GROUP BY cid, term),
        ctot AS (SELECT cid, CAST(SUM(n_occ) AS BIGINT) AS cluster_toks
                 FROM ct GROUP BY cid),
        gt AS (SELECT term, CAST(SUM(n_occ) AS BIGINT) AS corpus_occ
               FROM ct GROUP BY term),
        gtot AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS corpus_toks FROM ct),
        ranked AS (
          SELECT ct.cid, ct.term, ct.n_occ,
                 (CAST(ct.n_occ AS DOUBLE) / ctot.cluster_toks)
                   / (CAST(gt.corpus_occ AS DOUBLE) / gtot.corpus_toks) AS lift,
                 row_number() OVER (PARTITION BY ct.cid ORDER BY
                   (CAST(ct.n_occ AS DOUBLE) / ctot.cluster_toks)
                     / (CAST(gt.corpus_occ AS DOUBLE) / gtot.corpus_toks) DESC,
                   ct.term) AS term_rank
          FROM ct JOIN ctot USING (cid) JOIN gt USING (term), gtot)
        SELECT r.cid AS cluster_id, s.n_docs, s.cohesion,
               CAST(r.term_rank AS INT) AS term_rank, r.term, r.n_occ, r.lift
        FROM ranked r JOIN stats s ON s.cid = r.cid
        WHERE r.term_rank <= 5""")),

    // ------------------------------------------------------------------
    // Cluster-balanced sampling — the curation move that keeps a corpus
    // from being dominated by its biggest topic: assign every vector to
    // its nearest seed centroid (the llm_embed_kmeans assignment — one
    // corpus pass against broadcast centroids), then keep at most K per
    // cluster in content-addressed hash order, so membership is a pure
    // function of the data (rerun/partitioning-stable, like every sampler
    // here). The per-cluster cap is a rank<=K window — bounded at the
    // shuffle by InferWindowGroupLimit (see the grouped top-k soak), so
    // no cluster's full membership ever concentrates on one task.
    "llm_sample_balanced" -> QuerySpec(
      fn = (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
          .select("vec_id", "ve")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("ve").as("cv"))
        e.crossJoin(broadcast(cents))
          .withColumn("d2", expr("vec_l2sq(ve, cv)"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("cid"))
          .withColumn("pri",
            expr("md5_long(concat('bal:', CAST(vec_id AS STRING))) & 4294967295"))
          .withColumn("keep_rank", row_number().over(
            Window.partitionBy(col("cid")).orderBy(col("pri"), col("vec_id"))))
          .filter(col("keep_rank") <= 40)
          .select(col("vec_id"), col("cid").as("cluster_id"),
            col("keep_rank").cast("int").as("keep_rank"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        c AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id < 8),
        d AS (
          SELECT vec_id, cid,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   [(ve[i] - cv[i]) * (ve[i] - cv[i])
                    for i in generate_series(1, 64)]),
                   (a, b) -> a + b) AS d2
          FROM e, c),
        a AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d) WHERE rn = 1),
        p AS (
          SELECT vec_id, cid,
                 CAST(md5_number_upper('bal:' || CAST(vec_id AS VARCHAR))
                      & 4294967295 AS BIGINT) AS pri
          FROM a)
        SELECT vec_id, cid AS cluster_id, CAST(keep_rank AS INT) AS keep_rank
        FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY cid ORDER BY pri, vec_id)
                   AS keep_rank
          FROM p)
        WHERE keep_rank <= 40""")),

    // ------------------------------------------------------------------
    // k-means run TO CONVERGENCE (three unrolled Lloyd rounds + a stability
    // verdict): assign → update, three times, then report whether the last
    // two assignments agree — the convergence test a training loop would
    // gate on. Per-round state is the k×dims centroid table, cut with a
    // RELIABLE eager checkpoint each round ([[Dedup.labels]] discipline),
    // so lineage stays O(1) deep and each round is exactly one corpus pass
    // against broadcast centroids — corpus-sized assignments are never
    // materialized. The oracle unrolls the identical rounds as CTEs
    // (pagerank-style), so every intermediate centroid is bit-checked.
    "llm_embed_kmeans_converged" -> QuerySpec(
      fn = (s, dir) => {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        ensureCheckpointDir(s)
        // (Round 15 measured a Fanout widen here and REVERTED it: each
        // unrolled Lloyd round re-reads the scan, so the widen's shuffle
        // repeats per round and the suite number got WORSE, 1.85 → 2.64 s.)
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
          .select("vec_id", "ve")
        def assign(cents: DataFrame): DataFrame =
          e.crossJoin(broadcast(cents))
            .withColumn("d2", expr("vec_l2sq(ve, cv)"))
            // (Pinning the argmin-window exchange at session width to
            // parallelize the single-task DECIMAL update stages was
            // measured WORSE — 2.13 → 2.67 s: four unrolled rounds each
            // pay 32 tasks of scheduling for ~16k rows. Reverted.)
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))))
            .filter(col("rn") === 1)
            .select(col("vec_id"), col("cid"), col("ve"))
        def update(a: DataFrame): DataFrame = a
          .select(col("cid"), posexplode(col("ve")))
          .groupBy(col("cid"), (col("pos") + 1).as("dim"))
          .agg(count(lit(1)).as("n"),
            (sum(col("col").cast(DecimalType(38, 12)))
              .cast("double") / count(lit(1))).as("centroid"))
        def vectors(u: DataFrame): DataFrame = u.groupBy(col("cid"))
          .agg(expr(
            "transform(sort_array(collect_list(struct(dim, centroid))), x -> x.centroid)")
            .as("cv"))
        val c0 = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("ve").as("cv"))
        val c1 = vectors(update(assign(c0))).checkpoint(eager = true)
        val c2 = vectors(update(assign(c1))).checkpoint(eager = true)
        val a2 = assign(c1)
        val a3 = assign(c2)
        val u3 = update(a3)
        val moved = a2.select(col("vec_id"), col("cid").as("prev"))
          .join(a3.select(col("vec_id"), col("cid")), "vec_id")
          .filter(col("prev") =!= col("cid"))
          .agg(count(lit(1)).as("m"))
        u3.crossJoin(broadcast(moved))
          .select(col("cid").as("cluster_id"), col("dim"), col("n"),
            col("centroid"), (col("m") === 0).as("stable"))
      },
      oracle = {
        def assignCtes(k: Int, cents: String) = s"""
        d$k AS (
          SELECT e.vec_id, c.cid, e.ve,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   [(e.ve[i] - c.cv[i]) * (e.ve[i] - c.cv[i])
                    for i in generate_series(1, 64)]),
                   (a, b) -> a + b) AS d2
          FROM e, $cents c),
        a$k AS (
          SELECT vec_id, cid, ve FROM (
            SELECT vec_id, cid, ve,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM d$k) WHERE rn = 1),
        u$k AS (
          SELECT cid, CAST(dim AS INT) AS dim, COUNT(*) AS n,
                 CAST(SUM(CAST(ve[dim] AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
                   AS centroid
          FROM a$k, generate_series(1, 64) gs(dim)
          GROUP BY cid, dim),
        c$k AS (
          SELECT cid, list(centroid ORDER BY dim) AS cv FROM u$k GROUP BY cid)"""
        Some(s"""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        c0 AS (SELECT vec_id AS cid, ve AS cv FROM e WHERE vec_id < 8),
        ${assignCtes(1, "c0")},
        ${assignCtes(2, "c1")},
        ${assignCtes(3, "c2")},
        moved AS (
          SELECT COUNT(*) AS m
          FROM a2 JOIN a3 USING (vec_id) WHERE a2.cid <> a3.cid)
        SELECT cid AS cluster_id, dim, n, centroid,
               (SELECT m FROM moved) = 0 AS stable
        FROM u3""")
      }),

    // ------------------------------------------------------------------
    // Distributed PCA top component (power iteration over the Gram
    // matrix, first 16 dims): ONE corpus pass builds the 16×16 Gram
    // relation (a bounded 256× pair fan-out feeding a hash aggregate —
    // the only data-sized work). The iteration itself runs ON THE DRIVER
    // over the collected O(dims²), corpus-independent Gram — five
    // matrix-vector rounds of 256 fused multiply-adds are driver state
    // exactly like k-means centroids, and spending a distributed round
    // trip per matrix-vector product would be pure fixed overhead (the
    // earlier distributed spelling of these rounds cost ~0.5 s/round on
    // 256 rows). Decimal-exact sums (d12sumLocal = the Cast-compatible
    // replica of d12sum) keep every round bit-identical to the oracle's
    // unrolled CTE iterations; x₀ = 1/√16 = 0.25 exactly, so even the
    // start is representable.
    "llm_embed_pca" -> QuerySpec(
      fn = (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
        val pairs = e.select(explode(expr(
          """flatten(transform(sequence(1, 16), i ->
               transform(sequence(1, 16), j ->
                 named_struct('i', i, 'j', j,
                   'prod', element_at(ve, i) * element_at(ve, j)))))"""))
          .as("p"))
          .select(col("p.i").as("i"), col("p.j").as("j"), col("p.prod").as("prod"))
        val gram = pairs.groupBy(col("i"), col("j")).agg(d12sum(col("prod")).as("g"))
        val arr = Array.ofDim[Double](16, 16)
        gram.collect().foreach(r =>
          arr(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getDouble(2))
        val v = powerDeflate(arr, dims = 16, rounds = 5, components = 1).head
        import s.implicits._
        v.zipWithIndex.map { case (x, d) => (d + 1, x) }.toSeq
          .toDF("dim", "component")
          .select(col("dim"), round(col("component"), 8).as("component"))
      },
      oracle = {
        val sqlSum = sql12Sum _
        val base = s"""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 16)] AS ve
          FROM embeddings),
        pairs AS (
          SELECT unnest(flatten(
                   [[{'i': i, 'j': j, 'prod': ve[i] * ve[j]}
                     for j in generate_series(1, 16)]
                    for i in generate_series(1, 16)]), recursive := true)
          FROM e),
        g AS (SELECT i, j, ${sqlSum("prod")} AS g FROM pairs GROUP BY i, j),
        x0 AS (SELECT i AS j, CAST(0.25 AS DOUBLE) AS v
               FROM generate_series(1, 16) t(i))"""
        val iters = (1 to 5).map { k =>
          s"""
        y$k AS (
          SELECT g.i, ${sqlSum("g.g * p.v")} AS y
          FROM g JOIN x${k - 1} p ON g.j = p.j GROUP BY g.i),
        x$k AS (
          SELECT i AS j,
                 y / (SELECT SQRT(${sqlSum("y * y")}) FROM y$k) AS v
          FROM y$k)"""
        }.mkString(",")
        Some(s"""$base,$iters
        SELECT CAST(j AS INT) AS dim, ROUND(v, 8) AS component FROM x5""")
      }),

    // ------------------------------------------------------------------
    // PCA top-3 components via DEFLATION: power-iterate the Gram for the
    // leading component, subtract its rank-1 contribution (G ← G − λ·v·vᵀ,
    // λ = vᵀGv), repeat. Still ONE corpus pass — the Gram matrix is built
    // distributed, then collected (O(dims²), corpus-independent) and all
    // 15 power rounds + 2 deflations run on the driver (see llm_embed_pca:
    // a distributed round trip per 256-row matrix-vector product is pure
    // fixed overhead — this very query cost 6.6 s in that spelling, ~0.7 s
    // in this one, identical bits out). Decimal-exact local sums keep λ,
    // the deflated entries, and all three components bit-identical to the
    // oracle's unrolled CTE program.
    "llm_embed_pca3" -> QuerySpec(
      fn = (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
        val pairs = e.select(explode(expr(
          """flatten(transform(sequence(1, 16), i ->
               transform(sequence(1, 16), j ->
                 named_struct('i', i, 'j', j,
                   'prod', element_at(ve, i) * element_at(ve, j)))))"""))
          .as("p"))
          .select(col("p.i").as("i"), col("p.j").as("j"), col("p.prod").as("prod"))
        val gram = pairs.groupBy(col("i"), col("j")).agg(d12sum(col("prod")).as("g"))
        val arr = Array.ofDim[Double](16, 16)
        gram.collect().foreach(r =>
          arr(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getDouble(2))
        val comps = powerDeflate(arr, dims = 16, rounds = 5, components = 3)
        import s.implicits._
        (for {
          (v, c) <- comps.zipWithIndex
          (x, d) <- v.zipWithIndex
        } yield (c + 1, d + 1, x))
          .toDF("component", "dim", "value")
          .select(col("component"), col("dim"), round(col("value"), 8).as("value"))
      },
      oracle = {
        val sqlSum = sql12Sum _
        // Per-component power rounds + deflation, unrolled: x{k}_5 is
        // component k's vector over gram g{k}; g{k+1} = g{k} − λ·v·vᵀ.
        def powerCtes(k: Int) = {
          val rounds = (1 to 5).map { r =>
            s"""
        y${k}_$r AS MATERIALIZED (
          SELECT g.i, ${sqlSum("g.g * p.v")} AS y
          FROM g$k g JOIN x${k}_${r - 1} p ON g.j = p.j GROUP BY g.i),
        x${k}_$r AS MATERIALIZED (
          SELECT i AS j,
                 y / (SELECT SQRT(${sqlSum("y * y")}) FROM y${k}_$r) AS v
          FROM y${k}_$r)"""
          }.mkString(",")
          s"""
        x${k}_0 AS (SELECT i AS j, CAST(0.25 AS DOUBLE) AS v
                    FROM generate_series(1, 16) t(i)),$rounds"""
        }
        def deflateCtes(k: Int) = s"""
        lam$k AS MATERIALIZED (
          SELECT ${sqlSum("g.g * vi.v * vj.v")} AS l
          FROM g$k g JOIN x${k}_5 vi ON g.i = vi.j
                     JOIN x${k}_5 vj ON g.j = vj.j),
        g${k + 1} AS MATERIALIZED (
          SELECT g.i, g.j,
                 g.g - (SELECT l FROM lam$k) * vi.v * vj.v AS g
          FROM g$k g JOIN x${k}_5 vi ON g.i = vi.j
                     JOIN x${k}_5 vj ON g.j = vj.j)"""
        Some(s"""
        WITH e AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 16)] AS ve
          FROM embeddings),
        pairs AS (
          SELECT unnest(flatten(
                   [[{'i': i, 'j': j, 'prod': ve[i] * ve[j]}
                     for j in generate_series(1, 16)]
                    for i in generate_series(1, 16)]), recursive := true)
          FROM e),
        g1 AS MATERIALIZED (SELECT i, j, ${sqlSum("prod")} AS g FROM pairs GROUP BY i, j),
        ${powerCtes(1)},
        ${deflateCtes(1)},
        ${powerCtes(2)},
        ${deflateCtes(2)},
        ${powerCtes(3)}
        SELECT 1 AS component, CAST(j AS INT) AS dim, ROUND(v, 8) AS value FROM x1_5
        UNION ALL
        SELECT 2 AS component, CAST(j AS INT) AS dim, ROUND(v, 8) AS value FROM x2_5
        UNION ALL
        SELECT 3 AS component, CAST(j AS INT) AS dim, ROUND(v, 8) AS value FROM x3_5""")
      })
  )
}
