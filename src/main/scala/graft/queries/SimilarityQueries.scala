package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * s01 is the exact brute-force baseline: broadcast the (tiny) query set,
  * compute cosine map-side against every vector — at 100 TB this is one scan
  * with no shuffle except the final per-query top-k. s02 is the scale path:
  * a deterministic sign-bit LSH bucket (hash -> equi-join on bucket -> local
  * exact rank), trading recall for a candidate set ~2^bits smaller.
  *
  * Ranking is on round(cosine, 6) with vec_id tie-break so ordering is
  * engine-independent (cosines themselves are bit-identical — double
  * accumulation in index order on both sides).
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  private val nQueries = 5
  private val lshBits = 8
  private val nCells = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact cosine top-5 for each query vector (vec_id < 5).
    "s01" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(round(col("cs"), 6).desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cs", VectorFns.cosine(col("q_emb"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"), round(col("cs"), 4).as("cosine"), col("rank"))
    },

    // IVF-style ANN: a deterministic coarse quantizer (first nCells vectors
    // as centroids — deterministic "training" keeps the oracle exact),
    // vectors assigned to their nearest cell map-side against broadcast
    // centroids, queries probe only their own cell's inverted list. This is
    // the real 100 TB layout: partition/bucket the corpus by cell id and a
    // query touches one partition instead of the full scan.
    "s03" -> { (s, dir) =>
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      // nearest cell per vector (rank on rounded cosine, cent_id tie-break)
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(round(col("ccs"), 6).desc, col("cent_id"))
      def assign(vecs: DataFrame): DataFrame = vecs.crossJoin(broadcast(cents))
        .withColumn("ccs", VectorFns.cosine(col("embedding"), col("cent_emb")))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
      // The corpus assignment has exactly ONE consumer (the probe side) —
      // the query vectors assign themselves from their own pre-filtered
      // scan, so no persist/diamond is needed and nothing is left cached.
      val assigned = assign(e)
      val q = assign(e.filter(col("vec_id") < nQueries))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("cell").as("q_cell"))
      val wRank = Window.partitionBy(col("q_id"))
        .orderBy(round(col("cs"), 6).desc, col("vec_id"))
      assigned.join(broadcast(q),
          col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
        .withColumn("cs", VectorFns.cosine(col("q_emb"), col("embedding")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"), round(col("cs"), 4).as("cosine"), col("rank"))
    },

    // LSH-bucketed ANN: candidates restricted to the query's sign bucket,
    // exact top-3 within the bucket.
    "s02" -> { (s, dir) =>
      val e = emb(s, dir)
        .withColumn("bucket", VectorFns.signBucket(col("embedding"), lshBits))
      val q = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket").as("q_bucket"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(round(col("cs"), 6).desc, col("vec_id"))
      e.join(broadcast(q), col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .withColumn("cs", VectorFns.cosine(col("q_emb"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"), round(col("cs"), 4).as("cosine"), col("rank"))
    },

    // Per-label centroids — the "training" half of an IVF/clustering step:
    // explode dimensions to rows and average per (label, dim). The explode
    // shape (one shuffle keyed by (label, pos)) beats array-wise aggregation
    // at scale: partial averages combine map-side, no single task ever
    // holds a whole label's vectors.
    "s04" -> { (s, dir) =>
      // + 0.0 normalizes IEEE negative zero: a centroid coordinate whose
      // true mean is ~±1e-18 rounds to -0.0 or 0.0 depending on each
      // engine's summation order — equal as doubles, but the harness
      // aligns rows by STRING sort, where "-0.0" != "0.0".
      Tables.loadSpread(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), (round(avg(col("x")), 4) + lit(0.0)).as("c"))
    },

    // Quantized ANN: symmetric per-vector int8 quantization (q_i =
    // round(x_i * 127 / max|x|), the scale factor every production vector
    // store ships) and top-3 by INTEGER dot product — 4× less memory
    // traffic per vector and exact cross-engine parity, since the scoring
    // math never leaves the integer domain (|dot| ≤ 64·127² ≪ 2⁶³). Same
    // broadcast-the-tiny-query-set shape as s01: one corpus scan, no
    // shuffle except the final per-query top-k. Half-way rounding is
    // away-from-zero in BOTH engines (Spark HALF_UP, DuckDB std::round) —
    // verified, not assumed.
    "s05" -> { (s, dir) =>
      val e = emb(s, dir)
      // maxabs is materialized as its own column FIRST: embedding the
      // array_max inside the quantize transform's lambda re-evaluates it
      // per element (Spark does not hoist lambda-invariant subexpressions
      // out of higher-order functions) — O(d^2) per row, ~64x extra work
      // the DuckDB oracle's hoisted CTE never pays
      val withMax = e.select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double"))))
          .as("maxabs"))
      val qvec = when(col("maxabs") === 0d,
          transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => round(x.cast("double") * 127 / col("maxabs")).cast("long")))
      val eq = withMax.select(col("vec_id"), qvec.as("qv"))
      val q = eq.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("qdot").desc, col("vec_id"))
      eq.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("qdot", aggregate(
          zip_with(col("qv"), col("q_qv"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id"), col("qdot"), col("rank"))
    },

    // One exact k-means (Lloyd) iteration — the "semantic dedup /
    // clustering" training step over the embedding corpus, and the
    // refinement loop s03's coarse quantizer feeds from. Deterministic
    // seeding (centroids = vectors 0..k-1) keeps the oracle exact; the
    // squared-L2 assignment distance is computed as
    // dot(x,x) - 2·dot(x,c) + dot(c,c) with the SAME three double dots
    // and operation order on both engines, so the argmin is
    // engine-independent bit-for-bit (belt-and-braces: ranked on
    // round(d2, 6) with cid tie-break, house style). Shape at 100 TB:
    // one scan against k broadcast centroids with the codegen'd distance
    // dots map-side, argmin via the s03 assignment shape (per-vector
    // rank over k candidate rows), then the s04 explode-keyed partial
    // average for the update — no task ever holds a cluster's vectors,
    // and iterating = repeating this one step. Output: new centroid
    // coordinates,
    // cluster sizes, and per-coordinate movement (the convergence
    // signal a pipeline loops on).
    "s06" -> { (s, dir) =>
      val k = 8
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val d2 = VectorFns.dot(col("embedding"), col("embedding")) -
        lit(2) * VectorFns.dot(col("embedding"), col("cv")) +
        VectorFns.dot(col("cv"), col("cv"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(round(col("d2"), 6), col("cid"))
      val assign = e.crossJoin(broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid"), col("embedding"))
      val newc = assign
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(count(lit(1)).as("n"),
          (round(avg(col("x")), 4) + lit(0.0)).as("c"))
      newc.join(broadcast(cents), Seq("cid"))
        .select(col("cid").cast("int").as("cid"), col("pos"), col("n"),
          col("c"),
          (round(col("c") -
            element_at(col("cv"), col("pos") + 1).cast("double"), 4) +
            lit(0.0)).as("delta"))
    },

    // Simplified silhouette — the clustering-quality eval that closes the
    // s04/s06 loop: per point, a = squared distance to its OWN label
    // centroid, b = min squared distance to any OTHER centroid,
    // s = (b−a)/max(a,b) ∈ [−1,1] (the centroid-based silhouette, the
    // form production evals use precisely because it is LINEAR in n —
    // the classic pairwise silhouette is O(n²) by definition). 100 TB
    // shape: centroids are one label-keyed agg; the ≤k-row centroid
    // frame broadcasts back onto the scan (k× row local blowup, no
    // shuffle), and the per-label mean runs in t13's fixed-point-long
    // discipline so it is summation-order-free. FP parity: centroids are
    // the ROUNDED s04 frame (round(avg,4), the accepted knife-edge
    // class); distances expand as dot(v,v) − 2·dot(v,c) + dot(c,c) with
    // left-to-right double accumulation on both engines (the DotProductF
    // / list_dot_product pinned contract), so a and b are bit-identical
    // given identical centroids. A single-label corpus has no "other"
    // centroid: b is null and s defines to 0, not an error.
    "s09" -> { (s, dir) =>
      val e = Tables.loadSpread(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg((round(avg(col("x")), 4) + lit(0.0)).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          p => p.getField("c")).as("cv"))
      val d2 = VectorFns.dot(col("embedding"), col("embedding")) -
        lit(2) * VectorFns.dotHof(col("embedding"), col("cv")) +
        VectorFns.dotHof(col("cv"), col("cv"))
      val ab = e
        .crossJoin(broadcast(cent.select(col("label").as("clabel"), col("cv"))))
        .withColumn("d2", d2)
        .groupBy(col("vec_id"), col("label"))
        .agg(min(when(col("clabel") === col("label"), col("d2"))).as("a"),
          min(when(col("clabel") =!= col("label"), col("d2"))).as("b"))
      ab.withColumn("s_e4",
          when(col("b").isNull, lit(0L))
            .when(greatest(col("a"), col("b")) === 0.0, lit(0L))
            .otherwise(floor((col("b") - col("a")) /
              greatest(col("a"), col("b")) * 10000).cast("long")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_points"), sum(col("s_e4")).as("sil_sum_e4"))
        .select(col("label"), col("n_points"), col("sil_sum_e4"),
          expr("sil_sum_e4 div n_points").as("avg_sil_e4"))
    },

    // ANN quality evaluation: recall@3 of the LSH-bucketed search (s02's
    // candidate rule) against the exact top-3 (s01's rule at k=3) — the
    // measurement loop every ANN deployment runs before trading recall
    // for speed, as a query instead of a notebook. Both arms are the
    // broadcast-tiny-query-set shapes they grade (one corpus scan each,
    // no shuffle besides the final per-query top-k), the hit-join is on
    // (q_id, vec_id) between two ≤ k·|Q| frames, and missing queries
    // (empty LSH bucket) surface as recall 0, not absent rows. Ordering
    // ties are impossible to grade differently across engines: both arms
    // rank on (round(cs, 6) DESC, vec_id), the house rule.
    "s07" -> { (s, dir) =>
      val k = 3
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(round(col("cs"), 6).desc, col("vec_id"))
      val exact = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cs", VectorFns.cosine(col("q_emb"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("vec_id"))
      val eb = e.withColumn("bucket", VectorFns.signBucket(col("embedding"), lshBits))
      val qb = eb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket").as("q_bucket"))
      val approx = eb.join(broadcast(qb),
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .withColumn("cs", VectorFns.cosine(col("q_emb"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(approx, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("k_exact"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"),
          round(sum(coalesce(col("hit"), lit(0))) / count(lit(1)), 4)
            .as("recall"))
    },

    // k-NN graph construction: s02's bucket rule applied CORPUS-WIDE —
    // every vector gets its top-3 neighbors among its LSH bucket mates,
    // the adjacency backbone of graph-based dedup, diversity sampling,
    // and label propagation. Unlike s01/s02's broadcast-tiny-query-set
    // shape, here BOTH sides are the corpus: the join is a bucket-keyed
    // self-equi-join (per-bucket locality is the whole design — no
    // all-pairs anywhere), the per-vector top-3 is WindowGroupLimit-
    // pruned before the vec_id shuffle, and parallelism grows with the
    // number of occupied buckets. Pair work is Σ n_b² = n²/2^bits at a
    // FIXED geometry — quadratic, the exact hazard d11's auto-sizing
    // closed — so bits auto-sizes to max(8, ⌊⌊log₂n⌋/2⌋): bucket count
    // ~√n and bucket size ~√n, the same n^1.5 balance point as d16,
    // with neighbor availability GROWING (√n bucket mates) instead of
    // starving. The formula is integer-exact on both engines (bit
    // length, not FP log2 — JVM log vs DuckDB log2 can differ in the
    // last ulp at a power-of-two boundary). One table: the r20 recall
    // probe measured it harvesting ~1/3 of the >=0.9-cosine edges at the
    // law's bits (every vector still gets its k edges; bucket density,
    // not starvation, is the trade).
    "s08" -> { (s, dir) =>
      val k = 3
      val e = emb(s, dir)
      val n = e.count() // column-less O(footers) count, the d11 pattern
      val bits = math.max(lshBits,
        (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))) / 2)
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(round(col("cs"), 6).desc, col("nbr"))
      val eb = e
        .withColumn("bucket", VectorFns.signBucket(col("embedding"), bits))
      eb.as("x").join(eb.as("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr"),
          VectorFns.cosine(col("x.embedding"), col("y.embedding")).as("cs"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("vec_id"), col("nbr"), round(col("cs"), 4).as("cosine"),
          col("rank"))
    })

  val oracle: Map[String, String] = Map(
    "s01" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |p AS (
        |  SELECT q_id, e.vec_id,
        |    list_dot_product(qv, v) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cs
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
        |r AS (
        |  SELECT q_id, vec_id, cs,
        |    row_number() OVER (PARTITION BY q_id ORDER BY round(cs, 6) DESC, vec_id)::INT AS rank
        |  FROM p)
        |SELECT q_id, vec_id, round(cs, 4) AS cosine, rank FROM r WHERE rank <= 5""".stripMargin,

    "s03" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
        |ac AS (
        |  SELECT vec_id, cent_id,
        |    list_dot_product(v, cv) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS ccs
        |  FROM e CROSS JOIN c),
        |assigned AS (
        |  SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY round(ccs, 6) DESC, cent_id) AS arn
        |    FROM ac) WHERE arn = 1),
        |ea AS (SELECT e.vec_id, v, cell FROM e JOIN assigned USING (vec_id)),
        |q AS (SELECT vec_id AS q_id, v AS qv, cell AS q_cell FROM ea WHERE vec_id < 5),
        |p AS (
        |  SELECT q_id, ea.vec_id,
        |    list_dot_product(qv, v) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cs
        |  FROM ea JOIN q ON ea.cell = q_cell AND ea.vec_id <> q_id),
        |r AS (
        |  SELECT q_id, vec_id, cs,
        |    row_number() OVER (PARTITION BY q_id ORDER BY round(cs, 6) DESC, vec_id)::INT AS rank
        |  FROM p)
        |SELECT q_id, vec_id, round(cs, 4) AS cosine, rank FROM r WHERE rank <= 3""".stripMargin,

    "s02" ->
      """WITH bk AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN embedding[i + 1] > 0 THEN pow(2, i)::BIGINT ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(8)) AS i)
        |  GROUP BY vec_id),
        |e AS (
        |  SELECT e0.vec_id, embedding::DOUBLE[] AS v, bucket
        |  FROM embeddings e0 JOIN bk USING (vec_id)),
        |q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 5),
        |p AS (
        |  SELECT q_id, e.vec_id,
        |    list_dot_product(qv, v) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cs
        |  FROM e JOIN q ON e.bucket = qb AND e.vec_id <> q_id),
        |r AS (
        |  SELECT q_id, vec_id, cs,
        |    row_number() OVER (PARTITION BY q_id ORDER BY round(cs, 6) DESC, vec_id)::INT AS rank
        |  FROM p)
        |SELECT q_id, vec_id, round(cs, 4) AS cosine, rank FROM r WHERE rank <= 3""".stripMargin,

    "s04" ->
      """WITH x AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings)
        |SELECT label, pos::INT AS pos, count(1)::BIGINT AS n,
        | round(avg(x), 4) + 0.0 AS c
        |FROM x GROUP BY 1, 2""".stripMargin,

    // qv stays DOUBLE[] of integer-valued doubles so list_dot_product is
    // usable; the dot is exact (|dot| ≤ 64·127² ≪ 2⁵³) and cast to BIGINT
    // matches Spark's long accumulation bit-for-bit.
    "s05" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> round(x * 127 / ma)) END AS qv
        |  FROM e),
        |q AS (SELECT vec_id AS q_id, qv AS q_qv FROM qz WHERE vec_id < 5),
        |p AS (
        |  SELECT q_id, qz.vec_id,
        |    list_dot_product(qv, q_qv)::BIGINT AS qdot
        |  FROM qz CROSS JOIN q WHERE qz.vec_id <> q_id),
        |r AS (
        |  SELECT q_id, vec_id, qdot,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY qdot DESC, vec_id)::INT AS rank
        |  FROM p)
        |SELECT q_id, vec_id, qdot, rank FROM r WHERE rank <= 3""".stripMargin,

    "s06" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |dist AS (
        |  SELECT e.vec_id, c.cid, e.v,
        |    list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
        |      + list_dot_product(c.cv, c.cv) AS d2
        |  FROM e CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, cid, v FROM (
        |    SELECT vec_id, cid, v,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY round(d2, 6), cid) AS rn
        |    FROM dist) WHERE rn = 1),
        |x AS (
        |  SELECT cid, unnest(v) AS x,
        |    generate_subscripts(v, 1) - 1 AS pos
        |  FROM assign),
        |newc AS (
        |  SELECT cid, pos::INT AS pos, count(1)::BIGINT AS n,
        |    round(avg(x), 4) + 0.0 AS c
        |  FROM x GROUP BY 1, 2)
        |SELECT newc.cid::INT AS cid, newc.pos, newc.n, newc.c,
        |  round(newc.c - cv[newc.pos + 1], 4) + 0.0 AS delta
        |FROM newc JOIN c ON newc.cid = c.cid""".stripMargin,

    "s07" ->
      """WITH bk AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN embedding[i + 1] > 0 THEN pow(2, i)::BIGINT ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(8)) AS i)
        |  GROUP BY vec_id),
        |e AS (
        |  SELECT e0.vec_id, embedding::DOUBLE[] AS v, bucket
        |  FROM embeddings e0 JOIN bk USING (vec_id)),
        |q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 5),
        |ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, e.vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY
        |        round(list_dot_product(qv, v) /
        |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
        |        DESC, e.vec_id) AS rn
        |    FROM e CROSS JOIN q WHERE e.vec_id <> q_id) WHERE rn <= 3),
        |ap AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, e.vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY
        |        round(list_dot_product(qv, v) /
        |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
        |        DESC, e.vec_id) AS rn
        |    FROM e JOIN q ON e.bucket = qb AND e.vec_id <> q_id) WHERE rn <= 3)
        |SELECT ex.q_id, count(1)::BIGINT AS k_exact,
        |  sum(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS hits,
        |  round(sum(CASE WHEN ap.vec_id IS NULL THEN 0 ELSE 1 END)
        |        / count(1), 4) AS recall
        |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
        |GROUP BY 1""".stripMargin,

    "s08" ->
      """WITH nb AS (
        |  SELECT greatest(8, (length(bin(count(1))) - 1) // 2) AS bits
        |  FROM embeddings),
        |bk AS (
        |  SELECT vec_id,
        |    sum(CASE WHEN embedding[i + 1] > 0 THEN pow(2, i)::BIGINT ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(range((SELECT bits FROM nb))) AS i)
        |  GROUP BY vec_id),
        |e AS (
        |  SELECT e0.vec_id, embedding::DOUBLE[] AS v, bucket
        |  FROM embeddings e0 JOIN bk USING (vec_id))
        |SELECT vec_id, nbr, round(cs, 4) AS cosine, rank FROM (
        |  SELECT x.vec_id, y.vec_id AS nbr,
        |    list_dot_product(x.v, y.v) /
        |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cs,
        |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
        |      round(list_dot_product(x.v, y.v) /
        |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
        |      DESC, y.vec_id)::INT AS rank
        |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id)
        |WHERE rank <= 3""".stripMargin,

    "s09" ->
      """WITH x AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS pos
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos, round(avg(x), 4) + 0.0 AS c
        |  FROM x GROUP BY 1, 2),
        |cv AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
        |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (
        |  SELECT e.vec_id, e.label, cv.label AS clabel,
        |    list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, cv.cv)
        |      + list_dot_product(cv.cv, cv.cv) AS d2
        |  FROM e CROSS JOIN cv),
        |ab AS (
        |  SELECT vec_id, label,
        |    min(CASE WHEN clabel = label THEN d2 END) AS a,
        |    min(CASE WHEN clabel <> label THEN d2 END) AS b
        |  FROM d GROUP BY 1, 2),
        |s AS (
        |  SELECT label,
        |    CASE WHEN b IS NULL THEN 0
        |         WHEN greatest(a, b) = 0 THEN 0
        |         ELSE floor((b - a) / greatest(a, b) * 10000) END::BIGINT
        |      AS s_e4
        |  FROM ab)
        |SELECT label, count(*)::BIGINT AS n_points,
        |  sum(s_e4)::BIGINT AS sil_sum_e4,
        |  (sum(s_e4) // count(*))::BIGINT AS avg_sil_e4
        |FROM s GROUP BY 1""".stripMargin)
}
