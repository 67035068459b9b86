package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`).
  *
  * Baseline: brute-force cosine top-k (exact; one pass, no shuffle until
  * the final top-k, which TakeOrderedAndProject keeps at O(k) per
  * partition). Scale path: sign-random-projection LSH — each vector maps
  * to an `nbits`-bit bucket computed row-local from a deterministic,
  * seed-derived hyperplane matrix; search joins on the bucket (plus
  * Hamming-1 multi-probes) so the exact cosine only runs on a tiny
  * candidate set. Dot products call the native `DotProductExpr`
  * kernel (no UDF): Spark 4.1's higher-order functions
  * (`zip_with`, `aggregate`, `transform`, `filter`) are
  * `CodegenFallback`, so a lambda formulation would run interpreted on
  * every row.
  */
object Similarity {

  /** dot(a, b) in double precision, left-to-right accumulation (native
    * DotProductExpr — a `zip_with`+`aggregate` formulation runs ~64
    * interpreted lambda steps per pair). */
  def dot(a: Column, b: Column): Column =
    graft.functions.Sketch.dot_product(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** try_divide, not `/`: a ZERO vector (dead encoder) has norm 0 and
    * a plain division aborts the job under ANSI (Spark 4's default) —
    * try_divide scores it null, which every consumer's threshold
    * filter or top-k ordering (nulls last under desc) excludes. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), l2Norm(a) * l2Norm(b))


  /** Deterministic hyperplanes for sign-LSH (fixed seed → same buckets
    * on every run / every executor).
    */
  private[graft] def hyperplanes(nbits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nbits, dim)(rnd.nextGaussian())
  }

  /** Row-local sign-LSH bucket id: bit j = sign(v · plane_j). */
  def signLshBucket(vec: Column, nbits: Int, dim: Int, seed: Long): Column = {
    val planes = hyperplanes(nbits, dim, seed)
    (0 until nbits).map { j =>
      when(dot(vec, typedlit(planes(j).toSeq)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Exact brute-force cosine top-k against one stored query vector.
    * The query row is collected (1 row) and broadcast as a literal —
    * the scan stays a single codegen'd projection + TakeOrdered.
    */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"), l2Norm(col(vecCol)).as("qnorm"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(try_divide(
        dot(col(vecCol), col("qv")), l2Norm(col(vecCol)) * col("qnorm")), 6))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF coarse quantizer: seeded Lloyd's k-means in cosine geometry
    * (vectors and centroids L2-normalized; assignment by max inner
    * product) over a bounded deterministic sample, trained driver-side
    * — `numLists · sampleN · dim` flops is trivial next to one corpus
    * pass, and every executor needs the same centroids anyway (the
    * standard IVF practice: train on a sample, index everything).
    * Empty clusters reseed to the farthest-assigned sample point.
    */
  def trainIvfCentroids(emb: DataFrame, numLists: Int, iters: Int = 10,
      sampleN: Int = 4096, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): Array[Array[Float]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    // deterministic UNBIASED sample: order by a hash of the id, not the
    // id itself — first-N-by-id on a corpus laid out by source/time
    // trains the quantizer on one shard's distribution and probe recall
    // degrades on the rest; hash order is reproducible AND shuffles the
    // layout out of the sample (TakeOrderedAndProject keeps it one pass)
    val sample = emb.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleN).as[(Long, Array[Float])].collect().map(_._2)
    require(sample.length >= numLists,
      s"need >= $numLists sample vectors, got ${sample.length}")
    val dim = sample.head.length
    def normalized(v: Array[Float]): Array[Float] = {
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0) v.clone() else v.map(x => (x / n).toFloat)
    }
    val unit = sample.map(normalized)
    val rnd = new java.util.Random(seed)
    // init: numLists distinct seeded picks
    val centroids = rnd.ints(0, unit.length).distinct().limit(numLists)
      .toArray.map(i => unit(i).clone())
    def ip(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(numLists)(new Array[Double](dim))
      val counts = new Array[Int](numLists)
      unit.foreach { v =>
        var best = 0
        var bestS = Double.NegativeInfinity
        var c = 0
        while (c < numLists) {
          val s = ip(centroids(c), v)
          if (s > bestS) { bestS = s; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      var c = 0
      while (c < numLists) {
        if (counts(c) == 0) centroids(c) = unit(rnd.nextInt(unit.length)).clone()
        else centroids(c) = normalized(sums(c).map(_.toFloat))
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** IVF assignment: one `mapPartitions` pass, centroids broadcast —
    * NO shuffle of the corpus (vs the LSH variants, whose candidate
    * join shuffles on the bucket key). Output carries the vector and
    * its norm so search pays one dot product per candidate.
    */
  def ivfAssign(emb: DataFrame, centroids: Array[Array[Float]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    emb.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          var s = 0.0
          var i = 0
          while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
          val norm = math.sqrt(s)
          var best = 0
          var bestS = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            var d = 0.0
            var j = 0
            while (j < v.length) { d += cs(c)(j).toDouble * v(j); j += 1 }
            if (d > bestS) { bestS = d; best = c }
            c += 1
          }
          (id, v, norm, best)
        }
      }
      .toDF(idCol, "v", "norm", "list_id")
  }

  /** Corpus clustering: k-means over the embedding column — the
    * topic-bucketing / mixture-balancing pass of a training-data
    * pipeline (cluster counts drive up/down-sampling; IVF reuses the
    * same quantizer as its index). Training touches a bounded
    * hash-ordered sample on the driver; assignment is one broadcast
    * `mapPartitions` pass — the corpus is never shuffled. Deterministic:
    * seeded init + hash-ordered sample reproduce bit-identically.
    */
  def kmeansClusters(emb: DataFrame, k: Int, iters: Int = 10,
      sampleN: Int = 4096, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    ivfAssign(emb,
        trainIvfCentroids(emb, k, iters, sampleN, seed, vecCol, idCol),
        vecCol, idCol)
      .select(col(idCol), col("list_id").as("cluster"),
        round(col("norm"), 4).as("norm"))

  /** IVF ANN top-k: probe the `nprobe` nearest centroid lists per query
    * and exact-score only those postings. The scale path next to
    * [[annTopK]]'s LSH: centroid count grows with the corpus
    * (`numLists ~ sqrt(n)` keeps list length ~sqrt(n)), search touches
    * a `nprobe/numLists` corpus fraction, and the probe table (queries
    * × nprobe rows) is broadcast — the corpus is filtered in place,
    * never shuffled. Query vectors are collected (bounded by
    * `queryIds.size`) because probe selection needs driver-side
    * query-to-centroid scores; a batch-query variant would join a
    * centroid DataFrame instead.
    */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      numLists: Int = 16, nprobe: Int = 4, iters: Int = 10,
      sampleN: Int = 4096, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = trainIvfCentroids(emb, numLists, iters, sampleN, seed,
      vecCol, idCol)
    val assigned = ivfAssign(emb, centroids, vecCol, idCol)
    val qVecs = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol), col(vecCol)).as[(Long, Array[Float])].collect()
    def ip(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    val probeRows = qVecs.flatMap { case (qid, qv) =>
      val qnorm = math.sqrt(ip(qv, qv))
      centroids.indices
        .sortBy(c => -ip(centroids(c), qv))
        .take(nprobe)
        .map(listId => (qid, qv, qnorm, listId))
    }.toSeq
    val probes = probeRows.toDF("query_id", "qv", "qnorm", "list_id")
    assigned.join(broadcast(probes), "list_id")
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", round(try_divide(
        dot(col("v"), col("qv")), col("norm") * col("qnorm")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col(idCol))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col(idCol), col("cos"),
        col("rn").cast("bigint").as("rn"))
  }

  /** Batch-query IVF top-k — the query-SET form of [[ivfTopK]]: probe
    * selection happens executor-side (centroids broadcast, one
    * `mapPartitions` over the query table scoring each query against
    * the quantizer and emitting its `nprobe` probe rows), so NO query
    * vector ever passes through the driver and the query table can be
    * corpus-sized. The probe↔postings equi-join on `list_id` is left
    * to Catalyst: a small query batch broadcasts, a large one shuffles
    * both sides co-partitioned by list — the honest scale shape, since
    * `numLists ~ sqrt(corpus)` keeps the join key's cardinality (and
    * per-list skew) bounded.
    *
    * @param queries (query_id, qv) — e.g. a projection of the corpus
    *                itself, or an external query table
    * @return (query_id, vec_id, cos, rn) identical to [[ivfTopK]] for
    *         the same parameters on the overlapping queries
    */
  def ivfTopKBatch(emb: DataFrame, queries: DataFrame, k: Int,
      numLists: Int = 16, nprobe: Int = 4, iters: Int = 10,
      sampleN: Int = 4096, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = trainIvfCentroids(emb, numLists, iters, sampleN, seed,
      vecCol, idCol)
    val assigned = ivfAssign(emb, centroids, vecCol, idCol)
    val bc = spark.sparkContext.broadcast(centroids)
    val np = nprobe
    val probes = queries.select(col("query_id"), col("qv"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        def ip(a: Array[Float], b: Array[Float]): Double = {
          var s = 0.0
          var i = 0
          while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
          s
        }
        it.flatMap { case (qid, qv) =>
          val qnorm = math.sqrt(ip(qv, qv))
          cs.indices.sortBy(c => -ip(cs(c), qv)).take(np)
            .map(listId => (qid, qv, qnorm, listId))
        }
      }
      .toDF("query_id", "qv", "qnorm", "list_id")
    // bounded per-query top-k: the window formulation shuffles and
    // sorts every scored (query, candidate) row; collect_min_k_by on
    // the NEGATED cosine truncates to k pairs map-side, so only
    // ≤ k·queries rows reach the final exchange (identical output —
    // (−cos asc, id asc) is exactly (cos desc, id asc))
    val tk = graft.functions.BoundedAgg.collect_min_k_by(
      negate(col("cos")), col(idCol), k)
    assigned.join(probes, "list_id")
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cos", round(try_divide(
        dot(col("v"), col("qv")), col("norm") * col("qnorm")), 6))
      .groupBy("query_id")
      .agg(tk.as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as(idCol),
        negate(col("s.score")).as("cos"),
        (col("pos") + 1).cast("bigint").as("rn"))
  }

  /** ANN top-k for a set of query ids: bucket each side, multi-probe the
    * query's bucket plus all Hamming-1 neighbors (probability amplification
    * without repartitioning the corpus), exact cosine within candidates,
    * per-query window top-k. Corpus side shuffles once on the bucket key.
    */
  def annTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nbits: Int = 12, dim: Int = 64, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val bucketed = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("norm"),
      signLshBucket(col(vecCol), nbits, dim, seed).as("bucket"))
    val probes = array(
      (col("bucket") +: (0 until nbits).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j)))): _*)
    val queries = bucketed.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"), explode(probes).as("bucket"))
    queries.join(bucketed, "bucket")
      .filter(col("id") =!= col("query_id"))
      .dropDuplicates("query_id", "id")
      .withColumn("cos", round(try_divide(
        dot(col("v"), col("qv")), col("norm") * col("qnorm")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id").as("vec_id"), col("cos"),
        col("rn").cast("bigint").as("rn"))
  }

  // -------------------------------------------- product quantization

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split the `dim`
    * dimensions into `m` contiguous subspaces and train an independent
    * `ksub`-centroid L2 k-means codebook per subspace over a bounded
    * hash-ordered sample — the same train-on-a-sample-driver-side
    * discipline as [[trainIvfCentroids]] (every executor needs the
    * codebooks anyway; `m · ksub · sampleN · dim` flops is trivial next
    * to one corpus pass). Deterministic: seeded init per subspace +
    * hash-ordered sample reproduce bit-identically.
    *
    * @return codebooks(sub)(code) = centroid of subspace `sub`, a
    *         `dim/m`-float array; `ksub` ≤ 256 so a code fits one byte
    */
  def trainPqCodebooks(emb: DataFrame, m: Int, ksub: Int, iters: Int = 10,
      sampleN: Int = 4096, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): Array[Array[Array[Float]]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleN).as[(Long, Array[Float])].collect().map(_._2)
    trainPqOnPoints(sample, m, ksub, iters, seed)
  }

  /** The driver-side per-subspace k-means over an in-memory point set —
    * shared by [[trainPqCodebooks]] (raw vectors) and [[pqTopKIvf]]
    * (coarse-quantizer residuals, the IVF-PQ discipline). */
  private[graft] def trainPqOnPoints(sample: Array[Array[Float]], m: Int,
      ksub: Int, iters: Int, seed: Long): Array[Array[Array[Float]]] = {
    require(ksub >= 1 && ksub <= 256, s"ksub must fit one byte, got $ksub")
    require(sample.nonEmpty, "empty embedding table")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { sub =>
      val off = sub * dsub
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      val rnd = new java.util.Random(seed + sub)
      val kEff = math.min(ksub, pts.length)
      val centroids = rnd.ints(0, pts.length).distinct().limit(kEff)
        .toArray.map(i => pts(i).clone())
      def d2(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0
        var i = 0
        while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
        s
      }
      var iter = 0
      while (iter < iters) {
        val sums = Array.fill(kEff)(new Array[Double](dsub))
        val counts = new Array[Int](kEff)
        pts.foreach { p =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < kEff) {
            val dd = d2(centroids(c), p)
            if (dd < bestD) { bestD = dd; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += p(i); i += 1 }
        }
        var c = 0
        while (c < kEff) {
          if (counts(c) == 0) centroids(c) = pts(rnd.nextInt(pts.length)).clone()
          else {
            var i = 0
            while (i < dsub) {
              centroids(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1
            }
          }
          c += 1
        }
        iter += 1
      }
      centroids
    }
  }

  /** PQ encoding: one broadcast `mapPartitions` pass mapping each
    * vector to its `m`-byte code (nearest codebook centroid per
    * subspace) — the corpus is never shuffled, and the coded table is
    * `m` bytes + id per row against `4·dim` for the raw floats (32× at
    * dim 64 / m 8: the form a 100 TB embedding sweep actually scans).
    */
  def pqEncode(emb: DataFrame, codebooks: Array[Array[Array[Float]]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebooks)
    emb.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cbs = bc.value
        val m = cbs.length
        it.map { case (id, v) =>
          val dsub = v.length / m
          val code = new Array[Byte](m)
          var sub = 0
          while (sub < m) {
            val off = sub * dsub
            val cb = cbs(sub)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < cb.length) {
              val cent = cb(c)
              var s = 0.0
              var i = 0
              while (i < dsub) {
                val d = v(off + i).toDouble - cent(i); s += d * d; i += 1
              }
              if (s < bestD) { bestD = s; best = c }
              c += 1
            }
            code(sub) = best.toByte
            sub += 1
          }
          (id, code)
        }
      }
      .toDF(idCol, "code")
  }

  /** PQ asymmetric-distance top-k: for each query, precompute the
    * `m × ksub` table of exact subspace distances query↔centroid, then
    * score every coded vector with `m` table lookups — no float vector
    * is read at search time. Query vectors are collected (bounded by
    * `queryIds.size`, the [[ivfTopK]] convention) and the tables
    * broadcast; scoring is one `mapPartitions` over the coded corpus
    * and the per-query top-k is the bounded `collect_min_k_by`
    * aggregate over (adist asc, id) — never a full-sort window. The
    * returned `adist` is the ADC approximation of the true L2 distance
    * — rows-only by design (float, and approximate by construction).
    */
  def pqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 10,
      sampleN: Int = 4096, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val codebooks = trainPqCodebooks(emb, m, ksub, iters, sampleN, seed,
      vecCol, idCol)
    val coded = pqEncode(emb, codebooks, vecCol, idCol)
    val qVecs = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol), col(vecCol)).as[(Long, Array[Float])].collect()
    val tables: Array[(Long, Array[Array[Float]])] = qVecs.map { case (qid, qv) =>
      val dsub = qv.length / m
      val tab = Array.tabulate(m) { sub =>
        val off = sub * dsub
        val cb = codebooks(sub)
        Array.tabulate(cb.length) { c =>
          val cent = cb(c)
          var s = 0.0
          var i = 0
          while (i < dsub) {
            val d = qv(off + i).toDouble - cent(i); s += d * d; i += 1
          }
          s.toFloat
        }
      }
      (qid, tab)
    }
    val bt = spark.sparkContext.broadcast(tables)
    val scoredDs = coded.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val ts = bt.value
        it.flatMap { case (id, code) =>
          ts.iterator.map { case (qid, tab) =>
            var s = 0.0
            var sub = 0
            while (sub < tab.length) {
              s += tab(sub)(code(sub) & 0xff); sub += 1
            }
            (qid, id, s)
          }
        }
      }
      .toDF("query_id", idCol, "adist0")
    // bounded per-query top-k (no window): partial buffers truncate to
    // k pairs map-side, so the exchange carries ≤ k·queries rows
    // instead of the full Q·N scored set
    scoredDs
      .filter(col(idCol) =!= col("query_id"))
      .groupBy("query_id")
      .agg(graft.functions.BoundedAgg.collect_min_k_by(
        col("adist0"), col(idCol), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as(idCol),
        round(sqrt(col("s.score")), 4).as("adist"),
        (col("pos") + 1).cast("bigint").as("rn"))
  }

  /** IVF-PQ ANN top-k (Jégou et al. 2011 §V: the inverted-file +
    * product-quantization composition every production-scale ANN system
    * runs): the coarse quantizer routes each vector to a list, PQ
    * codebooks are trained on the coarse RESIDUALS `v − c(list)` (the
    * residual energy is what PQ must capture once lists are tight),
    * and a query ADC-scans only its `nprobe` probed lists — a
    * `nprobe/numLists` corpus fraction — where [[pqTopK]]'s flat scan
    * touches every code. An exact re-rank pass then rescores the
    * `refineFactor · k` ADC survivors against the raw vectors, so the
    * emitted distances are TRUE L2 (ADC error only affects which
    * candidates enter the refine pool — the standard two-stage
    * discipline).
    *
    * Scale shape: train driver-side on the bounded hash-ordered sample;
    * encode is one broadcast `mapPartitions` pass (corpus never
    * shuffled); the per-(query, probed-list) ADC tables
    * (`|queries| · nprobe · m · ksub` floats) broadcast; candidate
    * selection and the final re-rank both use the bounded
    * `collect_min_k_by` aggregate — no window ever sees the scored
    * set; the refine pool (≤ `refineFactor·k·|queries|` rows) joins
    * back to the raw vectors as the broadcast build side.
    */
  /** A built IVF-PQ index: coarse centroids, residual codebooks, and
    * the encoded corpus (id, list_id, m-byte code). Build once
    * ([[buildIvfPqIndex]]), persist ([[saveIvfPqIndex]] /
    * [[loadIvfPqIndex]]), then serve any number of query batches
    * ([[pqTopKIvfIndexed]]) — the production lifecycle: the expensive
    * train+encode scan is paid once per corpus snapshot, not once per
    * search.
    */
  final case class IvfPqIndex(centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], codes: DataFrame)

  /** Steps 1-3 of the IVF-PQ pipeline: coarse quantizer, residual PQ
    * codebooks on the bounded sample, and the one-broadcast-pass
    * corpus encode. */
  def buildIvfPqIndex(emb: DataFrame, numLists: Int = 16, m: Int = 8,
      ksub: Int = 16, iters: Int = 10, sampleN: Int = 4096,
      seed: Long = 42L, vecCol: String = "embedding",
      idCol: String = "vec_id"): IvfPqIndex = {
    val spark = emb.sparkSession
    import spark.implicits._
    def ip(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    // 1. coarse quantizer + corpus assignment (broadcast, shuffle-free)
    val centroids = trainIvfCentroids(emb, numLists, iters, sampleN, seed,
      vecCol, idCol)
    def nearestList(v: Array[Float]): Int = {
      var best = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < centroids.length) {
        val s = ip(centroids(c), v)
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      best
    }
    def residual(v: Array[Float], list: Int): Array[Float] = {
      val c = centroids(list)
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    // 2. PQ codebooks over coarse residuals of the bounded sample
    val sample = emb.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleN).as[(Long, Array[Float])].collect().map(_._2)
    val codebooks = trainPqOnPoints(
      sample.map(v => residual(v, nearestList(v))), m, ksub, iters, seed)
    // 3. encode: (id, list, m-byte residual code), one broadcast pass
    IvfPqIndex(centroids, codebooks,
      encodeIvfPq(emb, centroids, codebooks, vecCol, idCol))
  }

  /** The index's encode pass on its own: assign each vector to its
    * nearest coarse list and PQ-code the residual against the given
    * (frozen) codebooks — one broadcast mapPartitions pass, no shuffle.
    * [[buildIvfPqIndex]] uses it for the initial corpus;
    * [[appendToIvfPqIndex]] reuses it verbatim for deliveries. */
  private[graft] def encodeIvfPq(emb: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(centroids)
    val bcB = spark.sparkContext.broadcast(codebooks)
    emb.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcC.value
        val cbs = bcB.value
        val mm = cbs.length
        it.map { case (id, v) =>
          var best = 0
          var bestS = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            var d = 0.0
            var j = 0
            while (j < v.length) { d += cs(c)(j).toDouble * v(j); j += 1 }
            if (d > bestS) { bestS = d; best = c }
            c += 1
          }
          val dsub = v.length / mm
          val code = new Array[Byte](mm)
          var sub = 0
          while (sub < mm) {
            val off = sub * dsub
            val cb = cbs(sub)
            var bc = 0
            var bd = Double.MaxValue
            var cc = 0
            while (cc < cb.length) {
              val cent = cb(cc)
              var s = 0.0
              var i = 0
              while (i < dsub) {
                val d = (v(off + i).toDouble - cs(best)(off + i)) - cent(i)
                s += d * d; i += 1
              }
              if (s < bd) { bd = s; bc = cc }
              cc += 1
            }
            code(sub) = bc.toByte
            sub += 1
          }
          (id, best, code)
        }
      }.toDF(idCol, "list_id", "code")
  }

  /** Incremental index maintenance — the q102/q109 delivery discipline
    * applied to the ANN index: encode a delivery's vectors against the
    * FROZEN centroids and codebooks (no retrain, no touch of the
    * existing codes) and append to the codes table. With fixed
    * centroids the result is code-identical to re-encoding the whole
    * union, so `build(base) + append(delta)` serves exactly the top-k
    * of an index whose codes cover `base ∪ delta` (DedupSpec pins
    * this). Caveat — quantizer drift: the frozen coarse/PQ centroids
    * were trained on the base sample; if the delivery distribution
    * shifts (new embedding model, new modality), residuals grow and
    * recall decays even though results stay well-defined. Production
    * practice: monitor per-list occupancy and mean residual energy of
    * deliveries (q108/q109-style drift reports) and retrain+re-encode
    * when they move; retraining is the full [[buildIvfPqIndex]] pass.
    */
  def appendToIvfPqIndex(index: IvfPqIndex, delivery: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): IvfPqIndex =
    index.copy(codes = index.codes.unionByName(
      encodeIvfPq(delivery, index.centroids, index.codebooks, vecCol, idCol)))

  /** The retrain trigger for [[appendToIvfPqIndex]]'s frozen-quantizer
    * caveat: per coarse list, the base index's vector share vs a
    * delivery's, and the delivery's mean residual energy (‖v − c‖²)
    * against the frozen centroid. A distribution shift shows up as (a)
    * occupancy moving between lists (`share_delta`) and (b) residual
    * energy rising above the base line (`energy_ratio` > 1) — when
    * either moves materially, re-run [[buildIvfPqIndex]] and re-encode;
    * until then appends keep full fidelity. One broadcast pass per
    * side: each vector computes its nearest list and residual in place
    * (nothing corpus-sized shuffles — the exchange carries one
    * (list, count, energy) partial per partition), and the report is
    * `numLists` rows.
    */
  def ivfIndexDriftReport(index: IvfPqIndex, base: DataFrame,
      delivery: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(index.centroids)
    // per vector: assigned list, full residual energy (PQ-fidelity
    // proxy: what the codebooks must explain), and angular drift
    // 1 − cos(v, centroid) (direction shift — magnitude-blind, the
    // signal a new embedding model moves first)
    def listEnergy(emb: DataFrame): DataFrame =
      emb.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
        .mapPartitions { it =>
          val cs = bcC.value
          it.map { case (_, v) =>
            var best = 0
            var bestS = Double.NegativeInfinity
            var c = 0
            while (c < cs.length) {
              var d = 0.0
              var j = 0
              while (j < v.length) { d += cs(c)(j).toDouble * v(j); j += 1 }
              if (d > bestS) { bestS = d; best = c }
              c += 1
            }
            var e = 0.0
            var nv = 0.0
            var nc = 0.0
            var j = 0
            while (j < v.length) {
              val cj = cs(best)(j)
              val r = v(j).toDouble - cj
              e += r * r
              nv += v(j).toDouble * v(j)
              nc += cj.toDouble * cj
              j += 1
            }
            val denom = math.sqrt(nv * nc)
            val cosd = if (denom > 0) 1.0 - bestS / denom else 1.0
            (best, e, cosd)
          }
        }.toDF("list_id", "energy", "cosd")
        .groupBy("list_id")
        .agg(count(lit(1)).as("n"), sum("energy").as("se"),
          sum("cosd").as("sc"))
    val b = listEnergy(base)
      .select(col("list_id"), col("n").as("base_n"), col("se").as("base_se"),
        col("sc").as("base_sc"))
    val d = listEnergy(delivery)
      .select(col("list_id"), col("n").as("del_n"), col("se").as("del_se"),
        col("sc").as("del_sc"))
    val totals = b.agg(sum("base_n").as("bt")).crossJoin(
      d.agg(sum("del_n").as("dt")))
    // numLists-row join: every side is report-sized
    b.join(d, Seq("list_id"), "full")
      .crossJoin(broadcast(totals))
      .select(col("list_id"),
        coalesce(col("base_n"), lit(0L)).cast("bigint").as("base_n"),
        coalesce(col("del_n"), lit(0L)).cast("bigint").as("del_n"),
        round(coalesce(col("del_n"), lit(0L)).cast("double") / col("dt") -
          coalesce(col("base_n"), lit(0L)).cast("double") / col("bt"), 4)
          .as("share_delta"),
        round(
          (coalesce(col("del_se"), lit(0.0)) /
            greatest(coalesce(col("del_n"), lit(0L)), lit(1L))) /
          greatest(coalesce(col("base_se"), lit(0.0)) /
            greatest(coalesce(col("base_n"), lit(0L)), lit(1L)), lit(1e-12)),
          4).as("energy_ratio"),
        round(coalesce(col("base_sc"), lit(0.0)) /
          greatest(coalesce(col("base_n"), lit(0L)), lit(1L)), 4)
          .as("base_cos_drift"),
        round(coalesce(col("del_sc"), lit(0.0)) /
          greatest(coalesce(col("del_n"), lit(0L)), lit(1L)), 4)
          .as("del_cos_drift"))
      .orderBy("list_id")
  }

  /** The drift-gated maintenance decision [[appendToIvfPqIndex]] and
    * [[ivfIndexDriftReport]] leave to the caller, as one operator: run
    * the drift report, and if every list stays inside the thresholds
    * APPEND the delivery under the frozen quantizers; otherwise leave
    * the index untouched and return the retrain verdict (the caller
    * re-runs [[buildIvfPqIndex]] over base ∪ deliveries and re-encodes).
    *
    * Thresholds: `maxShareDelta` caps per-list occupancy movement
    * (|delivery share − base share|), `maxEnergyRatio` caps the
    * delivery's mean residual energy vs the base's per list (only
    * lists the delivery populates are judged on energy). The occupancy
    * gate is SAMPLING-AWARE: a small delivery's per-list shares are
    * binomial draws with std ≤ 0.5/√n, so the effective threshold is
    * `max(maxShareDelta, 1/√n)` — without the floor a single-vector
    * delivery ALWAYS breaches (its one list jumps to share 1.0) and
    * the index silently stops growing on drip-fed streams. The report
    * is numLists rows — the collect here is bounded by construction.
    */
  final case class IndexMaintenance(index: IvfPqIndex, appended: Boolean,
      retrainReason: Option[String], report: DataFrame)

  def maintainIvfPqIndex(index: IvfPqIndex, base: DataFrame,
      delivery: DataFrame, maxShareDelta: Double = 0.25,
      maxEnergyRatio: Double = 3.0, vecCol: String = "embedding",
      idCol: String = "vec_id",
      deliveryNonEmpty: Boolean = false): IndexMaintenance = {
    // empty-delivery fast path: the verdict is a trivial append, so
    // skip the report JOB (listEnergy scans the whole base corpus) —
    // but return the report PLAN itself, lazily: same single schema
    // source as the normal path, and a caller who actually reads it
    // pays for it then (it evaluates to numLists rows with del_n = 0).
    // A host that already checked emptiness (the streaming loop guards
    // every batch) passes deliveryNonEmpty = true and skips the
    // duplicate limit-1 probe.
    if (!deliveryNonEmpty && delivery.isEmpty)
      return IndexMaintenance(index, appended = true, None,
        ivfIndexDriftReport(index, base, delivery, vecCol, idCol))
    val report = graft.CacheRegistry.persist(
      ivfIndexDriftReport(index, base, delivery, vecCol, idCol))
    val rows = report
      .select("list_id", "del_n", "share_delta", "energy_ratio").collect()
    // sampling-aware occupancy floor: 2 binomial stds at the delivery's
    // size (share std ≤ 0.5/√n ⇒ 2·std ≤ 1/√n). Only the delivery
    // share is noisy — the base side is the full stored corpus — so
    // the delta inherits the delivery's std alone
    val delTotal = math.max(rows.map(_.getLong(1)).sum, 1L)
    val effShareDelta = math.max(maxShareDelta, 1.0 / math.sqrt(delTotal.toDouble))
    val occBreach = rows.filter(r =>
      !r.isNullAt(2) && math.abs(r.getDouble(2)) > effShareDelta)
    val engBreach = rows.filter(r => r.getLong(1) > 0 &&
      !r.isNullAt(3) && r.getDouble(3) > maxEnergyRatio)
    if (occBreach.isEmpty && engBreach.isEmpty)
      IndexMaintenance(appendToIvfPqIndex(index, delivery, vecCol, idCol),
        appended = true, None, report)
    else {
      val reasons =
        occBreach.map(r => s"list ${r.get(0)} occupancy moved " +
          f"${r.getDouble(2)}%.4f (>|$effShareDelta%.4f|)") ++
        engBreach.map(r => s"list ${r.get(0)} residual energy " +
          f"${r.getDouble(3)}%.2fx base (>$maxEnergyRatio)")
      IndexMaintenance(index, appended = false,
        Some(reasons.mkString("; ")), report)
    }
  }

  /** Persist a built index: centroids / codebooks / codes as three
    * parquet tables under `path` — the index artifact a serving tier
    * loads without re-scanning the corpus. */
  def saveIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("list_id", "vec")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "code", "vec")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load a persisted index ([[saveIvfPqIndex]] layout, plus any
    * committed [[appendIvfPqIndexDelta]] delta dirs). The tiny
    * centroid/codebook tables collect to driver arrays (that is their
    * runtime form — they broadcast); the codes stay distributed as a
    * lazy union of the base snapshot and the delta scans. */
  def loadIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$path/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .as[(Int, Int, Array[Float])].collect()
    val codebooks = cbRows.groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, xs) => xs.sortBy(_._2).map(_._3) }
    // ONE directory listing serves both part kinds — this runs once
    // per micro-batch on the streaming hot path, and an object store
    // charges per LIST
    val parts = committedIndexParts(spark, path)
    // flat multi-path scan over base + deltas — constant plan size
    // however many deliveries have landed (see SlotStore.readParts)
    val live = graft.state.SlotStore.readParts(spark,
      s"$path/codes" +: parts.filter(_._1 == "codes-delta").map(_._3))
    // tombstones anti-join LAST so they mask base codes AND deltas.
    // NO broadcast hint: deletions are usually tiny (AQE broadcasts a
    // small side on its own), but a heavy dedup pass can tombstone a
    // large fraction of the corpus — a forced broadcast build would be
    // a deletion-cardinality driver collect, the exact survivors-
    // broadcast cliff the funnel had. No distinct() either: left_anti
    // is unaffected by duplicate build keys, and the de-dup would cost
    // an extra exchange over the tombstone union on every load.
    val stoneDirs = parts.filter(_._1 == "tombstones").map(_._3)
    val codes = if (stoneDirs.isEmpty) live
      else live.join(
        graft.state.SlotStore.readParts(spark, stoneDirs).select("vec_id"),
        Seq("vec_id"), "left_anti")
    IvfPqIndex(centroids, codebooks, codes)
  }

  /** Tombstone ids out of a PERSISTED index — the deletion half of the
    * append-only lifecycle (dedup drops documents; their vectors must
    * stop being served without rewriting the stored codes). Each call
    * lands an id-only `tombstones-<slot>` dir (O(deleted) write,
    * `_SUCCESS`-committed, slot rules identical to
    * [[appendIvfPqIndexDelta]]: explicit slots make replays
    * idempotent); [[loadIvfPqIndex]] anti-joins the union of committed
    * tombstone sets over base + deltas, so deletion is visible on the
    * next load. A LATER append may legitimately re-insert a tombstoned
    * id (new document version): load applies tombstones to everything,
    * so re-inserts require either a compaction first or a fresh id —
    * the documented re-insert rule. Compaction
    * (`saveIvfPqIndex(loadIvfPqIndex(path), freshPath)`) folds the
    * mask in physically and drops the tombstone dirs.
    */
  def tombstoneIvfPqIndexIds(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id",
      slot: Option[Long] = None): Unit = {
    val next = slot.getOrElse(
      committedIndexParts(spark, path).filter(_._1 == "tombstones")
        .map(_._2).foldLeft(-1L)(math.max) + 1)
    ids.select(col(idCol).cast("long").as("vec_id")).distinct()
      .write.mode("overwrite").parquet(s"$path/tombstones-$next")
  }

  /** Committed (kind, slot, dir) parts under an index path in ONE
    * directory listing — kinds: `codes-delta`, `tombstones`
    * ([[graft.state.SlotStore]]'s shared listing). */
  private def committedIndexParts(spark: SparkSession,
      path: String): Seq[(String, Long, String)] =
    graft.state.SlotStore.committedParts(spark, path,
      Seq("codes-delta", "tombstones"))

  /** Append-only PERSISTED-index maintenance — the on-disk counterpart
    * of [[appendToIvfPqIndex]]: the delivery encodes against the
    * stored FROZEN quantizers and lands as `codes-delta-<k>` next to
    * the base snapshot; the stored codes are NEVER rewritten, so
    * per-delivery write cost is O(delta) (a full `saveIvfPqIndex` per
    * delivery rewrites the whole codes table — the same O(corpus)
    * cliff the funnel state had). A delta commits via its own parquet
    * `_SUCCESS`; an uncommitted (torn) dir is ignored by load and
    * overwritten by the next append (retry-safe). Compaction, when the
    * delta list grows long, is `saveIvfPqIndex(loadIvfPqIndex(path),
    * freshPath)` — quantizers are immutable, so the snapshot is just
    * the unioned codes. Returns the refreshed index view.
    */
  def appendIvfPqIndexDelta(spark: SparkSession, path: String,
      delivery: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", slot: Option[Long] = None): IvfPqIndex = {
    val index = loadIvfPqIndex(spark, path)
    writeIndexDelta(spark, path, index, delivery, vecCol, idCol, slot)
    loadIvfPqIndex(spark, path)
  }

  /** The delta write with an ALREADY-LOADED index — the streaming host
    * holds one loaded view per batch and must not pay a second
    * centroid/codebook collect + delta listing per append. */
  private[graft] def writeIndexDelta(spark: SparkSession, path: String,
      index: IvfPqIndex, delivery: DataFrame, vecCol: String,
      idCol: String, slot: Option[Long]): Unit = {
    val delta = encodeIvfPq(delivery, index.centroids, index.codebooks,
      vecCol, idCol)
    // explicit slot = the streaming batchId discipline (a committed
    // slot makes a replayed batch a no-op — see committedDeltaSlots);
    // default = next free integer after the committed ones
    val next = slot.getOrElse(committedDeltaSlots(spark, path)
      .foldLeft(-1L)(math.max) + 1)
    delta.write.mode("overwrite").parquet(s"$path/codes-delta-$next")
  }

  /** Committed delta slot numbers under a persisted index path. */
  def committedDeltaSlots(spark: SparkSession, path: String): Seq[Long] =
    committedIndexParts(spark, path).filter(_._1 == "codes-delta").map(_._2)

  /** Steps 4-6 of the IVF-PQ pipeline against a prebuilt index: ADC
    * tables for the probed lists, bounded candidate top-R over the
    * codes, exact L2 re-rank of the refine pool. */
  def pqTopKIvfIndexed(index: IvfPqIndex, emb: DataFrame,
      queryIds: Seq[Long], k: Int, nprobe: Int = 4, refineFactor: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = index.centroids
    val codebooks = index.codebooks
    val coded = index.codes
    val m = codebooks.length
    def ip(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    def residual(v: Array[Float], list: Int): Array[Float] = {
      val c = centroids(list)
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    // 4. per-(query, probed list) ADC tables: exact subspace distances
    //    of the query residual to each residual codebook centroid
    val qVecs = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol), col(vecCol)).as[(Long, Array[Float])].collect()
    val tables: Map[(Long, Int), Array[Array[Float]]] = qVecs.flatMap {
      case (qid, qv) =>
        centroids.indices.sortBy(c => -ip(centroids(c), qv)).take(nprobe)
          .map { list =>
            val r = residual(qv, list)
            val dsub = r.length / m
            val tab = Array.tabulate(m) { sub =>
              val off = sub * dsub
              val cb = codebooks(sub)
              Array.tabulate(cb.length) { c =>
                val cent = cb(c)
                var s = 0.0
                var i = 0
                while (i < dsub) {
                  val d = r(off + i).toDouble - cent(i); s += d * d; i += 1
                }
                s.toFloat
              }
            }
            (qid, list) -> tab
          }
    }.toMap
    // group by list so a coded row only touches the queries probing
    // ITS list (rows in unprobed lists do zero work — the IVF payoff)
    val byList: Map[Int, Array[(Long, Array[Array[Float]])]] =
      tables.toArray.map { case ((qid, l), tab) => (l, (qid, tab)) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2) }
    val bt = spark.sparkContext.broadcast(byList)
    // 5. ADC scan of the probed lists only; bounded candidate top-R
    val pool = math.max(k, k * refineFactor)
    val scored = coded.as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        val ts = bt.value
        it.flatMap { case (id, list, code) =>
          ts.getOrElse(list, Array.empty[(Long, Array[Array[Float]])])
            .iterator.collect { case (qid, tab) if qid != id =>
              var s = 0.0
              var sub = 0
              while (sub < tab.length) { s += tab(sub)(code(sub) & 0xff); sub += 1 }
              (qid, id, s)
            }
        }
      }.toDF("query_id", idCol, "adist2")
    val cands = scored.groupBy("query_id")
      .agg(graft.functions.BoundedAgg.collect_min_k_by(
        col("adist2"), col(idCol), pool).as("tk"))
      .select(col("query_id"), explode(col("tk").getField("id")).as(idCol))
    // 6. exact L2 re-rank of the refine pool against the raw vectors
    val queries = spark.createDataset(qVecs.toSeq)
      .toDF("query_id", "qv")
    val exact = emb.select(col(idCol), col(vecCol).as("v"))
      .join(broadcast(cands), idCol)
      .join(broadcast(queries), "query_id")
      .withColumn("d2",
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("qv")) +
          dot(col("qv"), col("qv")))
    exact.groupBy("query_id")
      .agg(graft.functions.BoundedAgg.collect_min_k_by(
        col("d2"), col(idCol), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as(idCol),
        round(sqrt(greatest(col("s.score"), lit(0.0))), 4).as("dist"),
        (col("pos") + 1).cast("bigint").as("rn"))
  }

  /** Recall@k report — the evaluation loop that tunes an approximate
    * index (nprobe / m / ksub / refineFactor): per query, the fraction
    * of the exact top-k the approximate result found, plus the
    * corpus-level mean as the last row (query_id = -1). Both inputs
    * are (query_id, id, rn) frames from any of the top-k operators;
    * only the top-k rows per query exist, so every join here is
    * dashboard-sized.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val a = approx.filter(col("rn") <= k).select(col("query_id"), col(idCol))
    val e = exact.filter(col("rn") <= k).select(col("query_id"), col(idCol))
    val hits = e.join(a, Seq("query_id", idCol), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val per = e.groupBy("query_id").agg(count(lit(1)).as("n"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / col("n"), 4)
          .as("recall"))
    per.unionByName(per.agg(lit(-1L).as("query_id"),
      round(avg("recall"), 4).as("recall")))
  }

  /** One-shot form: build the index and search it (q85). Production
    * callers split the halves — [[buildIvfPqIndex]] +
    * [[saveIvfPqIndex]] once per corpus snapshot, [[loadIvfPqIndex]] +
    * [[pqTopKIvfIndexed]] per query batch. */
  def pqTopKIvf(emb: DataFrame, queryIds: Seq[Long], k: Int,
      numLists: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      iters: Int = 10, sampleN: Int = 4096, seed: Long = 42L,
      refineFactor: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pqTopKIvfIndexed(
      buildIvfPqIndex(emb, numLists, m, ksub, iters, sampleN, seed,
        vecCol, idCol),
      emb, queryIds, k, nprobe, refineFactor, vecCol, idCol)
}
