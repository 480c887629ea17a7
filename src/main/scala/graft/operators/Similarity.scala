package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/**
 * Similarity search over an embedding column (Array[Float]) — driver
 * instructions' ANN component. Two tiers:
 *
 *  - bruteTopK: exact cosine top-k, queries × corpus. Scales as a
 *    broadcast-queries map-side scan: the corpus never shuffles; per
 *    corpus row only (q × dim) multiply-adds inside codegen'd HOFs.
 *  - ivfTopK: IVF-style — restrict candidates to the query's coarse
 *    partition (here: the `label` column as the pre-assigned centroid;
 *    a k-means stage would produce it in a full pipeline), then exact
 *    cosine within the partition. Equi-join on the partition key →
 *    hash join, shuffles only (id, vec) of co-partitioned rows.
 *
 * Dot products fold left-to-right with double accumulation — the exact
 * same sequence as the DuckDB oracle (list_dot_product over DOUBLE[]),
 * so scores match bit-for-bit before the 4-dp rounding applied for
 * rank stability.
 *
 * Ranking is [[TopK.ranked]] over (cos desc, corpus key asc): for
 * integral corpus keys a map-side partial top-k, NOT a row_number
 * window — the window shape shuffles every scored candidate (corpus ×
 * |queries| rows at 100 TB); the aggregate ships ≤ k pairs per query per
 * map task. Output (qKey, cKey, cos, rank), rank 1..k.
 */
object Similarity {

  /** Left-to-right double dot product (codegen'd DotProductExpr; the
   * interpreted aggregate(zip_with(...)) HOF pair was the ANN hot-path
   * cost — bits×dim lambda dispatches per row). */
  def dot(a: Column, b: Column): Column = graft.functions.dot_product(a, b)

  /** Self-pair exclusion that is safe across key types. The filter runs
   * whenever the comparison is ANSI-safe AND collisions are possible:
   * equal types, or any numeric/numeric mix (int query ids vs long corpus
   * ids widen safely and DO collide). It is skipped only for
   * incomparable mixes (e.g. long vs string), where an ANSI cast would
   * throw and a collision cannot exist. */
  private def notSelfPair(scored: DataFrame): DataFrame = {
    val tq = scored.schema("__qk").dataType
    val tc = scored.schema("__ck").dataType
    val comparable = tq == tc ||
      (tq.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
        tc.isInstanceOf[org.apache.spark.sql.types.NumericType])
    if (comparable) scored.where(col("__qk") =!= col("__ck")) else scored
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Exact top-k by cosine. @param queries (qKey, vec); @param corpus
   * (cKey, vec). Output (qKey, cKey, cos, rank), rank 1..k by
   * (cos desc, cKey asc); self-pairs excluded when keys collide.
   */
  def bruteTopK(queries: DataFrame, qKey: String, qVec: String,
      corpus: DataFrame, cKey: String, cVec: String, k: Int): DataFrame = {
    val q = queries.select(col(qKey).as("__qk"), col(qVec).as("__qv"))
    val c = corpus.select(col(cKey).as("__ck"), col(cVec).as("__cv"))
    val scored = notSelfPair(c.crossJoin(broadcast(q)))
      .withColumn("cos", round(cosine(col("__qv"), col("__cv")), 4))
    TopK.ranked(scored, Seq("__qk"), col("cos"), "__ck", k).toDF(qKey, cKey, "cos", "rank")
  }

  /**
   * Sign-LSH bucketed ANN — the scale path when no coarse partition
   * exists: `bits` deterministic pseudo-random hyperplanes (splitmix-
   * seeded, data-independent), bucket = the sign bitmask of the vector's
   * dots with them. Same-bucket candidates get exact cosine + top-k.
   * Equi-join on an 8-byte bucket key → hash join; expected candidates
   * per query ≈ corpus × (bits+1) / 2^bits. Multi-probe: each query also
   * probes every bucket at hamming distance 1 (flipping one sign is the
   * most likely LSH miss), trading (bits+1)× more query-side rows — tiny —
   * for a large recall gain. Recall < 1 by construction (tested against
   * brute force); tune with bits.
   */
  /** The deterministic pseudo-random hyperplanes [[lshTopK]] buckets with
   * — public so an independent oracle can inline them as literals (the
   * values are data-independent splitmix draws, pure public arithmetic). */
  def lshHyperplane(j: Int, dim: Int, seed: Long = 42L): Array[Double] =
    Array.tabulate(dim) { i =>
      (graft.sources.Fixtures.mix(seed ^ (j.toLong * 100003L + i)) >>> 11).toDouble /
        (1L << 53).toDouble * 2.0 - 1.0
    }

  def lshTopK(queries: DataFrame, qKey: String, qVec: String,
      corpus: DataFrame, cKey: String, cVec: String, k: Int,
      bits: Int = 8, seed: Long = 42L): DataFrame = {
    def bucket(vec: Column, dim: Int): Column =
      (0 until bits).map { j =>
        when(dot(vec, typedLit(lshHyperplane(j, dim, seed))) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    // dimension from the first corpus row (driver-side metadata probe)
    val dim = corpus.select(size(col(cVec))).first().getInt(0)
    val q = queries.select(col(qKey).as("__qk"), col(qVec).as("__qv"))
      .withColumn("__b0", bucket(col("__qv"), dim))
      // multi-probe: own bucket + every 1-bit flip
      .withColumn("__b", explode(array(
        (col("__b0") +: (0 until bits).map(j => col("__b0").bitwiseXOR(lit(1L << j)))): _*)))
    val c = corpus.select(col(cKey).as("__ck"), col(cVec).as("__cv"))
      .withColumn("__b", bucket(col("__cv"), dim))
    val scored = notSelfPair(q.join(c, "__b"))
      .withColumn("cos", round(cosine(col("__qv"), col("__cv")), 4))
    // no dedup needed: the probe set {b0} ∪ {b0^bit} is distinct values and
    // a candidate has ONE bucket, so each (query, candidate) matches at
    // most one probe row — a dropDuplicates here would only add a shuffle
    TopK.ranked(scored, Seq("__qk"), col("cos"), "__ck", k).toDF(qKey, cKey, "cos", "rank")
  }

  /**
   * Deterministic Lloyd k-means over an embedding column — the coarse
   * quantizer that makes [[ivfTopK]] self-contained (no pre-assigned
   * partition needed). Init = the kClusters lowest-key vectors; `iters`
   * fixed Lloyd rounds. Each round is ONE distributed assign pass (argmin
   * over kClusters distance expressions, codegen'd dot products against
   * literal centroids) + one (centroid, dim)-grouped mean — the k×dim
   * centroid matrix is driver-side metadata (tiny), exactly like a real
   * IVF training loop.
   *
   * @return centroids as Array[Array[Double]] indexed by centroid id
   */
  def kmeansCentroids(corpus: DataFrame, cKey: String, cVec: String,
      kClusters: Int, iters: Int): Array[Array[Double]] = {
    // element type agnostic (array<float> or array<double>, like the dot kernel)
    val init = corpus.orderBy(col(cKey)).limit(kClusters)
      .select(col(cVec).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(init.nonEmpty, "kmeansCentroids: empty corpus")
    var centroids = init
    for (_ <- 0 until iters) {
      val assigned = assignToCentroids(corpus, cVec, centroids)
      // element-wise mean per centroid: posexplode + (centroid, pos) agg;
      // result is kClusters×dim rows — driver-side metadata by design
      val means = assigned
        .select(col("__cid"), posexplode(col(cVec)).as(Seq("__pos", "__x")))
        .groupBy("__cid", "__pos")
        .agg(avg(col("__x").cast("double")).as("__m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next
    }
    centroids
  }

  /** Nearest-centroid assignment: adds `__cid` (int). Distance argmin via
   * an array of (dist, id) structs — array_min orders by first field. */
  private def assignToCentroids(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val dists = centroids.zipWithIndex.map { case (c, j) =>
      val cNorm = c.map(x => x * x).sum
      // ||v-c||² = ||v||² - 2·v·c + ||c||²; ||v||² is row-constant → drop
      struct((lit(cNorm) - lit(2.0) * dot(col(vecCol), typedLit(c))).as("d"),
        lit(j).as("c"))
    }
    df.withColumn("__cid", array_min(array(dists.toIndexedSeq: _*)).getField("c"))
  }

  /**
   * Self-contained IVF ANN: train the coarse quantizer with
   * [[kmeansCentroids]], assign the corpus once, probe each query's
   * `nprobe` nearest centroids (multi-probe recovers boundary
   * candidates), exact cosine + partial top-k inside the probed cells.
   * Equi-join on the centroid id — the same blocking shape as ivfTopK,
   * with candidates per query ≈ corpus × nprobe / kClusters.
   */
  def kmeansIvfTopK(queries: DataFrame, qKey: String, qVec: String,
      corpus: DataFrame, cKey: String, cVec: String, k: Int,
      kClusters: Int = 16, iters: Int = 3, nprobe: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(corpus, cKey, cVec, kClusters, iters)
    val c = assignToCentroids(
      corpus.select(col(cKey).as("__ck"), col(cVec).as("__cv")), "__cv", centroids)
      .withColumnRenamed("__cid", "__p")
    // query side: nprobe nearest centroids via sorted (dist, id) array
    val dists = centroids.zipWithIndex.map { case (cv, j) =>
      val cNorm = cv.map(x => x * x).sum
      struct((lit(cNorm) - lit(2.0) * dot(col("__qv"), typedLit(cv))).as("d"), lit(j).as("c"))
    }
    val q = queries.select(col(qKey).as("__qk"), col(qVec).as("__qv"))
      .withColumn("__p", explode(transform(
        slice(array_sort(array(dists.toIndexedSeq: _*)), 1, nprobe), s => s.getField("c"))))
    val scored = notSelfPair(q.join(c, "__p"))
      .withColumn("cos", round(cosine(col("__qv"), col("__cv")), 4))
    // nprobe centroid ids are distinct and a candidate is assigned to ONE
    // centroid → at most one match per (query, candidate); no dedup shuffle
    TopK.ranked(scored, Seq("__qk"), col("cos"), "__ck", k).toDF(qKey, cKey, "cos", "rank")
  }

  /**
   * Per-vector symmetric int8 quantization: the storage/shuffle
   * compression step of a large-scale ANN index. Each vector is scaled
   * by its own max-abs so qᵢ = floor(vᵢ·127/m + 0.5) ∈ [−127, 127];
   * output `(idCol, qvec: ARRAY<INT>, qnorm: BIGINT = Σ qᵢ²)`.
   *
   * At 100 TB this is the point: int8 codes are 4× smaller than float32
   * (8× than double) — the ANN exchange, the broadcast of the query set,
   * and the resident index all shrink by that factor, and the dot kernel
   * becomes integer SIMD on real hardware. Cosine over the codes is
   * within ~1% of exact for unit-scale data (spec measures recall vs
   * [[bruteTopK]]).
   *
   * Every arithmetic step is cross-engine exact: m is a float max
   * (no summation), the scale uses IEEE double ·/÷ (correctly rounded,
   * identical everywhere), floor(+0.5) avoids the round()-at-.5 dialect
   * divergence, and all downstream scoring runs on exact small integers.
   * Precondition: finite coordinates (NaN/Inf poison the max like any
   * float pipeline); the all-zero vector quantizes to all zeros.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // materialize the max-abs BEFORE the transform: HOFs are interpreted
    // with no subexpression elimination — an inline max would recompute
    // the O(dim) scan per element (the measured 10× shingle trap)
    val base = df.select(col(idCol), col(vecCol).as("__v"),
      array_max(transform(col(vecCol), x => abs(x))).cast("double").as("__m"))
    val q = when(col("__m") === 0.0,
        transform(col("__v"), _ => lit(0)))
      .otherwise(transform(col("__v"), x =>
        floor(x.cast("double") * 127.0 / col("__m") + 0.5).cast("int")))
    base.select(col(idCol), q.as("qvec"))
      .select(col(idCol), col("qvec"),
        // products ≤ 127² and dim-bounded sums stay « 2⁵³: the double dot
        // kernel is integer-exact, and codegen'd (vs an interpreted fold)
        dot(col("qvec").cast("array<double>"), col("qvec").cast("array<double>"))
          .cast("long").as("qnorm"))
  }

  /**
   * Exact top-k by cosine over int8-quantized codes — [[bruteTopK]]'s
   * compressed form: same broadcast-queries map-side scan (the corpus
   * never shuffles), but the broadcast and all per-row reads are int8
   * codes + one BIGINT norm. Scores are bit-portable without rounding:
   * qdot, qnormₐ, qnorm_b are exact integers, and /, ·, sqrt on them are
   * IEEE-correctly-rounded everywhere. Output (qKey, cKey, cos, rank),
   * rank 1..k by (cos desc, cKey asc); self-pairs excluded on key
   * collision. Zero vectors score NaN (0/0) and rank first per the
   * top-k NaN contract — filter empty embeddings upstream.
   */
  def quantizedTopK(queries: DataFrame, qKey: String, qVec: String,
      corpus: DataFrame, cKey: String, cVec: String, k: Int): DataFrame = {
    val q = quantizeInt8(queries, qKey, qVec)
      .select(col(qKey).as("__qk"), col("qvec").cast("array<double>").as("__qv"),
        col("qnorm").cast("double").as("__qn"))
    val c = quantizeInt8(corpus, cKey, cVec)
      .select(col(cKey).as("__ck"), col("qvec").cast("array<double>").as("__cv"),
        col("qnorm").cast("double").as("__cn"))
    val scored = notSelfPair(c.crossJoin(broadcast(q)))
      .withColumn("cos", dot(col("__qv"), col("__cv")) /
        (sqrt(col("__qn")) * sqrt(col("__cn"))))
    TopK.ranked(scored, Seq("__qk"), col("cos"), "__ck", k).toDF(qKey, cKey, "cos", "rank")
  }

  /**
   * SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication", 2023): embedding-space
   * near-duplicate pruning. Cluster the corpus with the deterministic
   * Lloyd quantizer ([[kmeansCentroids]]), then WITHIN each cluster drop
   * every document that has a smaller-keyed cluster-mate at cosine ≥ tau.
   * Output: (cKey, cluster_id, kept) for every input row.
   *
   * Determinism: the paper keeps a random exemplar per ε-ball; this
   * implementation keeps the MINIMUM key of each shadowing pair — a pure
   * function of the data, so retries/reruns/oracles reproduce identical
   * decisions (the same convention as the minhash dedup family). A doc is
   * dropped iff ANY smaller-keyed cluster-mate scores ≥ tau (pairwise
   * shadowing, not transitive closure: A≈B≈C with cos(A,C) < tau keeps A
   * and C — the paper's per-ball pruning has the same non-transitive
   * boundary). Cosines are 4-dp-rounded before the threshold test, the
   * proven cross-engine-stable comparison.
   *
   * Scale shape (the paper's own blocking argument): the only join is an
   * equi-join on the cluster id, so candidate pairs are |cluster|² per
   * cluster, never corpus² — size kClusters ∝ corpus so clusters stay
   * O(thousands) and the quadratic term is bounded per key; the exchange
   * carries (key, vec) once. The centroid matrix is driver-side metadata
   * (kClusters × dim), exactly like the IVF path. Skewed hot clusters at
   * extreme scale: cap cluster radius by raising kClusters (the paper
   * uses corpus/kClusters ≈ 10⁴) — no cartesian, no window over the
   * corpus (plan pinned in SimilaritySpec).
   */
  def semDedup(corpus: DataFrame, cKey: String, cVec: String,
      kClusters: Int, iters: Int, tau: Double): DataFrame = Checkpoints.scope {
    val centroids = kmeansCentroids(corpus, cKey, cVec, kClusters, iters)
    // materialize the assignment ONCE: it is referenced three times (both
    // self-join sides + the final kept join), and the kClusters-way
    // distance projection over the whole corpus is the dominant linear
    // cost — re-deriving it 3x tripled the operator.
    val a = Checkpoints.materialize(assignToCentroids(
      corpus.select(col(cKey).as("__k"), col(cVec).as("__v")), "__v", centroids))
    val l = a.select(col("__cid"), col("__k").as("__lk"), col("__v").as("__lv"))
    val r = a.select(col("__cid"), col("__k").as("__rk"), col("__v").as("__rv"))
    // degenerate-vector guard: a zero embedding gives a zero-norm
    // denominator — under ANSI that division THROWS mid-job, and with
    // ANSI off it yields NaN, which satisfies `NaN >= tau` under Spark's
    // NaN-largest ordering and spuriously shadows every smaller-keyed
    // zero-vector cluster-mate. The when() evaluates the division only
    // for non-zero finite denominators (CaseWhen branches are lazy), so
    // degenerate vectors never shadow and never throw; pinned in
    // SimilaritySpec. NULL/NaN cosines fail the threshold predicate.
    val denom = norm(col("__lv")) * norm(col("__rv"))
    val cos = when(!isnan(denom) && denom =!= 0.0,
      round(dot(col("__lv"), col("__rv")) / denom, 4))
    val dropped = l.join(r, "__cid")
      .where(col("__rk") < col("__lk"))
      .where(!isnan(cos) && cos >= tau)
      .select(col("__lk").as("__k")).distinct()
      .withColumn("__dropped", lit(true))
    a.join(dropped, Seq("__k"), "left")
      .select(col("__k").as(cKey), col("__cid").cast("long").as("cluster_id"),
        coalesce(col("__dropped"), lit(false)).unary_!.as("kept"))
  }

  /** IVF-bucketed ANN: candidates share the query's coarse partition. */
  def ivfTopK(queries: DataFrame, qKey: String, qVec: String, qPart: String,
      corpus: DataFrame, cKey: String, cVec: String, cPart: String, k: Int): DataFrame = {
    val q = queries.select(col(qKey).as("__qk"), col(qVec).as("__qv"), col(qPart).as("__p"))
    val c = corpus.select(col(cKey).as("__ck"), col(cVec).as("__cv"), col(cPart).as("__p"))
    val scored = notSelfPair(q.join(c, "__p"))
      .withColumn("cos", round(cosine(col("__qv"), col("__cv")), 4))
    TopK.ranked(scored, Seq("__qk"), col("cos"), "__ck", k).toDF(qKey, cKey, "cos", "rank")
  }
}
