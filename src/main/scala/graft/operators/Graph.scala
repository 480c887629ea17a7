package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.{materialize, scope}

/**
 * Link-graph operators for web corpora. PageRank is THE host-quality
 * signal of webtext curation (Common Crawl ranks its host lists with it;
 * quality-filter stacks use it as a prior), so the engine carries it as
 * a first-class batch operator.
 *
 * Arithmetic contract — EXACT 64-bit integers end to end: ranks are
 * fixed-point (2^40 = 1.0 mass), contributions divide by
 * out-degree with integer division, the damping factor is the rational
 * 85/100 applied as `(85 · sum) div 100`. Long addition is associative
 * and commutative, so the per-node sums are bit-identical under ANY
 * partitioning, task order or retry — the property float PageRank loses
 * (float sums are shuffle-order-nondeterministic) and the reason any
 * engine can replay the computation exactly (the DuckDB oracle unrolls
 * the same iterations in SQL and matches to the last bit).
 *
 * Semantics: the standard simplified random surfer —
 *   r₀(v)   = SCALE div n
 *   rᵢ₊₁(v) = (SCALE·15 div 100) div n
 *             + 85 · Σ_{(u,v)∈E} (rᵢ(u) div outdeg(u)) div 100
 * Dangling nodes (no out-edges) absorb mass; integer division truncates
 * sub-ulp mass. Both losses are deterministic and standard for the
 * ranking use (ORDER is what curation consumes, not the exact measure).
 *
 * Scale shape per iteration: one equi-join rank⋈edges on src (both sides
 * hash-partitioned on the same key — on a cluster, bucket the edge table
 * by src once and every iteration's join is shuffle-free on the edge
 * side), one groupBy(dst) with map-side partial sums (longs), one
 * broadcast-sized nodes⋈sums join. Ranks localCheckpoint per round —
 * iterative plans otherwise grow until the optimizer chokes (CLAUDE.md
 * gotcha), and the previous round's blocks release deterministically.
 *
 * Overflow headroom: total mass ≤ 2^40, so any per-node sum is < 2^40
 * and `85 · sum` needs 47 bits — 16 spare bits.
 */
object Graph {

  /** Fixed-point 1.0: total rank mass (see the overflow headroom above). */
  private val Scale = 1L << 40

  /**
   * @param edges distinct directed edges are derived from (src, dst) —
   *              duplicates collapse (a page linking twice votes once,
   *              the Brin–Page convention)
   * @return (node, rank) for every node appearing as src or dst;
   *         ranks in fixed-point 2^40 units, BIGINT-exact
   */
  def pageRank(edges: DataFrame, src: String, dst: String, iterations: Int): DataFrame = scope {
    val (eWithDeg, nodes, base, r0) = prep(edges, src, dst, iterations)
    var rank = r0
    for (i <- 1 to iterations) {
      val next = materialize(step(rank, eWithDeg, nodes, base))
      // release round i−1's blocks (NOT the initial rank — that one
      // references the shared nodes checkpoint, which later rounds and
      // the final join still read)
      if (i > 1) org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(rank)
      rank = next
    }
    rank.select(col("node"), col("rank"))
  }

  /** Shared setup: distinct long edges carrying out-degree, the node set,
   * the per-iteration base mass and the uniform initial ranks. */
  private def prep(edges: DataFrame, src: String, dst: String,
      iterations: Int): (DataFrame, DataFrame, Long, DataFrame) = {
    require(iterations >= 0 && iterations <= 64, s"iterations in [0,64] (got $iterations)")
    val e = materialize(edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()) // reused every iteration: cut lineage once
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // carry outdeg ON the edge rows so the per-iteration join count stays
    // at one (rank ⋈ edges); outdeg is itself derived from e, same key
    val eWithDeg = materialize(e.join(outdeg, "src"))
    val nodes = materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())
    val n = nodes.count() // metadata-sized driver scalar (node count)
    require(n > 0, "pageRank needs at least one edge")
    val base = (Scale * 15L / 100L) / n
    (eWithDeg, nodes, base, nodes.select(col("node"), lit(Scale / n).as("rank")))
  }

  /** One exact power iteration: rank ⋈ edges on src, long-sum by dst,
   * damp, re-seed dangling receivers from the base mass. */
  private def step(rank: DataFrame, eWithDeg: DataFrame, nodes: DataFrame,
      base: Long): DataFrame = {
    val sums = eWithDeg
      .join(rank, eWithDeg("src") === rank("node"))
      .select(col("dst"), expr("rank div outdeg").as("c"))
      .groupBy("dst").agg(sum("c").as("s")) // exact long sums, order-free
    nodes.join(sums, nodes("node") === sums("dst"), "left")
      .select(col("node"),
        (lit(base) + expr("85 * coalesce(s, 0L) div 100")).as("rank"))
  }

  /**
   * [[pageRank]] with snapshot-committed iterations — the cluster-durable
   * form the north rule asks of every stage: each power iteration commits
   * its rank table as an idempotent snapshot wave
   * ([[graft.snap.SnapshotCatalog.commitWave]] — atomic manifest rename,
   * per-partition lineage rows, wall-time counters), so a crash at
   * iteration i resumes AT iteration i on the next run instead of
   * restarting the walk. Iteration state lives in storage (parquet), not
   * executor memory — a lost executor costs a task retry, not the job
   * (contrast `localCheckpoint`, whose blocks die with their executor).
   *
   * Because ranks are EXACT integers (see [[pageRank]]'s arithmetic
   * contract), the resumed run is bit-identical to an uninterrupted one —
   * resumability needs determinism, which float PageRank cannot offer.
   *
   * Each committed wave carries an `iter` column; reading iteration i
   * back filters on it — parquet row-group stats (min = max = iter per
   * file) prune every other iteration's files, so the read costs one
   * iteration's data, not the chain's. Time travel over the ranks table
   * ([[graft.snap.SnapshotCatalog.readAt]]) gives the full convergence
   * history for free.
   *
   * @return (node, rank) at `iterations`, read back from the snapshot
   *         table (already durable — no caller-side checkpointing needed)
   */
  def pageRankResumable(edges: DataFrame, src: String, dst: String,
      iterations: Int, root: String, table: String): DataFrame = scope {
    import graft.snap.SnapshotCatalog
    val spark = edges.sparkSession
    val (eWithDeg, nodes, base, r0) = prep(edges, src, dst, iterations)
    val done = SnapshotCatalog.currentManifest(root, table)
      .map(_.completedWaves.toSet).getOrElse(Set.empty)
    require(done.forall(_ <= iterations),
      s"table $table already holds ${done.max} iterations (> $iterations); " +
        "use a fresh table or ask for at least as many iterations")
    def readIter(i: Int): DataFrame =
      SnapshotCatalog.read(spark, root, table)
        .where(col("iter") === i).select("node", "rank")
    (0 to iterations).foreach { i =>
      if (!done.contains(i)) {
        // waves commit strictly in order, so iteration i−1 is durable
        // (either from THIS run or a previous crashed one) before i runs
        val out = if (i == 0) r0 else step(readIter(i - 1), eWithDeg, nodes, base)
        SnapshotCatalog.commitWave(spark, out, i, root, table)(
          _.withColumn("iter", lit(i)))
      }
    }
    // every wave is committed to STORAGE and readIter reads back from it,
    // so the prep checkpoints are released on return
    readIter(iterations)
  }

  /**
   * HITS hubs/authorities (Kleinberg, "Authoritative sources in a
   * hyperlinked environment", JACM 1999) — the UNNORMALIZED exact-integer
   * variant: starting from h₀ ≡ 1, each iteration applies Kleinberg's I
   * operation then O operation
   *
   *   aᵢ(v) = Σ_{(u,v)∈E} hᵢ₋₁(u)      (authority = sum of in-hub scores)
   *   hᵢ(u) = Σ_{(u,v)∈E} aᵢ(v)        (hub = sum of out-authority scores)
   *
   * WITHOUT the per-iteration L2 normalization. Normalization only
   * rescales (it never reorders), and dropping it keeps every value an
   * exact 64-bit path count — aᵢ(v) counts alternating back-forward link
   * paths of length 2i−1 ending at v — so long sums are
   * partitioning/retry/order-invariant and a SQL oracle replays the
   * computation bit-for-bit (the same determinism contract as
   * [[pageRank]]'s fixed-point arithmetic; float HITS would be
   * shuffle-order nondeterministic). Ranking consumers use the ORDER.
   *
   * Overflow bound (why `iterations` ≤ 3): values grow by a factor
   * ≤ d_in·d_out per iteration, so a_t ≤ (d_max)^(2t−1) — at the 64-bit
   * limit this admits d_max up to ~2000 for t = 3. Spark's ANSI mode
   * makes a violation THROW (long-sum overflow), never silently wrap;
   * DuckDB's HUGEINT sums would diverge silently past 2^63, so the cap
   * is a correctness precondition, not a style choice.
   *
   * Scale shape per iteration: two equi-joins score ⋈ edges (src then
   * dst) + two long-sum aggregates — identical exchange pattern to
   * [[pageRank]]'s step, bucket the edge table by src/dst once on a
   * cluster. The ≤3-round unroll keeps the whole plan a short static DAG,
   * so no per-round checkpointing is needed (contrast the 64-round
   * PageRank loop).
   *
   * @param edges directed (src, dst); duplicates collapse like [[pageRank]]
   * @return (node, hub, auth) for every node appearing in an edge
   */
  def hits(edges: DataFrame, src: String, dst: String, iterations: Int): DataFrame = scope {
    require(iterations >= 1 && iterations <= 3,
      s"hits iterations in [1,3] (got $iterations): see the overflow bound")
    val e = materialize(edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()) // reused 2·iterations times: cut lineage once
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var hub = nodes.select(col("node"), lit(1L).as("hub"))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      auth = nodes.join(
          e.join(hub.select(col("node").as("src"), col("hub")), "src")
            .groupBy("dst").agg(sum("hub").as("__s"))
            .select(col("dst").as("node"), col("__s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__s"), lit(0L)).as("auth"))
      hub = nodes.join(
          e.join(auth.select(col("node").as("dst"), col("auth")), "dst")
            .groupBy("src").agg(sum("auth").as("__s"))
            .select(col("src").as("node"), col("__s")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__s"), lit(0L)).as("hub"))
    }
    hub.join(auth, "node").select(col("node"), col("hub"), col("auth"))
  }
}
