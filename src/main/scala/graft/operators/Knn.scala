package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.core.Checkpoints.{materialize, persist, scope}
import graft.functions.{cell_disk_band, cell_disk_bound, cell_id}
import graft.geo.CellIndex

/**
 * Exact k-nearest-neighbour join via iterative cell-ring expansion
 * (north rule "kNN via iterative ring expansion"; SURVEY §2.3 J6).
 *
 * Metric: squared planar degree distance (dx² + dy²) — the same exact
 * double arithmetic as the brute-force oracle, so result row sets match
 * bit-for-bit. Ties broken by ascending target key.
 *
 * Algorithm (all DataFrame ops; the driver loop only counts):
 *   round r: unresolved queries explode to their Chebyshev band cells
 *   (bands [0,1], [2,4], [5,10], …) and equi-join targets indexed at
 *   `res` — the 8-byte cell key is the only join key. Rings are disjoint
 *   → no duplicate pairs across rounds. A query resolves when it has ≥ k
 *   candidates whose kth-best d² ≤ minDistSqBeyondDisk(p, res, r) — the
 *   property-tested bound guaranteeing nothing outside ring r can beat the
 *   current top-k (CellIndexSpec "kNN bound").
 *
 * One loop, per-path folds: every path runs through the shared
 * [[ringExpand]] loop, which owns the target layer, the band schedule,
 * the per-round checkpoint (its `Observation` counts the open set — the
 * loop's only convergence signal) and the union of the finished rows. A
 * path supplies only its target-key column, its per-query state columns,
 * its round fold (open, candidates, r) → state + `__done`, and its emit
 * projection:
 *   - k = 1 ([[applyNearest]]): the declarative [[MaxScoreMinKey]] best
 *     pair, merged with the carried best by a narrow join;
 *   - 2 ≤ k ≤ [[TopKSlots.JitK]] at scale ([[applyDeclK]]): declarative
 *     [[TopKSlots]] buffers, merged by explode-and-reaggregate;
 *   - other k ([[applyAgg]]): the imperative [[TopKByScore]]
 *     ObjectHashAggregate over carried + fresh + sentinel rows;
 *   - non-integral target keys ([[applyAnyKey]]): a sorted
 *     array<struct<d, t>> of the best k so far, merged with the round's
 *     `sort_array(collect_list)` by a narrow join.
 * The three integral paths cast the key to BIGINT and ship at most k
 * (score, key) pairs per query into the round's exchange — O(open-queries)
 * state instead of every candidate row, and no full-candidate sort (a
 * `row_number` window sorted candidate-cells × target-density rows per
 * round: measured 2× wall time and 0.49 N→4N scaling on the bench fixture
 * — the sort spilled; the aggregates don't). [[applyAnyKey]] keeps the key
 * in its own type and ships every candidate through `collect_list`. In
 * every path the fold's row carries the ring-bound resolution test, so
 * each round is one checkpoint job. Rounds needed ≈ target density,
 * typically 1-3 when `res` is sized so a ring-1 disk holds ≳k targets.
 * Carried state is capped at top-k per query per round (correct: dropped
 * candidates can never re-enter the top-k).
 */
object Knn {

  /** Combined input-size estimate below which general-k routes to the
   * imperative aggregate instead of the declarative slot fold (see the
   * routing note in [[apply]]). 64 MB of ESTIMATED input (compressed
   * parquet bytes or exact range stats) is comfortably above every
   * oracle fixture and comfortably below any job where scaling matters —
   * the two measured regimes sit 30× below and 100× above it. */
  private val DeclRouteMinBytes: Long = 64L << 20

  /** The session's broadcast budget in bytes (≤0 = never broadcast).
   * Parsed with Spark's own byte-string parser (covers every legal form
   * — "10m", "2t", whitespace — a hand parser once threw on); AQE's
   * dedicated threshold takes precedence when set, matching what the
   * planner itself would use; an unparsable value falls back to the
   * non-broadcast path rather than failing the whole Knn call. */
  private def broadcastBytesLimit(df: DataFrame): Long = {
    val conf = df.sparkSession.conf
    val v = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
      .filter(_.trim.nonEmpty)
      .orElse(conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
      .getOrElse("10485760")
    // negative forms ("-1" = disabled) fail the byte-string grammar and
    // land in the 0L fallback — exactly the never-broadcast semantics
    scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v.trim)).getOrElse(0L)
  }

  /**
   * @param queries (qKey, qLat, qLon) — qKey must be unique
   * @param targets (tKey, tLat, tLon)
   * @param k       neighbours per query
   * @param res     index resolution (see scale notes)
   * @param reliableCheckpoint when true, per-round state goes through
   *        `checkpoint()` (HDFS-durable; requires
   *        `sparkContext.setCheckpointDir`) instead of
   *        `localCheckpoint()`. Local checkpoints live in executor
   *        memory/disk — on a real cluster a lost executor kills the job
   *        mid-iteration, so at 100× scale run with this on; local-mode
   *        tests and benches keep the cheap default.
   * @return (qKey, tKey, dist_sq, rank) — exactly k rows per query (fewer
   *         iff the whole target table has < k rows). Candidates whose
   *         distance is non-finite (NaN coordinates) are excluded — every
   *         path shares this semantic.
   */
  def apply(
      queries: DataFrame,
      qKey: String, qLat: String, qLon: String,
      targets: DataFrame,
      tKey: String, tLat: String, tLon: String,
      k: Int, res: Int, reliableCheckpoint: Boolean = false): DataFrame = {
    require(k >= 1)
    // General-k routing is SIZE-AWARE: applyDeclK's explode-and-reaggregate
    // state fold pays a per-round fixed cost (2k-slot buffer exprs through
    // an extra exchange) that dominates small jobs — on 4 vCPU, q24's
    // inputs at sf0.1 (15k queries, k = 3) took a median 1.75 s decl vs
    // 1.33 s agg over 12 alternating pairs, agg winning all 12, and decl
    // ran 17 jobs per call to agg's 14 — while at bench scale (4M queries,
    // 1.1G candidates) decl is ~1.5× faster and removes the
    // ObjectHashAggregate span-boundary GC ceiling (SCALE.md). The routing
    // signal is the optimizer's sizeInBytes estimate of both inputs:
    // computed at plan time (no job, no collect), and frames with UNKNOWN
    // stats default to spark.sql.defaultSizeInBytes = Long.Max, which
    // routes to decl — the path whose shape survives 100×. Both paths are
    // result-identical (SpatialOpsSpec's path-equality tests), so the
    // estimate only steers the constant factor, never correctness.
    def estBytes(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    lazy val smallJob =
      estBytes(queries) + estBytes(targets) < BigInt(DeclRouteMinBytes)
    if (!TopK.integralKey(targets.schema(tKey).dataType))
      applyAnyKey(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, k, res, reliableCheckpoint)
    else if (k == 1)
      applyNearest(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, res, reliableCheckpoint)
    // JitK, not MaxK: at k ≥ 5 TopKSlots' generated update method exceeds
    // the JVM's 8000-byte JIT limit and the whole span runs interpreted —
    // measured 6–10× slower than the imperative path (TopKSlots.JitK
    // scaladoc) — so the decl fusion win only exists while the method
    // JIT-compiles
    else if (k > TopKSlots.JitK || smallJob)
      applyAgg(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, k, res, reliableCheckpoint)
    else
      applyDeclK(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, k, res, reliableCheckpoint)
  }

  /** Sentinel candidate seeded per open query each round so queries whose
   * disk holds no targets yet still surface in the aggregate (a plain
   * groupBy would silently drop them). −∞ sorts strictly after every real
   * score, so a sentinel only occupies a buffer slot when a query has
   * < k real candidates — and then its kth distance is +∞, which can never
   * pass the ring bound, so the done-test needs no special case. */
  private val SentinelScore = Double.NegativeInfinity

  /**
   * The target layer every path joins against — (key, __tlat, __tlon,
   * __tcell) — persisted in the caller's scope; a compact layer is
   * broadcast, so the per-round cell equi-join needs NO exchange on either
   * side (the exploded ring-cell rows — the loop's biggest intermediate —
   * never shuffle), cutting both shuffled bytes and two stage boundaries of
   * driver-sync latency per round. Gated on measured size (rows × ~48 B)
   * against the session's own broadcast threshold so a huge target table
   * keeps the shuffle join.
   */
  private def targetLayer(
      targets: DataFrame, key: Column, tLat: String, tLon: String, res: Int): DataFrame = {
    val tgt = persist(targets.select(key, col(tLat).as("__tlat"), col(tLon).as("__tlon"))
      .withColumn("__tcell", cell_id(col("__tlat"), col("__tlon"), res)))
    if (tgt.count() * 48 <= broadcastBytesLimit(tgt)) broadcast(tgt) else tgt
  }

  /** Upper radius of the band after `lo`. Geometric radius growth: bands
   * [0,1], [2,4], [5,10], [11,22], … — log(maxRings) driver rounds instead
   * of one per ring. The first band is the full disk-1 (not the lone [0,0]
   * cell): callers pick res so that an average disk-1 (9 cells) holds
   * ≳k targets, and a query near a cell corner can have its NN in a
   * diagonal neighbour — so [0,0] almost never passes the edge-distance
   * bound and just costs one extra global sync. */
  private def bandEnd(lo: Int, maxRings: Int): Int =
    if (lo == 0) math.min(1, maxRings) else math.min(lo * 2, maxRings)

  /** The properly-shaped result of an empty query set. */
  private def emptyResult(queries: DataFrame, qKey: String, targets: DataFrame, tKey: String): DataFrame =
    queries.limit(0).select(col(qKey),
      lit(null).cast(targets.schema(tKey).dataType).as(tKey), lit(0.0).as("dist_sq"), lit(0).as("rank"))

  /**
   * The ring-expansion loop every path runs. The open set is one row per
   * unresolved query: (__qkey, __qlat, __qlon) plus the path's own `state`
   * columns (its top-k-so-far). Each round the loop joins the open
   * queries' band cells against the target layer into candidates
   * (__qkey, __qlat, __qlon, __score = −d², __tkey = the path's `key`
   * column over the targets), and `fold(open, candidates, r)` ranks them
   * into one row per open query carrying the updated state and `__done`
   * (the ring-r bound test). The
   * fold's frame is checkpointed — the plan would otherwise grow by one
   * join+agg per round and blow up the optimizer (observed: explainString
   * OOM); its open rows, minus `__done`, are the next round's open set.
   * `emit` projects a round's rows to (__qkey, __tkey, dist_sq, rank).
   */
  private def ringExpand(
      queries: DataFrame,
      qKey: String, qLat: String, qLon: String,
      targets: DataFrame,
      tKey: String, tLat: String, tLon: String,
      res: Int, reliableCheckpoint: Boolean)(
      key: Column,
      state: Seq[Column],
      fold: (DataFrame, DataFrame, Int) => DataFrame,
      emit: DataFrame => DataFrame): DataFrame = scope {
    val maxRings = (1L << res).toInt // ring > grid size is impossible
    val tgt = targetLayer(targets, key.as("__tkey"), tLat, tLon, res)

    // score = −d² so the folds' (score desc, key asc) order is
    // (dist asc, key asc)
    val negD2 = {
      val dx = col("__tlon") - col("__qlon")
      val dy = col("__tlat") - col("__qlat")
      (-(dx * dx + dy * dy)).as("__score")
    }

    // the query count, and each round's open count, ride the checkpoint
    // jobs via observe() — a separate isEmpty action would add one more
    // driver round-trip to the loop's serial path (every such sync is
    // core-count-independent cost)
    val obs0 = org.apache.spark.sql.Observation(s"__knn_init_${System.nanoTime()}")
    var open: DataFrame = materialize(queries.select(
      Seq(col(qKey).as("__qkey"), col(qLat).as("__qlat"), col(qLon).as("__qlon")) ++ state: _*)
      .observe(obs0, count(lit(1)).as("n")), reliable = reliableCheckpoint)
    // per-round frames: each round's finished/tail rows stay LAZY
    // projections over that round's checkpoint (one eager job per round
    // instead of two; blocks total ≤ ~2×|queries| states since the open set
    // shrinks geometrically). The blocks back the result (graft.core.Checkpoints).
    // (An eager compaction here was measured at +15-20% wall time on the
    // bench workload — writing+rereading k·|queries| rows — so the lazy
    // form is deliberate.)
    val rounds = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var lo = 0
    var openCount: Long =
      if (obs0.get("n").asInstanceOf[Long] == 0L) 0L else Long.MaxValue
    while (lo <= maxRings && openCount > 0) {
      val r = bandEnd(lo, maxRings)
      // NaN-coordinate rows would sort as the BEST score in TopKByScore
      // (Double.compare total order) but WORST in sort_array, and a +Inf
      // distance would collide with the sentinel —
      // exclude every non-finite distance outright so all paths share
      // one defined semantic: such candidates never rank
      val cand = open
        .select(col("__qkey"), col("__qlat"), col("__qlon"),
          cell_disk_band(cell_id(col("__qlat"), col("__qlon"), res), lit(lo), lit(r)).as("__cell"))
        .join(tgt, col("__cell") === col("__tcell"))
        .select(col("__qkey"), col("__qlat"), col("__qlon"), negD2, col("__tkey"))
        .where(!isnan(col("__score")) && col("__score") =!= lit(SentinelScore))
      val obs = org.apache.spark.sql.Observation(s"__knn_open_${r}_${System.nanoTime()}")
      val aggd = materialize(fold(open, cand, r)
        .observe(obs, count(when(!col("__done"), 1)).as("open")), reliable = reliableCheckpoint)
      openCount = obs.get("open").asInstanceOf[Long]
      // round 0's frame now owns the state: release the initial open set
      if (rounds.isEmpty) org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(open)
      rounds += aggd
      open = aggd.where(!col("__done")).drop("__done")
      lo = r + 1
    }
    if (rounds.isEmpty) emptyResult(queries, qKey, targets, tKey) // the query set was empty
    else {
      // every round's finished queries, plus whatever the final round left
      // open (target table smaller than k, or grid exhausted — emit of the
      // WHOLE last frame covers both its done and its open rows); the
      // cast is the identity for a key the path kept in its own type
      val result0 = (rounds.init.map(a => emit(a.where(col("__done"))))
        :+ emit(rounds.last)).reduce(_.union(_))
      result0.select(
        col("__qkey").as(qKey), col("__tkey").cast(targets.schema(tKey).dataType).as(tKey),
        col("dist_sq"), col("rank"))
    }
  }

  /** Sorted k-slot buffer `__tk` (scores desc, keys) → one row per real
   * slot, rank = slot position (sentinel slots are dropped). */
  private def emitSlots(df: DataFrame): DataFrame =
    TopK.explodeSlots(df, Seq("__qkey"), "__tk", "__tkey", "__score", dropSentinels = true)
      .select(col("__qkey"), col("__tkey"), (-col("__score")).as("dist_sq"), col("rank"))

  /**
   * k = 1 (nearest-neighbor join, the most common call) — the fully
   * codegen'd fast path. Per round the candidate stream aggregates
   * through the declarative [[MaxScoreMinKey]]: its fixed-width
   * (double, long) buffer lets HashAggregateExec fuse the PARTIAL
   * aggregation into the scan→explode→join codegen span, so a candidate
   * row is never materialized — zero per-candidate heap allocation. (The
   * general-k path unions carried state + sentinels into an
   * ObjectHashAggregate; that span boundary copies every candidate row —
   * profiled at ~100 GB/child on the scaling bench, with the GC acting as
   * a core-count-independent cost that capped N→4N scaling at ~0.7.)
   * Carried per-query state is folded in AFTER the aggregate by a narrow
   * left-outer join against the open set (three 8-byte columns a side —
   * the scalar max/min-key merge of two candidates is plain CASE
   * arithmetic), which also re-seeds queries whose band held no targets,
   * replacing the sentinel-union trick.
   */
  private[operators] def applyNearest(
      queries: DataFrame,
      qKey: String, qLat: String, qLon: String,
      targets: DataFrame,
      tKey: String, tLat: String, tLon: String,
      res: Int, reliableCheckpoint: Boolean): DataFrame =
    ringExpand(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, res, reliableCheckpoint)(
      key = col(tKey).cast(LongType),
      // open carries the best-so-far candidate inline; sentinel = no real
      // candidate yet (real scores are finite: NaN/±Inf filtered)
      state = Seq(lit(SentinelScore).as("__score"), lit(Long.MinValue).as("__tkey")),
      fold = (open, cand, r) => {
        // ONE fused span up to the partial aggregate: no union, no sentinel
        val roundBest = cand.groupBy("__qkey")
          .agg(TopKByScore.best(col("__score"), col("__tkey")).as("__new"))
        val newS = col("__new.best_score")
        val newK = col("__new.best_key")
        val bs2 = when(col("__new").isNull, col("__score"))
          .when(newS > col("__score"), newS)
          .otherwise(col("__score"))
        val bk2 = when(col("__new").isNull, col("__tkey"))
          .when(newS > col("__score"), newK)
          .when(newS === col("__score"), least(col("__tkey"), newK))
          .otherwise(col("__tkey"))
        open
          .join(roundBest, Seq("__qkey"), "left_outer")
          .select(col("__qkey"), col("__qlat"), col("__qlon"),
            bs2.as("__score"), bk2.as("__tkey"))
          .withColumn("__done", col("__score") =!= lit(SentinelScore) &&
            -col("__score") <= cell_disk_bound(col("__qlat"), col("__qlon"), res, lit(r)))
      },
      emit = _.select(col("__qkey"), col("__tkey"),
          (-col("__score")).as("dist_sq"), lit(1).as("rank"))
        .where(col("dist_sq") =!= lit(Double.PositiveInfinity)))

  /**
   * General k (routed for 2 ≤ k ≤ [[TopKSlots.JitK]]; constructible to
   * MaxK for forced-path/spec use — integral target keys) — the
   * declarative fast path: per round the fresh-candidate stream
   * aggregates through the declarative [[TopKSlots]], whose
   * all-primitive fixed-width buffer lets HashAggregateExec fuse the
   * PARTIAL aggregation into the scan→explode→join codegen span — zero
   * per-candidate heap allocation, removing the ObjectHashAggregate
   * span-boundary row copy (~100 GB/child profiled) that capped the
   * k > 1 scaling at ~0.7-0.8 (SCALE.md).
   *
   * Carried per-query state folds in by EXPLODE-AND-REAGGREGATE: both
   * k-slot buffers (the carried top-k and the round's aggregate) explode
   * to narrow (qkey, score, key) rows — ≤ 2k per open query, ~2% of the
   * candidate volume — and a second [[TopKSlots]] aggregate merges them.
   * Every piece is a built-in codegen'd op. (The first cut folded via a
   * left-outer join whose projection merged the two sorted buffers with
   * the order-statistic formula of [[TopKSlots]]' merge; each of the 2k
   * output columns re-derived the full O(k²) struct-proxy least/greatest
   * tree, and the projection measured ~4.5 µs/row — 18 s of a 24 s round
   * — against ~1 s for the narrow re-aggregate.)
   *
   * Sentinel slots explode as (−∞, Long.MaxValue) rows and are NO-OPS in
   * the update chain (a −∞ input either rejects against a full buffer or
   * lands on a sentinel slot, writing back the identical value), so no
   * filtering or seeding is needed and queries with no candidates yet
   * survive every round via their own sentinel rows.
   */
  private[graft] def applyDeclK(
      queries: DataFrame,
      qKey: String, qLat: String, qLon: String,
      targets: DataFrame,
      tKey: String, tLat: String, tLon: String,
      k: Int, res: Int, reliableCheckpoint: Boolean): DataFrame =
    ringExpand(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, res, reliableCheckpoint)(
      key = col(tKey).cast(LongType),
      // open carries the sorted top-k-so-far as a struct of two k-arrays
      // (scores desc, keys); all-sentinel = no real candidates yet
      state = Seq(struct(
        array(Seq.fill(k)(lit(TopKSlots.SentinelScore)): _*).as("scores"),
        array(Seq.fill(k)(lit(TopKSlots.SentinelKey)): _*).as("keys")).as("__tk")),
      fold = (open, cand, r) => {
        // ONE fused span up to the partial aggregate: no union, no sentinel
        val roundK = cand.groupBy("__qkey")
          .agg(TopKByScore.topKSlots(k)(col("__score"), col("__tkey")).as("__new"))
        // narrow fold: explode carried + fresh buffers to ≤ 2k rows/query,
        // re-aggregate; max() recovers the coordinates (unique per qkey,
        // present exactly once — on the carried side)
        def slotRows(df: DataFrame, buf: String, withCoords: Boolean): DataFrame =
          df.select(
            col("__qkey"),
            (if (withCoords) col("__qlat") else lit(null).cast("double")).as("__qlat"),
            (if (withCoords) col("__qlon") else lit(null).cast("double")).as("__qlon"),
            explode(arrays_zip(
              col(s"$buf.scores").as("s"), col(s"$buf.keys").as("t"))).as("__p"))
            .select(col("__qkey"), col("__qlat"), col("__qlon"),
              col("__p.s").as("__score"), col("__p.t").as("__tkey"))
        val merged = slotRows(open, "__tk", withCoords = true)
          .union(slotRows(roundK, "__new", withCoords = false))
          .groupBy("__qkey")
          .agg(
            TopKByScore.topKSlots(k)(col("__score"), col("__tkey")).as("__tk"),
            max(col("__qlat")).as("__qlat"), max(col("__qlon")).as("__qlon"))
        // done ⇔ buffer full (kth slot non-sentinel) and the kth distance
        // beats the ring-r bound — nothing outside ring r can improve it
        val kth = element_at(col("__tk.scores"), k)
        merged.withColumn("__done", kth =!= lit(TopKSlots.SentinelScore) &&
          -kth <= cell_disk_bound(col("__qlat"), col("__qlon"), res, lit(r)))
      },
      emit = emitSlots)

  /** Map-side partial top-k path (integral target keys). One shuffle per
   * round: the TopKByScore hash aggregate, whose output row also carries
   * the resolution test. Coordinates must be finite (±∞ would collide
   * with the sentinel). Since the declarative [[applyDeclK]] landed this
   * path serves k > [[TopKSlots.JitK]] (and path-equality specs). */
  private[operators] def applyAgg(
      queries: DataFrame,
      qKey: String, qLat: String, qLon: String,
      targets: DataFrame,
      tKey: String, tLat: String, tLon: String,
      k: Int, res: Int, reliableCheckpoint: Boolean): DataFrame =
    ringExpand(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, res, reliableCheckpoint)(
      key = col(tKey).cast(LongType),
      // round 0's open set carries no buffer; later rounds carry the
      // aggregate's `__tk` of their still-open queries
      state = Nil,
      fold = (open, cand, r) => {
        // carried candidate state of still-open queries (≤ k rows each)
        val carried =
          if (!open.columns.contains("__tk")) cand
          else TopK.explodeSlots(open, Seq("__qkey", "__qlat", "__qlon"), "__tk",
              "__tkey", "__score", dropSentinels = true)
            .select("__qkey", "__qlat", "__qlon", "__score", "__tkey")
            .union(cand)
        val seed = open.select(col("__qkey"), col("__qlat"), col("__qlon"),
          lit(SentinelScore).as("__score"), lit(Long.MinValue).as("__tkey"))
        // the aggregate row carries everything the round needs: the top-k
        // buffer, the kth distance, and the ring-bound done-test
        carried.union(seed)
          .groupBy("__qkey", "__qlat", "__qlon")
          .agg(TopKByScore.topK(k)(col("__score"), col("__tkey")).as("__tk"))
          .withColumn("__done",
            col("__tk.n") === k &&
              -element_at(col("__tk.scores"), col("__tk.n")) <=
                cell_disk_bound(col("__qlat"), col("__qlon"), res, lit(r)))
      },
      emit = emitSlots)

  /**
   * Any target-key type — the path for non-integral keys, which the
   * BIGINT-keyed aggregates cannot carry. The key keeps its own type; the
   * per-query state `__best` is the sorted array<struct<d, t>> of the best
   * k so far, empty at the start. Each round ranks the fresh candidates
   * per query with `sort_array(collect_list)` and merges them into the
   * carried array by a left-outer join against the open set, which also
   * carries queries whose band held no targets. `sort_array` over (d, t)
   * is the (dist asc, key asc) order of every other path.
   */
  private[operators] def applyAnyKey(
      queries: DataFrame,
      qKey: String, qLat: String, qLon: String,
      targets: DataFrame,
      tKey: String, tLat: String, tLon: String,
      k: Int, res: Int, reliableCheckpoint: Boolean): DataFrame = {
    def firstK(pairs: Column): Column = slice(sort_array(pairs), 1, k)
    val best = ArrayType(StructType(Seq(
      StructField("d", DoubleType), StructField("t", targets.schema(tKey).dataType))))
    ringExpand(queries, qKey, qLat, qLon, targets, tKey, tLat, tLon, res, reliableCheckpoint)(
      key = col(tKey),
      state = Seq(array().cast(best).as("__best")),
      fold = (open, cand, r) => {
        val fresh = cand.groupBy("__qkey").agg(firstK(collect_list(
          struct((-col("__score")).as("d"), col("__tkey").as("t")))).as("__new"))
        open
          .join(fresh, Seq("__qkey"), "left_outer")
          .select(col("__qkey"), col("__qlat"), col("__qlon"),
            when(col("__new").isNull, col("__best"))
              .otherwise(firstK(concat(col("__best"), col("__new")))).as("__best"))
          .withColumn("__done", size(col("__best")) === k &&
            element_at(col("__best"), k).getField("d") <=
              cell_disk_bound(col("__qlat"), col("__qlon"), res, lit(r)))
      },
      emit = _.select(col("__qkey"), posexplode(col("__best")).as(Seq("__pos", "__b")))
        .select(col("__qkey"), col("__b.t").as("__tkey"), col("__b.d").as("dist_sq"),
          (col("__pos") + 1).as("rank")))
  }
}
