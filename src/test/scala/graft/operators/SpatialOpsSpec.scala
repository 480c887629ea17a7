package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.geo.{CellIndex, Geometry}
import graft.sources.Fixtures

class SpatialOpsSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val nPages = 600
  private val nPolys = 40
  // entity points extracted from the fixture pages (pure Scala oracle side)
  private lazy val pts: Seq[(Long, Int, Double, Double)] =
    (0L until nPages).flatMap { i =>
      Fixtures.pageEntities(i).zipWithIndex.map { case (p, e) => (i, e, p.lat, p.lon) }
    }
  private lazy val polys = Fixtures.polygons(nPolys)

  private lazy val ptsDf = pts.toDF("page_id", "entity_idx", "lat", "lon")
  private lazy val polysDf = ringsDf(polys)
  // RDD-backed, not a LocalRelation, so plans keep the per-row projections
  private def ringsDf(ps: Seq[Fixtures.Polygon]) = spark.createDataFrame(
    spark.sparkContext.parallelize(ps.map(p => org.apache.spark.sql.Row(p.polygon_id, p.ring, p.name)), 4),
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("polygon_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ring",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))

  /** `targets` with its integral `tid` as a `%06d` string: lexical order
   * equals numeric order, so ties break alike on either key type. */
  private def zeroPadded(targets: org.apache.spark.sql.DataFrame) =
    targets.withColumn("tid", format_string("%06d", col("tid")))

  private lazy val bruteForcePairs: Set[(Long, Int, Long)] =
    (for {
      (pid, e, lat, lon) <- pts
      poly <- polys
      if Geometry.pointInPolygon(lon, lat, poly.ring)
    } yield (pid, e, poly.polygon_id)).toSet

  test("spatial join row set equals brute-force oracle (unsalted)") {
    val got = SpatialJoin(ptsDf, polysDf, $"lat", $"lon", $"ring", res = 7)
      .select("page_id", "entity_idx", "polygon_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(bruteForcePairs.nonEmpty)
    assert(got == bruteForcePairs)
  }

  test("spatial join with the edge interval index gives identical rows") {
    // 256-vertex coastline rings carry their derived edge index (16 bands
    // of 16 edges), the 4-edge diamonds carry none; the coastline join
    // equals brute force
    val coast = Fixtures.coastPolygons(nPolys)
    val coastDf = ringsDf(coast)
    val want = (for {
      (pid, e, lat, lon) <- pts
      poly <- coast
      if Geometry.pointInPolygon(lon, lat, poly.ring)
    } yield (pid, e, poly.polygon_id)).toSet
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("page_id", "entity_idx", "polygon_id")
        .as[(Long, Int, Long)].collect().toSet
    val joined = SpatialJoin(ptsDf, coastDf, $"lat", $"lon", $"ring", res = 7)
    assert(want.nonEmpty && rows(joined) == want)
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("polygon_y_index"), plan)
    // the index is the ring's: built for every coastline, for no diamond
    assert(coastDf.where(graft.functions.edge_index($"ring").isNull).isEmpty)
    assert(polysDf.where(graft.functions.edge_index($"ring").isNotNull).isEmpty)
  }

  test("spatial join at a different res gives the same rows (res-invariance)") {
    val got = SpatialJoin(ptsDf, polysDf, $"lat", $"lon", $"ring", res = 4)
      .select("page_id", "entity_idx", "polygon_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == bruteForcePairs)
  }

  test("AQE skew split in the shuffle-join regime, brute-force rows") {
    // at 100 TB the polygon side can exceed the broadcast threshold; force
    // the shuffle path and lower AQE's skew thresholds to this fixture's
    // size, so the capital-city cell's partition counts as skewed
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.shuffle.partitions" -> "16")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // RDD-backed points: several map outputs for the split to cut along
      val mapped = spark.createDataFrame(spark.sparkContext.parallelize(pts, 8))
        .toDF("page_id", "entity_idx", "lat", "lon")
      val joined = SpatialJoin(mapped, polysDf, $"lat", $"lon", $"ring", res = 7)
        .select("page_id", "entity_idx", "polygon_id")
      // collect THIS Dataset: its adaptive plan is the one that finalizes
      val got = joined.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == bruteForcePairs)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("SortMergeJoin(skew=true)"), plan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("skew cluster actually hits the skew polygon (fixture sanity)") {
    val skewHits = bruteForcePairs.count(_._3 == 0L)
    assert(skewHits > nPages * Fixtures.SkewFraction * 0.8, s"skewHits=$skewHits")
  }

  test("kNN equals brute force (k=3, with ties broken by target key)") {
    val queries = pts.take(150).map { case (pid, e, lat, lon) => (pid * 10 + e, lat, lon) }
      .toDF("qid", "lat", "lon")
    val centroids = polys.map { p =>
      val (cx, cy) = Geometry.vertexCentroid(p.ring)
      (p.polygon_id, cy, cx)
    }.toDF("tid", "tlat", "tlon")
    val k = 3
    val got = Knn(queries, "qid", "lat", "lon", centroids, "tid", "tlat", "tlon", k, res = 4)
      .select("qid", "tid", "rank")
      .as[(Long, Long, Int)].collect().toSet

    val want = pts.take(150).flatMap { case (pid, e, lat, lon) =>
      val qid = pid * 10 + e
      polys.map { p =>
        val (cx, cy) = Geometry.vertexCentroid(p.ring)
        (qid, p.polygon_id, Geometry.distSq(lon, lat, cx, cy))
      }.sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((q, t, _), r) => (q, t, r + 1) }
    }.toSet
    assert(got == want)
  }

  test("kNN identical in reliable-checkpoint mode") {
    val queries = pts.take(40).map { case (pid, e, lat, lon) => (pid * 10 + e, lat, lon) }
      .toDF("qid", "lat", "lon")
    val centroids = polys.map { p =>
      val (cx, cy) = Geometry.vertexCentroid(p.ring)
      (p.polygon_id, cy, cx)
    }.toDF("tid", "tlat", "tlon")
    val dir = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    // the same targets under zero-padded string keys take the any-key fold
    for (targets <- Seq(centroids, zeroPadded(centroids))) {
      def rows(reliable: Boolean) =
        Knn(queries, "qid", "lat", "lon", targets, "tid", "tlat", "tlon", 3, res = 4,
          reliableCheckpoint = reliable)
          .select(col("qid"), col("tid").cast("long"), col("dist_sq"), col("rank"))
          .as[(Long, Long, Double, Int)].collect().toSet
      val local = rows(reliable = false)
      assert(local.size == 3 * 40 && rows(reliable = true) == local)
    }
  }

  test("kNN k=1 declarative path equals brute force and the windowed path") {
    // k = 1 takes the MaxScoreMinKey declarative-aggregate branch (the
    // fully-codegen'd nearest-neighbor join); its row set must equal both
    // the brute-force oracle and the string-key any-key fold
    val queries = pts.take(150).map { case (pid, e, lat, lon) => (pid * 10 + e, lat, lon) }
      .toDF("qid", "lat", "lon")
    val centroids = polys.map { p =>
      val (cx, cy) = Geometry.vertexCentroid(p.ring)
      (p.polygon_id, cy, cx)
    }.toDF("tid", "tlat", "tlon")
    val got = Knn(queries, "qid", "lat", "lon", centroids, "tid", "tlat", "tlon", 1, res = 4)
      .select("qid", "tid", "rank").as[(Long, Long, Int)].collect().toSet
    val want = pts.take(150).map { case (pid, e, lat, lon) =>
      val qid = pid * 10 + e
      val (tid, _) = polys.map { p =>
        val (cx, cy) = Geometry.vertexCentroid(p.ring)
        (p.polygon_id, Geometry.distSq(lon, lat, cx, cy))
      }.minBy { case (t, d) => (d, t) }
      (qid, tid, 1)
    }.toSet
    assert(got == want)
    val centroidsStr = centroids.select(
      format_string("%06d", col("tid")).as("tid"), col("tlat"), col("tlon"))
    val winPath = Knn(queries, "qid", "lat", "lon", centroidsStr, "tid", "tlat", "tlon", 1, res = 4)
      .select("qid", "tid", "rank").as[(Long, String, Int)].collect()
      .map { case (q, t, r) => (q, t.toLong, r) }.toSet
    assert(got == winPath)
  }

  test("kNN general-k declarative path equals the imperative aggregate path") {
    // Knn.apply routes 2 <= k <= TopKSlots.JitK through applyDeclK (k >= 5
    // runs the slots update interpreted — JitK doc); both private paths
    // stay result-identical across the full constructible range:
    // (TopKSlots, HashAggregate-fused); the imperative applyAgg
    // (TopKAggExpr, ObjectHashAggregate) must produce the identical rows
    // INCLUDING distances — call both directly on the same fixture
    val queries = pts.take(150).map { case (pid, e, lat, lon) => (pid * 10 + e, lat, lon) }
      .toDF("qid", "lat", "lon")
    val centroids = polys.map { p =>
      val (cx, cy) = Geometry.vertexCentroid(p.ring)
      (p.polygon_id, cy, cx)
    }.toDF("tid", "tlat", "tlon")
    for (k <- Seq(2, 3, 5)) {
      val decl = Knn.applyDeclK(queries, "qid", "lat", "lon",
        centroids, "tid", "tlat", "tlon", k, res = 4, reliableCheckpoint = false)
        .select("qid", "tid", "dist_sq", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val imper = Knn.applyAgg(queries, "qid", "lat", "lon",
        centroids, "tid", "tlat", "tlon", k, res = 4, reliableCheckpoint = false)
        .select("qid", "tid", "dist_sq", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(decl == imper, s"k=$k")
      assert(decl.nonEmpty)
    }
  }

  test("kNN NaN-coordinate queries agree across k paths (emit nothing)") {
    // a NaN coordinate makes every candidate distance NaN; every path
    // filters non-finite distances identically, so the dirty query yields
    // zero rows at every k while clean queries are unaffected (the ADVICE
    // divergence concern, pinned as a spec)
    val queries = Seq((1L, 0.0, 0.0), (2L, Double.NaN, 5.0)).toDF("qid", "lat", "lon")
    val targets = (0L until 12L).map(i => (i, (i % 4).toDouble, (i / 4).toDouble))
      .toDF("tid", "tlat", "tlon")
    for (tgts <- Seq(targets, zeroPadded(targets)); k <- Seq(1, 2, 3)) {
      val rows = Knn(queries, "qid", "lat", "lon", tgts, "tid", "tlat", "tlon",
        k = k, res = 3)
        .select(col("qid"), col("tid").cast("long"), col("rank"))
        .as[(Long, Long, Int)].collect()
      assert(rows.forall(_._1 == 1L), s"k=$k: NaN query must emit nothing")
      assert(rows.count(_._1 == 1L) == k, s"k=$k: clean query emits k rows")
    }
  }

  test("kNN windowed fallback (string target keys) equals the aggregate path") {
    val queries = pts.take(60).map { case (pid, e, lat, lon) => (pid * 10 + e, lat, lon) }
      .toDF("qid", "lat", "lon")
    val centroids = polys.map { p =>
      val (cx, cy) = Geometry.vertexCentroid(p.ring)
      (p.polygon_id, cy, cx)
    }.toDF("tid", "tlat", "tlon")
    val aggPath = Knn(queries, "qid", "lat", "lon", centroids, "tid", "tlat", "tlon", 3, res = 4)
      .select("qid", "tid", "rank").as[(Long, Long, Int)].collect().toSet
    // same targets with string keys whose lexical order equals the numeric
    // order (zero-padded) → identical tie-breaks, different code path
    val centroidsStr = centroids.select(
      format_string("%06d", col("tid")).as("tid"), col("tlat"), col("tlon"))
    val winPath = Knn(queries, "qid", "lat", "lon", centroidsStr, "tid", "tlat", "tlon", 3, res = 4)
      .select("qid", "tid", "rank").as[(Long, String, Int)].collect()
      .map { case (q, t, r) => (q, t.toLong, r) }.toSet
    assert(aggPath == winPath)
  }

  test("kNN query in a target-empty region survives candidate-less rounds") {
    // targets cluster near the origin; the far query's first disk bands
    // hold no targets at res 5 (cells span ~5.6°), so its early rounds see
    // no candidate (the aggregate paths only the sentinel) — it must still
    // resolve exactly, under integral and string keys alike
    val queries = Seq((1L, 0.0, 0.0), (2L, 84.0, 179.0)).toDF("qid", "lat", "lon")
    val targets = (0L until 20L).map(i => (i, (i % 5).toDouble - 2.0, (i / 5).toDouble - 2.0))
      .toDF("tid", "tlat", "tlon")
    val tgtSeq = (0L until 20L).map(i => (i, (i % 5).toDouble - 2.0, (i / 5).toDouble - 2.0))
    val want = Seq((1L, 0.0, 0.0), (2L, 84.0, 179.0)).flatMap { case (qid, qlat, qlon) =>
      tgtSeq.map { case (tid, tlat, tlon) =>
        val (dx, dy) = (tlon - qlon, tlat - qlat)
        (tid, dx * dx + dy * dy)
      }.sortBy(t => (t._2, t._1)).take(3).zipWithIndex
        .map { case ((tid, _), r) => (qid, tid, r + 1) }
    }.toSet
    for (tgts <- Seq(targets, zeroPadded(targets))) {
      val got = Knn(queries, "qid", "lat", "lon", tgts, "tid", "tlat", "tlon", k = 3, res = 5)
        .select(col("qid"), col("tid").cast("long"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
      assert(got == want)
    }
  }

  test("kNN with k larger than target count returns all targets") {
    val queries = Seq((1L, 0.0, 0.0)).toDF("qid", "lat", "lon")
    val targets = Seq((10L, 1.0, 1.0), (11L, 2.0, 2.0)).toDF("tid", "tlat", "tlon")
    val got = Knn(queries, "qid", "lat", "lon", targets, "tid", "tlat", "tlon", k = 5, res = 2)
      .select("tid").as[Long].collect().toSet
    assert(got == Set(10L, 11L))
  }

  test("k=1 nearest: empty target table and empty query set degrade cleanly") {
    val queries = Seq((1L, 0.0, 0.0), (2L, 40.0, 40.0)).toDF("qid", "lat", "lon")
    val noTargets = Seq.empty[(Long, Double, Double)].toDF("tid", "tlat", "tlon")
    // zero targets: the loop ring-expands to exhaustion and emits nothing
    assert(Knn(queries, "qid", "lat", "lon", noTargets, "tid", "tlat", "tlon",
      k = 1, res = 2).count() == 0)
    // far-away single target: candidate-less early rounds must carry the
    // open set until the disk reaches it
    val far = Seq((7L, -80.0, -170.0)).toDF("tid", "tlat", "tlon")
    val got = Knn(queries, "qid", "lat", "lon", far, "tid", "tlat", "tlon",
      k = 1, res = 3)
      .select("qid", "tid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 7L, 1), (2L, 7L, 1)))
    // empty queries: properly-shaped empty result
    val emptyQ = Seq.empty[(Long, Double, Double)].toDF("qid", "lat", "lon")
    val empty = Knn(emptyQ, "qid", "lat", "lon", far, "tid", "tlat", "tlon", k = 1, res = 2)
    assert(empty.columns.toSeq == Seq("qid", "tid", "dist_sq", "rank") && empty.count() == 0)
  }

  test("kNN paths agree on edge inputs and leave no blocks after releasing the result") {
    val sc = spark.sparkContext
    val queries = Seq((1L, 0.0, 0.0), (2L, 40.0, 40.0), (3L, -60.0, 120.0))
      .toDF("qid", "lat", "lon")
    val twoTargets = Seq((10L, 1.0, 1.0), (11L, -50.0, 100.0)).toDF("tid", "tlat", "tlon")
    val inputs = Seq(
      "empty query set" -> (queries.limit(0), twoTargets),
      "empty target set" -> (queries, twoTargets.limit(0)),
      "fewer targets than k" -> (queries, twoTargets))
    type Path = (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
      org.apache.spark.sql.DataFrame
    val k = 3 // more than the two targets
    // nearest serves only k = 1; the others run at k = 3; anyKey, the
    // fold for non-integral keys, runs here on the BIGINT keys as they are
    val paths: Seq[(String, Path)] = Seq(
      "nearest" -> ((q, t) => Knn.applyNearest(q, "qid", "lat", "lon", t, "tid", "tlat", "tlon",
        res = 2, reliableCheckpoint = false)),
      "decl" -> ((q, t) => Knn.applyDeclK(q, "qid", "lat", "lon", t, "tid", "tlat", "tlon",
        k, res = 2, reliableCheckpoint = false)),
      "agg" -> ((q, t) => Knn.applyAgg(q, "qid", "lat", "lon", t, "tid", "tlat", "tlon",
        k, res = 2, reliableCheckpoint = false)),
      "anyKey" -> ((q, t) => Knn.applyAnyKey(q, "qid", "lat", "lon", t, "tid", "tlat", "tlon",
        k, res = 2, reliableCheckpoint = false)))
    for ((input, (q, t)) <- inputs) {
      val got = paths.map { case (name, path) =>
        val before = org.apache.spark.sql.GraftBridge.storedRddBytes(sc).keySet
        val df = path(q, t)
        assert(df.columns.toSeq == Seq("qid", "tid", "dist_sq", "rank"), s"$input/$name")
        val rows = df.as[(Long, Long, Double, Int)].collect().toSet
        org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(df)
        val left = org.apache.spark.sql.GraftBridge.storedRddBytes(sc) -- before
        assert(left.isEmpty, s"$input/$name left blocks: ${left.mkString(", ")}")
        name -> rows
      }.toMap
      val tgts = t.as[(Long, Double, Double)].collect()
      val want = q.as[(Long, Double, Double)].collect().toSeq.flatMap { case (qid, lat, lon) =>
        tgts.map { case (tid, tlat, tlon) =>
          (tid, (tlon - lon) * (tlon - lon) + (tlat - lat) * (tlat - lat))
        }.sortBy(p => (p._2, p._1)).take(k).zipWithIndex
          .map { case ((tid, d), r) => (qid, tid, d, r + 1) }
      }.toSet
      assert(got("decl") == want, input)
      assert(got("agg") == want, input)
      assert(got("anyKey") == want, input)
      assert(got("nearest") == want.filter(_._4 == 1), input)
    }
  }

  test("vectorize round-trip: cell boxes contain exactly their raster counts") {
    val zoom = 3
    val raster = Tiler.raster(ptsDf, "lat", "lon", zoom)
    val boxes = Tiler.vectorize(raster, zoom, minCount = 2)
      .select("cell_id", "n", "lon_min", "lat_min", "lon_max", "lat_max")
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    assert(boxes.nonEmpty)
    boxes.foreach { case (cellId, n, x0, y0, x1, y1) =>
      // every point inside the half-open box is exactly the cell's count
      val inside = pts.count { case (_, _, lat, lon) =>
        lon >= x0 && lon < x1 && lat >= y0 && lat < y1
      }
      assert(inside == n, s"cell $cellId: box count $inside vs raster n $n")
      // and the box IS the cell: encoding any interior point at payload
      // res returns the same cell id
      val rP = Tiler.payloadRes(zoom)
      assert(CellIndex.latLonToCell((y0 + y1) / 2, (x0 + x1) / 2, rP) == cellId)
    }
    // the ring column joins back through the exact PIP predicate
    val viaJoin = SpatialJoin(
      ptsDf, Tiler.vectorize(raster, zoom, minCount = 2)
        .select(col("cell_id").as("polygon_id"), col("ring")),
      $"lat", $"lon", $"ring", res = 7)
    assert(viaJoin.count() > 0)
  }

  test("raster tiles: sparse counts match recompute") {
    val zoom = 4
    val got = Tiler.raster(ptsDf, "lat", "lon", zoom)
      .select("tile_id", "pix_x", "pix_y", "n")
      .as[(Long, Int, Int, Long)].collect().toSet
    val want = pts.groupBy { case (_, _, lat, lon) =>
      val pcell = CellIndex.latLonToCell(lat, lon, Tiler.payloadRes(zoom))
      (CellIndex.parent(pcell, Tiler.tileRes(zoom)),
        (CellIndex.ix(pcell) % 16).toInt, (CellIndex.iy(pcell) % 16).toInt)
    }.map { case ((t, x, y), rows) => (t, x, y, rows.size.toLong) }.toSet
    assert(got == want)
    // total preserved
    assert(got.toSeq.map(_._4).sum == pts.length)
    // an input column named like the internal cell column is not read in its place
    assert(Tiler.raster(ptsDf.withColumn("__pcell", lit(0L)), "lat", "lon", zoom)
      .select("tile_id", "pix_x", "pix_y", "n")
      .as[(Long, Int, Int, Long)].collect().toSet == want)
    // rows with a NaN coordinate have no cell: the raster of the finite rows
    assert(Tiler.raster(ptsDf.union(nanPts), "lat", "lon", zoom)
      .select("tile_id", "pix_x", "pix_y", "n")
      .as[(Long, Int, Int, Long)].collect().toSet == want)
  }

  private def nanPts = Seq((-1L, 0, Double.NaN, 10.0), (-2L, 0, 10.0, Double.NaN),
    (-3L, 0, Double.NaN, Double.NaN)).toDF("page_id", "entity_idx", "lat", "lon")

  test("pyramid: every rolled-up level equals the direct raster at that zoom") {
    val zoom = 4
    val got = Tiler.rasterPyramid(ptsDf, "lat", "lon", zoom, minZoom = 0)
      .select("tile_id", "zoom", "pix_x", "pix_y", "n")
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    val want = (0 to zoom).flatMap { z =>
      Tiler.raster(ptsDf, "lat", "lon", z)
        .select("tile_id", "zoom", "pix_x", "pix_y", "n")
        .as[(Long, Int, Int, Int, Long)].collect()
    }.toSet
    assert(got == want)
    // every level conserves the point total
    val byZoom = got.groupBy(_._2).view.mapValues(_.toSeq.map(_._5).sum).toMap
    assert(byZoom.keySet == (0 to zoom).toSet)
    assert(byZoom.values.forall(_ == pts.length.toLong))
  }

  test("quadkey: digits match the reference and parents are string prefixes") {
    val zoom = 6
    val got = ptsDf.select($"page_id", $"entity_idx",
        Tiler.quadkey($"lat", $"lon", zoom).as("qk"),
        Tiler.quadkey($"lat", $"lon", zoom - 2).as("qk4"))
      .as[(Long, Int, String, String)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, ei, qk, qk4) =>
      val (lat, lon) =
        pts.collectFirst { case (p, e, la, lo) if p == id && e == ei => (la, lo) }.get
      val cell = CellIndex.latLonToCell(lat, lon, zoom)
      val (ix, iy) = (CellIndex.ix(cell), CellIndex.iy(cell))
      val want = (1 to zoom).map { l =>
        (((ix >> (zoom - l)) & 1) + 2 * ((iy >> (zoom - l)) & 1)).toString
      }.mkString
      assert(qk == want, s"page $id")
      assert(qk.length == zoom && qk.forall("0123".contains(_)))
      // the zoom-4 key is the zoom-6 key's prefix (cell containment)
      assert(qk.startsWith(qk4), s"page $id: $qk vs $qk4")
    }
    intercept[IllegalArgumentException](Tiler.quadkey($"lat", $"lon", 0))
  }

  test("vector tiles: features sorted and complete") {
    val zoom = 4
    val ents = ptsDf.withColumn("key", concat(lit("p"), $"page_id"))
    val rows = Tiler.vector(ents, "key", "entity_idx", "lat", "lon", zoom)
      .select($"tile_id", $"features").collect()
    val total = rows.map(_.getSeq[org.apache.spark.sql.Row](1).size).sum
    assert(total == pts.length)
    // rows with a NaN coordinate have no cell and join no tile
    assert(Tiler.vector(ptsDf.union(nanPts).withColumn("key", concat(lit("p"), $"page_id")),
      "key", "entity_idx", "lat", "lon", zoom).select($"tile_id", $"features").collect().toSet
      == rows.toSet)
    rows.foreach { r =>
      val fs = r.getSeq[org.apache.spark.sql.Row](1)
        .map(f => (f.getString(0), f.getInt(1), f.getLong(2)))
      assert(fs == fs.sortBy(x => (x._1, x._2)), "features must be sorted")
      val tile = r.getLong(0)
      fs.foreach { case (_, _, cell) =>
        assert(CellIndex.parent(cell, Tiler.tileRes(zoom)) == tile)
      }
    }
  }
}
