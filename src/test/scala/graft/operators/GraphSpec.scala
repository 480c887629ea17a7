package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class GraphSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Driver-side mirror of the exact integer contract. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val outdeg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val scale = 1L << 40
    val n = nodes.size.toLong
    val base = (scale * 15L / 100L) / n
    var rank = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (d, xs) =>
        d -> xs.map { case (s, _) => rank(s) / outdeg(s) }.sum
      }
      rank = nodes.map(v => v -> (base + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters)
      .as[(Long, Long)].collect().toMap

  private val triangle = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
  private val web = Seq( // hub 1, authority 4, dangling 5
    1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 1L, 2L -> 5L)

  test("matches the exact integer reference, iteration by iteration") {
    for (iters <- 0 to 4; g <- Seq(triangle, web)) {
      assert(run(g, iters) == refPageRank(g, iters), s"iters=$iters graph=$g")
    }
  }

  test("authority outranks the dangling sink; total mass is bounded") {
    val got = run(web, 5)
    assert(got(4L) > got(5L) && got(4L) > got(2L))
    assert(got.values.forall(_ > 0))
    assert(got.values.sum <= (1L << 40))
  }

  test("duplicate edges vote once (Brin–Page convention)") {
    val dup = web ++ Seq(1L -> 2L, 1L -> 2L, 2L -> 4L)
    assert(run(dup, 3) == run(web, 3))
  }

  test("bit-identical under repartitioning and input row order") {
    val edges = (0 until 300).map(i => ((i * 7919L) % 40, (i * 104729L) % 40))
    val a = Graph.pageRank(edges.toDF("s", "d").repartition(17), "s", "d", 4)
      .as[(Long, Long)].collect().toMap
    val shuffled = new scala.util.Random(7).shuffle(edges)
    val b = Graph.pageRank(shuffled.toDF("s", "d").coalesce(1), "s", "d", 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a == refPageRank(edges, 4))
  }

  test("self-loops and isolated-by-direction nodes are handled") {
    // 7 links only to itself; 8 only receives
    val g = Seq(7L -> 7L, 7L -> 8L)
    assert(run(g, 3) == refPageRank(g, 3))
  }

  // ----- pageRankResumable (snapshot-committed iterations) -----

  private def runResumable(edges: Seq[(Long, Long)], iters: Int,
      root: String): Map[Long, Long] =
    Graph.pageRankResumable(edges.toDF("s", "d"), "s", "d", iters,
      root = root, table = "ranks").as[(Long, Long)].collect().toMap

  test("resumable equals in-memory, resumes a shorter run, reruns commit nothing") {
    import graft.snap.SnapshotCatalog
    val root = tempDir("graft_pr")
    // a "crashed" run that only got through iteration 2
    assert(runResumable(web, 2, root) == run(web, 2))
    val after2 = SnapshotCatalog.currentManifest(root, "ranks").get
    assert(after2.completedWaves == Seq(0, 1, 2))
    // asking for 5 resumes AT iteration 3 — waves 0-2 are not re-run
    assert(runResumable(web, 5, root) == run(web, 5))
    val after5 = SnapshotCatalog.currentManifest(root, "ranks").get
    assert(after5.completedWaves == Seq(0, 1, 2, 3, 4, 5))
    assert(after5.snapshotId == 5) // exactly 6 commits total, ever
    // a full rerun is a no-op: same result, no new snapshot
    assert(runResumable(web, 5, root) == run(web, 5))
    assert(SnapshotCatalog.currentManifest(root, "ranks").get.snapshotId == 5)
    // time travel: the snapshot chain holds the full convergence history
    val asOf2 = SnapshotCatalog.readAt(spark, root, "ranks", 2)
      .where(col("iter") === 2).select("node", "rank")
      .as[(Long, Long)].collect().toMap
    assert(asOf2 == run(web, 2))
    // shrinking the ask below committed history is a loud error
    assertThrows[IllegalArgumentException](runResumable(web, 3, root))
  }

  test("resumable carries per-iteration lineage counters") {
    import graft.snap.SnapshotCatalog
    val root = tempDir("graft_pr2")
    runResumable(triangle, 2, root)
    val lin = SnapshotCatalog.lineage(spark, root, "ranks")
    // 3 waves (iterations 0-2), each with >= 1 partition row and 3 output rows
    val byWave = lin.groupBy("wave").agg(sum("outputRows").as("out"))
      .as[(Int, Long)].collect().toMap
    assert(byWave.keySet == Set(0, 1, 2))
    assert(byWave.values.forall(_ == 3L))
  }

  /** Driver-side HITS mirror: unnormalized I (auth) then O (hub). */
  private def refHits(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1L).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      auth = nodes.map(v => v -> e.collect { case (u, d) if d == v => hub(u) }.sum).toMap
      hub = nodes.map(u => u -> e.collect { case (s, v) if s == u => auth(v) }.sum).toMap
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("HITS matches the unnormalized integer reference for 1-3 iterations") {
    for (iters <- 1 to 3; g <- Seq(triangle, web)) {
      val got = Graph.hits(g.toDF("s", "d"), "s", "d", iters)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == refHits(g, iters), s"iters=$iters graph=$g")
    }
    // duplicate edges collapse (a page linking twice votes once)
    val got = Graph.hits((web ++ web).toDF("s", "d"), "s", "d", 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == refHits(web, 2))
  }

  test("HITS hub/authority structure: the pure hub tops hubs, the pure sink tops authorities") {
    // web: node 1 links to 2,3,4 (hub); node 4 is linked by 1,2,3 (authority)
    val got = Graph.hits(web.toDF("s", "d"), "s", "d", 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == got.values.map(_._1).max, "node 1 is the top hub")
    assert(got(4L)._2 == got.values.map(_._2).max, "node 4 is the top authority")
  }

  test("HITS is partitioning-invariant and rejects iteration counts past the overflow bound") {
    val df = web.toDF("s", "d")
    val a = Graph.hits(df.repartition(1), "s", "d", 2).as[(Long, Long, Long)].collect().toSet
    val b = Graph.hits(df.repartition(7, col("s")), "s", "d", 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b)
    intercept[IllegalArgumentException](Graph.hits(df, "s", "d", 0))
    intercept[IllegalArgumentException](Graph.hits(df, "s", "d", 4))
  }
}
