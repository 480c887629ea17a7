package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class DedupSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("simhashPairs plans hash equi-joins only (no nested-loop/cartesian)") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("simhashPairs banding is recall-complete: equals brute force at hamming <= maxHamming") {
    val small = docs.where(col("doc_id") < 80)
    for (maxHamming <- Seq(1, 3, 4)) {
      val banded = Dedup.simhashPairs(small, "doc_id", "text", maxHamming)
        .select("key_a", "key_b", "hamming").as[(Long, Long, Long)].collect().toSet
      val sh = Dedup.simhash(small, "doc_id", "text")
      val a = sh.select(col("doc_id").as("ka"), col("simhash").as("sa"))
      val b = sh.select(col("doc_id").as("kb"), col("simhash").as("sb"))
      val brute = a.crossJoin(b).where(col("ka") < col("kb"))
        .select(col("ka"), col("kb"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("h"))
        .where(col("h") <= maxHamming)
        .as[(Long, Long, Long)].collect().toSet
      assert(banded == brute, s"maxHamming=$maxHamming: ${banded.size} vs ${brute.size}")
    }
  }

  test("simhashPairs64 recall-complete and banding join is hash-only") {
    val small = docs.where(col("doc_id") < 80)
    val banded = Dedup.simhashPairs64(small, "doc_id", "text", maxHamming = 3)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val got = banded.select("key_a", "key_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val sh = Dedup.simhash64(small, "doc_id", "text")
    val a = sh.select(col("doc_id").as("ka"), col("simhash").as("sa"))
    val b = sh.select(col("doc_id").as("kb"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).where(col("ka") < col("kb"))
      .select(col("ka"), col("kb"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("h"))
      .where(col("h") <= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute)
    // 64-bit signatures use all four nibbles' worth of bit sources: the
    // high 32 bits must not be degenerate
    val nonZeroHigh = sh.where(shiftright(col("simhash"), 32) =!= 0).count()
    assert(nonZeroHigh > 0)
  }

  test("ngramJaccard df-cap drops hot shingles (no quadratic hot-key blowup)") {
    // 40 docs sharing one stop-shingle; pairs (i, i+1) additionally share a
    // rare shingle. Uncapped: the stop-shingle alone pairs all 40*39/2 docs.
    val stop = "the quick fox"
    val rows = (0L until 40L).map { i =>
      val rare = s"rare$i token${i} tail${i} rare${i + 1} token${i + 1} tail${i + 1}"
      (i, s"$stop $rare")
    }
    val df = rows.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(df, "doc_id", "text", threshold = 0.0001)
    assert(uncapped.count() == 40L * 39 / 2) // the blowup the cap prevents
    val capped = Dedup.ngramJaccard(df, "doc_id", "text", threshold = 0.0001, maxDocFreq = 5)
    val pairs = capped.select("key_a", "key_b").as[(Long, Long)].collect().toSet
    // only the engineered rare-shingle overlaps survive: shingles spanning
    // the "rare$i …" suffix of doc i and prefix of doc i+1 do not exist
    // (separate docs), but docs i and i+1 share the 3-gram built from
    // "rare${i+1} token${i+1} tail${i+1}" present verbatim in both texts
    assert(pairs == (0L until 39L).map(i => (i, i + 1)).toSet)
  }

  test("components: transitive closure over pairs (chain diameter > 1)") {
    // two components: a 4-chain {1-2, 2-3, 3-4} (diameter 3 — needs >1
    // propagation round) and an isolated pair {10-11}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("key_a", "key_b")
    val comp = Dedup.components(pairs, "key_a", "key_b")
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val drops = Dedup.dropKeys(pairs, "key_a", "key_b")
      .as[(Long, Long)].collect().toSet
    assert(drops == Set((2L, 1L), (3L, 1L), (4L, 1L), (11L, 10L)))
  }

  test("components: pointer jumping converges fast on a long chain") {
    // a 64-link drift chain (diameter 64): 1-hop propagation alone would
    // need 64 driver rounds; with label-of-label jumping this stays small
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("key_a", "key_b")
    val t0 = System.nanoTime()
    val comp = Dedup.components(chain, "key_a", "key_b").as[(Long, Long)].collect().toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(comp == (1L to 64L).map(_ -> 1L).toMap)
    assert(secs < 60, s"chain CC took ${secs}s — pointer jumping regressed?")
  }

  test("ngramJaccard capped jaccard uses full set sizes (lower bound contract)") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d x y")).toDF("doc_id", "text")
    // shingles doc1: {a b c, b c d, c d e, d e f}; doc2: {a b c, b c d, c d x, d x y}
    // shared = 2, union = 6 → jaccard = 0.3333 regardless of cap (df of all = <= 2)
    val r = Dedup.ngramJaccard(df, "doc_id", "text", 0.1, maxDocFreq = 10)
      .select("jaccard").as[Double].collect()
    assert(r.toSeq == Seq(0.3333))
  }

  // ----- exactSubstrSpans (Lee et al. ExactSubstr, token-level) -----

  private def spans(rows: Seq[(Long, String)], m: Int): Map[Long, (Long, Long, Long)] =
    Dedup.exactSubstrSpans(rows.toDF("doc_id", "text"), "doc_id", "text", m)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("exactSubstrSpans marks cross-doc repeated windows, counts covered tokens") {
    // docs 1/2 share the 4-token run "p q r s"; m=3 covers exactly those
    // 4 tokens in each (windows at the run's two start offsets union to 4)
    val rows = Seq(
      1L -> "a b p q r s c d",
      2L -> "x p q r s y z w",
      3L -> "unrelated tokens only here")
    val got = spans(rows, m = 3)
    assert(got(1L) == ((8L, 4L, 5000L)))
    assert(got(2L) == ((8L, 4L, 5000L)))
    assert(got(3L) == ((4L, 0L, 0L)))
  }

  test("exactSubstrSpans counts within-doc repeats and whole-doc duplication") {
    val rows = Seq(
      1L -> "m n o m n o",      // window "m n o" occurs at offsets 0 and 3
      2L -> "c1 c2 c3 c4 c5",
      3L -> "c1 c2 c3 c4 c5")   // exact duplicate doc: fully covered
    val got = spans(rows, m = 3)
    assert(got(1L) == ((6L, 6L, 10000L)))  // [0,3)∪[3,6) = all 6 tokens
    assert(got(2L) == ((5L, 5L, 10000L)))
    assert(got(3L) == ((5L, 5L, 10000L)))
    // docs shorter than the window can never be covered
    val short = spans(Seq(1L -> "a b", 2L -> "a b"), m = 3)
    assert(short(1L) == ((2L, 0L, 0L)) && short(2L) == ((2L, 0L, 0L)))
  }

  test("exactSubstrSpans matches a brute-force reference on a generated corpus") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 12).map(i => s"w$i")
    val shared = Seq.fill(7)(vocab(rnd.nextInt(vocab.size)))
    val rows = (0L until 50L).map { i =>
      val own = Seq.fill(10 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
      val withShared = if (i % 3 == 0) {
        val at = rnd.nextInt(own.size)
        own.take(at) ++ shared ++ own.drop(at)
      } else own
      i -> withShared.mkString(" ")
    }
    val m = 4
    // brute force: covered = union of [p, p+m) over windows with count >= 2
    val winCount = rows.flatMap { case (_, t) =>
      val ts = t.split(" "); (0 to ts.length - m).map(p => ts.slice(p, p + m).mkString(" "))
    }.groupBy(identity).map { case (w, xs) => w -> xs.size }
    val want = rows.map { case (id, t) =>
      val ts = t.split(" ")
      val cov = (0 to ts.length - m).filter(p => winCount(ts.slice(p, p + m).mkString(" ")) >= 2)
        .flatMap(p => p until p + m).distinct.size.toLong
      id -> ((ts.length.toLong, cov, cov * 10000L / ts.length))
    }.toMap
    assert(spans(rows, m) == want)
    assert(want.values.exists(_._2 > 0), "fixture must contain duplicated spans")
  }

  // ----- incrementalMinhash (batch-vs-committed-corpus screen) -----

  private def decide(rows: Seq[(Long, String)], root: String, wave: Int,
      minAgree: Int = 6): Map[Long, (Boolean, Option[Long])] =
    Dedup.incrementalMinhash(rows.toDF("doc_id", "text"), "doc_id", "text",
      bands = 4, rowsPerBand = 2, minAgree, root, "sigs", wave)
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("incremental screen: first wave self-dedups, later waves match the committed corpus only") {
    import graft.snap.SnapshotCatalog
    val root = tempDir("graft_inc")
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "completely different content about spark shuffles and parquet files"
    // wave 0 (corpus bootstrap): 20 dups 10 (identical), 30 unique
    val w0 = decide(Seq(10L -> textA, 20L -> textA, 30L -> textB), root, wave = 0)
    assert(w0 == Map(10L -> (false, None), 20L -> (true, Some(10L)), 30L -> (false, None)))
    // committed signatures: survivors only (10, 30), 8 rows each
    val committed = SnapshotCatalog.read(spark, root, "sigs")
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(committed == Map(10L -> 8L, 30L -> 8L))
    // wave 1: 41 dups corpus doc 10; 45 unique; 47 dups 45 WITHIN the batch
    val textC = "fresh unique prose mentioning neither foxes nor shuffles at all"
    val w1 = decide(Seq(41L -> textA, 45L -> textC, 47L -> textC), root, wave = 1)
    assert(w1 == Map(41L -> (true, Some(10L)), 45L -> (false, None), 47L -> (true, Some(45L))))
    // the corpus table grew by the survivors of wave 1
    val keys = SnapshotCatalog.read(spark, root, "sigs")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(keys == Set(10L, 30L, 45L))
    // idempotent: re-running wave 1 re-derives decisions, commits nothing
    val snapBefore = SnapshotCatalog.currentSnapshotId(root, "sigs").get
    assert(decide(Seq(41L -> textA, 45L -> textC, 47L -> textC), root, wave = 1) == w1)
    assert(SnapshotCatalog.currentSnapshotId(root, "sigs").contains(snapBefore))
  }

  test("incremental screen: near-dup (not identical) text crosses the agreement threshold") {
    val root = tempDir("graft_inc2")
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    decide(Seq(100L -> base), root, wave = 0)
    // one word changed at the tail: most shingles (and so most minhashes)
    // survive; a disjoint text matches nothing
    val near = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo zulu"
    val far = "one two three four five six seven eight nine ten eleven twelve"
    val w1 = decide(Seq(200L -> near, 300L -> far), root, wave = 1, minAgree = 5)
    assert(w1(200L) == (true, Some(100L)), s"near-dup not caught: $w1")
    assert(w1(300L) == (false, None))
  }

  test("incremental screen: rerun of a committed wave is identical NEAR the agreement threshold") {
    // the regime where a prior-side double count would flip decisions: the
    // pair agrees on m hashes with m < minAgree <= 2m. On a rerun of a
    // committed wave the corpus table already holds both survivors'
    // signatures; counting them twice (corpus copy + batch copy) would
    // read the agreement as 2m >= minAgree and falsely flag a dup that the
    // original run kept. m is measured from the deterministic signatures,
    // so the threshold placement is exact, not probabilistic.
    val root = tempDir("graft_inc4")
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val tB = "alpha bravo charlie delta echo november oscar papa quebec romeo"
    val sigs = Dedup.minhashLong(
      Seq(1L -> tA, 2L -> tB).toDF("doc_id", "text"), "doc_id", "text", numHashes = 8)
    val m = sigs.groupBy("h_idx").agg(countDistinct("min_hash").as("d"))
      .where(col("d") === 1).count().toInt
    assert(m >= 1 && m < 8, s"fixture must agree on some but not all hashes (got $m/8)")
    def run(): Map[Long, (Boolean, Option[Long])] =
      // rowsPerBand = 1: any single agreeing hash makes the pair a
      // candidate, so the m-agreement pair is guaranteed to be compared
      Dedup.incrementalMinhash(Seq(1L -> tA, 2L -> tB).toDF("doc_id", "text"),
        "doc_id", "text", bands = 8, rowsPerBand = 1, minAgree = m + 1, root, "sigs", wave = 0)
        .as[(Long, Boolean, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val w0 = run()
    assert(w0 == Map(1L -> (false, None), 2L -> (false, None)),
      s"agreement m=$m < minAgree=${m + 1}: both must survive the first run ($w0)")
    assert(run() == w0, "rerun of the committed wave must re-derive identical decisions")
  }

  test("incremental screen equals the one-shot LSH decision on a single batch") {
    // with an empty prior table, the screen's keep set must equal
    // dropKeys over minhash pairs at the same effective setting when all
    // matches are exact duplicates (agreement = 8/8 ⇔ jaccard 1.0)
    val root = tempDir("graft_inc3")
    // per-group texts are fully disjoint (no shared shingles), so the
    // 8/8-agreement estimate and jaccard-1.0 verification coincide
    val rows = (0L until 40L).map(i =>
      i -> (0 until 8).map(j => s"w${i % 25}x$j").mkString(" "))
    val dec = decide(rows, root, wave = 0, minAgree = 8)
    val kept = dec.collect { case (k, (false, _)) => k }.toSet
    val pairs = Dedup.minhashLsh(rows.toDF("doc_id", "text"), "doc_id", "text",
      bands = 4, rowsPerBand = 2, threshold = 1.0)
    val dropped = Dedup.dropKeys(pairs, "key_a", "key_b")
      .select("drop_key").as[Long].collect().toSet
    assert(kept == rows.map(_._1).toSet -- dropped)
  }
}
