package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class CurationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def refHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.substring(0, 13), 16)
  }

  private lazy val docs = spark.range(0, 10000).select(
    col("id").as("doc_id"),
    concat(lit("src"), pmod(col("id"), lit(8)).cast("string")).as("source"))

  test("hashSample keeps exactly the reference-hash subset, independent of partitioning") {
    val keep = (0L until 10000L)
      .filter(i => refHash(s"$i:exp1") < Curation.rateThreshold(0.3)).toSet
    val got = Curation.hashSample(docs, "doc_id", 0.3, "exp1")
      .select("doc_id").as[Long].collect().toSet
    assert(got == keep)
    val got13 = Curation.hashSample(docs.repartition(13), "doc_id", 0.3, "exp1")
      .select("doc_id").as[Long].collect().toSet
    assert(got13 == keep)
    // a uniform hash at rate 0.3 keeps ~30%
    assert(math.abs(got.size - 3000) < 200, s"got ${got.size} of 10000 at rate 0.3")
  }

  test("different salts draw independent samples; rate 0/1 are empty/full") {
    val a = Curation.hashSample(docs, "doc_id", 0.5, "a").select("doc_id").as[Long].collect().toSet
    val b = Curation.hashSample(docs, "doc_id", 0.5, "b").select("doc_id").as[Long].collect().toSet
    assert(a != b)
    val overlap = a.intersect(b).size.toDouble / 10000
    assert(overlap > 0.15 && overlap < 0.35, s"salted samples not independent: $overlap")
    assert(Curation.hashSample(docs, "doc_id", 0.0, "z").count() == 0)
    assert(Curation.hashSample(docs, "doc_id", 1.0, "z").count() == 10000)
  }

  test("mixCorpus applies per-source rates with the default for unlisted sources") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    val got = Curation.mixCorpus(docs, "source", "doc_id", rates, 0.2, "mix")
      .select("doc_id", "source").as[(Long, String)].collect()
    val want = (0L until 10000L).flatMap { i =>
      val src = s"src${i % 8}"
      val rate = rates.getOrElse(src, 0.2)
      if (refHash(s"$i:mix") < Curation.rateThreshold(rate)) Some((i, src)) else None
    }.toSet
    assert(got.toSet == want)
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("src0") == 1250) // rate 1.0 keeps all of src0
    assert(!bySrc.contains("src2")) // rate 0.0 drops all of src2
  }

  /** Interpolated quantile with the (n-1)q convention, as both engines. */
  private def refQuantile(vs: Seq[Long], q: Double): Double = {
    val s = vs.sorted
    val idx = (s.size - 1) * q
    val lo = idx.toInt
    val frac = idx - lo
    if (frac == 0.0) s(lo).toDouble
    else s(lo) + frac * (s(lo + 1) - s(lo))
  }

  private lazy val vals = spark.range(0, 5000).select(
    concat(lit("g"), pmod(col("id"), lit(3)).cast("string")).as("g"),
    pmod(col("id") * 7919, lit(100000)).as("v"))

  for (q <- Seq(0.25, 0.5, 0.75)) {
    test(s"quantileThreshold(q=$q) keeps exactly the rows at-or-above the group quantile") {
      val got = Curation.quantileThreshold(vals, Seq("g"), "v", q)
        .select("g", "v").as[(String, Long)].collect()
      val byG = vals.select("g", "v").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val want = byG.toSeq.flatMap { case (g, vs) =>
        val thr = refQuantile(vs, q)
        vs.filter(_ >= thr).map(v => (g, v))
      }
      assert(got.sorted.toSeq == want.toSeq.sorted)
      assert(got.nonEmpty)
    }
  }

  test("approx threshold path works for non-quarter q and stays per-group consistent") {
    val got = Curation.quantileThreshold(vals, Seq("g"), "v", 0.9, approxThresholds = true)
    val counts = got.groupBy("g").count().as[(String, Long)].collect().toMap
    // ~10% of each ~1667-row group survives a p90 cutoff (approx, so loose)
    assert(counts.keySet == Set("g0", "g1", "g2"))
    counts.values.foreach(n => assert(n > 80 && n < 350, s"implausible survivor count $n"))
  }

  test("non-quarter exact q is rejected") {
    intercept[IllegalArgumentException] {
      Curation.quantileThreshold(vals, Seq("g"), "v", 0.9)
    }
  }

  // ---- decontamination -------------------------------------------------

  private def bruteHits(corpus: Seq[(Long, String)], bench: Seq[String], n: Int): Map[Long, Long] = {
    def grams(t: String): Set[String] =
      t.split(" ", -1).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val bg = bench.flatMap(grams).toSet
    corpus.map { case (id, t) => id -> grams(t).count(bg.contains).toLong }
      .filter(_._2 > 0).toMap
  }

  test("decontaminate counts distinct shared n-grams, matching brute force") {
    val corpus = Seq(
      1L -> "a b c d e f g",       // contains bench gram "c d e"
      2L -> "c d e c d e c d e",   // repeated gram counts ONCE
      3L -> "x y z w v u",         // clean
      4L -> "b c d e f",           // two overlapping bench grams
      5L -> "a b")                 // shorter than n
    val bench = Seq("q c d e f r", "zz c d e yy")
    val corpusDf = corpus.toDF("doc_id", "text")
    val benchDf = bench.toDF("text")
    val want = bruteHits(corpus, bench, 3)
    val got = Curation.decontaminate(corpusDf, benchDf, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(!want.contains(3L) && !want.contains(5L))
    assert(want(2L) == 1L) // distinct, not occurrences
  }

  // ---- per-group caps ----------------------------------------------------

  private def bruteCap(rows: Seq[(Long, String)], cap: Int, salt: String): Set[Long] = {
    def h(k: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$k:$salt".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(13), 16)
    rows.groupBy(_._2).values.flatMap(
      _.sortBy { case (k, _) => (h(k), k) }.take(cap).map(_._1)).toSet
  }

  test("capPerGroup: slots path matches brute force and the imperative path") {
    val rows = (0L until 200L).map(k => k -> s"dom${k % 5}")
    val df = rows.toDF("doc_id", "source")
    val want = bruteCap(rows, cap = 4, salt = "s1")
    // cap 4 = TopKSlots.JitK: the largest cap still on the slots path
    val slots = Curation.capPerGroup(df, "source", "doc_id", 4, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(slots == want)
    // a cap past the slot limit takes the imperative TopKAggExpr; compare
    // it with brute force at that cap
    val imperative = Curation.capPerGroup(df, "source", "doc_id", TopKSlots.MaxK + 3, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(imperative == bruteCap(rows, TopKSlots.MaxK + 3, "s1"))
    // groups smaller than the cap survive whole
    val tiny = Seq(1L -> "a", 2L -> "a", 3L -> "b").toDF("doc_id", "source")
    assert(Curation.capPerGroup(tiny, "source", "doc_id", 8, "s1").count() == 3)
  }

  test("capPerGroup: different salts draw different subsets; same salt is stable") {
    val rows = (0L until 300L).map(k => k -> s"dom${k % 3}")
    val df = rows.toDF("doc_id", "source")
    def run(salt: String): Set[Long] =
      Curation.capPerGroup(df, "source", "doc_id", 10, salt)
        .select("doc_id").as[Long].collect().toSet
    assert(run("a") == run("a"))
    assert(run("a") != run("b"))
    // non-integral key falls back to the window path, same contract
    val strKeys = rows.map { case (k, s) => s"k$k" -> s }.toDF("doc_id", "source")
    assert(Curation.capPerGroup(strKeys, "source", "doc_id", 4, "a").count() == 12)
  }

  test("decontaminate: a gram shared by many benchmark docs counts once per doc") {
    val corpusDf = Seq(1L -> "p q r s").toDF("doc_id", "text")
    val benchDf = Seq("p q r", "x p q r y", "z p q r").toDF("text")
    val got = Curation.decontaminate(corpusDf, benchDf, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    // the only shared gram is "p q r" — present in all 3 bench docs, counted once
    assert(got == Map(1L -> 1L))
  }

  // ----- splitByGroup (leakage-safe train/valid/test) -----

  test("splitBounds: exact, contiguous, proportional integer ranges") {
    val b = Curation.splitBounds(Seq("train" -> 8L, "valid" -> 1L, "test" -> 1L))
    val scale = 1L << 52
    assert(b.map(_._1) == Seq("train", "valid", "test"))
    assert(b.head._2 == 0L && b.last._3 == scale)
    b.sliding(2).foreach { case Seq((_, _, hi), (_, lo, _)) => assert(hi == lo); case _ => }
    assert(b.head._3 == BigInt(8) * BigInt(scale) / 10)
    assertThrows[IllegalArgumentException](Curation.splitBounds(Seq("a" -> 0L)))
    assertThrows[IllegalArgumentException](Curation.splitBounds(Seq("a" -> 1L, "a" -> 1L)))
  }

  test("splitByGroup: every group lands in exactly one split, proportions hold, salt re-deals") {
    val rows = (0 until 20000).map(i => (i.toLong, s"host${i % 400}"))
    val df = rows.toDF("doc_id", "source")
    val splits = Seq("train" -> 8L, "valid" -> 1L, "test" -> 1L)
    val got = Curation.splitByGroup(df, "source", splits, "s1")
      .select("source", "split").as[(String, String)].collect()
    // leakage guard: one split per group, by construction and in fact
    val perGroup = got.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(perGroup.values.forall(_.size == 1))
    // proportions over 400 groups: train should hold the large majority
    val groupSplit = perGroup.view.mapValues(_.head).toMap
    val counts = groupSplit.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 280 && counts("train") < 360, counts.toString)
    assert(counts.getOrElse("valid", 0) > 10 && counts.getOrElse("test", 0) > 10)
    // stability: adding rows of KNOWN groups changes no existing assignment
    val more = (0 until 500).map(i => (100000L + i, s"host${i % 400}")).toDF("doc_id", "source")
    val again = Curation.splitByGroup(df.unionByName(more), "source", splits, "s1")
      .select("source", "split").distinct().as[(String, String)].collect().toMap
    assert(again == groupSplit)
    // a different salt deals an independent split (some group moves)
    val resalted = Curation.splitByGroup(df, "source", splits, "s2")
      .select("source", "split").distinct().as[(String, String)].collect().toMap
    assert(resalted != groupSplit)
  }

  test("packSequences: concat-and-chop assignment matches brute force; drops empty docs") {
    val rows = (0L until 300L).map(i => (i, i % 17 + 1)) // tokens 1..17
    val df = rows.toDF("doc_id", "n_tokens")
    def run(d: org.apache.spark.sql.DataFrame) =
      Curation.packSequences(d, "doc_id", "n_tokens", budget = 50L, nBuckets = 4, salt = "s")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val got = run(df)
    val want = rows.groupBy { case (k, _) => refHash(s"$k:s") % 4 }.flatMap {
      case (b, ds) =>
        var st = 0L
        ds.sortBy { case (k, _) => (refHash(s"$k:s"), k) }.map { case (k, n) =>
          val r = (k, b, st, st / 50, (st + n - 1) / 50, st % 50); st += n; r
        }
    }.toSet
    assert(got == want)
    // partitioning-invariant (the bucket hash, not the physical layout,
    // decides the stream order)
    assert(run(df.repartition(13, col("n_tokens"))) == got)
    // zero-token docs are dropped, everything else is unchanged
    val withEmpty = rows.map { case (k, n) => (k, n) } ++ Seq((9000L, 0L))
    assert(run(withEmpty.toDF("doc_id", "n_tokens")) == got)
    // straddling happens and is labeled: some doc crosses a 50-boundary
    assert(got.exists(r => r._5 > r._4), "expected at least one straddling doc")
  }

  test("curate: total function, stage order respected, stages agree with the standalone ops") {
    // deterministic corpus: three languages (en/de/und by construction),
    // short docs, an exact-duplicate pair, a benchmark hit, a hot source
    def txt(i: Long): String = {
      val lang = i % 3 match {
        case 0 => "the cat of the house and the dog it is in the yard to stay"
        case 1 => "der hund und die katze ist ein tier zu haus den tag der der"
        case _ => "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg"
      }
      // "the cat": passes lang (en, stopword hit) but fails minTokens=5,
      // so the QUALITY stage provably fires (residue 10 keeps docs 0/3/6
      // — the copy/benchmark anchors — out of this branch)
      if (i % 11 == 10) "the cat"
      else s"$lang token$i extra words number ${i % 7} pad pad pad"
    }
    val rows = (0L until 120L).map(i => (i, txt(i), s"s${i % 3}"))
    // exact copies of docs 0, 3 (both en, long) under new keys
    val all = rows ++ Seq((1000L, txt(0L), "s0"), (1003L, txt(3L), "s0"))
    val df = all.toDF("doc_id", "text", "source")
    val bench = Seq((9999L, txt(6L))).toDF("doc_id", "text") // hits doc 6 family
    val out = Curation.curate(df, "doc_id", "text", "source",
      benchmark = bench, keepLangs = Seq("en", "de"),
      minTokens = 5, minStopPct = 1,
      bands = 4, rowsPerBand = 2, threshold = 0.05, nGram = 4,
      capPerSource = 4, capSalt = "cs", splits = Seq(("train", 3L), ("valid", 1L)),
      splitSalt = "sp")
      .as[(Long, String, String, String)].collect()
    // total: every input key exactly once, stage labels closed
    assert(out.map(_._1).sorted.toSeq == all.map(_._1).sorted)
    val stages = Set("lang", "quality", "exact_dup", "near_dup",
      "contaminated", "capped", "kept")
    assert(out.forall(r => stages(r._3)))
    // split non-null iff kept
    assert(out.forall(r => (r._3 == "kept") == (r._4 != null)))
    val byStage = out.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    // stage 1 ≡ standalone langId over the full input
    val langDrop = TextAnalysis.langId(df, "doc_id", "text")
      .where(!col("pred_lang").isInCollection(Seq("en", "de")))
      .select("doc_id").as[Long].collect().toSet
    assert(byStage.getOrElse("lang", Set.empty) == langDrop)
    // stage 2 fires exactly on the in-language short docs
    assert(byStage.getOrElse("quality", Set.empty) ==
      all.collect { case (k, t, _) if t == "the cat" => k }.toSet -- langDrop)
    // stage 3 fires on the synthesized copies (their originals survive)
    val exactDrops = byStage.getOrElse("exact_dup", Set.empty)
    assert(exactDrops.contains(1000L) && exactDrops.contains(1003L))
    assert(out.collect { case (k, _, s, _) if k == 0L || k == 3L => s }
      .forall(s => s != "exact_dup" && s != "lang" && s != "quality"))
    // the benchmark-hit doc never reaches kept
    assert(out.collectFirst { case (6L, _, s, _) => s }
      .exists(s => s == "contaminated" || s == "near_dup" || s == "exact_dup"))
    // cap: at most 4 kept + capped drops exist iff a source exceeded 4
    val keptBySrc = out.filter(_._3 == "kept").groupBy(_._2).view.mapValues(_.length)
    assert(keptBySrc.values.forall(_ <= 4))
    // split is constant per source among kept
    val splitBySrc = out.filter(_._3 == "kept").groupBy(_._2)
      .view.mapValues(_.map(_._4).toSet)
    assert(splitBySrc.values.forall(_.size == 1))
  }

  test("decontaminateFilter: NULL text is not-a-hit (kept by the gate, like the join form)") {
    // arrays_overlap null-propagates: without the coalesce a NULL-text
    // row failed BOTH branches and silently vanished from either output
    val corpus = Seq((1L, "alpha beta gamma delta eval set eval set"),
      (2L, null.asInstanceOf[String]), (3L, "clean text entirely here yes"))
      .toDF("doc_id", "text")
    val bench = Seq("eval set eval set").toDF("text")
    val kept = Curation.decontaminateFilter(corpus, "text", bench, "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"gate kept $kept")
    val hits = Curation.decontaminateFilter(corpus, "text", bench, "text", n = 4,
      keepContaminated = true).select("doc_id").as[Long].collect().toSet
    assert(hits == Set(1L), s"contaminated side $hits")
  }
}
