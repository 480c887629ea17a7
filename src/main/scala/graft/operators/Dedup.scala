package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.{materialize, persist, scope}

/**
 * Deduplication operators for web-scale corpora (driver instructions:
 * first-class training-data-pipeline components). All are pure
 * `functions._` compositions (codegen'd, shuffle-minimal):
 *
 *  - exact          one hash-groupBy; shuffles 16-byte digests, not text
 *  - minhashLsh     the canonical scale path: shingle → per-band min-hash
 *                   (partial agg!) → bucket equi-join → exact-Jaccard verify.
 *                   Same two-phase block+verify shape as the spatial join
 *                   (reference analogue: find_similar_code fingerprint
 *                   containment, tools/search.py:401-501)
 *  - simhash        16-bit majority-vote signature + banded hamming pairs
 *  - ngramJaccard   direct all-pairs on a blocking key (small corpora)
 *  - embeddingCosine near-dup by vector similarity (see Similarity)
 *
 * Hash discipline: only md5 (hex string) is used — identical bytes-in/
 * hex-out in Spark and DuckDB, so every operator has an exact SQL oracle.
 */
object Dedup {

  /** Exact duplicates: groups with >1 row by md5(text). Output one row per
   * duplicate group: (digest, n, keep_key = min key). */
  def exact(df: DataFrame, key: String, text: String): DataFrame =
    df.groupBy(md5(col(text).cast("binary")).as("digest"))
      .agg(count(lit(1)).as("n"), min(col(key)).as("keep_key"))
      .where(col("n") > 1)

  /**
   * Connected components over a near-dup pair list — the transitive
   * clustering that turns (key_a, key_b) similarity pairs into a keep/drop
   * decision (pairs are NOT transitive-closed by construction: a~b and
   * b~c does not emit a~c, so per-pair min-keep would under-drop).
   *
   * Iterative min-label propagation WITH pointer jumping: every key
   * starts labeled with itself; each round takes the min of (own label,
   * neighbours' labels, own label's label). The edge hop alone converges
   * in diameter rounds — a drift chain d1~d2~…~dL would cost L rounds —
   * but the label-of-label jump halves the remaining pointer depth every
   * round, so convergence is O(log diameter) (the classic pointer-jumping
   * CC bound). Per round: two hash joins + one aggregate, state
   * checkpointed like Knn's loop.
   *
   * @param pairs (keyA, keyB) undirected edges
   * @return (key, component) for every key appearing in a pair;
   *         component = min key of the connected component; the
   *         result is a checkpoint ([[graft.core.Checkpoints]])
   */
  def components(pairs: DataFrame, keyA: String, keyB: String): DataFrame = scope {
    val edges = persist(pairs.select(col(keyA).as("src"), col(keyB).as("dst"))
      .union(pairs.select(col(keyB).as("src"), col(keyA).as("dst")))
      .distinct())
    var labels = materialize(edges.select(col("src").as("key")).distinct()
      .withColumn("component", col("key")))
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      // neighbour labels: for each key, the min label among its neighbours
      val viaEdges = edges
        .join(labels.withColumnRenamed("key", "dst"), "dst")
        .groupBy(col("src").as("key"))
        .agg(min(col("component")).as("__nbr"))
      // pointer jump: my current label's current label. Round 1 skips
      // it — labels are identity there (component == key), so the jump
      // is provably a self-join returning each key's own label; one
      // join per consumer saved (q57/q58/q119 all start here)
      val withJump =
        if (round == 1) labels.withColumn("__jmp", col("component"))
        else {
          val jump = labels
            .join(labels.select(col("key").as("component"), col("component").as("__jmp")),
              Seq("component"))
            .select(col("key"), col("__jmp"))
          labels.join(jump, Seq("key"), "left_outer")
        }
      // convergence check rides the SAME action that materializes the
      // round (observe on the checkpoint job): the old label is already
      // on the row being rewritten, so the former extra join-back +
      // count() pass per round bought nothing
      val obs = org.apache.spark.sql.Observation(s"cc_${round}_${System.nanoTime()}")
      val next = materialize(withJump.join(viaEdges, Seq("key"), "left_outer")
        .select(col("key"),
          least(col("component"),
            coalesce(col("__nbr"), col("component")),
            coalesce(col("__jmp"), col("component"))).as("__new"),
          col("component").as("__old"))
        .observe(obs, sum(when(col("__new") =!= col("__old"), 1L).otherwise(0L)).as("chg"))
        .select(col("key"), col("__new").as("component")))
      changed = obs.get("chg") match {
        case null => 0L // empty label set
        case n => n.asInstanceOf[Long]
      }
      // release the superseded round's checkpoint blocks NOW (nothing
      // references them once the round is materialized)
      org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(labels)
      labels = next
    }
    labels
  }

  /** Keep/drop decision from a pair list: one row per key that should be
   * DROPPED (its component has a smaller key — the canonical survivor).
   * Materializes its (drop-rows-only, smaller) output eagerly so the full
   * labels checkpoint from [[components]] is released on return instead
   * of living in executor storage for the session. */
  def dropKeys(pairs: DataFrame, keyA: String, keyB: String): DataFrame = scope {
    materialize(components(pairs, keyA, keyB).where(col("key") =!= col("component"))
      .select(col("key").as("drop_key"), col("component").as("keep_key")))
  }

  /** MinHash signature matrix, long form: (key, h_idx, min_hash).
   *
   * The `numHashes` permutation proxies are disjoint hex slices of ONE
   * md5 per shingle — not numHashes independent md5 calls over an
   * exploded (shingle × h_idx) table. One hash aggregate computes all
   * mins side-by-side (single exchange, no row multiplication); the long
   * form is a cheap post-agg unpivot. Narrower slices only ADD band-key
   * collisions (false candidate agreements, never disagreements), and
   * the exact-Jaccard verify stage filters those — so LSH recall is
   * unaffected while hashing cost drops numHashes-fold.
   *
   * Slice width is floor(32 / numHashes) hex chars, so any numHashes in
   * [1, 32] is accepted (non-divisors leave trailing hex chars unused —
   * narrower slices only add verify-filtered collisions, see above). */
  /** Tokenize + shingle once: (key, sh: array<string>) — the single frame
   * every minhash stage derives from (see [[minhashLsh]]). */
  def shingleSets(df: DataFrame, key: String, text: String): DataFrame =
    df.withColumn("__ts", TextAnalysis.tokens(col(text)))
      .select(col(key), TextAnalysis.shinglesOf(col("__ts")).as("sh"))

  def minhashLong(df: DataFrame, key: String, text: String, numHashes: Int): DataFrame =
    minhashLongFromSets(shingleSets(df, key, text), key, numHashes)

  private def minhashLongFromSets(sets: DataFrame, key: String, numHashes: Int): DataFrame = {
    require(numHashes >= 1 && numHashes <= 32,
      s"numHashes must be in [1, 32] (md5 has 32 hex chars), got $numHashes")
    val w = 32 / numHashes
    // explode_outer, NOT explode: inner explode makes Catalyst infer
    // size(arr)>0 constraints that are pushed below the projection and
    // re-evaluate the whole shingle expression 3x per row at the scan
    // (observed in plans; 4x wall cost). The cheap isNotNull filter on
    // the exploded column replaces them.
    val sh = sets
      .select(col(key), explode_outer(col("sh")).as("s"))
      .where(col("s").isNotNull)
      .withColumn("__h", md5(col("s")))
    val mins = (0 until numHashes).map(i =>
      min(substring(col("__h"), i * w + 1, w)).as(s"__m$i"))
    sh.groupBy(col(key))
      .agg(mins.head, mins.tail: _*)
      .select(col(key), explode(array((0 until numHashes).map(i =>
        struct(lit(i.toLong).as("h_idx"), col(s"__m$i").as("min_hash"))): _*)).as("x"))
      .select(col(key), col("x.h_idx").as("h_idx"), col("x.min_hash").as("min_hash"))
  }

  /** LSH band keys (key, band, band_key) from a signature frame
   * (key, h_idx, min_hash): hashes of each band concatenated in h_idx
   * order — two keys agree on a band iff their band_keys are equal. */
  private def bandKeysOf(sigs: DataFrame, key: String, rowsPerBand: Int): DataFrame =
    sigs.withColumn("band", (col("h_idx") / rowsPerBand).cast("long"))
      .groupBy(col(key), col("band"))
      .agg(concat_ws("|", array_sort(collect_list(
        concat(lpad(col("h_idx").cast("string"), 4, "0"), lit("="), col("min_hash"))))).as("band_key"))

  /**
   * MinHash-LSH candidate pairs verified by exact Jaccard.
   * bands × rowsPerBand = numHashes; a pair is a candidate iff it agrees
   * on ALL hashes of ≥1 band. Output: (key_a, key_b, jaccard) with
   * key_a < key_b and jaccard ≥ threshold, 4-dp rounded.
   * bands × rowsPerBand may be any value in [1, 32] (see [[minhashLong]]
   * for the hex-slice width rule when it does not divide 32).
   *
   * The tokenized/shingled corpus is computed ONCE ([[shingleSets]]),
   * persisted, and shared by the signature stage and BOTH sides of the
   * verify join — the previous shape re-ran the tokenizer+shingler (the
   * dominant regex cost) three times. To give the persist a deterministic
   * release point the (small — pairs only) output is materialized eagerly
   * before the shingle cache is dropped, so the returned frame owns no
   * lineage into it. At 100 TB the persist spills shingle arrays to
   * executor disk (MEMORY_AND_DISK) — still strictly cheaper than three
   * full tokenize passes over the text.
   */
  def minhashLsh(df: DataFrame, key: String, text: String,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = scope {
    val numHashes = bands * rowsPerBand
    val sets = persist(shingleSets(df, key, text))
    // materialize the band keys ONCE: both sides of the candidate
    // self-join read them, and without this the minhash aggregate +
    // band groupBy over the (persisted) shingle sets ran twice. Fanned
    // out so the self-join stays parallel
    val bandKeys = materialize(
      bandKeysOf(minhashLongFromSets(sets, key, numHashes), key, rowsPerBand), fanOut = true)
    val a = bandKeys.select(col(key).as("key_a"), col("band"), col("band_key"))
    val b = bandKeys.select(col(key).as("key_b"), col("band"), col("band_key"))
    val cand = a.join(b, Seq("band", "band_key"))
      .where(col("key_a") < col("key_b"))
      .select("key_a", "key_b").distinct()
    // verify with exact Jaccard over the SAME cached shingle sets
    val sa = sets.select(col(key).as("key_a"), col("sh").as("sh_a"))
    val sb = sets.select(col(key).as("key_b"), col("sh").as("sh_b"))
    materialize(cand.join(sa, "key_a").join(sb, "key_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .where(col("jaccard") >= threshold)
      .select("key_a", "key_b", "jaccard"))
  }

  /**
   * Incremental near-dup screen: dedup an arriving batch against an
   * already-committed corpus WITHOUT rescanning corpus text — the
   * production shape of web-crawl dedup, where each day's pages must be
   * screened against months of history. The corpus is represented by its
   * minhash SIGNATURE table (key, h_idx, min_hash — `numHashes` narrow
   * rows per kept document, a tiny fraction of the text), committed as
   * snapshot waves ([[graft.snap.SnapshotCatalog]]); each batch:
   *
   *  1. computes signatures for the NEW docs only (the only text scan);
   *  2. finds candidates by LSH band equi-join of new keys vs the corpus
   *     table and vs smaller-keyed docs of the same batch;
   *  3. decides by signature agreement — a candidate is a duplicate when
   *     ≥ `minAgree` of its `numHashes` minhashes equal the prior doc's
   *     (the classic minhash Jaccard estimate m/n, kept integer-exact);
   *  4. commits the SURVIVORS' signatures as wave `wave`, growing the
   *     corpus table for the next batch.
   *
   * Decision contract (deterministic, order-free): a new doc is dropped
   * iff it matches a doc already in the corpus table, or a SMALLER-KEYED
   * doc of its own batch (whether or not that doc is itself dropped);
   * `dup_of` reports the smallest matching prior key. Keys must be
   * globally unique across the corpus and the batch, and ordered
   * (retries re-derive identical decisions — the same wave re-commits as
   * a no-op, so crash-and-rerun is exactly-once end to end).
   *
   * Scale shape: band join and agreement join are equi-joins on
   * signature rows only (numHashes-bounded per doc); the corpus text is
   * never reread, never shuffled, and the signature table compacts /
   * vacuums like any snapshot table ([[graft.snap.SnapshotCatalog.compact]]).
   *
   * @return one row per new doc: (key, is_dup, dup_of nullable)
   */
  def incrementalMinhash(newDocs: DataFrame, key: String, text: String,
      bands: Int, rowsPerBand: Int, minAgree: Int,
      root: String, table: String, wave: Int): DataFrame = scope {
    import graft.snap.SnapshotCatalog
    val spark = newDocs.sparkSession
    val numHashes = bands * rowsPerBand
    require(minAgree >= 1 && minAgree <= numHashes,
      s"minAgree must be in [1, numHashes=$numHashes] (got $minAgree)")
    val newSigs = persist(minhashLong(newDocs, key, text, numHashes))
    // fresh-table waves (the bootstrap) have NO corpus side: skip the
    // prior read / anti-join / union entirely instead of planning them
    // against an empty frame (the wave-0 plan halves). A rerun of an
    // already-committed wave sees the manifest and takes the full path.
    val prior = SnapshotCatalog.currentManifest(root, table)
      .map(_ => SnapshotCatalog.read(spark, root, table))
    // band keys are read by the candidate join AND the prior-side union:
    // materialize them once (4 narrow rows per doc)
    val nb = materialize(bandKeysOf(newSigs, key, rowsPerBand))
    val nbAsPrior = nb.select(col(key).as("__pkey"), col("band"), col("band_key"))
      .withColumn("__batch", lit(true))
    // ONE band equi-join against the flagged union of both prior kinds
    // (corpus rows + smaller-keyed batch rows) instead of two joins +
    // union: the corpus branch excludes self-pairs (on a crash-and-rerun
    // of a committed wave a doc's OWN signatures are in the table and
    // would otherwise match it against itself), the batch branch keeps
    // smaller keys only
    val priorBand = prior.map(p =>
      bandKeysOf(p, key, rowsPerBand)
        .select(col(key).as("__pkey"), col("band"), col("band_key"))
        .withColumn("__batch", lit(false))
        .unionByName(nbAsPrior)).getOrElse(nbAsPrior)
    val cand = materialize(nb.join(priorBand, Seq("band", "band_key"))
      .where(when(col("__batch"), col("__pkey") < col(key))
        .otherwise(col("__pkey") =!= col(key)))
      .select(col(key), col("__pkey"))
      .distinct()) // read twice below (candKeys + the pair join)
    // agreement count per candidate pair: equal min_hash at equal h_idx,
    // priors drawn from the corpus table AND this batch's own signatures.
    // The prior side is semi-join-pruned to CANDIDATE keys first (the
    // distinct-candidate frame is band-match-sized → broadcasts), so the
    // (__pkey, h_idx) shuffle below carries |candidates|·numHashes rows,
    // not the whole corpus signature table
    val ns = newSigs.select(col(key), col("h_idx"), col("min_hash").as("__nh"))
    // On a crash-and-rerun of an already-committed wave the corpus table
    // ALREADY holds this batch's survivors: keep exactly one signature
    // copy per key (the batch's — byte-identical to the committed one,
    // signatures are deterministic) by anti-joining the batch's keys out
    // of the prior side. Without this the per-pair agreement count __m
    // double-counts every hash match against a committed batch survivor,
    // so a pair truly agreeing on only ceil(minAgree/2) hashes reads
    // >= minAgree on the rerun — decisions would differ from the
    // original run, breaking the exactly-once contract (proved
    // rerun-identical in DedupSpec's "rerun near the agreement
    // threshold" test). Both prunes are broadcast-sized: candidates are
    // band-match-bounded, batch keys are one wave.
    val candKeys = cand.select("__pkey").distinct()
    val ps = prior.map(_
        .join(broadcast(newSigs.select(col(key)).distinct()), Seq(key), "left_anti")
        .unionByName(newSigs)).getOrElse(newSigs)
      .select(col(key).as("__pkey"), col("h_idx"), col("min_hash").as("__ph"))
      .join(broadcast(candKeys), Seq("__pkey"), "left_semi")
    val dups = cand
      .join(ns, Seq(key)).join(ps, Seq("__pkey", "h_idx"))
      .where(col("__nh") === col("__ph"))
      .groupBy(col(key), col("__pkey")).agg(count(lit(1)).as("__m"))
      .where(col("__m") >= minAgree)
      .groupBy(col(key)).agg(min(col("__pkey")).as("dup_of"))
    val decisions = materialize(newDocs.select(col(key)).distinct()
      .join(dups, Seq(key), "left")
      .select(col(key), col("dup_of").isNotNull.as("is_dup"), col("dup_of")))
    // decisions are final before the commit below
    val survivors = decisions.where(!col("is_dup")).select(col(key))
    SnapshotCatalog.commitWave(spark,
      newSigs.join(survivors, Seq(key), "left_semi"), wave, root, table)(identity)
    decisions
  }

  /** 16-bit SimHash from md5-derived per-token bit votes; portable to SQL
   * (bit j of token t = ascii(substr(md5(t), j+1, 1)) % 2).
   *
   * One aggregation with 16 vote columns — NOT a 16× per-bit row explosion:
   * the vote sums are computed side-by-side in a single (partial+final)
   * hash aggregate over token rows, so the shuffle carries one 16-column
   * row per key instead of 16 rows, and there is one exchange instead of
   * two (measured ~2× on q14/q38). */
  def simhash(df: DataFrame, key: String, text: String): DataFrame = {
    val toks = df.select(col(key), explode(TextAnalysis.tokens(col(text))).as("t"))
      .withColumn("h", md5(col("t").cast("binary")))
    val votes = (0 until 16).map { j =>
      sum(when(pmod(ascii(substring(col("h"), j + 1, 1)), lit(2)) === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"__v$j")
    }
    toks.groupBy(col(key))
      .agg(votes.head, votes.tail: _*)
      .select(col(key),
        (0 until 16).map(j =>
          when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /**
   * SimHash near-dup pairs with hamming distance ≤ maxHamming over a
   * `totalBits`-bit signature column named `simhash`.
   *
   * Recall contract: the signature bits are partitioned into
   * `maxHamming + 1` bands; by pigeonhole any pair within the distance
   * bound agrees exactly on at least one band, so the banded candidate set
   * has NO false negatives. Candidates come from ONE hash equi-join on
   * (band, band_value) over the exploded band rows — no OR-condition
   * nested-loop join (the previous shape planned as a
   * BroadcastNestedLoopJoin, O(N²) comparisons).
   */
  private def bandedPairs(sh: DataFrame, key: String,
      totalBits: Int, maxHamming: Int): DataFrame = scope {
    val nb = maxHamming + 1
    require(nb >= 1 && nb <= totalBits,
      s"maxHamming must be in [0, ${totalBits - 1}], got $maxHamming")
    // distribute the bits as evenly as possible so every band is non-empty
    val widths = Array.tabulate(nb)(i => totalBits / nb + (if (i < totalBits % nb) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def bandVal(c: Column, i: Int): Column = {
      val mask = if (widths(i) >= 64) -1L else (1L << widths(i)) - 1
      shiftright(c, offsets(i)).bitwiseAND(lit(mask))
    }
    val bandCols = (0 until nb).map(i =>
      struct(lit(i).as("band"), bandVal(col("simhash"), i).as("bv")))
    // materialize the signature frame ONCE: both sides of the band
    // self-join below read it, and without this the full signature
    // aggregate (explode + md5 + 16/64 vote sums over every token) runs
    // TWICE — measured as the whole first stage duplicated in q14/q53
    // plans. Signatures are (key, long) rows — tiny at any corpus size
    // relative to the text they summarize. Fanned out so the candidate
    // join + hamming filters downstream do not run single-task
    val sigs = materialize(sh, fanOut = true)
    val banded = sigs
      .select(col(key), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col(key), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
    val a = banded.select(col(key).as("key_a"), col("simhash").as("sim_a"), col("band"), col("bv"))
    val b = banded.select(col(key).as("key_b"), col("simhash").as("sim_b"), col("band"), col("bv"))
    // emit each pair ONLY at its first agreeing band: a codegen'd filter on
    // the two signatures replaces a distinct() that would re-shuffle the
    // whole candidate set (pairs agreeing on m bands met m times)
    val firstAgreeingBand = (0 until nb).map { i =>
      (0 until i).map(j => bandVal(col("sim_a"), j) =!= bandVal(col("sim_b"), j))
        .foldLeft(col("band") === i)(_ && _)
    }.reduce(_ || _)
    a.join(b, Seq("band", "bv"))
      .where(col("key_a") < col("key_b"))
      .where(firstAgreeingBand)
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("key_a", "key_b", "hamming")
  }

  /** 16-bit near-dup pairs (see [[bandedPairs]] for the recall contract).
   * NOTE: 16 bits is the oracle-friendly demo width; at corpus scale a
   * 16-bit signature is degenerate (buckets of N/2^4 per 4-bit band pair
   * quadratically). Use [[simhashPairs64]] for real corpora. */
  def simhashPairs(df: DataFrame, key: String, text: String, maxHamming: Int): DataFrame =
    bandedPairs(simhash(df, key, text), key, 16, maxHamming)

  /** 64-bit near-dup pairs — the corpus-scale shape (64-bit fingerprints
   * with hamming ≤ 3 and 4 × 16-bit bands is the published web-dedup
   * configuration: Manku, Jain & Das Sarma, "Detecting Near-Duplicates
   * for Web Crawling", WWW 2007). Band value space per band is 2^16, so
   * bucket sizes stay sub-quadratic far longer than the 16-bit variant. */
  def simhashPairs64(df: DataFrame, key: String, text: String, maxHamming: Int): DataFrame =
    bandedPairs(simhash64(df, key, text), key, 64, maxHamming)

  /** 64-bit SimHash. Bit j of a token comes from md5 hex char j%32, bit
   * j/32 of its nibble — portable to SQL with the same arithmetic. Same
   * one-aggregation shape as [[simhash]] (64 vote columns, one exchange). */
  def simhash64(df: DataFrame, key: String, text: String): DataFrame = {
    val toks = df.select(col(key), explode(TextAnalysis.tokens(col(text))).as("t"))
      .withColumn("h", md5(col("t").cast("binary")))
    val votes = (0 until 64).map { j =>
      val a = ascii(substring(col("h"), j % 32 + 1, 1))
      val nibble = when(a <= 57, a - 48).otherwise(a - 87) // '0'-'9' | 'a'-'f'
      sum(when(shiftright(nibble, j / 32).bitwiseAND(lit(1)) === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"__v$j")
    }
    toks.groupBy(col(key))
      .agg(votes.head, votes.tail: _*)
      .select(col(key),
        (0 until 64).map(j =>
          when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** Direct n-gram Jaccard pairs, blocked by shared shingle so disjoint
   * docs never pair. ONE groupBy(shingle) collects each shingle's (sorted,
   * distinct-by-construction) doc list; candidate pairs are generated
   * in-row from the list (a nested transform — lists are small, and with
   * `maxDocFreq` strictly ≤ cap), then one hash aggregate counts shared
   * shingles per pair. vs the former exploded self-join: one exchange of
   * the shingle table instead of two plus a join, and the hot-shingle
   * quadratic blowup is capped at the SOURCE (the oversized list is
   * dropped before any pair exists).
   *
   * Document-frequency cap semantics (standard practice): intersection
   * counts only shingles with df ≤ cap while set sizes stay full, so the
   * reported jaccard is a lower bound.
   *
   * The cap DEFAULTS to a finite 128: a hot shingle shared by D docs
   * would otherwise materialize ~D²/2 pair structs inside ONE row (the
   * in-row generation below) — a per-task OOM at corpus scale, not even
   * a shuffle problem. With the cap, per-row work is bounded at cap²/2
   * regardless of input size. Opting out (maxDocFreq = Int.MaxValue) is
   * for small corpora only; route anything bigger to [[minhashLsh]]
   * (SCALE.md: this operator is the exact-small-corpus path). */
  def ngramJaccard(df: DataFrame, key: String, text: String, threshold: Double,
      maxDocFreq: Int = 128): DataFrame = scope {
    // the tokenized/shingled corpus is referenced THREE times (the pair
    // generation plus both sides of the size join-back) — persist it once
    // or the tokenizer+shingler (the dominant regex cost) runs 3×, the
    // same share-the-shingles shape minhashLsh uses. The (small) pair
    // output is materialized eagerly so the persist has a deterministic
    // release point.
    val sets = persist(df.withColumn("__ts", TextAnalysis.tokens(col(text)))
      .select(col(key), TextAnalysis.shinglesOf(col("__ts")).as("sh")))
    val sizes = sets.select(col(key), size(col("sh")).cast("long").as("n"))
    val ex = sets.select(col(key), explode_outer(col("sh")).as("s"))
      .where(col("s").isNotNull) // see minhashLong: avoids constraint-pushdown re-evaluation
    val grouped = ex.groupBy("s").agg(sort_array(collect_list(col(key))).as("ks"))
    val capped =
      if (maxDocFreq == Int.MaxValue) grouped else grouped.where(size(col("ks")) <= maxDocFreq)
    // all ordered pairs (ks(i), ks(j)) with i < j, emitted per shingle
    val pairs = capped.select(explode(flatten(transform(col("ks"), (a, i) =>
      transform(slice(col("ks"), i + 2, size(col("ks"))), b => struct(a.as("key_a"), b.as("key_b")))
    ))).as("p")).select(col("p.key_a"), col("p.key_b"))
    val inter = pairs.groupBy("key_a", "key_b").agg(count(lit(1)).as("inter"))
    val na = sizes.select(col(key).as("key_a"), col("n").as("n_a"))
    val nb = sizes.select(col(key).as("key_b"), col("n").as("n_b"))
    materialize(inter.join(na, "key_a").join(nb, "key_b")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("key_a", "key_b", "jaccard"))
  }

  /**
   * Exact-substring duplication spans (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better" — the ExactSubstr side
   * of that paper, token-level): a token position is DUPLICATED when it
   * lies inside a window of `minTokens` consecutive tokens whose exact
   * sequence occurs at least twice in the corpus (anywhere — another
   * document or another offset of the same document).
   *
   * The suffix-array construction of the paper collapses, in a
   * declarative engine, to a window census: a span of length L >=
   * minTokens occurs twice iff ALL of its length-minTokens sub-windows
   * occur twice, so the duplicated-token set is exactly the union of
   * [p, p+minTokens) over positions p whose window digest has corpus
   * count >= 2. No global suffix sort, no cross-row comparison — one
   * groupBy(digest) census and one semi-join.
   *
   * Scale shape (document text never shuffles):
   *  1. per position, md5 of the minTokens-token window — 16-byte
   *     digests enter the census exchange, not token strings;
   *  2. duplicated-window digests (count >= 2) semi-join back onto the
   *     (key, pos, digest) rows — the census output is aggregate-sized,
   *     AQE broadcasts it when small;
   *  3. per document, the sorted dup positions fold into covered-token
   *     counts with interval arithmetic (sum of min(minTokens, gap)) —
   *     integers only, so the DuckDB oracle replays it exactly.
   *
   * Output: key, n_tokens, dup_tokens (tokens inside some duplicated
   * window), dup_ratio_bp = dup_tokens·10000 div n_tokens — the
   * keep/trim signal the paper's pipeline thresholds on.
   */
  def exactSubstrSpans(df: DataFrame, key: String, text: String,
      minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2 (got $minTokens)")
    val m = minTokens
    val toks = df.select(col(key), TextAnalysis.tokens(col(text)).as("__ts"))
      .select(col(key), col("__ts"), size(col("__ts")).as("__n"))
    // one row per full-window start position; sequence(1,0) DESCENDS, so
    // short documents must map to an empty position array explicitly
    val grams = toks
      .select(col(key), col("__ts"),
        explode(when(col("__n") >= m, sequence(lit(0), col("__n") - m))
          .otherwise(array().cast("array<int>"))).as("__p"))
      .select(col(key), col("__p"),
        md5(concat_ws(" ", slice(col("__ts"), col("__p") + 1, lit(m)))
          .cast("binary")).as("__d"))
    val dupWindows = grams.groupBy("__d").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2).select("__d")
    val perDoc = grams.join(dupWindows, Seq("__d"), "left_semi")
      .groupBy(key).agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .select(col(key), (lit(m.toLong) + coalesce(aggregate(
        // gaps between consecutive dup starts, capped at the window width
        when(size(col("__ps")) >= 2, transform(
          sequence(lit(1), size(col("__ps")) - 1),
          j => least(lit(m), element_at(col("__ps"), j + 1) - element_at(col("__ps"), j))
            .cast("long"))).otherwise(array().cast("array<long>")),
        lit(0L), (acc, g) => acc + g), lit(0L))).as("__cov"))
    toks.join(perDoc, Seq(key), "left")
      .select(col(key), col("__n").cast("long").as("n_tokens"),
        coalesce(col("__cov"), lit(0L)).as("dup_tokens"),
        expr(s"coalesce(__cov, 0L) * 10000L div __n").as("dup_ratio_bp"))
  }
}
