package graft.multimodal

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.betfair.SparkSpec

/** The Hamming family's occupancy-cap contract (round-11 hardening of the
  * rotated-window bucketing):
  *
  *  1. exact-duplicate skew is occupancy-FREE — a class collapsed onto one
  *     hash value contributes ONE distinct-hash bucket row per window and
  *     pairs through the bucket-free identical-hash path, so a
  *     billion-re-upload class can never go quadratic in the candidate
  *     join (its pair OUTPUT is quadratic — irreducible);
  *  2. the df-cap's recall loss is exactly characterizable: a Hamming≤3
  *     pair is lost iff EVERY clean window (equal 16-bit slice) lands in
  *     a hot cell (> cap distinct hashes). This spec recomputes that
  *     predicate from first principles per pair and asserts the library
  *     output equals brute-force-minus-predicted-losses at a skewed cap,
  *     and equals full brute force at the default cap;
  *  3. the two-batch incremental union still equals the one-shot on a
  *     corpus WITH a degenerate single-hash class (the d104 identity is
  *     not broken by the rework).
  *
  * Every case runs on both paths of [[Multimodal.incrementalHammingPairs]]:
  * [[HammingCapSpec]] at the default row bound, where these corpora take
  * the one-task fold, and [[HammingCapDistributedSpec]] with the bound
  * forced to 0, which sends every non-empty input to the distributed
  * bucket join.
  */
abstract class HammingCapCases(bound: SparkContext => Long)
    extends SparkSpec {

  /** The operations under test with their path pinned by `bound`; the
    * cases call them as they would call [[graft.multimodal.Multimodal]].
    */
  protected object Multimodal {
    val HammingBucketCap: Int = graft.multimodal.Multimodal.HammingBucketCap
    def distinctHashBuckets(hashes: DataFrame): DataFrame =
      graft.multimodal.Multimodal.distinctHashBuckets(hashes)
    def hammingPairs(hashes: DataFrame, maxHamming: Int,
        bucketCap: Int = HammingBucketCap): DataFrame =
      graft.multimodal.Multimodal.hammingPairs(hashes, maxHamming,
        bucketCap, bound)
    def incrementalHammingPairs(prior: DataFrame, batch: DataFrame,
        maxHamming: Int = 3, bucketCap: Int = HammingBucketCap): DataFrame =
      graft.multimodal.Multimodal.incrementalHammingPairs(prior, batch,
        maxHamming, bucketCap, bound)
  }

  protected def windows(h: Long): Seq[(Int, Long)] = (0 until 4).map { t =>
    val r = 16 * t
    val rot = if (r == 0) h else (h << r) | (h >>> (64 - r))
    (t, rot >>> 48)
  }

  protected def hammingOf(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  /** Brute-force ground truth under the cap semantics: hamming-0 pairs
    * always kept; 1..3 pairs kept iff some clean window's cell is cold.
    */
  protected def expectedPairs(corpus: Seq[(Long, Long)], cap: Int)
      : Set[(Long, Long, Long)] = {
    val occ = corpus.map(_._2).distinct.flatMap(windows)
      .groupBy(identity).map { case (cell, xs) => cell -> xs.size }
    val hot = occ.filter(_._2 > cap).keySet
    (for {
      (d1, h1) <- corpus
      (d2, h2) <- corpus
      if d1 < d2
      hm = hammingOf(h1, h2)
      if hm <= 3
      if hm == 0 || windows(h1).zip(windows(h2)).exists {
        case (ca, cb) => ca == cb && !hot(ca)
      }
    } yield (d1, d2, hm.toLong)).toSet
  }

  protected def df(corpus: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    corpus.toDF("doc_id", "ahash")
  }

  protected def collected(r: DataFrame): Set[(Long, Long, Long)] =
    r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet

  /** 200 docs collapsed onto ONE hash + a handful of near/far hashes. */
  private val degenerate: Seq[(Long, Long)] = {
    val h0 = 0x0123456789abcdefL
    val near = Seq(h0 ^ 1L, h0 ^ (1L << 20), h0 ^ ((1L << 50) | 2L),
      h0 ^ ((1L << 5) | (1L << 25) | (1L << 45)))
    val far = Seq(0x5555aaaa5555aaaaL, -1L, 0x00ff00ff00ff00ffL)
    (0L until 200L).map(i => (i, h0)) ++
      near.zipWithIndex.map { case (h, i) => (1000L + i, h) } ++
      far.zipWithIndex.map { case (h, i) => (2000L + i, h) }
  }

  test("degenerate single-hash class: one bucket row per window, " +
      "output still exact") {
    // the 200-doc class must contribute 4 bucket rows total (one per
    // window), not 800 — distinct-hash bucketing is what keeps a
    // collapsed class from crowding cells or going quadratic
    val nDistinct = degenerate.map(_._2).distinct.size
    val bucketRows = Multimodal.distinctHashBuckets(df(degenerate)).count()
    assert(bucketRows == 4L * nDistinct, s"bucket rows $bucketRows")
    // output == full brute force, even at a cap SMALLER than the class
    // size: occupancy counts hashes, so 200 identical docs cannot heat
    // any cell and every pair (intra-class hamming-0 + the near crosses)
    // survives a cap of 8
    val got = collected(Multimodal.hammingPairs(df(degenerate), 3,
      bucketCap = 8))
    assert(got == expectedPairs(degenerate, cap = 8))
    assert(got.count(_._3 == 0L) == 200L * 199L / 2,
      "intra-class hamming-0 pair count")
  }

  /** A crowded-window corpus: 16 sparse hashes all sharing window-0 value
    * 0, a designed victim pair whose ONLY clean window is window 0, and a
    * control pair with a private cold window-1 cell.
    */
  private val skewed: Seq[(Long, Long)] = {
    val crowd = (0 until 16).map(i => 0x7L << (3 * i)).map(_ & 0xffffffffffffL)
    val a = (1L << 33) | (1L << 17) | (1L << 1) // vs 0: dirty in w1,w2,w3
    val c = (1L << 40) | (1L << 20) | (1L << 5)
    val d = c ^ (1L << 6) // vs c: hamming 1, private (w1, w2) cells
    (crowd ++ Seq(0L, a, c, d)).distinct.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }
  }

  test("hot-bucket cap loses exactly the all-clean-windows-hot pairs") {
    val base = df(skewed)
    // default cap: nothing is hot, output == full brute force
    assert(collected(Multimodal.hammingPairs(base, 3)) ==
      expectedPairs(skewed, cap = Multimodal.HammingBucketCap))
    // skewed cap 4: the shared-zero cells are hot; the library must lose
    // exactly the pairs whose every clean window is hot (the victim pair
    // (0, a)) and keep every pair with one cold clean window (the
    // control (c, d) rides its private window-1 cell)
    val got4 = collected(Multimodal.hammingPairs(base, 3, bucketCap = 4))
    val want4 = expectedPairs(skewed, cap = 4)
    assert(got4 == want4,
      s"missing=${want4 -- got4} extra=${got4 -- want4}")
    val full = expectedPairs(skewed, cap = Int.MaxValue)
    val lost = full -- want4
    assert(lost.nonEmpty, "the skewed corpus must actually lose pairs")
    val idOf = skewed.toMap
    def h(id: Long): Long = idOf(id)
    // victim lost: (0-hash doc, a) — only clean window is the hot w0 cell
    val victim = lost.find { case (d1, d2, _) =>
      Set(h(d1), h(d2)) == Set(0L, (1L << 33) | (1L << 17) | (1L << 1)) }
    assert(victim.isDefined, s"victim pair not among lost: $lost")
    // control kept: (c, d) hamming-1 via its private cold cell
    val cHash = (1L << 40) | (1L << 20) | (1L << 5)
    assert(got4.exists { case (d1, d2, hm) =>
      hm == 1L && Set(h(d1), h(d2)) == Set(cHash, cHash ^ (1L << 6)) })
  }

  test("capped candidate generation emits an observable hot-cell signal") {
    // the skewed corpus at cap 4 heats the shared window-0 cells — the
    // run itself must raise the HotCellSignal counters (warn log + named
    // observation riding the exclusion anti-join, no extra scan), so a
    // production deployment can detect recall-losing caps without the
    // oracle harness. The listener bus is async: poll with a deadline.
    val q0 = HotCellSignal.hotQueries.get()
    collected(Multimodal.hammingPairs(df(skewed), 3, bucketCap = 4))
    val deadline = System.currentTimeMillis() + 30000
    while (HotCellSignal.hotQueries.get() == q0 &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(HotCellSignal.hotQueries.get() > q0,
      "no hot-cell signal observed for a capped run")
    assert(HotCellSignal.hotCells.get() > 0)
    assert(HotCellSignal.excludedHashes.get() > 0)
  }

  test("d126 heal caveat, executable: an ingest-hot cell gone " +
      "survivor-cold loses exactly the predicted pairs — and a " +
      "compaction-time re-probe recovers them") {
    // the d126 scaladoc documents the anti-join heal's one blind spot in
    // prose; this makes it a predicate (the HammingCapSpec bar): the
    // crowd heats the shared window-0 cell at ingest (20 distinct hashes
    // > cap 4), suppressing the victim pair whose ONLY clean window is
    // that cell. Deleting every crowd doc leaves 4 distinct survivor
    // hashes — the cell is COLD among survivors, yet the anti-join heal
    // cannot recover the never-emitted victim.
    val crowdIds = skewed.filter(_._2 != 0L).map(_._1)
      .take(16) // ids 0..15 = the crowd (0L/a/c/d zip in after them)
    val deleted = skewed.map(_._1).toSet
      .intersect((0L until 16L).toSet)
    val survivors = skewed.filterNot(d => deleted(d._1))
    assert(crowdIds.forall(deleted), "designed delete set must be the crowd")
    // ingest pair state at cap 4 via the d126 two-batch incremental path
    val base = df(skewed)
    val b1 = base.filter(col("doc_id") % 2 === 0)
    val b2 = base.filter(col("doc_id") % 2 === 1)
    val statePairs = collected(
      Multimodal.incrementalHammingPairs(base.filter(lit(false)), b1,
          bucketCap = 4)
        .unionByName(Multimodal.incrementalHammingPairs(b1, b2,
          bucketCap = 4)))
    // the heal: pairs survive iff both ends survive (pure anti-join)
    val healed = statePairs.filterNot(p => deleted(p._1) || deleted(p._2))
    // predicted-unrecoverable = survivor pairs whose every clean window
    // was hot AT INGEST (recomputed from first principles)
    val fullSurvivor = expectedPairs(survivors, cap = Int.MaxValue)
    val ingestCapped = expectedPairs(skewed, cap = 4)
      .filterNot(p => deleted(p._1) || deleted(p._2))
    val predicted = fullSurvivor -- ingestCapped
    assert(healed == fullSurvivor -- predicted,
      s"heal != survivor-brute-force minus predicted: " +
        s"missing=${(fullSurvivor -- predicted) -- healed} " +
        s"extra=${healed -- (fullSurvivor -- predicted)}")
    // the designed victim really is among the unrecoverable pairs
    val idOf = skewed.toMap
    val victim = predicted.find { case (d1, d2, _) =>
      Set(idOf(d1), idOf(d2)) ==
        Set(0L, (1L << 33) | (1L << 17) | (1L << 1)) }
    assert(victim.isDefined, s"victim not among predicted: $predicted")
    // compaction-time recovery: rebuilding state from survivors (what
    // compactHammingState now does — tombstones applied physically, the
    // bucket table re-derived from surviving members) sees the COLD cell
    // and a re-probe emits the full survivor pair set, victim included
    val reprobed = collected(
      Multimodal.hammingPairs(df(survivors), 3, bucketCap = 4))
    assert(reprobed == fullSurvivor,
      "re-probe over the compacted survivor state must recover the loss")
    assert(reprobed.contains(victim.get))
  }

  test("two-batch incremental equals one-shot on a degenerate-class corpus") {
    val corpus = degenerate
    val base = df(corpus)
    val b1 = base.filter(col("doc_id") % 2 === 0)
    val b2 = base.filter(col("doc_id") % 2 === 1)
    val empty = base.filter(lit(false))
    val inc = collected(
      Multimodal.incrementalHammingPairs(empty, b1)
        .unionByName(Multimodal.incrementalHammingPairs(b1, b2)))
    val oneShot = collected(Multimodal.hammingPairs(base, 3))
    assert(inc == oneShot)
  }

  test("an empty prior, an empty batch, or both yield no pairs beyond " +
      "the batch's own") {
    val base = df(degenerate)
    val empty = base.filter(lit(false))
    assert(collected(Multimodal.incrementalHammingPairs(empty, empty))
      .isEmpty)
    assert(collected(Multimodal.incrementalHammingPairs(base, empty))
      .isEmpty)
    assert(collected(Multimodal.incrementalHammingPairs(empty, base)) ==
      expectedPairs(degenerate, cap = Multimodal.HammingBucketCap))
  }

  test("rows with a null ahash yield no pairs") {
    val s = spark
    import s.implicits._
    val h0 = 0x0123456789abcdefL
    def side(rows: (Long, Option[Long])*): DataFrame =
      rows.toDF("doc_id", "ahash")
    val prior = side(1L -> Some(h0), 2L -> None)
    val batch = side(3L -> Some(h0 ^ 1L), 4L -> None, 5L -> None,
      6L -> Some(h0))
    assert(collected(Multimodal.incrementalHammingPairs(prior, batch)) ==
      Set((1L, 3L, 1L), (1L, 6L, 0L), (3L, 6L, 1L)))
  }

  test("a row with a null doc_id is dropped first: no pairs, no occupancy") {
    val s = spark
    import s.implicits._
    val h0 = 0x0123456789abcdefL
    def side(rows: (Option[Long], Long)*): DataFrame =
      rows.toDF("doc_id", "ahash")
    // h0 and h0 ^ 1 share windows 0-2; the null-id row's h0 ^ 2 would
    // make those cells hold 3 distinct hashes, over the cap of 2
    val prior = side(None -> (h0 ^ 2L), Some(3L) -> h0)
    val batch = side(None -> h0, Some(1L) -> h0, Some(2L) -> (h0 ^ 1L))
    assert(collected(Multimodal.incrementalHammingPairs(prior, batch,
      bucketCap = 2)) == Set((1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L)))
  }

  test("the output keeps the input's doc_id type") {
    val s = spark
    import s.implicits._
    val h0 = 0x0123456789abcdefL
    val prior = Seq(1 -> h0).toDF("doc_id", "ahash")
    val batch = Seq(2 -> h0, 3 -> (h0 ^ 4L)).toDF("doc_id", "ahash")
    val got = Multimodal.incrementalHammingPairs(prior, batch)
    assert(got.schema.map(_.dataType.typeName) ==
      Seq("integer", "integer", "long"))
    assert(got.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .toSet == Set((1, 2, 0L), (1, 3, 1L), (2, 3, 1L)))
  }
}

class HammingCapSpec
    extends HammingCapCases(Multimodal.hammingFoldRowBound) {

  /** A seeded corpus: 600 docs over near-dup families of 40 base hashes
    * (0-3 flipped bits each), an identical-hash class of 60 docs, and 24
    * bases crowding one window-0 cell, so that a cap of 4 heats it.
    */
  private def randomCorpus(seed: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val bases = Seq.fill(40)(rnd.nextLong()) ++
      Seq.fill(24)((0x1234L << 48) | (rnd.nextLong() >>> 16))
    val family = (0L until 600L).map { id =>
      val flips = Seq.fill(rnd.nextInt(4))(1L << rnd.nextInt(64))
      id -> flips.foldLeft(bases(rnd.nextInt(bases.size)))(_ ^ _)
    }
    family ++ (1000L until 1060L).map(_ -> 0x0f0f0f0f0f0f0f0fL)
  }

  private def multiset(r: DataFrame): Seq[(Long, Long, Long)] =
    r.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .toSeq.sorted

  test("the one-task fold equals the distributed path as a multiset") {
    val distributed: SparkContext => Long = _ => 0L
    for (seed <- 1 to 2; cap <- Seq(Multimodal.HammingBucketCap, 4)) {
      val base = df(randomCorpus(seed))
      val prior = base.filter(col("doc_id") % 3 === 0)
      val batch = base.filter(col("doc_id") % 3 =!= 0)
      def on(b: SparkContext => Long): Seq[(Long, Long, Long)] =
        multiset(graft.multimodal.Multimodal.incrementalHammingPairs(prior,
          batch, bucketCap = cap, localRowBound = b))
      val local = on(graft.multimodal.Multimodal.hammingFoldRowBound)
      assert(local.nonEmpty && local.exists(_._3 > 0L), s"seed $seed")
      assert(local == on(distributed), s"seed $seed cap $cap")
    }
  }

  test("at the default bound one call plus its count runs at most 2 jobs") {
    // the flagged-row checkpoint, whose job also counts the rows, and the
    // count, whose one task folds them
    val MaxJobs = 2
    val base = df(randomCorpus(3))
    val prior = base.filter(col("doc_id") % 2 === 0)
    val batch = base.filter(col("doc_id") % 2 === 1)
    val group = s"graft-hamming-${UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    // listener events arrive in submission order: once the sentinel job's
    // start is seen, every job of the call and its count has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "incrementalHammingPairs")
      val n =
        try Multimodal.incrementalHammingPairs(prior, batch).count()
        finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS))
      assert(n > 0)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= MaxJobs,
      s"incrementalHammingPairs + count ran ${jobs.get} jobs, more than " +
        s"$MaxJobs")
  }
}

class HammingCapDistributedSpec extends HammingCapCases(_ => 0L)
