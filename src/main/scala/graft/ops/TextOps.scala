package graft.ops

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Large-scale training-data pipeline text operators over the `documents`
  * table: token counting, quality scoring, language-ID, fingerprinting, exact
  * dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash.
  *
  * Scale notes:
  *  - All hashing is md5-derived (codegen'd native expression, identical
  *    output in DuckDB) — no UDFs anywhere.
  *  - Near-dup joins are candidate-generation joins on shingle/band/bucket
  *    keys (shuffle on the key, partial-agg per doc first), never O(n^2)
  *    cross joins.
  *  - Per-doc signatures (minhash/simhash) are single-pass groupBy
  *    aggregations with k parallel agg expressions — no explode-by-k blowup.
  */
object TextOps {

  /** The shared whitespace tokenizer — `split(trim(lower(text)), '\s+')` —
    * used by t20/t21/t47/t59/t65/t69/t71/t75/t79/t81 and mirrored in every
    * oracle as DuckDB `string_split_regex(trim(lower(text)), '\s+')`.
    *
    * Cross-engine CONTRACT (pinned by TokenizerContractSpec; DuckDB side
    * probed empirically against v1.x RE2 semantics): the engines agree
    * exactly — including leading/trailing empty tokens — for text whose
    * leading/trailing characters are not exotic Unicode space separators
    * and which contains no U+000B. Within that class the separator set is
    * precisely {U+0009 tab, U+000A LF, U+000C FF, U+000D CR, U+0020 space};
    * all other Unicode whitespace (U+00A0 NBSP, U+1680 OGHAM, U+2000-200A,
    * U+2028 LS, U+2029 PS, U+202F NNBSP, U+3000 IDEOGRAPHIC SPACE, U+0085
    * NEL) is an ordinary token character in BOTH engines (Java `\s` and
    * RE2 `\s` are both ASCII-only).
    *
    * Known divergence classes OUTSIDE the contract (kept out of the corpus,
    * asserted in the spec so a drift is caught at the tokenizer, not as six
    * reddened oracle rows):
    *  1. U+000B vertical tab: Java `\s` includes it (Spark splits), RE2
    *     does not (DuckDB keeps one token).
    *  2. Leading/trailing Unicode Zs (NBSP, OGHAM, EN QUAD…, IDEOGRAPHIC
    *     SPACE): DuckDB `trim` strips the whole Zs category, Spark `trim`
    *     strips only U+0020.
    *  3. U+0130 İ: Java lowercases to "i"+U+0307 (two chars), DuckDB to
    *     plain "i".
    */
  private[graft] def words(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** 48-bit hash from an md5 prefix — deterministic and reproducible in any
    * engine with md5 (the oracle uses the same construction).
    */
  private def h48(c: Column): Column =
    conv(substr(md5(c), lit(1), lit(12)), 16, 10).cast("long")

  private def h32(c: Column): Column =
    conv(substr(md5(c), lit(1), lit(8)), 16, 10).cast("long")

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter-runs / digits / single punctuation).
    */
  def t20TokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        size(words(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("bpe_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: length/stopword/word-shape heuristics → [0,1] score. */
  // floor-truncation, not round(): both engines compute identical doubles
  // from the int/int inputs, but their round() algorithms differ at exact
  // .00005 boundaries (BigDecimal shortest-repr vs multiply-and-round);
  // floor(x*1e4)/1e4 is unambiguous on identical doubles.
  private def trunc4(c: Column): Column = floor(c * 10000) / 10000

  /** The t21 quality score, UNtruncated — the single definition shared by
    * t21 (the per-doc report) and d137 (keeper selection), so the two
    * cannot drift. Expects a `text` column in scope.
    */
  private def qualityScore: Column = {
    val nWords = size(words(col("text"))).cast("long")
    val nStop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|of|and|to|in|is)\\b"), lit(0))).cast("long")
    val compact = regexp_replace(col("text"), "\\s", "")
    val avgWordLen = length(compact).cast("double") / nWords
    val stopRatio = nStop.cast("double") / nWords
    lit(0.4) * least(nWords.cast("double") / 100.0, lit(1.0)) +
      lit(0.3) * stopRatio +
      lit(0.3) * least(avgWordLen / 8.0, lit(1.0))
  }

  def t21Quality(s: SparkSession, d: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w).cast("long")
    val nStop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|of|and|to|in|is)\\b"), lit(0))).cast("long")
    val compact = regexp_replace(col("text"), "\\s", "")
    val avgWordLen = length(compact).cast("double") / nWords
    val stopRatio = nStop.cast("double") / nWords
    documents(s, d)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        nWords.as("n_words"),
        trunc4(avgWordLen).as("avg_word_len"),
        trunc4(stopRatio).as("stop_ratio"),
        trunc4(qualityScore).as("quality"))
      .orderBy("doc_id")
  }

  /** Language-ID by stopword-marker counting with a fixed-priority argmax
    * (n-gram heuristic; CJK char class for zh).
    */
  def t22LangId(s: SparkSession, d: String): DataFrame = {
    def m(pat: String): Column =
      size(regexp_extract_all(lower(col("text")), lit(pat), lit(0))).cast("long")
    val sEn = m("\\b(the|and|of|is|to)\\b")
    val sDe = m("\\b(der|die|das|und|ist)\\b")
    val sFr = m("\\b(le|la|les|et|est)\\b")
    val sEs = m("\\b(el|los|las|y|es)\\b")
    val sZh = size(regexp_extract_all(col("text"), lit("[一-鿿]"), lit(0)))
      .cast("long")
    documents(s, d)
      .select(col("doc_id"), sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"),
        sEs.as("s_es"), sZh.as("s_zh"), col("lang").as("labeled_lang"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
          col("s_en") >= col("s_es") && col("s_en") >= col("s_zh"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") &&
            col("s_de") >= col("s_zh"), "de")
          .when(col("s_fr") >= col("s_es") && col("s_fr") >= col("s_zh"), "fr")
          .when(col("s_es") >= col("s_zh"), "es")
          .otherwise("zh"))
      .orderBy("doc_id")
  }

  /** Normalized-content fingerprint (rolling-hash analog via md5 over the
    * canonicalized text) + per-fingerprint dup stats via window.
    */
  def t23Fingerprint(s: SparkSession, d: String): DataFrame = {
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val byFp = Window.partitionBy("fp")
    documents(s, d)
      .select(col("doc_id"), md5(canon).as("fp"))
      .withColumn("dup_cnt", count(lit(1)).over(byFp))
      .withColumn("is_keeper", col("doc_id") === min("doc_id").over(byFp))
      .orderBy("doc_id")
  }

  /** Exact deduplication: hash-groupBy on the content fingerprint. */
  def d24ExactDedup(s: SparkSession, d: String): DataFrame = {
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    documents(s, d)
      .select(col("doc_id"), md5(canon).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      .orderBy("fp")
  }

  /** Distinct word-3-shingles per doc (shared by the near-dup ops).
    *
    * The shingle set is deduplicated MAP-SIDE (`array_distinct` on the
    * per-doc shingle array) before the explode — a `.distinct()` after
    * explode would shuffle every token in the corpus; this shuffles
    * nothing.
    */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shingleTable(documents(s, d))

  /** The same distinct-3-shingle construction over an arbitrary
    * (doc_id, text) DataFrame — single source of truth for the shingle
    * definition (the ≥3-word filter and map-side distinctness), shared by
    * the batch near-dup ops and [[minhashSignatures]]' incremental path so
    * the two can never drift apart.
    */
  private def shingleTable(docs: DataFrame): DataFrame =
    shingleTableN(docs, 3)

  /** [[shingleTable]] at an arbitrary shingle width `n` — same ≥n-word
    * filter and map-side distinctness. The near-dup family stays on
    * n = 3; [[t163Decontamination]] uses n = 5 (the rarer gram a
    * contamination check wants — the published checks run 8-13-gram
    * windows at web scale, and 5 plays that role at this corpus' doc
    * lengths).
    */
  private[graft] def shingleTableN(docs: DataFrame, n: Int): DataFrame = {
    // spread: tokenize + per-doc shingle transform + the downstream
    // partial aggregations are CPU-per-row dense and otherwise run inside
    // the 1-2 partitions a small corpus file scans as (Spread.scala)
    val w = Spread.byKey(docs.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
    w.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), size(col("ws")) - (n - 1)),
        i => array_join(slice(col("ws"), i, lit(n)), " ")))).as("sh"))
  }

  /** Document-frequency cap for [[d25NgramJaccard]]'s candidate join: a
    * shingle shared by k docs yields k(k-1)/2 candidate pairs, so one
    * stop-shingle ("of the and") present in k docs is a k² blowup — the one
    * quadratic path in the dedup family. Dropping shingles with df > τ before
    * the self-join bounds every shingle's contribution to τ²/2 pairs; such
    * shingles carry ~no Jaccard signal anyway (classic stop-shingle removal).
    * The oracle (OracleGen.ngramJaccard) applies the identical cap.
    */
  val ShingleDfCap = 100

  /** N-gram Jaccard near-dup: candidate pairs via shared-shingle equi-join
    * (no cross join) over df-capped shingles, exact Jaccard over the same
    * capped sets, deterministic top-20.
    *
    * The shingle explode runs ONCE: the exploded table is persisted, the
    * df-cap is applied as an anti-join against the (small — at most
    * total_shingle_rows/τ entries, Zipf makes it far smaller) HOT shingle
    * list rather than a join with the rare majority, and the capped+sized
    * table is persisted again so the candidate self-join reads cache on both
    * sides. Without the two persists each self-join side re-scans and
    * re-explodes the corpus (AQE's ReusedExchange does not fire across the
    * df-cap join boundary — verified at plan level, see PLANS.md). Flipping
    * rare→hot also lets AQE broadcast the hot list, so stop-shingle rows are
    * dropped map-side and never transit the candidate shuffle.
    */
  /** The capped-shingle pair-intersection table — (d1, d2, sz1, sz2,
    * inter) for every doc pair sharing ≥1 rare shingle. Factored out of
    * [[d25NgramJaccard]] so [[d95LshRecall]] can derive the exact-Jaccard
    * GROUND TRUTH from the same machinery (one definition of the capped
    * shingle universe; the two can never drift).
    */
  private def cappedJaccardInter(s: SparkSession, d: String): DataFrame =
    cappedJaccardInterFrom(
      CacheRegistry.harness.add(shingles(s, d).persist()))

  /** [[cappedJaccardInter]] over an ALREADY-persisted (and registered)
    * shingle table — the entry [[d95LshRecall]] uses so the truth and
    * candidate branches share ONE shingle scan instead of re-exploding the
    * corpus per branch.
    */
  private def cappedJaccardInterFrom(all: DataFrame): DataFrame = {
    // hot = shingles with df > τ: the k² blowup keys. Broadcast-anti-joining
    // the SMALL hot side (instead of equi-joining the corpus-scale rare side)
    // keeps the cap map-side.
    val hot = all.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select("sh")
    // per-doc capped-set size rides along as a window column INSTEAD of a
    // separate sizes table: at corpus scale the sizes side has one row per
    // document (billions — not broadcastable), so joining it back onto the
    // pair table twice would be two full-corpus shuffle joins; carrying two
    // longs through the candidate shuffle costs almost nothing
    val sh = CacheRegistry.harness.add(
      all.join(hot, Seq("sh"), "left_anti").select("doc_id", "sh")
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
        .persist())
    sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .agg(count(lit(1)).as("inter"))
  }

  def d25NgramJaccard(s: SparkSession, d: String): DataFrame =
    cappedJaccardInter(s, d)
      .select(col("d1"), col("d2"),
        (col("inter") * 1.0 / (col("sz1") + col("sz2") - col("inter")))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(20)

  private val MinhashK = 16
  private val MinhashBands = 4
  /** Affine-family minhash params: h_i(x) = (A_i*x + B_i) mod P over one
    * md5-derived 48-bit base hash — one md5 per shingle instead of k
    * (classic multi-hash-from-one-hash minhash; P = 2^61-1, Mersenne prime;
    * A_i*x < 2^54 so no overflow).
    */
  val MinhashP = 2305843009213693951L
  def minhashA(i: Int): Long = 2L * i + 3
  def minhashB(i: Int): Long = 101L * i + 17

  /** MinHash signatures (k=16, one-pass groupBy with k parallel min-aggs
    * over a single base hash per shingle) + LSH banding (4 bands × 4 rows)
    * → candidate near-dup pairs with shared band counts. The band equi-join
    * is the scale path: cost is bounded by bucket sizes, never O(n^2).
    */
  /** The k-min signature aggregation over a (doc_id, h) shingle-hash table. */
  private def sigTable(sh: DataFrame): DataFrame = {
    val sigCols = (0 until MinhashK).map { i =>
      min((lit(minhashA(i)) * col("h") + lit(minhashB(i))) % MinhashP)
        .as(s"s$i")
    }
    sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** Adds the [[MinhashBands]] LSH band-key columns (`bk0..bk3`) to a
    * signature table — the one place the band-key hash is defined. Stored
    * alongside the signatures in the incremental state so later batches
    * read the keys instead of re-hashing the whole accumulated corpus.
    */
  private def withBandKeys(sigs: DataFrame): DataFrame =
    (0 until MinhashBands).foldLeft(sigs) { (df, b) =>
      df.withColumn(s"bk$b", md5(concat_ws(",",
        (0 until MinhashK / MinhashBands).map(r => col(s"s${b * 4 + r}")): _*)))
    }

  /** (doc_id, band, bkey) from a table already carrying `bk0..bk3` — a
    * pure explode, no hashing.
    */
  private def bandsFromKeys(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(array(
      (0 until MinhashBands).map(b =>
        struct(lit(b).as("band"), col(s"bk$b").as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))

  /** LSH band keys of a signature table: (doc_id, band, bkey). */
  private def bandTable(sigs: DataFrame): DataFrame =
    bandsFromKeys(withBandKeys(sigs))

  def d26MinhashLsh(s: SparkSession, d: String): DataFrame =
    d26MinhashLshFrom(shingles(s, d))

  /** [[d26MinhashLsh]] over a caller-supplied shingle table — lets
    * [[d95LshRecall]] feed the candidate side from the SAME persisted
    * shingle scan as the exact-Jaccard truth side.
    */
  private def d26MinhashLshFrom(sh: DataFrame): DataFrame = {
    // persist(): the compact signature table (one row of k longs per doc)
    // feeds BOTH band self-join sides — without it the shingle scan + k-min
    // aggregation executes twice (ReusedExchange does not bridge self-join
    // branches; same finding as d25/d27)
    val sigs = CacheRegistry.harness.add(
      sigTable(sh.withColumn("h", h48(col("sh")))).persist())
    val bands = bandTable(sigs)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("d1", "d2")
  }

  /** Containment near-dup pairs — the d97 query (Broder 1997, "On the
    * resemblance and containment of documents": containment(A, B) =
    * |A∩B| / |A|). The asymmetric complement of d25's symmetric Jaccard:
    * a short document embedded verbatim in a much longer one scores near
    * 1.0 on containment of the smaller set but arbitrarily low on Jaccard
    * (the union is dominated by the long doc), so Jaccard-threshold dedup
    * systematically misses quote-expansion and aggregation-page
    * duplicates. Pairs where the SMALLER capped-shingle set is ≥ 4/5
    * contained in the other (integer-exact: 5·inter ≥ 4·min(sz)), with
    * the quantized containment ((inter·10000) div min(sz) — no float
    * division) and the contained doc's id.
    *
    * Scale: reuses [[cappedJaccardInter]] verbatim — the candidate
    * generation, df-cap and pair exchange are the proven d25 plan; the
    * containment filter and projection are map-side arithmetic on the
    * pair table.
    */
  def d97Containment(s: SparkSession, d: String): DataFrame = {
    val minSz = least(col("sz1"), col("sz2"))
    cappedJaccardInter(s, d)
      .filter(col("inter") * 5 >= minSz * 4)
      .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
        expr("(inter * 10000) div least(sz1, sz2)").as("containment_q"),
        when(col("sz1") <= col("sz2"), col("d1")).otherwise(col("d2"))
          .as("contained_doc"))
      .orderBy("d1", "d2")
  }

  /** LSH recall/precision vs exact ground truth — the d95 query, the text
    * side of what v80/v82 measure for ANN: how many of the TRUE near-dup
    * pairs (exact capped-shingle Jaccard ≥ 1/2, integer-exact as
    * 2·inter ≥ union — the same [[cappedJaccardInter]] machinery d25
    * ranks) does the d26 MinHash-LSH candidate generation recover, and at
    * what precision, for each shared-band threshold b ∈ 1..4? This is the
    * number a deployment actually tunes: raising the band-match threshold
    * trades candidate volume (the pair-verification bill) against recall
    * of true duplicates. Ratios are integer-quantized
    * ((x·10000) div y — the t71/t75 convention, no float division).
    *
    * Scale: truth and candidates are the proven d25/d26 plans; the sweep
    * itself joins the 4-row threshold table against the candidate-scale
    * pair set (a broadcast nested loop over 4 rows — an explode, not a
    * shuffle) and partial-aggregates counts per threshold. Evaluation
    * runs on a sample at 100 TB (ground truth is quadratic by nature);
    * the operator's cost is bounded by the d25 exact pass it feeds on.
    */
  def d95LshRecall(s: SparkSession, d: String): DataFrame = {
    // ONE persisted shingle table feeds both branches: the exact-Jaccard
    // truth side (cappedJaccardInterFrom) and the minhash candidate side
    // (d26MinhashLshFrom) — the corpus is scanned and shingled once, and
    // every intermediate persist is registered for harness release
    val allSh = CacheRegistry.harness.add(shingles(s, d).persist())
    val inter = cappedJaccardInterFrom(allSh)
    val truth = inter
      .filter(col("inter") * 2 >= col("sz1") + col("sz2") - col("inter"))
      .select(col("d1"), col("d2"), lit(1L).as("is_true"))
      .persist()
    CacheRegistry.harness.add(truth)
    val cand = CacheRegistry.harness.add(d26MinhashLshFrom(allSh).persist())
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val thresholds = s.range(1, MinhashBands + 1)
      .select(col("id").cast("int").as("band_threshold"))
    val tagged = cand.join(truth, Seq("d1", "d2"), "left")
    val cum = thresholds
      .join(tagged, col("n_bands") >= col("band_threshold"), "left")
      .groupBy("band_threshold")
      .agg(count(col("d1")).as("n_cand"),
        coalesce(sum(col("is_true")), lit(0L)).as("n_true"))
    cum.crossJoin(broadcast(nTruth))
      .select(col("band_threshold"), col("n_cand"), col("n_true"),
        col("n_truth"),
        when(col("n_truth") === 0, lit(0L))
          .otherwise(expr("(n_true * 10000) div n_truth")).as("recall_q"),
        when(col("n_cand") === 0, lit(0L))
          .otherwise(expr("(n_true * 10000) div n_cand")).as("prec_q"))
      .orderBy("band_threshold")
  }

  /** Per-batch MinHash signature table over an arbitrary (doc_id, text)
    * DataFrame — the MERGEABLE STATE of incremental near-dup detection
    * (docs with fewer than 3 words carry no shingles and no signature,
    * matching [[shingles]]). One row of k longs per document: the compact
    * artifact a 100 TB pipeline persists per ingest batch instead of
    * re-shingling history.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    sigTable(shingleTable(docs).withColumn("h", h48(col("sh"))))

  /** [[minhashSignatures]] plus the precomputed LSH band-key columns
    * (`bk0..bk3`) — the schema the streaming incremental state stores, so
    * that probing batch N+1 reads old keys instead of re-hashing every
    * accumulated signature (keeps per-batch CPU proportional to the batch).
    */
  def minhashSignaturesWithKeys(docs: DataFrame): DataFrame =
    withBandKeys(minhashSignatures(docs))

  /** Near-dup pairs of one incremental step, from band tables: new-vs-prior
    * via the probe join plus new-vs-new via the batch's own self-join —
    * identical `n_bands` semantics to [[d26MinhashLsh]]. `priorBands` must
    * not contain the batch's own documents; the `=!=` guard makes an
    * accidental overlap (a violated disjointness contract) degrade to
    * missing cross pairs rather than corrupt self-pairs.
    */
  private def pairsFromBands(priorBands: DataFrame, newBands: DataFrame)
      : DataFrame = {
    // the band index rides along and n_bands counts DISTINCT shared bands:
    // on clean input (d1, d2, band) is already unique (one bkey per band
    // per doc), so this is a no-op there, but if the prior side ever
    // carries a doc_id twice (a re-ingested doc — a violated streaming
    // contract), the duplicate collapses instead of inflating n_bands
    val crossPairs = newBands.as("a")
      .join(priorBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"), col("a.band"))
    val selfPairs = newBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.band"))
    // no orderBy here: the streaming sink writes these to parquet where row
    // order is meaningless — ordered consumers (d84) sort at the end
    crossPairs.unionByName(selfPairs).distinct()
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_bands"))
  }

  /** [[pairsFromBands]] over key-carrying tables ([[minhashSignaturesWithKeys]]
    * schema) — the streaming sink's entry point: band rows come from the
    * STORED `bk0..bk3` columns, so the accumulated side is exploded but
    * never re-hashed.
    */
  def incrementalPairsFromKeyed(priorSigs: DataFrame, newSigs: DataFrame)
      : DataFrame =
    pairsFromBands(bandsFromKeys(priorSigs), bandsFromKeys(newSigs))

  /** Land accumulated minhash band state as a bkey-BUCKETED table — the
    * 100 TB layout for [[probeBandBucketedState]]'s per-batch probe. The
    * state is stored EXPLODED ((doc_id, band, bkey), 4 rows per doc, keys
    * from the stored `bk0..bk3` — never re-hashed) and bucketed on
    * (band, bkey) — EXACTLY the probe join's keys: Spark's v1 bucketing
    * only feeds a join when the bucket columns equal the join keys (a
    * bkey-only bucketing is rejected by the planner — "disabled by query
    * planner" — and both sides re-shuffle). With the match, the
    * accumulated side arrives pre-partitioned: NO Exchange of the
    * corpus-scale state per batch. Per-batch I/O: the state is READ
    * (sequential bucket scan) but never SHUFFLED — the exchange, its
    * network transfer, and its spill are paid only by the 4×|batch| probe
    * rows. Default mode is append (the ingest layout: batches accumulate,
    * Spark validates the bucket spec); compaction jobs pass
    * `overwrite = true` — a full rewrite that REPLACES the table, so a
    * re-run maintenance job cannot double state rows (the `batch=N` sink
    * layout stays the source of truth; a crashed compaction is healed by
    * re-running it).
    */
  def writeBandBucketedState(sigsWithKeys: DataFrame, tableName: String,
      path: String, nBuckets: Int = 32, overwrite: Boolean = false): Unit =
    bandsFromKeys(sigsWithKeys).write.mode(if (overwrite) "overwrite" else "append")
      .bucketBy(nBuckets, "band", "bkey").sortBy("band", "bkey")
      .option("path", path).saveAsTable(tableName)

  /** Probe a [[writeBandBucketedState]] table with a new batch: shingle +
    * sign ONLY the batch, then [[pairsFromBands]] against the bucketed
    * state — identical pair semantics to [[incrementalMinhashDedup]], but
    * the accumulated side needs no exchange (BucketedStateSpec asserts
    * the plan). The state must not contain the batch's own doc_ids (the
    * same disjointness contract as the streaming sink). `tombstones`
    * carries doc_ids deleted since the last compaction: the broadcast
    * anti-join runs on the state side below the pair join, so a deleted
    * doc can never pair — compaction applies the same deletes physically,
    * after which the parameter is redundant.
    */
  def probeBandBucketedState(s: SparkSession, tableName: String,
      batch: DataFrame, tombstones: Option[DataFrame] = None): DataFrame = {
    val state = tombstones.fold(s.table(tableName))(t =>
      s.table(tableName)
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
    pairsFromBands(state, bandsFromKeys(minhashSignaturesWithKeys(batch)))
  }

  /** Incremental near-dup detection — the q78 mergeable-state story applied
    * to dedup: deduplicating batch N+1 against the accumulated corpus costs
    * O(batch), not O(corpus).
    *
    *  - `accumSigs` is the persisted union of previous batches' signature
    *    tables ([[minhashSignatures]] snapshots) — old TEXT is never
    *    re-read, re-shingled, or re-hashed (the spec proves this by
    *    tampering with a stored signature and watching it propagate).
    *  - Only the NEW batch is shingled; its band keys (4 rows per doc) form
    *    the probe side of the candidate join, so per-batch join input is
    *    4×|batch| probe rows against the band-keyed accumulated table — at
    *    scale the accumulated side is stored bucketed by (band, bkey) and
    *    does not move.
    *  - Emitted pairs are exactly the full-recompute pairs that involve at
    *    least one new document (old-old pairs were emitted by earlier
    *    batches): new-vs-accum via the probe join plus new-vs-new via the
    *    batch's own self-join, identical `n_bands` semantics to
    *    [[d26MinhashLsh]].
    *
    * Returns (updatedSigs, newPairs); callers persist `updatedSigs` as the
    * next batch's `accumSigs`.
    *
    * REPLAY-SAFE: the accumulated side is anti-joined on the batch's own
    * doc_ids before pairing and union, so re-running a batch whose
    * signatures already reached `accumSigs` (a crash between the state
    * write and the caller's commit) produces the same `updatedSigs` and the
    * same pairs as the first run — the state update is idempotent, never
    * additive. The anti-join's right side is the batch's own id list
    * (broadcast-size), so it rides the accumulated scan map-side.
    *
    * The batch's signature table is persisted (it feeds the anti-join probe,
    * two band-join sides, and the union); the handle is registered in the
    * caller's `reg` so loop-style callers don't accumulate one cache per
    * ingest batch — the owner releases once the step's outputs are
    * materialized.
    */
  def incrementalMinhashDedup(accumSigs: DataFrame, batch: DataFrame,
      reg: CacheRegistry = CacheRegistry.harness)
      : (DataFrame, DataFrame) = {
    val newSigs = minhashSignatures(batch).persist()
    reg.add(newSigs)
    val priorSigs = accumSigs
      .join(newSigs.select("doc_id"), Seq("doc_id"), "left_anti")
    val pairs = pairsFromBands(bandTable(priorSigs), bandTable(newSigs))
    (priorSigs.unionByName(newSigs), pairs)
  }

  /** Two-batch incremental dedup over the whole corpus, oracle-checked
    * against the FULL-recompute SQL (the d26 oracle): the corpus is split
    * into disjoint even/odd-doc_id batches, batch 2 probes batch 1's
    * accumulated signatures, and the union of the two batches' pair sets
    * must equal the one-shot [[d26MinhashLsh]] result exactly — batch 1
    * emits the even-even pairs, batch 2 everything touching an odd doc,
    * and no pair twice. This runs the production incremental path through
    * the driver's correctness gate rather than only a spec.
    */
  def d84IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val empty = minhashSignatures(docs.filter(lit(false)))
    val (sigs1, pairs1) =
      incrementalMinhashDedup(empty, docs.filter(col("doc_id") % 2 === 0))
    val (_, pairs2) =
      incrementalMinhashDedup(sigs1, docs.filter(col("doc_id") % 2 === 1))
    pairs1.unionByName(pairs2).orderBy("d1", "d2")
  }

  /** Deterministic multi-line payload for the line-level corpus ops (d85 /
    * t86): the corpus text is single-line prose, so — like t81's payload —
    * lines are synthesized from the doc's own content plus boilerplate.
    * The doc's words chunk into 10-word lines (exact-dup docs therefore
    * share EVERY content line — real cross-document collisions), and
    * doc_id-keyed boilerplate lines are appended verbatim to a large
    * fraction of docs (the C4 paper's motivating case: the same nav/footer
    * line on millions of pages). OracleGen.linedCte is the DuckDB twin —
    * kept in lockstep term by term.
    */
  private def linedLines(docId: Column, text: Column): Column = {
    val ws = words(text)
    val nChunks = ceil(size(ws) / lit(10.0)).cast("int")
    // alternating chunks end with '.' (keyed on doc_id + chunk index): the
    // corpus prose carries no punctuation, so without this no content line
    // could ever satisfy t86's terminal-punctuation rule
    val chunks = transform(sequence(lit(1), nChunks),
      c => concat(array_join(slice(ws, (c - lit(1)) * 10 + 1, lit(10)), " "),
        when((docId + c) % 2 === 0, lit(".")).otherwise(lit(""))))
    val extras = array(
      when(docId % 3 === 0, lit("subscribe to our newsletter today.")),
      when(docId % 4 === 0, lit("all rights reserved")),
      when(docId % 5 === 0, lit("click here to read more articles.")),
      when(docId % 7 === 0, lit("function() { return javascript; }")),
      when(docId % 13 === 0, lit("lorem ipsum dolor sit amet.")))
    concat(chunks, filter(extras, e => e.isNotNull))
  }

  /** C4-style corpus-wide exact line deduplication with document
    * reassembly: every line that occurs more than once ACROSS THE WHOLE
    * CORPUS is kept only at its first occurrence (smallest (doc_id, pos) —
    * the C4 recipe's "remove all but one of any three-sentence span
    * occurring more than once", at line granularity), and each document's
    * surviving lines are reassembled in their original order. Docs whose
    * every line was seen earlier come back empty — exactly how C4 shrinks
    * boilerplate-only pages to nothing.
    *
    * Scale: one shuffle partitioned by the line key (first-occurrence
    * choice via row_number over (doc_id, pos)), then one shuffle back on
    * doc_id for the ordered rebuild. Line volume crosses each exchange
    * once; nothing is quadratic in corpus size, and hot lines (the
    * boilerplate case) are bounded per-key by their occurrence count,
    * which AQE skew-split handles like any other hot aggregation key.
    *
    * `lineKey` is the shuffle key: None groups by the raw line value (the
    * oracle-parity default); Some(md5 _) is the 100 TB form — a fixed
    * 32-char key instead of an unbounded line, with the same grouping up
    * to md5 collisions (2^-64-scale odds corpus-wide; ScaleKeySpec proves
    * output identity on the test corpus).
    */
  def lineDedup(docs: DataFrame, lineKey: Option[Column => Column] = None,
      reg: CacheRegistry = CacheRegistry.harness): DataFrame = {
    // persist(): the lined table feeds BOTH the dedup branch and the
    // n_lines side of the final join — without it the documents scan and
    // the words/chunk transform execute twice (ReusedExchange does not
    // bridge join branches; same finding as d25/d26/d27). Registered in the
    // caller's registry (query entry points use the harness registry —
    // Bench/Verify drain it after the query's action).
    val lined = docs.select(col("doc_id"),
      linedLines(col("doc_id"), col("text")).as("lns"))
      .persist()
    reg.add(lined)
    val lines = lined.select(col("doc_id"),
      posexplode(col("lns")).as(Seq("pos", "line")))
    // the raw path partitions on the line VALUE itself (no extra column,
    // no wider exchange); the keyed path adds the narrow key column and
    // partitions on that
    val (keyed, key) = lineKey match {
      case None    => (lines, "line")
      case Some(f) => (lines.withColumn("lk", f(col("line"))), "lk")
    }
    val firstOcc = Window.partitionBy(col(key))
      .orderBy(col("doc_id"), col("pos"))
    val kept = keyed.withColumn("rk", row_number().over(firstOcc))
      .filter(col("rk") === 1)
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("text_kept"))
    lined.select(col("doc_id"), size(col("lns")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy("doc_id")
  }

  /** [[lineDedup]] over the documents table — the d85 query (raw line key
    * for byte-exact oracle parity).
    */
  def d85LineDedup(s: SparkSession, d: String): DataFrame =
    lineDedup(documents(s, d).select(col("doc_id"), col("text")))

  /** C4 line/page heuristic rules (Raffel et al. 2020 §2.2) over the same
    * lined payload as [[d85LineDedup]]: a line is RETAINED when it ends in
    * terminal punctuation, has ≥5 words, and doesn't mention "javascript";
    * a page is kept when ≥3 lines survive and it contains neither "lorem
    * ipsum" nor a curly brace. Entirely map-side higher-order-function
    * scans over the per-doc line array — no explode, no shuffle, same
    * 100 TB shape as t59/t81.
    */
  def t86C4Rules(s: SparkSession, d: String): DataFrame = {
    val lns = linedLines(col("doc_id"), col("text"))
    documents(s, d)
      .select(col("doc_id"),
        size(lns).cast("long").as("n_lines"),
        size(filter(lns, c4LineKept)).cast("long").as("n_kept"),
        exists(lns, l => l.contains("lorem ipsum")).as("has_lorem"),
        exists(lns, l => l.contains("{")).as("has_brace"))
      .withColumn("keep",
        col("n_kept") >= 3 && !col("has_lorem") && !col("has_brace"))
      .orderBy("doc_id")
  }

  /** C4 line-retention rule (Raffel et al. 2020 §2.2): terminal
    * punctuation, ≥5 words, no "javascript" — the single source of truth
    * shared by [[t86C4Rules]] and the streaming C4 gate so batch and
    * stream can never disagree on a line.
    */
  private[graft] val c4LineKept: Column => Column = l =>
    substring(l, -1, 1).isin(".", "!", "?", "\"") &&
      size(split(l, " ")) >= 5 && !l.contains("javascript")

  /** C4 page verdict over a line array: ≥3 retained lines, no "lorem
    * ipsum", no curly brace — [[t86C4Rules]]'s `keep` column as one
    * reusable expression (entirely map-side HOF scans, zero state).
    */
  def c4Keep(lns: Column): Column =
    size(filter(lns, c4LineKept)) >= 3 &&
      !exists(lns, l => l.contains("lorem ipsum")) &&
      !exists(lns, l => l.contains("{"))

  /** The blocked-word list for [[t99BlocklistFilter]] — the C4 recipe's
    * "List of Dirty, Naughty, Obscene or Otherwise Bad Words" membership
    * filter (Raffel et al. 2020 §2.2: pages containing any listed word are
    * removed), stood in by two corpus-vocabulary words so the verdict
    * splits the test corpus. Single source of truth: the batch query, the
    * streaming gate, and the DuckDB oracle all render from this Seq.
    */
  val BlockedWords: Seq[String] = Seq("slow", "dup")

  /** The blocked-domain list for [[t99BlocklistFilter]] — the URL-level
    * complement of [[BlockedWords]] (C4/CC pipelines drop whole domains
    * before fetching content). Matched against the canonical URL's
    * authority, so scheme/www/case variants of a blocked domain are
    * caught. Same single-source-of-truth contract as [[BlockedWords]].
    */
  val BlockedDomains: Seq[String] = Seq("src7.example.com", "src13.example.com")

  /** The authority (host) portion of an already-canonicalized URL. */
  private[graft] def canonDomain(canonUrl: Column): Column =
    regexp_extract(canonUrl, "^[^/?]+", 0)

  /** Blocklist page verdict — keep iff NO token is a blocked word and the
    * canonical domain is not blocked. One reusable stateless expression
    * (map-side HOF membership over the literal lists — no join, no
    * shuffle, streaming-safe), shared by [[t99BlocklistFilter]] and the
    * streaming blocklist gate exactly like gopherKeep/c4Keep, so batch and
    * stream can never disagree on a page.
    *
    * This literal-array form is right for O(100)-word lists (compiled
    * into the plan, codegen'd). A full 2k-word production blocklist keeps
    * the same verdict semantics through the broadcast-join form
    * [[t99BlocklistFilter]] also demonstrates — broadcast membership is
    * still map-side, just with the list shipped as a broadcast table
    * instead of a plan literal.
    */
  def blocklistKeep(text: Column, canonUrl: Column): Column =
    !arrays_overlap(words(text), lit(BlockedWords.toArray)) &&
      !canonDomain(canonUrl).isin(BlockedDomains: _*)

  /** C4 blocklist page filter — the t99 query: per-doc blocked-token
    * count via a BROADCAST membership scan (the production shape for a
    * 2k-word list: explode tokens, broadcast-hash-semi-join the tiny
    * list — map-side, the token table never shuffles on the word — then
    * one partial-aggregable per-doc count), the canonical-domain block
    * verdict, and the final page gate COMPOSED with t86's C4 page rules
    * (`keep_page` = c4Keep ∧ blocklistKeep over the same lined payload).
    *
    * Scale: the broadcast join and all verdict expressions are map-side;
    * the only exchanges are the per-doc count aggregation and its
    * doc_id-keyed join back — both keyed on doc_id, nothing quadratic.
    */
  def t99BlocklistFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persist(): the doc table feeds the token-explode branch and the
    // final projection (ReusedExchange does not bridge join branches)
    val base = CacheRegistry.harness.add(
      documents(s, d).select(col("doc_id"), col("text"), col("source"))
        .withColumn("canon_url",
          canonicalizeUrl(syntheticUrl(col("doc_id"), col("source"))))
        .persist())
    val badWords = BlockedWords.toDF("bad_w")
    val nBad = base
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .join(broadcast(badWords), col("w") === col("bad_w"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_bad"))
    base.join(nBad, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bad"), lit(0L)).as("n_bad"),
        canonDomain(col("canon_url")).as("domain"),
        canonDomain(col("canon_url")).isin(BlockedDomains: _*)
          .as("domain_blocked"),
        blocklistKeep(col("text"), col("canon_url")).as("keep_blocklist"),
        (c4Keep(linedLines(col("doc_id"), col("text"))) &&
          blocklistKeep(col("text"), col("canon_url"))).as("keep_page"))
      .orderBy("doc_id")
  }

  /** Window length (tokens) for [[t87ExactSubstring]] — the ExactSubstr
    * span threshold, scaled to this corpus's 10-99-word documents (the
    * paper uses 50 tokens over web-scale pages; the recipe is
    * length-parametric).
    */
  val ExactSubstrK = 20

  /** Exact duplicated-substring detection (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — ExactSubstr), the
    * stride-1 complement of [[d57PassageDedup]]'s stride=width chunks:
    * EVERY run of [[ExactSubstrK]] consecutive tokens is a candidate
    * window, and a window whose exact text occurs in more than one
    * document marks a duplicated span. Per doc: window/duplicate counts,
    * the duplicated-window fraction (truncated, not rounded — int/int
    * rationals hit .005 boundaries), and the longest duplicated token run
    * (consecutive duplicated windows merged gaps-and-islands style:
    * r consecutive windows = a run of r + k - 1 tokens), plus the keep
    * verdict at dup fraction ≤ 1/2 (integer-exact as 2·n_dup ≤ n_windows).
    *
    * The paper finds spans with a corpus-wide suffix array on one big
    * machine; the Spark-first equivalent shuffles the window table ONCE on
    * the window text into a partial-aggregated min/max doc_id per window —
    * a window is cross-document iff min ≠ max, so no collect_set that a
    * boilerplate window with 1e8 occurrences would blow up — then probes
    * the duplicated set with a semi-join over the SAME exchange. At 100 TB
    * pass `windowKey = Some(xxhash64(_))`: the exchanges then carry an
    * 8-byte key per window instead of ~6·k chars (ScaleKeySpec proves the
    * keyed output identical on the test corpus); the query default stays
    * raw text for byte-exact oracle parity, like [[lineDedup]]'s md5 note.
    */
  /** The stride-1 [[ExactSubstrK]]-token window table over a tokenized
    * (doc_id, ws) frame — one row per (doc_id, pos, wtext), persisted and
    * registered in `reg` (it always feeds at least the dup-window groupBy
    * AND a probe side — without the persist the tokenize+slice explode
    * runs once per consumer; the d25/d26/d85 pattern). The ≥k filter keeps
    * Spark's `sequence` off the descending-step path (sequence(1, n) with
    * n ≤ 0 counts DOWN); the oracle's generate_series(1, n≤0) is empty,
    * so the filter also keeps the two engines aligned.
    */
  private def substrWindowTable(based: DataFrame, reg: CacheRegistry)
      : DataFrame = {
    val k = ExactSubstrK
    val win = based.filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("ws")) - (k - 1)),
          i => array_join(slice(col("ws"), i, lit(k)), " ")))
          .as(Seq("pos0", "wtext")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("wtext"))
      .persist()
    reg.add(win)
    win
  }

  /** Cross-document duplicated windows of a window table, grouped by the
    * column `key`: a window is duplicated iff it appears in more than one
    * document — min/max doc_id partial aggregation, deliberately NOT
    * collect_set (a 1e8-occurrence boilerplate window must stay O(1) agg
    * state).
    */
  private def dupWindows(win: DataFrame, key: String): DataFrame =
    win.groupBy(key)
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(key)

  /** The window table restricted to its shuffle-relevant columns: the raw
    * path keys exchanges on the window TEXT itself (oracle-parity default,
    * no extra column); `Some(f)` — xxhash64 in production — keys them on
    * f(wtext), an 8-byte key instead of ~6·k chars, with identical
    * grouping up to hash collisions (ScaleKeySpec proves output identity
    * on the test corpus). Returns the projected frame and the key column
    * name; `wtext` is dropped from the keyed frame so the narrow key is
    * the ONLY wide-ish thing crossing the exchanges.
    */
  private def windowKeyed(win: DataFrame,
      windowKey: Option[Column => Column]): (DataFrame, String) =
    windowKey match {
      case None => (win.select(col("doc_id"), col("pos"), col("wtext")),
        "wtext")
      case Some(f) => (win.select(col("doc_id"), col("pos"),
        f(col("wtext")).as("wk")), "wk")
    }

  def exactSubstringStats(docs: DataFrame,
      reg: CacheRegistry = CacheRegistry.harness,
      windowKey: Option[Column => Column] = None): DataFrame = {
    val k = ExactSubstrK
    val based = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val (win, key) = windowKeyed(substrWindowTable(based, reg), windowKey)
    val dupPos = win.join(dupWindows(win, key), Seq(key), "left_semi")
    val runs = dupPos.withColumn("g",
      col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val runLens = runs.groupBy("doc_id", "g").agg(count(lit(1)).as("rl"))
    val dupStats = runLens.groupBy("doc_id")
      .agg(sum(col("rl")).as("n_dup"), max(col("rl")).as("max_rl"))
    based.select(col("doc_id"),
        greatest(size(col("ws")) - (k - 1), lit(0)).cast("long")
          .as("n_windows"))
      .join(dupStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") === 0, lit(0.0)).otherwise(
          floor(coalesce(col("n_dup"), lit(0L)) * lit(1e4) /
            col("n_windows")) / lit(1e4)).as("dup_window_frac"),
        coalesce(col("max_rl") + lit(k - 1), lit(0L))
          .as("longest_dup_span"),
        (coalesce(col("n_dup"), lit(0L)) * 2 <= col("n_windows"))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** [[exactSubstringStats]] over the documents table — the t87 query. */
  def t87ExactSubstring(s: SparkSession, d: String): DataFrame =
    exactSubstringStats(documents(s, d).select(col("doc_id"), col("text")))

  /** Exact duplicated-substring REMOVAL with document reassembly — the
    * ExactSubstr recipe's actual OUTPUT (Lee et al. 2021 §4.2: cut the
    * duplicated spans out of all but one occurrence), completing
    * detect ([[exactSubstringStats]]) → clean the way [[d85LineDedup]]
    * does for lines. Semantics: every [[ExactSubstrK]]-token window whose
    * exact text occurs in >1 document marks its occurrences; the
    * corpus-wide FIRST occurrence of each such window (smallest
    * (doc_id, pos) — the d85 convention) keeps its tokens, every other
    * occurrence marks its k token positions for removal; a token survives
    * unless some removed window covers it, and each document's surviving
    * tokens are reassembled in original order. `text_kept` is the
    * normalized token join (lowercased, single-spaced — the same token
    * stream every other substring operator sees), not the raw bytes.
    *
    * Scale (one more exchange than t87, each partial-aggregable):
    *  - the first-occurrence choice is min(struct(doc_id, pos)) per window
    *    — a map-side-combined aggregation over the same wtext exchange as
    *    the dup test, deliberately NOT a row_number window (rk>1 cannot be
    *    WindowGroupLimit-bounded, so a 1e8-occurrence boilerplate window
    *    would pile into one ranking partition; the min(struct) stays O(1)
    *    agg state per key);
    *  - removed occurrences merge gaps-and-islands style per doc (the t87
    *    run machinery) BEFORE expanding to covered token positions, so the
    *    per-doc covered volume is bounded by doc length + runs·(k-1),
    *    never n_removed_windows × k;
    *  - the rebuild is one groupBy(doc_id) producing a per-doc covered-
    *    position array, then a map-side HOF filter over the token array —
    *    the d85 ordered-rebuild shape. At 100 TB pass
    *    `windowKey = Some(xxhash64(_))` so the window exchanges carry
    *    8-byte keys (ScaleKeySpec proves output identity); the query
    *    default stays raw text for byte-exact oracle parity.
    */
  def substringRemoval(docs: DataFrame,
      reg: CacheRegistry = CacheRegistry.harness,
      windowKey: Option[Column => Column] = None): DataFrame = {
    val k = ExactSubstrK
    val based = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val (win, key) = windowKeyed(substrWindowTable(based, reg), windowKey)
    val dupPos = win.join(dupWindows(win, key), Seq(key), "left_semi")
    val firstOcc = dupPos.groupBy(key)
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val removed = dupPos.join(firstOcc, Seq(key))
      .filter(!(col("doc_id") === col("f.doc_id") &&
        col("pos") === col("f.pos")))
      .select("doc_id", "pos")
    // merge consecutive removed window positions into runs (per-doc window,
    // bounded by doc length), then expand each run to its covered token
    // interval [s, s + r + k - 2]; intervals of runs separated by a gap
    // < k can still overlap, so distinct before sorting
    val runs = removed.withColumn("g",
      col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "g")
      .agg(min(col("pos")).as("s"), count(lit(1)).cast("int").as("r"))
    val cov = runs.groupBy("doc_id")
      .agg(array_sort(array_distinct(flatten(collect_list(
        sequence(col("s"), col("s") + col("r") + lit(k - 2)))))).as("cv"))
    based.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        coalesce(size(col("cv")), lit(0)).cast("long").as("n_removed"),
        // array_except is hash-based O(n+m) and order-preserving (positions
        // are distinct), vs a per-token array_contains scan which is
        // O(tokens × covered) — ruinous for a long fully-duplicated doc
        array_join(transform(
          array_except(sequence(lit(1), size(col("ws"))),
            coalesce(col("cv"), array().cast("array<int>"))),
          i => element_at(col("ws"), i)), " ").as("text_kept"))
      .orderBy("doc_id")
  }

  /** [[substringRemoval]] over the documents table — the d89 query. */
  def d89SubstringRemoval(s: SparkSession, d: String): DataFrame =
    substringRemoval(documents(s, d).select(col("doc_id"), col("text")))

  /** Shard count for [[t88ShuffleShard]] — small here so every shard is
    * populated at test scale; a production run sets it to the target
    * training-file count (thousands), which only widens the one exchange.
    */
  val ShuffleShards = 8

  /** Seed for [[t88ShuffleShard]]'s order keys: changing it produces an
    * independent deterministic permutation (a new training-data epoch
    * order) without touching any document.
    */
  val ShuffleSeed = "graft-shuffle-42"

  /** Deterministic corpus shuffle + sharding (t88) — the training-order
    * step of a data pipeline: every document receives a SEEDED
    * pseudorandom order key (h48 of `seed:doc_id` — reproducible in any
    * engine with md5, the same construction as the minhash hashes), a
    * shard by key modulo [[ShuffleShards]], and its rank within the
    * shard. The result is a stable global permutation: re-running the
    * query — on any cluster size, any partitioning — yields the
    * identical order, which is what makes training runs reproducible and
    * resumable; a new seed is a new epoch's permutation.
    *
    * Scale shape: key+shard are map-side expressions; the rank is ONE
    * exchange on the shard id with an in-partition sort — physically the
    * `repartition(shard).sortWithinPartitions(order_key)` +
    * `partitionBy(shard)` parquet write a real pipeline runs, expressed
    * as a window so the assignment is oracle-checkable. Hash-modulo
    * sharding balances shards to within sampling noise regardless of
    * doc_id clustering (asserted in the spec).
    */
  def t88ShuffleShard(s: SparkSession, d: String): DataFrame = {
    val key = h48(concat_ws(":", lit(ShuffleSeed), col("doc_id")))
    documents(s, d)
      .select(col("doc_id"), key.as("order_key"),
        (key % ShuffleShards).cast("int").as("shard"))
      .withColumn("ord", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("order_key"), col("doc_id"))).cast("long"))
      .orderBy("shard", "ord")
  }

  /** Deterministic synthetic URL per document. The corpus has no URL
    * column, so one is derived from (source, doc_id) carrying every messy
    * form [[canonicalizeUrl]] must handle — scheme variants, optional
    * `www.`, mixed-case host, trailing slash, a MEANINGFUL query param
    * (`page=2`, which canonicalization must KEEP), a tracking param
    * (`utm_source`, which it must DROP, in both `?`-first and `&`-chained
    * positions), and a fragment. The duplicate classes are keyed on
    * (source, doc_id mod 50, doc_id mod 13 == 0): docs with
    * `doc_id % 13 == 0` KEEP their meaningful `?page=2` after
    * canonicalization, so they form their own class alongside their
    * page-less mod-50 siblings — the duplicate generator.
    */
  private[graft] def syntheticUrl(docId: Column, source: Column): Column = concat(
    when(docId % 2 === 0, lit("https://")).otherwise(lit("http://")),
    when(docId % 3 === 0, lit("www.")).otherwise(lit("")),
    when(docId % 17 === 0, upper(source)).otherwise(source),
    lit(".example.com/a/"), (docId % 50).cast("string"),
    when(docId % 7 === 0, lit("/")).otherwise(lit("")),
    when(docId % 13 === 0, lit("?page=2")).otherwise(lit("")),
    when(docId % 5 === 0,
      when(docId % 13 === 0, lit("&utm_source=feed"))
        .otherwise(lit("?utm_source=feed"))).otherwise(lit("")),
    when(docId % 11 === 0, lit("#section-3")).otherwise(lit("")))

  /** URL canonicalization — the normalization C4/CC-derived corpora apply
    * BEFORE any content pass (two crawls of the same page differ by
    * scheme, `www.`, tracking params, fragments and trailing slashes far
    * more often than by content). Rules, applied in order: lowercase;
    * strip `http(s)://`; strip leading `www.`; strip the fragment; drop
    * tracking params (`utm_*`, `fbclid`, `gclid`) but KEEP meaningful
    * ones; strip dangling `?`/`&`; collapse `/?` to `?`; strip the
    * trailing slash. Pure codegen'd regexp chain — map-side, no UDF, no
    * shuffle; the DuckDB oracle runs the same chain.
    *
    * Caveat for reuse on real crawl URLs: the first step lowercases the
    * WHOLE URL — correct for this synthetic corpus (and what the oracle
    * mirrors), but real-world paths are case-sensitive, so `/A` and `/a`
    * would over-merge. A real-crawl deployment should lowercase only the
    * scheme+authority portion (the C4/CC convention) and leave path and
    * query values untouched.
    */
  def canonicalizeUrl(u: Column): Column = {
    val steps = Seq(
      "^https?://" -> "",
      "^www\\." -> "",
      "#.*$" -> "",
      // tracking params only where a '?' or '&' introduces them — anchored
      // so tracking-LOOKING text inside the path is never rewritten (an
      // unanchored match would merge 'site.com/ref/utm_campaign=x' with
      // 'site.com/ref'); the delimiter is kept so a following real param
      // still has its separator, and the collapse steps below clean up the
      // runs the strip leaves behind ('?&page' → '?page', 'a=1&&b=2' →
      // 'a=1&b=2')
      "([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*" -> "$1",
      "\\?&+" -> "?",
      "&&+" -> "&",
      "[?&]+$" -> "",
      "/\\?" -> "?",
      "/$" -> "")
    steps.foldLeft(lower(u)) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
  }

  /** URL-level first-per-canonical-URL dedup — the d93 query and the one
    * dedup granularity above line/passage/document: C4-style corpora drop
    * repeated fetches of the same canonical URL before any content
    * comparison runs. Per doc: its canonical URL, how many docs share it,
    * and the min-doc_id-wins keeper verdict (the d24 convention).
    *
    * Scale: URL synthesis + canonicalization are map-side; the group table
    * is one partial-aggregable groupBy on canon_url, and the verdict join
    * re-uses the same canon_url exchange — two shuffles total, both keyed
    * on the canonical URL, nothing quadratic and no window over unbounded
    * URL groups.
    */
  def d93UrlDedup(s: SparkSession, d: String): DataFrame = {
    // persist(): the canonicalized table feeds the group aggregation and
    // the verdict join's probe side
    val base = CacheRegistry.harness.add(
      documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("url", syntheticUrl(col("doc_id"), col("source")))
        .select(col("doc_id"), canonicalizeUrl(col("url")).as("canon_url"))
        .persist())
    val groups = base.groupBy("canon_url")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
    base.join(groups, Seq("canon_url"))
      .select(col("doc_id"), col("canon_url"), col("n_docs"),
        (col("doc_id") === col("keeper_id")).as("keeper"))
      .orderBy("doc_id")
  }

  /** Batch-incremental URL dedup — the d101 query, completing the
    * incremental matrix for the fourth stateful dedup granularity
    * (document d84, component d91, cluster d92, URL here). The keeper
    * state is a min-mergeable (canon_url → min doc_id, n_docs) table —
    * min and sum are associative+commutative, so each ingest batch
    * contributes its own O(batch) partial state and the merge is one
    * partial-aggregable groupBy on canon_url, never a re-canonicalization
    * of history. Two halves of the corpus are ingested as separate
    * batches; the verdict join against the merged state must reproduce
    * the ONE-SHOT [[d93UrlDedup]] output bit for bit — the d84/d91/d92
    * convention, so the oracle IS d93's.
    *
    * Scale: per batch, canonicalization is map-side and the partial state
    * is one groupBy on canon_url; the cross-batch merge shuffles only the
    * compact state tables (one row per URL), and the final verdict join
    * is the same canon_url-keyed exchange d93 uses. Nothing re-reads or
    * re-processes prior batches' raw documents.
    */
  def d101IncrementalUrlDedup(s: SparkSession, d: String): DataFrame = {
    // persist(): the canonicalized table feeds both batch splits and the
    // final verdict join's probe side
    val base = CacheRegistry.harness.add(
      documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("url", syntheticUrl(col("doc_id"), col("source")))
        .select(col("doc_id"), canonicalizeUrl(col("url")).as("canon_url"))
        .persist())
    val b1 = base.filter(col("doc_id") % 2 === 0)
    val b2 = base.filter(col("doc_id") % 2 === 1)
    def urlState(b: DataFrame): DataFrame =
      b.groupBy("canon_url")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
    def mergeState(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b).groupBy("canon_url")
        .agg(min("keeper_id").as("keeper_id"), sum("n_docs").as("n_docs"))
    val state2 = mergeState(urlState(b1), urlState(b2))
    base.join(state2, Seq("canon_url"))
      .select(col("doc_id"), col("canon_url"), col("n_docs"),
        (col("doc_id") === col("keeper_id")).as("keeper"))
      .orderBy("doc_id")
  }

  /** Tombstone deletes over min-mergeable keeper state — the d123 query,
    * the LLM-pipeline analog of reference `clean()`
    * (betfairdatabase/database.py:188-230: stale rows leave, the index
    * heals in place). Two ingest batches build the text-exact
    * (fp → keeper) and canonical-URL (canon_url → keeper) keeper states
    * exactly as d96/d101 do; then a delete batch (doc_id % 7 == 3 — a
    * takedown/expiry set) applies:
    *
    *  1. member rows of deleted docs leave the member state — one
    *     anti-join (at scale: a tombstone partition anti-joined at
    *     read/compaction time, the same append-only shape every sink
    *     here uses);
    *  2. keeper PROMOTION — the demotion rule's mirror image: ONLY groups
    *     whose current keeper died recompute, as min over the group's
    *     surviving members. A deleted non-keeper changes no keeper (min
    *     over survivors is still the old min), so untouched groups never
    *     move; the recompute is semi-joined to the affected keys —
    *     O(affected groups) against an fp-bucketed member state, never a
    *     corpus rescan. Groups whose every member died leave the state.
    *
    * Replay-idempotent: re-applying the same delete batch finds no
    * affected groups (their keepers already survive) and no member rows
    * left to remove — TombstoneSpec asserts it. Null-text fingerprints
    * group and promote null-safely (`<=>`, the d96 convention).
    *
    * Oracle: the one-shot keeper SQL over the SURVIVING corpus — the
    * healed state must be indistinguishable from never having ingested
    * the deleted docs.
    */
  /** Heal a min-keeper state after a tombstone batch — the shared
    * promotion pass of [[d123TombstoneDedup]]. `keeperState` is a
    * (key, keeper) table; `liveMembers` the member rows with the deleted
    * docs already anti-joined out; `deleted` the tombstoned doc_ids.
    * Only groups whose CURRENT keeper died recompute (min over surviving
    * members); groups with no survivors leave the state; everything else
    * passes through untouched. Null keys group and promote null-safely.
    * IDEMPOTENT: after one heal every keeper is a live doc, so a replayed
    * tombstone batch finds no affected groups and the state is a fixpoint
    * (TombstoneSpec asserts it).
    */
  def tombstoneHeal(keeperState: DataFrame, liveMembers: DataFrame,
      deleted: DataFrame, key: String): DataFrame = {
    val affected = keeperState
      .join(deleted, keeperState("keeper") === deleted("doc_id"))
      .select(col(key).as("akey"))
    val promoted = liveMembers.join(affected, col(key) <=> col("akey"))
      .groupBy(key).agg(min("doc_id").as("keeper"))
    keeperState.join(affected, col(key) <=> col("akey"), "left_anti")
      .unionByName(promoted)
  }

  def d123TombstoneDedup(s: SparkSession, d: String): DataFrame = {
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    // persist(): the keyed member table feeds both batch partials, the
    // deletion anti-join, both promotions, and the final verdict join
    val docs = CacheRegistry.harness.add(
      documents(s, d).select(col("doc_id"), md5(canon).as("fp"),
        canonicalizeUrl(syntheticUrl(col("doc_id"), col("source")))
          .as("canon_url"))
        .persist())
    def half(i: Int): DataFrame = docs.filter(col("doc_id") % 2 === i)
    val deleted = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val live = docs.join(deleted, Seq("doc_id"), "left_anti")

    // keeper state after ingest (per-batch partials, min-merged — the
    // d101 shape), healed by the shared promotion pass
    def healedKeeper(key: String): DataFrame = {
      def partial(b: DataFrame): DataFrame =
        b.groupBy(key).agg(min("doc_id").as("keeper"))
      val ingested = partial(half(0)).unionByName(partial(half(1)))
        .groupBy(key).agg(min("keeper").as("keeper"))
      tombstoneHeal(ingested, live, deleted, key)
    }

    val fpKeeper = healedKeeper("fp")
      .select(col("fp").as("kfp"), col("keeper").as("tkeeper"))
    val urlKeeper = healedKeeper("canon_url")
      .select(col("canon_url"), col("keeper").as("ukeeper"))
    live
      .join(fpKeeper, col("fp") <=> col("kfp"))
      .join(urlKeeper, Seq("canon_url"))
      .select(col("doc_id"),
        (col("doc_id") === col("tkeeper")).as("keep_text"),
        (col("doc_id") === col("ukeeper")).as("keep_url"))
      .withColumn("kept", col("keep_text") && col("keep_url"))
      .orderBy("doc_id")
  }

  /** Update-as-delete+reingest — the d131 query, the CDC/re-crawl story
    * that composes the round-11/12 lifecycle pieces and proves them AS a
    * composition (the repo convention: d96/d118/t125 — compositions get
    * their own oracle). A batch of doc_ids is REVISED (doc_id % 5 == 2
    * gets new text — a re-crawl that changed the page), implemented
    * against two stateful families without any corpus recompute:
    *
    *  - keeper state (text-exact fp → min-doc_id keeper, the d101
    *    mergeable shape): the update is tombstone heal + re-ingest —
    *    member rows of updated docs anti-join out, [[tombstoneHeal]]
    *    promotes only groups whose keeper was updated (O(affected
    *    groups)), and the revised rows' O(batch) partial min-merges in.
    *    A revision can both DEMOTE (the updated doc leaves its old
    *    group; the next-min survivor promotes) and PROMOTE (the revised
    *    doc becomes min of its new group) — UpdateReingestSpec pins both
    *    directions;
    *  - pair state (minhash near-dup): stale signatures and pairs of
    *    updated docs anti-join out (pair rows are independent edge
    *    facts), then the revised batch re-ingests through
    *    [[incrementalMinhashDedup]] — only the batch is re-shingled,
    *    unchanged docs' text is never re-read.
    *
    * Output per doc of the updated corpus: the keeper verdict and the
    * doc's minhash-pair participation count. Oracle: the ONE-SHOT SQL
    * over the updated corpus — the healed+re-ingested states must be
    * indistinguishable from a corpus that always had the revisions.
    */
  def d131UpdateReingest(s: SparkSession, d: String): DataFrame = {
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    // persist(): the doc scan feeds both ingest batches, the update
    // split, and the member table
    val docs = CacheRegistry.harness.add(
      documents(s, d).select(col("doc_id"), col("text")).persist())
    val updatedIds = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    val revised = CacheRegistry.harness.add(
      docs.filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"),
          concat(col("text"), lit(" u"),
            (col("doc_id") % 3).cast("string")).as("text"))
        .persist())

    // keeper state: two-batch ingest (d101 shape) → heal → re-ingest
    val members = docs.select(col("doc_id"), md5(canon).as("fp"))
    def partial(b: DataFrame): DataFrame =
      b.groupBy("fp").agg(min("doc_id").as("keeper"))
    val ingested = partial(members.filter(col("doc_id") % 2 === 0))
      .unionByName(partial(members.filter(col("doc_id") % 2 === 1)))
      .groupBy("fp").agg(min("keeper").as("keeper"))
    val liveMembers = members.join(updatedIds, Seq("doc_id"), "left_anti")
    val healed = tombstoneHeal(ingested, liveMembers, updatedIds, "fp")
    val revisedMembers = revised.select(col("doc_id"), md5(canon).as("fp"))
    val newState = healed.unionByName(partial(revisedMembers))
      .groupBy("fp").agg(min("keeper").as("keeper"))
    val finalMembers = liveMembers.unionByName(revisedMembers)

    // pair state: two-batch ingest → heal (anti-joins) → re-probe the
    // revised batch against the surviving signatures
    val empty = minhashSignatures(docs.filter(lit(false)))
    val (sigs1, p1) =
      incrementalMinhashDedup(empty, docs.filter(col("doc_id") % 2 === 0))
    val (sigs2, p2) =
      incrementalMinhashDedup(sigs1, docs.filter(col("doc_id") % 2 === 1))
    val sigsLive = sigs2.join(updatedIds, Seq("doc_id"), "left_anti")
    val pairsLive = p1.select("d1", "d2").unionByName(p2.select("d1", "d2"))
      .join(updatedIds.withColumnRenamed("doc_id", "d1"), Seq("d1"),
        "left_anti")
      .join(updatedIds.withColumnRenamed("doc_id", "d2"), Seq("d2"),
        "left_anti")
    val (_, pNew) = incrementalMinhashDedup(sigsLive, revised)
    // persist(): the healed pair set feeds both sides of the per-doc count
    val finalPairs = CacheRegistry.harness.add(
      pairsLive.unionByName(pNew.select("d1", "d2")).persist())
    val np = finalPairs.select(col("d1").as("doc_id"))
      .unionByName(finalPairs.select(col("d2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_pairs"))

    finalMembers
      .join(newState.withColumnRenamed("fp", "kfp"),
        col("fp") <=> col("kfp"))
      .join(np, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") === col("keeper")).as("kept_text"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("doc_id")
  }

  /** CCNet-style LM quality bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data" —
    * the head/middle/tail cut): score every document by the average
    * rarity of its tokens under the corpus's OWN unigram model, then
    * split the corpus at the score tertiles — `head` (most-fluent third,
    * what CCNet keeps for LM training), `middle`, `tail`. CCNet scores
    * with a KenLM 5-gram; the engine-exact stand-in is the unigram
    * information score info_q(w) = (N·100) div c(w) — the t71 idf_q
    * convention: monotone in 1/p(w), integer arithmetic only, so no
    * cross-engine float-log drift — averaged per doc and floor-truncated
    * to 4 decimals (the repo's int/int-rational convention). Tertile
    * thresholds are EXACT (the oracle's quantile_cont cut) but computed
    * by a partial-aggregable two-pass order-statistic selection, never a
    * one-group `percentile()` whose state buffers every per-doc score on
    * a single reducer: pass 1 compacts scores into a histogram (ordinary
    * groupBy — map-side combine), pass 2 reads the order statistics off
    * the histogram's cumulative counts. Bucket membership under the
    * interpolated threshold t = s[k] + frac·(s[k+1] − s[k]) (frac < 1)
    * equals membership under the FLOOR order statistic s[k] — no value
    * lies strictly between consecutive order statistics — so the
    * interpolation arithmetic (and its cross-engine float-rounding risk)
    * drops out entirely while the verdicts stay hash-identical to the
    * oracle's. The rank itself replicates both engines' double arithmetic
    * floor(p·(n−1)) with 1/3 and 2/3 as the same shortest-repr double
    * literals both engines parse.
    *
    * Scale: one vocab-sized partial-aggregable count, one one-row total,
    * one scoring join keyed on the token (broadcast when the vocab fits —
    * AQE decides; at web scale this is the standard LM-scoring shuffle),
    * one partial-aggregable per-doc average, one partial-aggregable
    * histogram, and a one-row threshold broadcast. The only global-order
    * stage is the running sum over the HISTOGRAM (distinct quantized
    * scores — compact; worst-case O(docs) keys carrying two longs each,
    * a shuffle-compacted window, never an aggregation buffer holding the
    * corpus). Nothing quadratic; the token table crosses each exchange
    * once.
    */
  def t94PerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    // persist(): the token table feeds the vocab count AND the scoring
    // join's probe side from one tokenize+explode pass
    val toks = CacheRegistry.harness.add(
      documents(s, d)
        .select(col("doc_id"), explode(words(col("text"))).as("w"))
        .persist())
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    // persist(): the compact per-doc score table feeds BOTH the percentile
    // aggregation and the final bucket projection — without it the
    // token-scale scoring join (the query's dominant stage) executes twice
    val scored = CacheRegistry.harness.add(toks.join(counts, Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("info_q", expr("(n_total * 100) div c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(avg(col("info_q")) * lit(1e4)) / lit(1e4)).as("lm_score"))
      .persist())
    // two-pass exact tertile (see scaladoc): histogram, then the floor
    // order statistic s[k] = smallest score whose cumulative count
    // exceeds k, at rank k = floor(p·(n−1)) in the engines' shared
    // double arithmetic
    val nDocs = scored.agg(count(lit(1)).as("n_docs"))
    val hist = scored.groupBy("lm_score").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum_cnt",
      sum(col("cnt")).over(Window.orderBy("lm_score")))
    val th = cum.crossJoin(broadcast(nDocs))
      .select(
        min(when(col("cum_cnt") >
          floor(lit(0.3333333333333333) * (col("n_docs") - 1)),
          col("lm_score"))).as("t1"),
        min(when(col("cum_cnt") >
          floor(lit(0.6666666666666666) * (col("n_docs") - 1)),
          col("lm_score"))).as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_tokens"), col("lm_score"),
        when(col("lm_score") <= col("t1"), lit("head"))
          .when(col("lm_score") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  /** t157 additive backoff penalty in info_q units — the integer analog of
    * a Katz backoff weight: a position scored through the unigram
    * fallback pays a fixed rarity surcharge over its unigram information,
    * so backed-off positions always read as less fluent than a seen
    * bigram over the same words.
    */
  val BackoffPenaltyQ = 400L

  /** Held-out bigram LM scoring with backoff — the t157 query, the CCNet
    * recipe at its published shape (Wenzek et al. 2020 score crawl text
    * under an LM trained on a CURATED corpus; t94's unigram stand-in
    * trains on the scored corpus itself, so no token is ever
    * out-of-model): the bigram model trains on the even-doc_id half (the
    * t66 split convention) and scores EVERY document, so held-out docs
    * genuinely contain unseen bigrams and the backoff path (Katz 1987 —
    * public method) does real work. Per scored position (each adjacent
    * word pair):
    *
    *  - seen bigram: info_q = (c1_train(w1)·100) div c2_train(w1,w2) —
    *    monotone in 1/p(w2|w1), integers only (the t71/t94 idf_q
    *    convention);
    *  - unseen bigram: info_q = [[BackoffPenaltyQ]] +
    *    (N_train·100) div c1_train(w2), i.e. the unigram information plus
    *    the fixed penalty; an out-of-vocabulary w2 divides by 1 (maximum
    *    rarity).
    *
    * Per doc: scored-position count, backoff count, and the 4dp-floor
    * average (both engines average the identical BIGINT sum over the
    * identical count — no float-order hazard). Docs under two words score
    * 0 with 0 positions.
    *
    * Scale: pairs are built map-side (the t152 zip_with shape — no
    * self-join to form adjacency); the model tables are vocab-sized
    * aggregates; scoring is ONE token-scale shuffle join keyed on the
    * bigram (the standard LM-scoring exchange, t94's cost class) plus two
    * vocab-table joins AQE broadcasts when they fit; the per-doc average
    * is partial-aggregable. No windows, nothing quadratic.
    */
  def t157BigramLm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    lmScoreFrom(docs.select("doc_id"),
      lmTokPartials(docs),
      // persist(): the pair partials feed the train bigram counts AND
      // the scoring join from one tokenize pass
      CacheRegistry.harness.add(lmPairPartials(docs).persist()))
  }

  /** Per-doc token-count partials (doc_id, w, c) — half of the t157 LM's
    * MERGEABLE state (the other half is [[lmPairPartials]]): unigram
    * train counts are the partials' plain sum, so the incremental d158
    * state merges by one groupBy — the purest additive state in the repo.
    */
  private[graft] def lmTokPartials(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))

  /** Per-doc adjacent-bigram partials (doc_id, w1, w2, np) — pairs built
    * map-side (the t152 zip_with shape), one partial-aggregable
    * reduction. `np` is the pair's occurrence count in the doc, so the
    * scoring join weights each DISTINCT pair once instead of exploding
    * per position — identical sums, fewer joined rows.
    */
  private[graft] def lmPairPartials(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val n1 = greatest(size(ws) - 1, lit(0))
    val pairsCol = zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    docs.select(col("doc_id"), explode(pairsCol).as("p"))
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("np"))
  }

  /** The t157 scoring engine over the (token, pair) partials — shared by
    * the one-shot (partials built inline) and d158 (partials served from
    * mergeable state), so the incremental selection cannot drift from the
    * one-shot's scores. Train counts come from the even-doc partials'
    * sums; every doc's pairs score against them, weighted by `np` (the
    * per-position average is Σ info_q·np / Σ np — the same exact integer
    * sums as per-position scoring, since identical pairs score
    * identically; both engines divide the identical exact-integer double
    * once, so the 4dp floor cannot flip. The integer sums stay
    * double-exact below 2^53 — ~1e11 per doc at sf0.1, bound documented
    * here for the 100 TB reader: past 2^53 move the sum to DECIMAL).
    */
  /** Default LM train membership: doc_id parity — the oracle-twin
    * convention t157/d158 pin. A deployment passes its own designated
    * fold instead (see [[t161LmLeakageFold]], which composes t138's
    * leakage-aware train fold); the parameter is a FILTER over a
    * doc_id-carrying partials table because a real fold is a set (a
    * semi-join), not a column expression.
    */
  private[graft] val LmParityTrain: DataFrame => DataFrame =
    _.filter(col("doc_id") % 2 === 0)

  private[graft] def lmScoreFrom(roster: DataFrame, toks: DataFrame,
      pairs: DataFrame,
      trainFilter: DataFrame => DataFrame = LmParityTrain): DataFrame = {
    // persist(): c1 feeds both unigram joins and the 1-row total
    val c1 = CacheRegistry.harness.add(
      trainFilter(toks)
        .groupBy("w").agg(sum("c").as("c")).persist())
    val nt = c1.agg(sum(col("c")).as("nt"))
    val c2 = trainFilter(pairs)
      .groupBy("w1", "w2").agg(sum("np").as("c2"))
    lmScoreWith(roster, pairs, c1, c2, nt)
  }

  /** The t157 scoring tail at GIVEN model tables — shared by
    * [[lmScoreFrom]] (model derived from the partials) and the
    * compacted-layout serve
    * ([[graft.streaming.StreamOps.lmCompacted]], model from the
    * pre-aggregated artifacts, which hold the identical sums). `c1` =
    * (w, c) train unigrams, `c2` = (w1, w2, c2) train bigrams, `nt` =
    * the 1-row train token total.
    */
  private[graft] def lmScoreWith(roster: DataFrame, pairs: DataFrame,
      c1: DataFrame, c2: DataFrame, nt: DataFrame): DataFrame = {
    val scored = pairs
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.select(col("w").as("w1"), col("c").as("c1w1")),
        Seq("w1"), "left")
      .join(c1.select(col("w").as("w2"), col("c").as("c1w2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(nt))
      .select(col("doc_id"), col("np"),
        when(col("c2").isNotNull, expr("(c1w1 * 100) div c2"))
          .otherwise(lit(BackoffPenaltyQ) +
            expr("(nt * 100) div coalesce(c1w2, 1)")).as("info_q"),
        when(col("c2").isNull, col("np")).otherwise(lit(0L)).as("bo"))
    val agg = scored.groupBy("doc_id")
      .agg(sum(col("np")).as("n_scored"), sum(col("bo")).as("n_backoff"),
        (floor((sum(col("info_q") * col("np")).cast("double") /
          sum(col("np")).cast("double")) * lit(1e4)) / lit(1e4))
          .as("lm2_score"))
    roster
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("lm2_score"), lit(0.0)).as("lm2_score"))
      .orderBy("doc_id")
  }

  /** Batch-incremental bigram-LM scoring — the d158 query, the curation
    * family's last missing incremental member (the d84/d101 proof
    * standard: served scores must be hash-indistinguishable from the
    * one-shot [[t157BigramLm]], so the oracle IS t157's SQL). The LM's
    * state is the purest mergeable state in the repo: unigram and bigram
    * counts are ADDITIVE, so the state is the per-doc
    * [[lmTokPartials]]/[[lmPairPartials]] reductions appended per batch —
    * each document tokenized once ever — and the train model re-derives
    * by one groupBy-sum per table at serve time. (Like DSIR, per-doc
    * scores are deliberately NOT cached: every train-doc batch shifts
    * c1/c2/nt and with them every doc's info_q.)
    *
    * Batch 2 re-delivers every tenth even doc (the d151/d155 replay
    * convention); the roster novelty anti-join must drop them, or their
    * counts double in the train model and every score drifts.
    *
    * Scale: per batch, tokenization + the two reductions are O(batch);
    * the novelty check is one anti-join against the doc-id roster; the
    * merge is append-only. Serving is t157's scoring join minus its
    * tokenize pass — one token-scale bigram-keyed join (t94's cost
    * class) over the compact pair partials.
    */
  def d158IncrementalLm(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 20 === 0))

    def ingest(state: (DataFrame, DataFrame, DataFrame), batch: DataFrame)
        : (DataFrame, DataFrame, DataFrame) = {
      val (roster, toks, pairs) = state
      val novel = batch.join(roster, Seq("doc_id"), "left_anti")
      (roster.unionByName(novel.select("doc_id")),
        toks.unionByName(lmTokPartials(novel)),
        pairs.unionByName(lmPairPartials(novel)))
    }
    val none = docs.filter(lit(false))
    val s0 = (none.select("doc_id"), lmTokPartials(none),
      lmPairPartials(none))
    val (roster, toks, pairs) = ingest(ingest(s0, b1), b2)
    lmScoreFrom(roster,
      CacheRegistry.harness.add(toks.persist()),
      CacheRegistry.harness.add(pairs.persist()))
  }

  /** Bigram LM trained on the leakage-aware fold — the t161 query,
    * closing the loop between two audited components: t157's LM bakes
    * doc-parity as train membership (fine as the oracle-twin
    * convention), but a DEPLOYMENT trains on a designated fold — and the
    * repo already has the right fold source, t138's leakage-aware split
    * (near-dup clusters land in ONE split, so a train document's
    * near-duplicate cannot leak into the scoring comparison the way a
    * parity split allows). Train membership = t138's `split = 'train'`
    * rows; the scoring engine is [[lmScoreFrom]] with the fold as its
    * `trainFilter` — the SAME engine as t157/d158, so this query is pure
    * composition (the t159 pattern; oracle = t157's SQL with t138's
    * whole query composed verbatim as the fold subquery).
    *
    * Scale: the fold is corpus-cardinality (one compact row per doc), so
    * membership is a doc_id-keyed semi-join onto the two partials
    * tables — unlike the map-side parity predicate this shuffles the
    * token-scale partials once per model build (t94's cost class, paid
    * at train-model build time only); the near-dup labeling reuses
    * d26/d46's banded candidate generation, nothing quadratic.
    */
  def t161LmLeakageFold(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    // persist(): the fold filters BOTH partials tables
    val fold = CacheRegistry.harness.add(
      t138LeakageSplit(s, d).filter(col("split") === "train")
        .select("doc_id").persist())
    lmScoreFrom(docs.select("doc_id"),
      lmTokPartials(docs),
      CacheRegistry.harness.add(lmPairPartials(docs).persist()),
      trainFilter = _.join(fold, Seq("doc_id"), "left_semi"))
  }

  /** Number of rotated bucket tables for [[d27Simhash]]. One 16-bit prefix
    * table misses any pair whose differing bits are all in the high half and
    * its occupancy grows ∝ n/65536; four rotations (0/8/16/24 bits) cover
    * every bit in exactly two windows, so a hamming≤6 pair is missed only if
    * all four windows contain a differing bit, and each table keeps the full
    * 2^16 keyspace (occupancy per table unchanged, candidate volume ≤4×).
    */
  val SimhashTables = 4

  /** Rotate-left of a 32-bit value stored in a long. */
  private def rot32(c: Column, r: Int): Column =
    if (r == 0) c
    else shiftleft(c, r).bitwiseOR(shiftright(c, 32 - r))
      .bitwiseAND(lit(4294967295L))

  /** 32-bit SimHash per doc (single-pass: 32 parallel vote-sums over distinct
    * word hashes), then near-pairs at Hamming distance <= 6 (bit_count(xor))
    * bucketed by [[SimhashTables]] rotated 16-bit prefix tables — with the
    * Hamming-64 family's TWO-POPULATION machinery (the round-11 d98
    * rework, applied here in round 12 after the 10× record showed d27
    * carrying the same duplicate-class quadratic candidate blowup):
    *
    *  1. identical-simhash pairs — a bucket-free self-equi-join on the
    *     hash value: a C-doc duplicate class emits its C²/2 pairs ONCE
    *     (they ARE the output), not 4× through every rotated table and
    *     a C²-scale distinct shuffle;
    *  2. cross-hash candidates — the rotated-table equi-join over
    *     DISTINCT simhash values only, Hamming-refined and deduped at
    *     HASH level (pairs of 32-bit values, not docs), then expanded
    *     back to doc pairs through two output-sized member joins.
    *
    * Candidate-join volume is quadratic in per-cell DISTINCT-hash
    * occupancy, never in doc counts; the window-sharing recall semantics
    * (a hamming≤6 pair is missed only if all four windows contain a
    *  differing bit) are unchanged and the oracle mirrors them, so the
    * output is bit-identical to the round-11 doc-level bucketing. (The
    * 64-bit family additionally df-caps hot cells — HammingBucketCap —
    * which this 32-bit variant omits to stay exactly oracle-mirrored;
    * at adversarial distinct-hash skew the same cap applies verbatim.)
    */
  def d27Simhash(s: SparkSession, d: String): DataFrame = {
    // distinct words per doc map-side (array_distinct before explode) — no
    // token-volume shuffle
    val wordsDf = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(words(col("text")))).as("w"))
      .select(col("doc_id"), h32(col("w")).as("h"))
    val votes = wordsDf.groupBy("doc_id").agg(
      (0 until 32).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
          .as(s"v$b")
      }.head,
      (1 until 32).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
          .as(s"v$b")
      }: _*)
    val sim = (0 until 32)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    // persist(): the compact (doc_id, simhash) table feeds the exact
    // self-join's two sides, the distinct-hash table, and both member
    // expansions — without it the scan+explode+32-vote aggregation
    // repeats per consumer. One row per doc, cheap to cache at any scale.
    val hashes = CacheRegistry.harness.add(
      votes.select(col("doc_id"), sim.as("simhash")).persist())
    val exact = hashes.as("a")
      .join(hashes.as("b"),
        col("a.simhash") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        lit(0L).as("hamming"))
    val tableStructs = (0 until SimhashTables).map { t =>
      struct(lit(t).as("tbl"),
        shiftright(rot32(col("simhash"), 8 * t), 16).as("bucket"))
    }
    // persist(): the 4-rows-per-DISTINCT-hash bucket table feeds both
    // candidate join sides
    val buckets = CacheRegistry.harness.add(hashes.select("simhash")
      .distinct()
      .select(col("simhash"), explode(array(tableStructs: _*)).as("tb"))
      .select(col("simhash"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
      .persist())
    // hash-level pairs: refine map-side BEFORE the cross-table dedup, so
    // the distinct's shuffle carries only passing (h1, h2) pairs
    val hashPairs = CacheRegistry.harness.add(buckets.as("a")
      .join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("h1"), col("b.simhash").as("h2"))
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= 6)
      .distinct()
      .persist())
    val cross = hashPairs
      .join(hashes.select(col("doc_id").as("da"), col("simhash").as("h1")),
        "h1")
      .join(hashes.select(col("doc_id").as("db"), col("simhash").as("h2")),
        "h2")
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    exact.unionByName(cross).orderBy("d1", "d2")
  }

  /** Repetition-ratio quality metrics (the Gopher-style repetition filters
    * for training corpora): most-frequent-word fraction and duplicate-word
    * fraction per document.
    *
    * Scale: computed entirely map-side with higher-order array functions —
    * the top-word count is a max-run-length scan over the doc's SORTED word
    * array (O(n log n) per doc, in whole-stage codegen), NOT a
    * groupBy(doc_id, word), so there is NO shuffle proportional to total
    * tokens. At 100 TB this is the difference between a map-only pass and
    * shuffling every token in the corpus.
    */
  def t47Repetition(s: SparkSession, d: String): DataFrame = {
    def trunc4(c: Column): Column = floor(c * 10000) / 10000
    val ws = words(col("text"))
    documents(s, d)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        maxRun(array_sort(ws)).as("top_cnt"))
      .withColumn("top_word_frac",
        trunc4(col("top_cnt").cast("double") / col("n_words")))
      .withColumn("dup_word_frac",
        trunc4((col("n_words") - col("n_distinct")).cast("double") /
          col("n_words")))
      .orderBy("doc_id")
  }

  /** Chunk width for [[d57PassageDedup]] (words per passage). */
  val PassageChunk = 10

  /** Duplicated-passage detection: each document is cut into non-overlapping
    * [[PassageChunk]]-word chunks; a chunk whose fingerprint appears in ≥2
    * distinct documents is boilerplate/copied text (the passage-level
    * complement of d24's whole-document exact dedup).
    *
    * Scale: chunking is entirely map-side (higher-order `transform` over the
    * word array, in whole-stage codegen); the only shuffle is one
    * hash-groupBy on the chunk fingerprint with map-side partial
    * aggregation. Unlike shingling (stride 1), the stride equals the chunk
    * width, so the exploded volume is ≈ the corpus token count / chunk — no
    * blowup at 100 TB.
    */
  def d57PassageDedup(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    val chunk = PassageChunk
    val chunks = documents(s, d)
      .filter(size(words(col("text"))) >= chunk)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), (size(ws) / chunk).cast("int") - 1),
          i => array_join(slice(ws, i * chunk + 1, lit(chunk)), " ")))
          .as("chunk"))
    chunks
      .groupBy(md5(col("chunk")).as("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("doc_id").as("keeper"))
      .filter(col("n_docs") >= 2)
      .orderBy("fp")
  }

  /** Source/domain-level corpus rollup (the C4/Gopher "per-domain stats"
    * step that decides which sources to keep, cap, or drop): doc counts,
    * token volume, char-length spread, and language diversity per source.
    * One partial-aggregated groupBy on `source`; all metrics are O(1) agg
    * state.
    */
  def t58SourceStats(s: SparkSession, d: String): DataFrame = {
    val nWords = size(words(col("text"))).cast("long")
    documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"), nWords.as("nw"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nw").as("total_words"),
        (floor(avg(col("n_chars")) * 100) / 100).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("source")
  }

  /** Gopher-style composite quality filter: per-document rule flags and the
    * final keep/drop verdict. Rules (word count bounds, mean word length
    * bounds, stopword floor, top-word repetition cap) follow the published
    * Gopher corpus-filtering recipe shapes.
    *
    * Entirely map-side: the repetition rule reuses t47's sorted max-run scan
    * (no per-token shuffle), and every threshold compare is integer
    * arithmetic (`len >= 3*nw`, `top*5 <= nw`) so no float-boundary
    * divergence is possible between engines.
    */
  /** Max same-word run length over a SORTED word array — the map-side
    * top-word count shared by t47, t59, and t65 (deliberately NOT a
    * groupBy(doc_id, word), which would shuffle every token).
    */
  private def maxRun(sortedWs: Column): Column = aggregate(
    sortedWs,
    struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
    (acc, x) => {
      val r = when(x === acc.getField("prev"), acc.getField("run") + 1L)
        .otherwise(lit(1L))
      struct(x.as("prev"), r.as("run"),
        greatest(acc.getField("best"), r).as("best"))
    },
    acc => acc.getField("best"))

  /** The four Gopher quality metrics over the `text` column — the single
    * source of truth shared by t59 (per-rule flags) and t65 (conjunction),
    * so a threshold or stopword tweak cannot drift between them. (The SQL
    * oracles carry their own copies by construction; the
    * t65-agrees-with-t59 invariant in Round5OpsSpec pins the Scala side.)
    */
  private def gopherMetrics(text: Column = col("text"))
      : (Column, Column, Column, Column) = {
    val ws = words(text)
    (size(ws).cast("long"),
      length(regexp_replace(text, "\\s", "")).cast("long"),
      size(regexp_extract_all(lower(text),
        lit("\\b(the|a|of|and|to|in|is)\\b"), lit(0))).cast("long"),
      maxRun(array_sort(ws)))
  }
  private def gopherRuleWc(nWords: Column): Column =
    nWords >= 15 && nWords <= GopherMaxWords
  private def gopherRuleMwl(nWords: Column, nAlpha: Column): Column =
    nAlpha >= nWords * 3 && nAlpha <= nWords * 10
  private def gopherRuleStop(nStop: Column): Column = nStop >= 1
  private def gopherRuleRep(nWords: Column, topCnt: Column): Column =
    topCnt * 5 <= nWords

  /** Line-level Gopher metrics over an arbitrary text column (Rae et al.
    * 2021, table A1's line-shape signals) — boilerplate web markup is
    * exactly what these catch (nav lists are ≥90%-bullet docs). Returns
    * (n_lines, bullet_lines, ellipsis_lines, alpha_words, n_hash,
    * n_ellipsis), all map-side `split` + higher-order-function scans in
    * whole-stage codegen, same shape as the word-level rules.
    *
    * Cross-engine notes: lines split on the literal newline (DuckDB
    * `str_split(text, chr(10))`); `ltrim`/`rtrim` trim U+0020 in both
    * engines; the bullet set is {-, *, U+2022}; ellipsis is a trailing
    * "..." or U+2026; alpha words are tokens of the shared [[words]]
    * tokenizer containing [a-z] after its lower(). The [[words]] contract
    * divergence classes apply here too: a line PADDED with exotic Zs
    * whitespace (NBSP etc.) is rtrimmed by DuckDB but not Spark, so the
    * safe input class excludes Zs-padded line ends (the corpus has none;
    * TokenizerContractSpec pins the class).
    */
  private def lineMetrics(text: Column): (Column, Column, Column, Column,
      Column, Column) = {
    val lines = split(text, "\n")
    val ws = words(text)
    val bullet = size(filter(lines,
      l => substring(ltrim(l), 1, 1).isin("-", "*", "•")))
    val ell = size(filter(lines,
      l => endswith(rtrim(l), lit("...")) ||
        endswith(rtrim(l), lit("…"))))
    val alphaWords = size(filter(ws, w => w.rlike("[a-z]")))
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEll = size(regexp_extract_all(text, lit("\\.\\.\\.|…"), lit(0)))
    (size(lines).cast("long"), bullet.cast("long"), ell.cast("long"),
      alphaWords.cast("long"), nHash.cast("long"), nEll.cast("long"))
  }

  /** Published line-level caps as integer compares (no float boundaries):
    * ≤90% of lines may start with a bullet, ≤30% may end with an ellipsis,
    * ≥80% of words must contain an alphabetic character, and the
    * symbol-to-word ratio must stay ≤0.10 for both '#' and ellipsis.
    */
  private def gopherRuleBullet(bulletLines: Column, nLines: Column): Column =
    bulletLines * 10 <= nLines * 9
  private def gopherRuleEllipsis(ellLines: Column, nLines: Column): Column =
    ellLines * 10 <= nLines * 3
  private def gopherRuleAlpha(alphaWords: Column, nWords: Column): Column =
    alphaWords * 5 >= nWords * 4
  private def gopherRuleSymbol(nHash: Column, nEll: Column,
      nWords: Column): Column =
    nHash * 10 <= nWords && nEll * 10 <= nWords

  /** Upper word-count bound shared by the Gopher rule_wc rule and the
    * n-gram-stat guard below: a doc beyond it is already rejected by
    * rule_wc, so skipping its n-gram materialization changes no verdict.
    */
  private val GopherMaxWords = 100000

  /** Word-level n-grams joined with single spaces; empty (not a negative
    * `sequence`!) when the doc has fewer than n words — and ALSO empty
    * beyond [[GopherMaxWords]]: each n materializes ~n_words strings of ~n
    * words each before sorting (3 n's ≈ 9× the doc's own size in transient
    * per-row memory), and a doc over the cap is already rejected by
    * rule_wc, so the guard bounds worst-case executor pressure without
    * changing any verdict. The oracle applies the same bound
    * (`WHERE len(ws) <= 100000` in the g-n CTEs → COALESCE 0), so stats
    * stay hash-identical: both engines emit zeros for over-cap docs.
    */
  private def ngrams(ws: Column, n: Int): Column =
    when(size(ws) >= n && size(ws) <= GopherMaxWords,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Per-doc n-gram repetition stats over a SORTED n-gram array, in ONE
    * map-side pass (the t47 max-run trick extended to shingles — still no
    * per-token shuffle): struct(
    *   `cnt`  — occurrences of the most frequent n-gram (ties: first in
    *            sort order, i.e. lexicographically smallest),
    *   `topc` — characters covered by that n-gram: cnt × its char length
    *            (separator spaces excluded: length − (n−1)),
    *   `dupc` — characters in DUPLICATE n-grams: Σ cnt×len over n-grams
    *            occurring ≥ 2 times).
    * These are the raw ingredients of Gopher's published top-2/3/4-gram
    * character-fraction caps (Rae et al. 2021, table A1).
    */
  private def ngramStats(sortedGrams: Column, n: Int): Column = {
    val sep = lit((n - 1).toLong)
    def glen(g: Column): Column = length(g).cast("long") - sep
    aggregate(
      sortedGrams,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"),
        lit("").as("bestg"), lit(0L).as("dupc")),
      (acc, x) => {
        val same = x === acc.getField("prev")
        val r = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        // a run just ended: if it was a duplicate run, bank its chars
        val banked = when(!same && acc.getField("run") >= 2L,
          acc.getField("dupc") +
            acc.getField("run") * glen(acc.getField("prev")))
          .otherwise(acc.getField("dupc"))
        val better = r > acc.getField("best")
        struct(x.as("prev"), r.as("run"),
          when(better, r).otherwise(acc.getField("best")).as("best"),
          when(better, x).otherwise(acc.getField("bestg")).as("bestg"),
          banked.as("dupc"))
      },
      acc => struct(
        acc.getField("best").as("cnt"),
        when(acc.getField("best") > 0L,
          acc.getField("best") * glen(acc.getField("bestg")))
          .otherwise(lit(0L)).as("topc"),
        // flush the final run (the loop only banks on run *changes*)
        when(acc.getField("run") >= 2L,
          acc.getField("dupc") +
            acc.getField("run") * glen(acc.getField("prev")))
          .otherwise(acc.getField("dupc")).as("dupc")))
  }

  /** Gopher's top-n-gram character-fraction caps as integer compares (no
    * float boundaries): ≤ 0.20 / 0.18 / 0.16 of the doc's non-whitespace
    * chars may sit in the most frequent 2/3/4-gram.
    */
  private def gopherRuleTopNgram(n: Int, topChars: Column,
      nAlpha: Column): Column = n match {
    case 2 => topChars * 5 <= nAlpha        // 0.20 = 1/5
    case 3 => topChars * 50 <= nAlpha * 9   // 0.18 = 9/50
    case 4 => topChars * 25 <= nAlpha * 4   // 0.16 = 4/25
  }

  /** top-n-gram char counts for n = 2, 3, 4 — shared by t59/t65 (rule
    * conjunction) and t79 (full metrics) so thresholds and tie-breaks
    * cannot drift between them.
    */
  private def gopherNgramTopChars(text: Column = col("text"))
      : Seq[(Int, Column)] = {
    val ws = words(text)
    (2 to 4).map(n =>
      n -> ngramStats(array_sort(ngrams(ws, n)), n).getField("topc"))
  }

  /** The complete Gopher keep verdict — word-count, mean-word-length,
    * stopword, repetition, top-2/3/4-gram character caps, and the
    * line-level rules — as ONE Column over an arbitrary text column. This
    * is the same single source of truth t59 (per-rule flags), t65
    * (pipeline conjunction), and the STREAMING quality gate
    * ([[graft.streaming.StreamOps.qualityGateStream]]) evaluate, so a
    * threshold tweak cannot drift between batch and streaming. Entirely
    * stateless map-side expression work — no shuffle, no state store —
    * which is exactly why the same Column drops into a streaming plan
    * unchanged.
    */
  def gopherKeep(text: Column): Column = {
    val (nWords, nAlpha, nStop, topCnt) = gopherMetrics(text)
    val (nLines, bulletLines, ellLines, alphaWords, nHash, nEll) =
      lineMetrics(text)
    gopherNgramTopChars(text).foldLeft(
      gopherRuleWc(nWords) && gopherRuleMwl(nWords, nAlpha) &&
        gopherRuleStop(nStop) && gopherRuleRep(nWords, topCnt)) {
      case (acc, (n, topChars)) =>
        acc && gopherRuleTopNgram(n, topChars, nAlpha)
    } && gopherRuleBullet(bulletLines, nLines) &&
      gopherRuleEllipsis(ellLines, nLines) &&
      gopherRuleAlpha(alphaWords, nWords) &&
      gopherRuleSymbol(nHash, nEll, nWords)
  }

  def t59GopherFilter(s: SparkSession, d: String): DataFrame = {
    val (nWords, nAlpha, nStop, topCnt) = gopherMetrics()
    val topChars = gopherNgramTopChars()
    val (nLines, bulletLines, ellLines, alphaWords, nHash, nEll) =
      lineMetrics(col("text"))
    documents(s, d)
      .select(Seq(col("doc_id"), nWords.as("n_words"), nAlpha.as("n_alpha"),
        nStop.as("n_stop"), topCnt.as("top_cnt")) ++
        topChars.map { case (n, c) => c.as(s"top${n}g_chars") } ++
        Seq(nLines.as("n_lines"), bulletLines.as("bullet_lines"),
          ellLines.as("ellipsis_lines"), alphaWords.as("alpha_words"),
          nHash.as("n_hash"), nEll.as("n_ellipsis")): _*)
      .withColumn("rule_wc", gopherRuleWc(col("n_words")))
      .withColumn("rule_mwl", gopherRuleMwl(col("n_words"), col("n_alpha")))
      .withColumn("rule_stop", gopherRuleStop(col("n_stop")))
      .withColumn("rule_rep", gopherRuleRep(col("n_words"), col("top_cnt")))
      .withColumn("rule_2g",
        gopherRuleTopNgram(2, col("top2g_chars"), col("n_alpha")))
      .withColumn("rule_3g",
        gopherRuleTopNgram(3, col("top3g_chars"), col("n_alpha")))
      .withColumn("rule_4g",
        gopherRuleTopNgram(4, col("top4g_chars"), col("n_alpha")))
      .withColumn("rule_bullet",
        gopherRuleBullet(col("bullet_lines"), col("n_lines")))
      .withColumn("rule_ellipsis",
        gopherRuleEllipsis(col("ellipsis_lines"), col("n_lines")))
      .withColumn("rule_alpha",
        gopherRuleAlpha(col("alpha_words"), col("n_words")))
      .withColumn("rule_symbol",
        gopherRuleSymbol(col("n_hash"), col("n_ellipsis"), col("n_words")))
      .withColumn("keep",
        col("rule_wc") && col("rule_mwl") && col("rule_stop") &&
          col("rule_rep") && col("rule_2g") && col("rule_3g") &&
          col("rule_4g") && col("rule_bullet") && col("rule_ellipsis") &&
          col("rule_alpha") && col("rule_symbol"))
      .orderBy("doc_id")
  }

  /** Line-level Gopher quality rules (t81) over a deterministic multi-line
    * payload: the synthetic corpus is single-line prose (no newlines,
    * bullets, '#', or ellipses — verified), so, exactly like t48's PII
    * suffix and t68's NFC suffix, each doc gets a doc_id-derived payload of
    * bullet lines, ellipsis lines, hash symbols, and numeric tokens; the
    * oracle constructs the identical payload. The rule implementations are
    * the SAME [[lineMetrics]]/rule functions t59 and t65 apply to raw text,
    * so thresholds cannot drift between the exercised path and the
    * conjunction path.
    *
    * Scale: entirely map-side — `split(text, '\n')` + higher-order filters
    * in whole-stage codegen; nothing line- or token-proportional crosses a
    * shuffle.
    */
  def t81LineRules(s: SparkSession, d: String): DataFrame = {
    // symbol/numeric suffixes attach to the FIRST (prose) line so every
    // appended bullet/ellipsis line keeps its exact shape; doc_id % 23
    // bullet lines lets the ≤90% cap actually trip (needs ≥10 bullet lines
    // against one prose line when no ellipsis lines dilute them)
    val lined = concat(col("text"),
      repeat(lit(" #"), (col("doc_id") % 11).cast("int")),
      repeat(lit(" 42"), (col("doc_id") % 40).cast("int")),
      repeat(lit("\n- bullet item"), (col("doc_id") % 23).cast("int")),
      repeat(lit("\nto be continued..."), (col("doc_id") % 5).cast("int")))
    val (nLines, bulletLines, ellLines, alphaWords, nHash, nEll) =
      lineMetrics(lined)
    documents(s, d)
      .select(col("doc_id"),
        size(words(lined)).cast("long").as("n_words"),
        nLines.as("n_lines"), bulletLines.as("bullet_lines"),
        ellLines.as("ellipsis_lines"), alphaWords.as("alpha_words"),
        nHash.as("n_hash"), nEll.as("n_ellipsis"))
      .withColumn("rule_bullet",
        gopherRuleBullet(col("bullet_lines"), col("n_lines")))
      .withColumn("rule_ellipsis",
        gopherRuleEllipsis(col("ellipsis_lines"), col("n_lines")))
      .withColumn("rule_alpha",
        gopherRuleAlpha(col("alpha_words"), col("n_words")))
      .withColumn("rule_symbol",
        gopherRuleSymbol(col("n_hash"), col("n_ellipsis"), col("n_words")))
      .withColumn("keep_lines",
        col("rule_bullet") && col("rule_ellipsis") && col("rule_alpha") &&
          col("rule_symbol"))
      .orderBy("doc_id")
  }

  /** Gopher n-gram repetition metrics (t79): per document and n ∈ {2,3,4},
    * the most-frequent-n-gram count, the characters it covers, the
    * characters in all duplicate n-grams, their fractions of the doc's
    * non-whitespace chars, and the published threshold verdicts.
    *
    * Scale: like t47, entirely map-side — each stat is a sorted-array
    * max-run/banked-run scan in whole-stage codegen; NO groupBy(doc_id,
    * ngram), so nothing proportional to token count ever crosses a shuffle.
    * (Fractions can exceed 1.0 under extreme repetition because overlapping
    * n-gram occurrences each count their chars — same as the published
    * recipe; the caps only need monotonicity in repetition.)
    */
  def t79NgramRepetition(s: SparkSession, d: String): DataFrame = {
    def trunc4(c: Column): Column = floor(c * 10000) / 10000
    def frac(num: Column): Column =
      when(col("n_chars") > 0L,
        trunc4(num.cast("double") / col("n_chars"))).otherwise(lit(0.0))
    val ws = words(col("text"))
    val nAlpha = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val base = documents(s, d).select(
      Seq(col("doc_id"), nAlpha.as("n_chars")) ++
        (2 to 4).map(n =>
          ngramStats(array_sort(ngrams(ws, n)), n).as(s"s$n")): _*)
    val withStats = (2 to 4).foldLeft(base) { (df, n) =>
      df.withColumn(s"top${n}_cnt", col(s"s$n").getField("cnt"))
        .withColumn(s"top${n}_chars", col(s"s$n").getField("topc"))
        .withColumn(s"dup${n}_chars", col(s"s$n").getField("dupc"))
    }
    withStats
      .withColumn("top2_frac", frac(col("top2_chars")))
      .withColumn("dup2_frac", frac(col("dup2_chars")))
      .withColumn("top3_frac", frac(col("top3_chars")))
      .withColumn("dup3_frac", frac(col("dup3_chars")))
      .withColumn("top4_frac", frac(col("top4_chars")))
      .withColumn("dup4_frac", frac(col("dup4_chars")))
      .withColumn("rule_2g",
        gopherRuleTopNgram(2, col("top2_chars"), col("n_chars")))
      .withColumn("rule_3g",
        gopherRuleTopNgram(3, col("top3_chars"), col("n_chars")))
      .withColumn("rule_4g",
        gopherRuleTopNgram(4, col("top4_chars"), col("n_chars")))
      .drop("s2", "s3", "s4")
      .orderBy("doc_id")
  }

  /** Deterministic hash-based train/valid/test splitting — the reproducible
    * alternative to `sample()` (whose per-partition RNG changes assignment
    * with partitioning): bucket = md5(doc_id) mod 100, split by 80/10/10
    * bucket ranges. Pure map-side; any engine assigns every doc to the same
    * split forever, which is what makes held-out sets stable across corpus
    * versions.
    */
  def t66HashSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        (h48(col("doc_id").cast("string")) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid")
          .otherwise("test"))
      .orderBy("doc_id")

  /** Benchmark decontamination: flag corpus documents sharing word-shingles
    * with a benchmark/eval set (docs 0-9 stand in for the eval set here) —
    * the overlap check every serious training pipeline runs before
    * training. A doc with ≥20% of its shingles in the benchmark is flagged
    * (integer-compare threshold).
    *
    * Scale: the benchmark set is SMALL by definition, so its distinct
    * shingles broadcast; the corpus is shingled once map-side and makes one
    * partial-aggregated pass (broadcast left join + one groupBy) — overlap
    * counting never shuffles token volume.
    */
  def t67Decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val bench = sh.filter(col("doc_id") < 10).select("sh").distinct()
    val corp = sh.filter(col("doc_id") >= 10)
      .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("sh"), "left")
    corp.groupBy("doc_id")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_shared"),
        count(lit(1)).as("n_sh"))
      .filter(col("n_shared") >= 1)
      .withColumn("contaminated", col("n_shared") * 5 >= col("n_sh"))
      .orderBy("doc_id")
  }

  /** [[t67Decontaminate]]'s verdicts through the two-phase shape a 100 TB
    * decontamination actually runs: a 16 KiB Bloom filter pre-filters the
    * corpus shingles, and ONLY the surviving sliver reaches the exact
    * confirm join. Output is identical to t67 (the oracle IS t67's SQL):
    * the filter has no false negatives by construction, and its false
    * positives are killed by the confirm join — the Bloom stage can only
    * change the cost, never the answer. BloomSpec pins both halves
    * (zero false negatives on the real shingle set; pruning power).
    *
    * Why this wins at scale: t67 broadcasts the benchmark's distinct
    * shingle STRINGS — fine for one benchmark, but a production
    * decontamination sweep checks dozens of eval suites whose union no
    * longer broadcasts comfortably. The Bloom build is one
    * partial-aggregated pass (bytewise-OR mergeable state, O(16 KiB ×
    * partitions) shuffle regardless of suite size — [[BloomFilterAgg]]),
    * the probe is five masked loads per shingle inside whole-stage codegen
    * ([[graft.expressions.BloomMightContain]]), and the confirm join's
    * STREAM side shrinks to the survivor sliver — at real overlap rates
    * (~1e-3) three orders of magnitude below the corpus shingle stream.
    * The confirm's BUILD side is still the benchmark set: broadcast here
    * (it fits at this suite size, and broadcasting survivors instead
    * would re-shuffle nothing but also prove nothing); past the broadcast
    * threshold the same plan becomes a shuffle-hash join whose cost is
    * bounded by the tiny survivor stream, NOT the corpus — that
    * stream-side reduction, not the build side, is what the Bloom stage
    * buys. Build and probe share ONE hash expression (xxhash64 over the
    * shingle), so they cannot drift.
    */
  def t109BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = CacheRegistry.harness.add(shingles(s, d).persist())
    val benchSh = sh.filter(col("doc_id") < 10).select("sh").distinct()
    val bloomAgg = udaf(new BloomFilterAgg,
      org.apache.spark.sql.Encoders.scalaLong)
    val bloom = benchSh.agg(bloomAgg(xxhash64(col("sh"))).as("bloom"))
    graft.expressions.GraftFunctions.register(s)
    val corp = sh.filter(col("doc_id") >= 10)
    // the filter reaches the probe as a SCALAR SUBQUERY — evaluated once,
    // embedded as a plan literal. The tempting crossJoin(broadcast(bloom))
    // is a trap at scale: the join materializes the 16 KiB byte array INTO
    // every corpus row (16 KiB × rows of pure memcpy — measured 2.7× the
    // plain t67 at the 10× replica before this form; 1.4× after, the
    // residue being the second in-memory pass for n_sh). View name is
    // call-unique: a fixed name would clobber a user's view and race
    // concurrent t109 constructions in one session
    val view = s"t109_bloom_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    bloom.createOrReplaceTempView(view)
    val survivors = corp
      .filter(expr(
        s"bloom_might_contain((SELECT bloom FROM $view), xxhash64(sh))"))
    // exact confirm over the surviving sliver only; t67's verdict math
    // needs n_sh over ALL corpus shingles, so that count comes from the
    // pre-filter stream (same persisted scan, partial-aggregated)
    val nSh = corp.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val nShared = survivors
      .join(broadcast(benchSh.withColumn("hit", lit(1L))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_shared"))
    val out = nSh.join(nShared, Seq("doc_id"))
      .filter(col("n_shared") >= 1)
      .select(col("doc_id"), col("n_shared"), col("n_sh"),
        (col("n_shared") * 5 >= col("n_sh")).as("contaminated"))
      .orderBy("doc_id")
    // Dataset analysis is eager — the scalar subquery is already resolved
    // into the plan above, so the view can be dropped here instead of
    // leaking one catalog entry per invocation for the session's lifetime
    s.catalog.dropTempView(view)
    out
  }

  /** fastText-shaped quality classifier — the t112 query: a linear model
    * over HASHED bag-of-features (unigrams + adjacent bigrams → 1024
    * buckets), the exact architecture CCNet/LLaMA-style pipelines use for
    * learned quality filtering (Joulin et al. 2016's hashing trick; the
    * bigram channel is what lifts fastText over plain bag-of-words). The
    * weights here are deterministic md5-derived stand-ins — the POINT under
    * test is the feature/scoring plumbing, which is what an imported real
    * model would run through unchanged (its weights would land in the same
    * 1024-row broadcast table).
    *
    * All scoring is integer math (weights in [-1000, 1000], verdict
    * `score > 0`), so the oracle reproduces it bit for bit — no float
    * drift, no division-semantics trap.
    *
    * Scale: featurization is a map-side explode off the shared tokenizer;
    * the model join is a BROADCAST of the fixed 1024-row weight table
    * (hashing trick = model size is a constant, independent of vocabulary —
    * that is precisely why fastText scales to web corpora); the per-doc
    * collapse is one partial-aggregated groupBy. Nothing shuffles token
    * volume on the feature key.
    */
  def t112QualityClassifier(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    val bigrams = when(size(col("ws")) >= 2,
      transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val feats = documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        explode(concat(col("ws"), bigrams)).as("feat"))
    val model = s.range(1024).select(col("id").as("bucket"),
      ((h32(concat(lit("w:"), col("id").cast("string"))) % 2001) - 1000)
        .as("w"))
    feats
      .withColumn("bucket", h32(col("feat")) % 1024)
      .join(broadcast(model), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("w").as("score"))
      .withColumn("label", when(col("score") > 0, "keep").otherwise("drop"))
      .orderBy("doc_id")
  }

  /** The end-to-end corpus-cleaning pipeline, composed from the library's
    * own stages — the flagship "would a real training-data pipeline use
    * this?" query. Per document, three keep verdicts and their conjunction:
    *
    *  1. `keep_quality`  — t59's Gopher composite filter;
    *  2. `keep_exact`    — exact-dup keeper (d24's canonical fingerprint,
    *                       min-doc_id-wins);
    *  3. `keep_neardup`  — near-dup cluster representative (d26 MinHash+LSH
    *                       candidates → connected components → the
    *                       min-doc_id labeled representative survives;
    *                       unclustered docs trivially survive).
    *
    * Scale: stages 1+2 come from ONE documents scan — the Gopher verdict is
    * a map expression and the exact-dup keeper one window on the
    * fingerprint, so no corpus-corpus join exists for them at all. Stage 3
    * reuses the d26/d46 candidate machinery (equi-join candidates,
    * [[connectedComponents]]) and joins back as a single
    * shuffled-hash-hinted left join on doc_id (labels carry one row per
    * CLUSTERED doc only — no sort, no SMJ).
    */
  def t65CleanPipeline(s: SparkSession, d: String): DataFrame = {
    val keepQuality = gopherKeep(col("text"))
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    // NOT overlapped (r20, measured): priming `base` on a Par thread
    // (persist + count) forces EVERY column — 10-15 s of gopherKeep regex
    // work at sf0.1 that the un-persisted plan's consumers can prune when
    // they don't read the verdict columns (a count-rooted plan prunes the
    // window and the quality regexes outright; Catalyst cannot prune
    // through a cache build). Measured 3.5 s -> 12 s. The d137/d106
    // overlap survives because THEIR primed tables were already persisted
    // (or are narrow) — the cache build added no new column work there.
    val base = documents(s, d)
      .select(col("doc_id"), keepQuality.as("keep_quality"),
        md5(canon).as("fp"))
      .withColumn("keep_exact",
        col("doc_id") === min("doc_id").over(Window.partitionBy("fp")))
    val labels = connectedComponents(
      d26MinhashLsh(s, d).select(col("d1"), col("d2")))
    base.join(labels.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("keep_quality"), col("keep_exact"),
        (col("component").isNull || col("component") === col("doc_id"))
          .as("keep_neardup"))
      .withColumn("kept",
        col("keep_quality") && col("keep_exact") && col("keep_neardup"))
      .orderBy("doc_id")
  }

  /** The INCREMENTAL end-to-end cleaning pipeline — the d96 query and the
    * capstone of the incremental story: every stateful stage of
    * [[t65CleanPipeline]] re-expressed as mergeable per-batch state, the
    * two-batch run oracle-checked against the FULL-recompute t65 SQL
    * (the d84/d91 convention). Per stage:
    *
    *  1. `keep_quality` — stateless map expression, nothing to merge;
    *  2. `keep_exact`   — the exact-dup keeper is a (fp → min doc_id)
    *                      table, min-mergeable: each batch contributes its
    *                      own per-fp min and the union re-mins — at scale
    *                      the state is stored bucketed by fp and a batch
    *                      touches only its own fps. A later batch CAN
    *                      demote a prior keeper (a smaller doc_id arrives);
    *                      the verdict join below reads the CURRENT keeper
    *                      table, so prior docs' verdicts revise correctly
    *                      — the revision the one-shot oracle demands;
    *  3. `keep_neardup` — [[incrementalMinhashDedup]] pairs (O(batch)
    *                      probe of the accumulated band table) merged into
    *                      labels by [[incrementalConnectedComponents]]
    *                      (fixpoint over touched components only).
    *
    * Per-doc rows (doc_id, keep_quality, fp) append O(batch) per batch;
    * the final verdict join keys on fp and doc_id — both exchanges
    * partial-aggregable/bucketable. Proves the COMPOSED pipeline — not
    * just each operator — computes identical verdicts batch-by-batch and
    * one-shot.
    */
  def d96IncrementalPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = CacheRegistry.harness.add(
      documents(s, d).select(col("doc_id"), col("text")).persist())
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    def docState(b: DataFrame): DataFrame =
      b.select(col("doc_id"), gopherKeep(col("text")).as("keep_quality"),
        md5(canon).as("fp"))
    // exact-dup keeper state, min-mergeable across batches
    val fpState1 = docState(b1).groupBy("fp").agg(min("doc_id").as("keeper"))
    val fpState2 = fpState1
      .unionByName(docState(b2).groupBy("fp").agg(min("doc_id").as("keeper")))
      .groupBy("fp").agg(min("keeper").as("keeper"))
    // near-dup labels: incremental pairs -> incremental components.
    // Batch 1's label fixpoint and batch 2's pair probe are independent
    // (the probe reads sigs1, never labels1) — overlap them on driver
    // threads (guide §2.6, the d118/fusion Par pattern); the probe's
    // pair table is persisted and primed so the merge fixpoint reads it
    // from cache
    val empty = minhashSignatures(docs.filter(lit(false)))
    val (sigs1, pairs1) = incrementalMinhashDedup(empty, b1)
    val Seq(labels1, pairs2) = graft.ops.Par.run[DataFrame](s)(
      () => connectedComponents(pairs1.select("d1", "d2")),
      () => {
        val (_, p2) = incrementalMinhashDedup(sigs1, b2)
        val p2p = CacheRegistry.harness.add(p2.select("d1", "d2").persist())
        p2p.count()
        p2p
      })
    val labels2 = incrementalConnectedComponents(labels1, pairs2)
    // accumulated per-doc state (appended O(batch) per batch)
    val state = docState(b1).unionByName(docState(b2))
    // NULL-SAFE fp equality: md5(null text) is a null fp, and t65's window
    // (like the oracle's PARTITION BY) groups all null fps together — a
    // plain equi-join would silently DROP those docs instead. <=> is still
    // hash-joinable; null-text docs form one group like any other.
    state.join(fpState2.withColumnRenamed("fp", "kfp"),
        col("fp") <=> col("kfp"))
      .withColumn("keep_exact", col("doc_id") === col("keeper"))
      .join(labels2.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("keep_quality"), col("keep_exact"),
        (col("component").isNull || col("component") === col("doc_id"))
          .as("keep_neardup"))
      .withColumn("kept",
        col("keep_quality") && col("keep_exact") && col("keep_neardup"))
      .orderBy("doc_id")
  }

  /** PII detection + redaction: email/phone/IPv4 regex counts and the
    * fingerprint of the redacted text. Documents are synthetic, so a
    * deterministic PII suffix derived from doc_id is appended first — the
    * point is the scan/redact plumbing (map-only, codegen regex), with the
    * oracle constructing the identical suffix.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def t48PiiScan(s: SparkSession, d: String): DataFrame = {
    val pii = concat(col("text"),
      lit(" contact uid."), col("doc_id"), lit("@example.org tel "),
      lit("555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0"),
      lit(" host 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"))
    def n(pat: String): Column =
      size(regexp_extract_all(pii, lit(pat), lit(0))).cast("long")
    // redact emails first (they contain dots/digits the IP pattern could
    // otherwise bite into), then phones, then IPs
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(pii, EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>"),
      IpPat, "<IP>")
    documents(s, d)
      .select(col("doc_id"),
        n(EmailPat).as("n_emails"),
        n(PhonePat).as("n_phones"),
        n(IpPat).as("n_ips"),
        md5(redacted).as("red_fp"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster assignment: connected components over the MinHash-LSH
    * candidate pairs ([[d26MinhashLsh]]), labeling every clustered doc with
    * the minimum doc_id reachable from it — the "pick one representative per
    * duplicate group" step of corpus dedup.
    *
    * Scale: [[connectedComponents]] over the pair list, never the corpus:
    * one union-find task while the pairs fit an executor, large-star /
    * small-star rounds above that.
    */
  def d46DedupClusters(s: SparkSession, d: String): DataFrame = {
    val edges = d26MinhashLsh(s, d).select(col("d1"), col("d2"))
    val labels = connectedComponents(edges)
    val byComp = Window.partitionBy("component")
    labels
      .withColumn("csize", count(lit(1)).over(byComp))
      .orderBy("doc_id")
  }

  /** Connected components of an undirected edge list (`d1`, `d2` node-id
    * columns): every node ends labeled with the minimum node id in its
    * component. Returns (doc_id, component).
    *
    * Two paths, one answer. The edge list is checkpointed once, and that
    * checkpoint's own job counts it (an [[org.apache.spark.sql.Observation]]
    * on the frame, so the count costs no job):
    *  - at most `localEdgeBound` edges ([[unionFindEdgeBound]] by default):
    *    [[UnionFind]] folds every edge in ONE executor task. Two jobs per
    *    call: the edge checkpoint and the label checkpoint. At the sizes
    *    the suite's dedup graphs have, the fixed per-job cost of the
    *    distributed rounds, not the data, sets the latency;
    *  - above it, or when the count does not arrive: the distributed
    *    large-star / small-star rounds (Kiveris et al., "Connected
    *    Components in MapReduce and Beyond", SoCC 2014) of
    *    [[starComponents]].
    *
    * Input contract, both paths: an edge with a null endpoint is no edge.
    * It is dropped first, and its other endpoint is labeled only when
    * another edge names it. A self-loop makes its node a node: a node whose
    * only edge is a self-loop is labeled as itself. Node ids are integral:
    * the union-find folds them as `long` and casts the labels back.
    */
  def connectedComponents(edges: DataFrame,
      reg: CacheRegistry = CacheRegistry.harness,
      localEdgeBound: SparkContext => Long = unionFindEdgeBound): DataFrame = {
    val counted = Observation()
    // one eager localCheckpoint truncates the caller's edge lineage before
    // anything else: the edge plan executes exactly ONCE, and each later
    // plan walks a 3-node LogicalRDD tree instead of the full caller plan —
    // decisive for deep composed edge plans (the round-11 incremental
    // Hamming pairs inflated each CC round ~5× through optimizer cost
    // alone, measured at sf0.1: 18 s → 4 s for the same 35k-edge graph)
    val (e0, eckRdd) = truncate(
      edges.select(col("d1"), col("d2"))
        .filter(col("d1").isNotNull && col("d2").isNotNull)
        .observe(counted, count(lit(1)).as("edges")),
      eager = true)
    // The incremental callers' edge plans end in union/anti-join stages
    // whose CHECKPOINTED layout concatenates every upstream stage's
    // partitions (AQE coalesces shuffle outputs, but a checkpoint captures
    // the raw final-stage layout — d126's edge table arrives as 161
    // near-empty partitions for ~35k edges). Narrow-coalesce back to the
    // session's parallelism — the exact mirror of Spread.byKey (guide
    // §2.5: match partition count to cores from both sides), a no-op
    // whenever the layout is already at or under core count, and
    // partitioning-only (results unchanged).
    val sc = e0.sparkSession.sparkContext
    val par = sc.defaultParallelism
    val e = if (eckRdd.getNumPartitions > par) e0.coalesce(par) else e0
    val idType = e.select(least(col("d1"), col("d2"))).schema.head.dataType
    // Spark completes an observation from the listener bus, after the
    // checkpoint's action has returned: wait for it, bounded. The
    // optimizer prunes the metrics of an empty edge plan with the plan
    // (an empty row: zero edges).
    val edgeCount =
      try {
        Await.ready(counted.future, CountWait)
        Some(counted.get.getOrElse("edges", 0L).asInstanceOf[Long])
      } catch { case _: TimeoutException => None }
    val (labels, labelsRdd) =
      if (edgeCount.exists(_ <= localEdgeBound(sc))) {
        val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
        val folded = e.select(col("d1").cast("long"), col("d2").cast("long"))
          .as(pair).coalesce(1)
          .mapPartitions { it =>
            val uf = new UnionFind
            it.foreach { case (a, b) => uf.union(a, b) }
            uf.labels
          }(pair)
          .select(col("_1").cast(idType).as("doc_id"),
            col("_2").cast(idType).as("component"))
        truncate(folded, eager = true)
      } else starComponents(e)
    // the edge checkpoint's blocks fed only the labels, which are
    // materialized now; release them (RDD-level blocks — Dataset.unpersist
    // and clearCache cannot see them)
    eckRdd.unpersist(false)
    // the label checkpoint backs the RETURNED table; register its RDD in
    // the caller's registry for release once the labels' consumer has run
    // its action (a released localCheckpoint cannot be re-executed)
    reg.addRdd(labelsRdd)
    labels
  }

  /** How long [[connectedComponents]] (and
    * [[graft.multimodal.Multimodal.incrementalHammingPairs]]) waits for its
    * count before it takes the distributed path. The count arrives through
    * the listener bus moments after the checkpoint's job.
    */
  private[graft] val CountWait = 10.seconds

  /** Bytes of heap a [[UnionFind]] fold needs per edge at its peak,
    * measured where it is worst: every edge brings two new nodes, and the
    * node count has just passed a power of two, so every array has just
    * doubled. A fold of 4,195,304 such edges (8,390,608 nodes, just past
    * 2^23) ran out of memory in a JVM at -Xmx440m and finished at -Xmx460m
    * (ParallelGC): 110–115 bytes per edge, rounded up.
    */
  private val UnionFindBytesPerEdge = 128L

  /** How far under the bound a fold stays: the fold's arrays are plain
    * heap, outside Spark's memory accounting, and share the executor with
    * the cached blocks that storage memory holds.
    */
  private val UnionFindSafety = 4L

  /** The largest edge count [[connectedComponents]] folds in one task: the
    * smallest block manager's storage memory (the driver's included, a
    * conservative choice) over [[UnionFindBytesPerEdge]] ×
    * [[UnionFindSafety]]. Max, not remaining, memory: the choice of path
    * does not depend on what happens to be cached.
    */
  private[ops] def unionFindEdgeBound(sc: SparkContext): Long =
    sc.getExecutorMemoryStatus.values.map(_._1).min /
      (UnionFindBytesPerEdge * UnionFindSafety)

  /** The distributed path of [[connectedComponents]]: alternating
    * large-star and small-star rounds (Kiveris et al., SoCC 2014) over the
    * edge list `e`, each edge held oriented as (a, b) with a ≤ b. Returns
    * the labels and their checkpoint's backing RDD.
    *
    * Per round, over the current edges G:
    *  - the labels ℓ(v) = min of v and its neighbors (one groupBy). The
    *    label sum of G is the convergence test: exact, in DECIMAL(38,0) (a
    *    raw Long sum could wrap at billions of nodes and fake a fixpoint);
    *  - large-star: each edge (a, b) becomes (ℓ(a), b), connecting every
    *    larger neighbor of a to a's smallest neighbor (a join on a);
    *  - small-star: per node v, every smaller-or-equal neighbor of v and v
    *    itself connect to the minimum of those neighbors (a window min
    *    over the edges' larger end), then distinct.
    * Both stars keep every node and its connectivity. Self-loops ride
    * along: they keep a node whose only edge is one, and they only add
    * edges inside a component.
    *
    * Why the label-sum test is exact, and why n round pairs bound the
    * loop. Labels only fall: large-star hands each node its smaller
    * neighbors' labels, and small-star the minimum of its smaller
    * neighbors. Let c be a component's minimum id, and say a node is
    * right when ℓ = c. Both stars keep c's neighbors adjacent to c, so a
    * right node stays right. If some node is wrong, the component is
    * still connected and c's neighbors are right, so an edge (x, y) joins
    * a right x ≠ c to a wrong y. If y > x, large-star joins y to
    * ℓ(x) = c. If y < x, small-star at x joins ℓ(y) to c, so ℓ(y) turns
    * right; when ℓ(y) was right already, large-star at ℓ(y) joins y to c.
    * So every round pair that starts with a wrong node ends with fewer
    * wrong nodes, and the label sum falls. Equal sums therefore mean the
    * labels are final, and the loop takes at most n round pairs on n
    * nodes, the last of which sees no change. In practice it is far
    * fewer: in a model of these rounds, shuffled-id paths of 10³ and 10⁵
    * nodes took 9 and 14 round pairs, and random trees of 10³–10⁵ nodes
    * 6–9.
    */
  private def starComponents(e: DataFrame): (DataFrame, RDD[_]) = {
    def labelsOf(g: DataFrame): DataFrame =
      g.select(col("a").as("doc_id"), col("a").as("component"))
        .union(g.select(col("b"), col("a")))
        .groupBy("doc_id").agg(min("component").as("component"))
    var g = e.select(least(col("d1"), col("d2")).as("a"),
      greatest(col("d1"), col("d2")).as("b"))
    // every round's tables are LAZY checkpoints (eager = false): the
    // label-sum probe is itself a full-partition action, so it
    // materializes this round's edge and label checkpoints AND computes
    // the sum in one job chain — an eager checkpoint would add a count()
    // job per table. Their blocks live at the RDD level, where
    // Dataset.unpersist and clearCache cannot see them, so each round
    // frees the previous round's directly.
    var (labels, labelsRdd) = truncate(labelsOf(g), eager = false)
    val first = labels.agg(labelSumCol, count(lit(1))).head()
    var sum = first.getDecimal(0)
    val nodes = first.getLong(1)
    var freeEdges: () => Unit = () => ()
    var converged = nodes == 0
    var rounds = 0L
    while (!converged) {
      // returning a partial labeling would silently split one true
      // component into several: past the proven bound, fail loudly
      if (rounds >= nodes) throw new IllegalStateException(
        s"connectedComponents did not converge within $nodes round pairs " +
          s"on $nodes nodes, the proven bound: a logic bug")
      val stars = g.join(labels, col("a") === col("doc_id"))
        .select(col("component").as("p"), col("b").as("c"))
        .withColumn("m", min("p").over(Window.partitionBy("c")))
      val (nextG, gRdd) = truncate(
        stars.select(col("m").as("a"), col("p").as("b"))
          .union(stars.select(col("m"), col("c")))
          .distinct(),
        eager = false)
      val (next, nextRdd) = truncate(labelsOf(nextG), eager = false)
      val nextSum = next.agg(labelSumCol).head().getDecimal(0)
      converged = nextSum.compareTo(sum) == 0
      freeEdges()
      freeEdges = () => { gRdd.unpersist(false); () }
      labelsRdd.unpersist(false)
      g = nextG
      labels = next
      labelsRdd = nextRdd
      sum = nextSum
      rounds += 1
    }
    freeEdges()
    (labels, labelsRdd)
  }

  /** The condensed edge list of an incremental CC step: each new edge's
    * endpoints are mapped to their prior component label (themselves when
    * previously unseen), and edges that land inside one prior component are
    * dropped — they carry no new connectivity. Contracting a component to
    * its label node preserves reachability (every member is connected
    * through the label by definition of the prior fixpoint), so the union
    * graph's components are exactly the components of this condensed graph.
    * Crucially, a component NONE of whose members touches a new edge
    * appears in no condensed edge at all — the fixpoint that follows never
    * sees it. Factored out of [[incrementalConnectedComponents]] so the
    * spec can assert that untouched components stay out of the loop
    * structurally, not just by timing.
    *
    * Input contract: `newEdges` are PAIRS of distinct docs, the shape every
    * in-repo pair generator emits ([[incrementalMinhashDedup]] and the
    * other candidate generators never produce d1 == d2). A node whose ONLY
    * edge is a self-loop is therefore out of contract; it is dropped here
    * (the d1 =!= d2 filter fires either on the raw ids or on the two equal
    * prior labels), so [[incrementalConnectedComponents]] would omit it
    * where a full recompute over the union edge list would emit it labeled
    * as itself. Callers with general edge lists must pre-filter self-loops
    * and register such nodes as singletons themselves. An edge with a null
    * endpoint is dropped here too (`d1 =!= d2` is null for it), the same
    * contract as [[connectedComponents]]': it is no edge.
    */
  private[ops] def condenseEdges(priorLabels: DataFrame, newEdges: DataFrame)
      : DataFrame = {
    val l1 = priorLabels.select(col("doc_id").as("d1"),
      col("component").as("c1"))
    val l2 = priorLabels.select(col("doc_id").as("d2"),
      col("component").as("c2"))
    newEdges.select(col("d1"), col("d2"))
      .join(l1, Seq("d1"), "left")
      .join(l2, Seq("d2"), "left")
      .select(coalesce(col("c1"), col("d1")).as("d1"),
        coalesce(col("c2"), col("d2")).as("d2"))
      .filter(col("d1") =!= col("d2"))
  }

  /** Incremental connected components — the d84 pattern applied to d46's
    * cluster labels: merge ONE BATCH of new near-dup edges into an existing
    * labeling without re-running the fixpoint over the accumulated graph.
    *
    * `priorLabels` is a valid min-label fixpoint (doc_id, component) of all
    * previously-seen edges — [[connectedComponents]]' output, or this
    * function's own from the previous batch. `newEdges` is the batch's
    * (d1, d2) pair list (e.g. [[incrementalMinhashDedup]]'s second result).
    * Returns the labeling of the UNION graph, provably equal to a full
    * recompute (IncrementalCcSpec), because:
    *
    *  - the condensed graph ([[condenseEdges]]) has one node per TOUCHED
    *    prior component plus the batch's new docs; running
    *    [[connectedComponents]] over it yields, per merged component, the
    *    min over {touched components' labels} ∪ {new doc ids} — and a prior
    *    label is already the min of its members, so that IS the union
    *    graph's min;
    *  - prior rows relabel through one broadcast-size map join
    *    (old label → merged label; at most one row per touched component);
    *    rows of untouched components miss the map and pass through
    *    unchanged, never entering a shuffle keyed on anything but their own
    *    label.
    *
    * Per-batch cost is therefore O(|batch edges| + |touched components|)
    * for the fixpoint plus one map-side relabel pass over the label table —
    * the accumulated EDGE set is never revisited (it isn't even an input),
    * closing the last O(corpus)-per-batch step in the incremental story.
    */
  def incrementalConnectedComponents(priorLabels: DataFrame,
      newEdges: DataFrame, reg: CacheRegistry = CacheRegistry.harness)
      : DataFrame = {
    // persist(): prior labels feed the two condense map joins, the relabel
    // pass, and the new-node anti-join — four consumers of one compact
    // (doc_id, component) table
    val prior = priorLabels.select(col("doc_id"), col("component")).persist()
    reg.add(prior)
    val condensed = connectedComponents(condenseEdges(prior, newEdges), reg)
      .persist()
    reg.add(condensed)
    // docs first seen in this batch: condensed nodes absent from the prior
    // labeling (a condensed node is either a prior component label — which
    // IS a labeled doc — or a brand-new doc)
    val newNodes = condensed
      .join(prior.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("component"))
      .persist()
    reg.add(newNodes)
    // old label → merged label, only where the label actually changed AND
    // doc_id is a prior component label — the anti-join against newNodes
    // (itself broadcast-size) strips the one-row-per-clustered-NEW-doc mass
    // that would otherwise ride along: those rows can never match a prior
    // component (a new doc id is by definition not a prior label), so
    // keeping them was correct but made the broadcast scale with
    // O(clustered batch docs) instead of the intended
    // O(touched components)
    val relabel = condensed
      .filter(col("doc_id") =!= col("component"))
      .join(broadcast(newNodes.select("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("old_label"), col("component").as("new_label"))
    val updatedPrior = prior
      .join(broadcast(relabel), prior("component") === relabel("old_label"),
        "left")
      .select(prior("doc_id"),
        coalesce(col("new_label"), prior("component")).as("component"))
    updatedPrior.unionByName(newNodes)
  }

  /** Two-batch incremental cluster maintenance over the whole corpus,
    * oracle-checked against the FULL-recompute SQL (the d46 oracle): the
    * corpus splits into the same even/odd-doc_id batches as
    * [[d84IncrementalDedup]], batch 1's pairs are labeled from scratch,
    * batch 2's pairs merge into those labels via
    * [[incrementalConnectedComponents]] — and the merged labeling (plus
    * per-component sizes) must equal [[d46DedupClusters]]' one-shot result
    * exactly. Runs the incremental-label path through the driver's
    * correctness gate rather than only a spec.
    */
  def d91IncrementalCc(s: SparkSession, d: String): DataFrame = {
    // persist(): the harness reruns the whole two-batch pipeline, and both
    // batches (plus the empty-signature seed) filter this one scan — without
    // it the parquet read + tokenize repeats per batch
    val docs = documents(s, d).select(col("doc_id"), col("text")).persist()
    CacheRegistry.harness.add(docs)
    val empty = minhashSignatures(docs.filter(lit(false)))
    val (sigs1, pairs1) =
      incrementalMinhashDedup(empty, docs.filter(col("doc_id") % 2 === 0))
    // batch 1's label fixpoint overlaps batch 2's pair probe (the d96
    // pattern — the probe reads sigs1, never labels1)
    val Seq(labels1, pairs2) = Par.run[DataFrame](s)(
      () => connectedComponents(pairs1.select("d1", "d2")),
      () => {
        val (_, p2) = incrementalMinhashDedup(sigs1,
          docs.filter(col("doc_id") % 2 === 1))
        val p2p = CacheRegistry.harness.add(p2.select("d1", "d2").persist())
        p2p.count()
        p2p
      })
    val labels2 = incrementalConnectedComponents(labels1, pairs2)
    labels2
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("component")))
      .orderBy("doc_id")
  }

  /** Heal incremental CC label state after a tombstone batch — the ONE
    * delete an anti-join cannot perform: removing a doc that bridges two
    * sub-clusters must SPLIT its component, and monotone min-label
    * propagation can never raise a label, so the accumulated labeling
    * holds no trace of where a component would come apart. The fix is the
    * condensation idea ([[condenseEdges]]) run in reverse:
    *
    *  - `touched` = the components holding at least one deleted doc — the
    *    ONLY components whose labeling can change (deleting a doc removes
    *    edges strictly inside its own component; no other component gains
    *    or loses an edge). At most one label per deleted doc: a compact,
    *    broadcastable set.
    *  - those components' SURVIVING edges re-run [[connectedComponents]]
    *    from scratch — O(touched-component edges), never the
    *    corpus. Both endpoint semi-joins key on the (broadcast)
    *    surviving-touched-member set, so the accumulated pair state is
    *    scanned map-side and never shuffled; an edge's endpoints share a
    *    component by the fixpoint invariant, so one membership test per
    *    endpoint both scopes the edge AND drops edges with a dead end.
    *  - rows of untouched components pass through one broadcast anti-join
    *    on the label; survivors of touched components take the re-run's
    *    labels, and survivors left edge-less drop out of the clustered
    *    set (the one-shot semantics — clusters exist only where pairs do).
    *
    * REPLAY FIXPOINT: after one heal no deleted doc remains labeled, so
    * re-applying the same tombstone batch finds `touched` empty and the
    * heal is the identity (TombstoneCcSpec asserts it, plus a designed
    * bridge-delete split case). The reference's `clean()` analog
    * (betfairdatabase/database.py:188-230) for graph-shaped state: stale
    * rows leave, and the index heals — here by re-deriving exactly the
    * affected fragment labels.
    */
  def ccTombstoneHeal(priorLabels: DataFrame, edges: DataFrame,
      deleted: DataFrame, reg: CacheRegistry = CacheRegistry.harness)
      : DataFrame = {
    // persist(): the label table feeds the touched semi-join, the member
    // scoping join, and the final pass-through anti-join
    val lbl = reg.add(
      priorLabels.select(col("doc_id"), col("component")).persist())
    val del = deleted.select("doc_id")
    val touched = lbl.join(del, Seq("doc_id"), "left_semi")
      .select("component").distinct()
    val touchedMembers = lbl.join(broadcast(touched), Seq("component"))
      .join(del, Seq("doc_id"), "left_anti")
      .select("doc_id")
    val touchedEdges = edges.select(col("d1"), col("d2"))
      .join(broadcast(touchedMembers.withColumnRenamed("doc_id", "d1")),
        Seq("d1"), "left_semi")
      .join(broadcast(touchedMembers.withColumnRenamed("doc_id", "d2")),
        Seq("d2"), "left_semi")
    val relabeled = connectedComponents(touchedEdges, reg)
    lbl.join(broadcast(touched), Seq("component"), "left_anti")
      .select(col("doc_id"), col("component"))
      .unionByName(relabeled.select(col("doc_id"), col("component")))
  }

  /** Tombstoned incremental CC — the d128 query, completing the delete
    * matrix across every stateful family (d123 keeper states, d126 pair
    * states, v127 index states, and now the LABEL state — the one whose
    * deletes are algorithmically hard, see [[ccTombstoneHeal]]): the d91
    * two-batch incremental labeling takes a tombstone batch
    * (doc_id % 7 == 3), and the healed labeling (plus component sizes)
    * must equal the full-recompute clustering of the SURVIVING pair set —
    * the oracle is the d46 reachability SQL over pairs with both ends
    * surviving. A deleted bridge doc genuinely splits its component here
    * (the sf corpus has multi-doc near-dup chains), so the query runs the
    * split machinery through the driver's correctness gate, not only the
    * spec.
    */
  def d128TombstoneCc(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text")).persist()
    CacheRegistry.harness.add(docs)
    val empty = minhashSignatures(docs.filter(lit(false)))
    val (sigs1, pairs1raw) =
      incrementalMinhashDedup(empty, docs.filter(col("doc_id") % 2 === 0))
    // persist(): each batch's pairs feed BOTH the label build and the
    // accumulated pair state the heal scans
    val pairs1 = CacheRegistry.harness.add(
      pairs1raw.select("d1", "d2").persist())
    // batch 1's label fixpoint overlaps batch 2's pair probe (the d96
    // pattern — the probe reads sigs1, never labels1)
    val Seq(labels1, pairs2) = Par.run[DataFrame](s)(
      () => connectedComponents(pairs1),
      () => {
        val (_, p2raw) = incrementalMinhashDedup(sigs1,
          docs.filter(col("doc_id") % 2 === 1))
        val p2 = CacheRegistry.harness.add(p2raw.select("d1", "d2").persist())
        p2.count()
        p2
      })
    val labels2 = incrementalConnectedComponents(labels1, pairs2)
    val pairState = pairs1.unionByName(pairs2)
    val deleted = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    ccTombstoneHeal(labels2, pairState, deleted)
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("component")))
      .orderBy("doc_id")
  }

  /** Unicode NFC normalization via the native `nfc_normalize` expression
    * ([[graft.expressions.NfcNormalize]] — codegen'd, no UDF boundary).
    * Web-crawled corpora carry the same visible text both composed (U+00E9)
    * and decomposed (U+0065 U+0301); unless canonicalized first, every
    * downstream fingerprint/shingle/dedup operator treats the two as
    * different documents. The synthetic docs are ASCII, so a deterministic
    * mixed-form suffix keyed on doc_id parity exercises the real
    * normalization path: even docs get the composed form, odd docs the
    * decomposed one, and after NFC both collapse to identical bytes —
    * exactly the property that makes post-NFC fingerprints dedup-safe.
    *
    * Scale: pure map-side; the `Normalizer.isNormalized` fast path makes
    * the overwhelmingly-ASCII common case a scan with zero allocation.
    */
  def t68NfcNormalize(s: SparkSession, d: String): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    documents(s, d)
      .withColumn("raw",
        concat(col("text"),
          // even docs: composed U+00E9; odd docs: decomposed U+0065 U+0301
          when(col("doc_id") % 2 === 0, lit(" caf\u00E9 r\u00E9sum\u00E9"))
            .otherwise(lit(" cafe\u0301 re\u0301sume\u0301"))))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(expr("nfc_normalize(raw)")).cast("long").as("n_norm"),
        (expr("nfc_normalize(raw)") =!= col("raw")).as("changed"),
        md5(expr("nfc_normalize(raw)")).as("fp_norm"))
      .orderBy("doc_id")
  }

  /** Greedy contiguous sequence packing — the pretraining step that
    * concatenates the token stream and slices it into fixed-size context
    * windows; each document is assigned the pack its first token lands in
    * (pack = exclusive-cumsum(tokens) div budget).
    *
    * Scale: a single global token stream would mean a one-partition window
    * (the classic scale-killer). Documents are instead sharded by hash into
    * independent streams and each shard packs its own token stream, so the
    * window partitions by shard and parallelizes to any executor count
    * while staying fully deterministic.
    */
  def t69PackSequences(s: SparkSession, d: String): DataFrame = {
    val budget = 512L
    val toks = documents(s, d).select(col("doc_id"),
      pmod(col("doc_id"), lit(16L)).as("shard"),
      size(words(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("start_tok", sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("start_tok") / budget.toDouble).cast("long").as("pack_id"),
        (col("start_tok") % budget).as("pack_offset"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: per-language keep rates (downsample
    * the dominant language, keep the tail — the standard corpus-mixing
    * lever) applied via the same md5-bucket construction as t66. The draw
    * is a pure function of doc_id, so re-sampling after a corpus append
    * never reshuffles previously-sampled docs — unlike `sample()`, whose
    * per-partition RNG changes assignment with partitioning.
    *
    * Scale: map-only. The rate table is a literal CASE here; production
    * would broadcast-join a config table — same plan shape.
    */
  def t70StratifiedSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("bucket",
        h48(concat(col("doc_id").cast("string"), lit(":strat"))) % 100)
      .withColumn("rate",
        when(col("lang") === "en", 40L)
          .when(col("lang") === "zh", 70L)
          .otherwise(100L))
      .filter(col("bucket") < col("rate"))
      .select("doc_id", "lang", "bucket", "rate")
      .orderBy("doc_id")

  /** Per-source cap/drop enforcement — the t100 query, executing the
    * keep/cap/drop decision t58's per-source rollup exists to feed. The
    * policy is derived deterministically per source (an md5 draw on the
    * source name splits sources into drop / cap / keep; capped sources
    * get a DATA-DRIVEN cap of ⌊7·n_docs/10⌋ from the rollup), and the cap
    * is enforced EXACTLY with t70's deterministic md5-bucket draw: a doc
    * survives iff its rank in the (bucket, h, doc_id) order is ≤ cap —
    * a pure function of the corpus, so re-running after an append never
    * flips an already-kept doc arbitrarily (no RNG, no partitioning
    * dependence).
    *
    * Scale — the point of the two-phase shape: capping a billion-doc
    * source must NOT sort the source (a per-source global rank window
    * puts the whole source on one partition). Phase 1 aggregates the
    * (source × 100)-row bucket histogram (partial-aggregable) and
    * classifies each bucket against the cap's cumulative position: fully
    * kept, fully dropped, or THE boundary bucket. Phase 2 ranks only the
    * boundary bucket's docs (~1/100 of the source) in a
    * (source, bucket)-partitioned window; every other doc's verdict is a
    * broadcast-joined bucket flag. The DuckDB oracle states the same
    * selection as one per-source rank window — identical verdicts, the
    * simple spec vs the scale implementation (asserted equal in
    * SourceCapSpec).
    */
  def t100SourceCap(s: SparkSession, d: String): DataFrame = {
    // persist(): the drawn doc table feeds the policy rollup, the bucket
    // histogram, and the final verdict join
    val base = CacheRegistry.harness.add(
      documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("h", h48(concat(col("doc_id").cast("string"), lit(":cap"))))
        .withColumn("bucket", col("h") % 100)
        .persist())
    val policy = base.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("pdraw", h48(concat(col("source"), lit(":policy"))) % 10)
      .select(col("source"), col("n_docs"),
        when(col("pdraw") < 2, lit("drop"))
          .when(col("pdraw") < 6, lit("cap"))
          .otherwise(lit("keep")).as("policy"),
        when(col("pdraw") >= 2 && col("pdraw") < 6,
          expr("(n_docs * 7) div 10"))
          .otherwise(lit(null).cast("long")).as("cap"))
    // phase 1: bucket histogram + cumulative position vs the cap. The
    // running sum's window is over the HISTOGRAM (≤100 rows per source),
    // not the docs.
    val hist = base.groupBy("source", "bucket").agg(count(lit(1)).as("bcnt"))
    val wcum = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bclass = hist
      .withColumn("cum_before", coalesce(sum("bcnt").over(wcum), lit(0L)))
      .join(policy.filter(col("policy") === "cap")
        .select(col("source"), col("cap")), Seq("source"))
      .select(col("source"), col("bucket"), col("bcnt"),
        greatest(lit(0L), least(col("bcnt"), col("cap") - col("cum_before")))
          .as("quota"))
      .withColumn("whole_verdict",
        when(col("quota") === col("bcnt"), lit(true))
          .when(col("quota") === 0, lit(false))
          .otherwise(lit(null).cast("boolean")))
    // phase 2: only boundary-bucket docs (whole_verdict null) are ranked
    val cappedDocs = base.join(bclass, Seq("source", "bucket"))
    val wInBucket = Window.partitionBy("source", "bucket")
      .orderBy("h", "doc_id")
    val boundary = cappedDocs.filter(col("whole_verdict").isNull)
      .withColumn("rk", row_number().over(wInBucket).cast("long"))
      .select(col("doc_id"), (col("rk") <= col("quota")).as("kept_cap"))
    val whole = cappedDocs.filter(col("whole_verdict").isNotNull)
      .select(col("doc_id"), col("whole_verdict").as("kept_cap"))
    base.join(broadcast(policy), Seq("source"))
      .join(boundary.unionByName(whole), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("policy"), col("cap"),
        when(col("policy") === "drop", lit(false))
          .when(col("policy") === "keep", lit(true))
          .otherwise(col("kept_cap")).as("kept"))
      .orderBy("doc_id")
  }

  /** The training-manifest capstone — the t125 query: ONE deterministic
    * dataflow composing the pipeline a pretraining run actually executes,
    * each stage the repo's already-audited operator:
    *
    *  1. t100 source cap — per-source keep/cap/drop policy verdicts;
    *  2. d118 full multimodal gate — drop any doc some modality calls a
    *     duplicate of something kept (text/image/audio/video/URL);
    *  3. t72 temperature mixture (T=0.5) — rates computed over the GATED
    *     corpus (the composition point: mixing before dedup would weight
    *     languages by their duplicate counts), applied per doc with the
    *     append-stable md5-bucket draw;
    *  4. t88 shuffle-shard — survivors keyed by the seeded hash, sharded,
    *     and ranked in shuffle order;
    *  5. t69 greedy packing — per-shard token cumsum IN SHUFFLE ORDER
    *     (the order the trainer reads), sliced into 512-token windows.
    *
    * Output: the (shard, ord, doc_id) manifest with each doc's pack
    * coordinates — what a data loader consumes. The oracle composes the
    * five sub-oracles verbatim (the d118 convention), so this query
    * proves the WHOLE pipeline, not just dedup, is one reproducible
    * dataflow.
    *
    * Scale: stages 1-3 are the member queries' audited plans joined on
    * doc_id; stages 4-5 are one window pass per shard over the surviving
    * (compact) manifest rows — the corpus's text is read once (stage 3's
    * token counts ride along from the base scan).
    */
  def t125TrainingManifest(s: SparkSession, d: String): DataFrame =
    manifestFrom(s, d, None)

  /** The t125 pipeline over an optional SELECTION pool — shared by t125
    * (no selection: the whole corpus enters the cap) and t159 (the DSIR
    * keep set enters ahead of the cap). `sel` holds one `doc_id` column.
    */
  private def manifestFrom(s: SparkSession, d: String,
      sel: Option[DataFrame]): DataFrame = {
    // the cap verdict and the selection pool are independent of the
    // multimodal gate until stage1's join, and the gate's construction
    // runs an eager fixpoint — prime them on driver threads inside that
    // window (guide §2.6, the d118 pattern)
    // persist, NOT lineageCheckpoint (r20, measured): a checkpointed
    // list's LogicalRDD reports defaultSizeInBytes, so stage1's joins
    // lose their auto-broadcast and re-shuffle the corpus side — t125
    // 6.9 -> 8.5 s. The InMemoryRelation keeps real stats (broadcast at
    // this scale, SMJ when the survivor lists outgrow the threshold),
    // which is the scale-adaptive choice; the plan-text cost stays.
    def prime(df: DataFrame): DataFrame = {
      val p = CacheRegistry.harness.add(df.persist()); p.count(); p
    }
    val thunks: Seq[() => DataFrame] = Seq(
      () => graft.multimodal.Multimodal.d118FullMultimodalGate(s, d)
        .filter(col("kept")).select("doc_id"),
      () => prime(t100SourceCap(s, d).filter(col("kept")).select("doc_id"))
    ) ++ sel.map(p => () => prime(p))
    val primed = Par.run[DataFrame](s)(thunks: _*)
    val gate = primed(0)
    val cap = primed(1)
    val selP = sel.map(_ => primed(2))
    val base = documents(s, d).select(col("doc_id"), col("lang"),
      size(words(col("text"))).cast("long").as("n_tokens"))
    // persist(): the gated survivor table feeds the rate aggregation and
    // the mixture join
    val stage1 = CacheRegistry.harness.add(
      selP.foldLeft(base.join(cap, "doc_id").join(gate, "doc_id"))(
        (df, k) => df.join(k, "doc_id")).persist())
    val counts = stage1.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val nmin = counts.agg(min("n_docs").as("n_min"))
    val rates = counts.crossJoin(broadcast(nmin))
      .withColumn("keep_permille",
        floor(sqrt(col("n_min").cast("double") / col("n_docs")) * 1000)
          .cast("long"))
      .select("lang", "keep_permille")
    val mixed = stage1
      .withColumn("bucket",
        h48(concat(col("doc_id").cast("string"), lit(":mix"))) % 1000)
      .join(broadcast(rates), "lang")
      .filter(col("bucket") < col("keep_permille"))
    val key = h48(concat_ws(":", lit(ShuffleSeed), col("doc_id")))
    val sharded = mixed.select(col("doc_id"), col("n_tokens"),
      key.as("order_key"), (key % ShuffleShards).cast("int").as("shard"))
    val wOrd = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    val wTok = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("ord", row_number().over(wOrd).cast("long"))
      .withColumn("start_tok", sum("n_tokens").over(wTok) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("ord"), col("n_tokens"),
        floor(col("start_tok") / 512.0).cast("long").as("pack_id"),
        (col("start_tok") % 512).as("pack_offset"))
      .orderBy("shard", "ord")
  }

  /** The curated-manifest capstone — the t159 query, t125's pipeline with
    * the round-14 SELECTION family composed ahead of the t100 cap (the
    * d118 composition pattern applied to selection): the pool entering
    * the manifest is the DSIR keep set — [[t152DsirSelect]]'s top-k pool
    * docs plus the curated target source itself (in-domain by
    * definition, so selection never drops it) — and every downstream
    * stage (cap, multimodal gate, temperature mixture, shuffle-shard,
    * packing) runs over that selection. The composition point mirrors
    * t125's: mixture rates compute over the docs that SURVIVED
    * selection + cap + gate, so languages weight by what the trainer
    * will actually read. Oracle: the t125 oracle with the t152 oracle's
    * chain joined in as the selection CTE — sub-oracles composed
    * verbatim, so the capstone proves the composed dataflow, not a
    * re-derivation.
    *
    * Scale: the selection adds one broadcast-sized join (≤ DsirK +
    * |target| ids) to t125's audited stages; t152's own plan is the
    * audited one-tokenize-pass shape.
    */
  def t159CuratedManifest(s: SparkSession, d: String): DataFrame = {
    val sel = t152DsirSelect(s, d).select("doc_id")
      .unionByName(documents(s, d)
        .filter(col("source") === DsirTargetSource).select("doc_id"))
    manifestFrom(s, d, Some(sel))
  }

  /** TF-IDF top-terms per document with an integer-quantized IDF
    * (idf_q = (N*100) div df). Floating-point log() is not IEEE-pinned
    * across engines, so the quantized integer form keeps scores exactly
    * reproducible everywhere while preserving the rarity ordering; ties
    * break on the term itself.
    *
    * Scale: the corpus explodes to (doc, term) once; tf and df are both
    * partial-agg shuffles on bounded keys; N is a one-row broadcast; the
    * per-doc top-k is a window over tf's own doc partitioning. The df side
    * shuffles on term (a real vocabulary cannot broadcast), which is the
    * plan a 1000-executor run wants.
    */
  def t71TfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val terms = docs.select(col("doc_id"),
      explode(words(col("text"))).as("term"))
    // tf feeds BOTH the df aggregation and the scored join; without the
    // persist the corpus explode + tf aggregation execute twice (AQE's
    // ReusedExchange does not bridge the two consumers — same finding as
    // the d25/d26/d27 signature tables)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("idf_q", expr("(n_docs * 100) div df"))
      .withColumn("score", col("tf") * col("idf_q"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("doc_id", "term", "tf", "idf_q", "score", "rn")
      .orderBy("doc_id", "rn")
  }

  /** BM25 retrieval scoring — the t149 query: top-5 documents per query
    * term under Okapi BM25 (Robertson & Walker, public method; k1=1.2,
    * b=0.75), the lexical ranking function every retrieval baseline and
    * RAG pipeline runs next to its embedding index (v28's ANN is the
    * dense twin). The query set is derived deterministically from the
    * corpus itself: the 10 rarest terms with df ≥ 3 on (df ASC, term) —
    * a total order, so both engines pick the same queries.
    *
    * Engine-exactness: idf is the t71 integer quantization
    * ((N·100) div df); the saturation factor is a fixed chain of IEEE
    * multiplications/divisions over exact integers (< 2^53) with both
    * engines evaluating the SAME parenthesized expression tree — every op
    * is individually IEEE-pinned and there is NO float summation anywhere,
    * so the doubles are bit-equal (the t72 sqrt/division precedent); the
    * final score is floor(·1e6)-quantized to a BIGINT for output.
    *
    * Scale: tf/df/dl are partial-agg shuffles (df shuffles on term — a
    * real vocabulary cannot broadcast); the 10-term query set is a
    * TakeOrderedAndProject broadcast, so scoring touches ONLY postings of
    * queried terms (the probed-list-restriction shape); corpus stats are
    * a one-row broadcast; the per-term top-k is a window over the term
    * partitioning the scored join already has.
    */
  def t149Bm25(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // tf feeds df, dl, and the scored join — same persist rationale as t71
    val tf = CacheRegistry.harness.add(docPostings(docs).persist())
    val dl = CacheRegistry.harness.add(
      tf.groupBy("doc_id").agg(sum("tf").as("dl")).persist())
    val qterms = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3)
      .orderBy(col("df").asc, col("term")).limit(10)
    bm25TopK(tf, dl, qterms.select("term")).orderBy("term", "rn")
  }

  /** Batch-incremental postings maintenance — the d151 query, completing
    * the lexical index's one-shot / incremental / streaming trio on the
    * same proof standard as every other stateful family (the d84/d101
    * convention: the incremental path's served output must hash-match the
    * ONE-SHOT oracle through the driver's DuckDB gate, not just a spec).
    * The corpus arrives as two batches (even doc_ids, then odd), each
    * reduced to its postings partial by [[docPostings]] WITHOUT seeing
    * the other batch — the accumulated state is the union of the
    * partials, exactly what [[graft.streaming.StreamOps.postingsStream]]
    * publishes per micro-batch. Batch 2 additionally RE-DELIVERS every
    * tenth even doc (the replayed-delivery case), so the serving read
    * must run the latest-batch-wins collapse (each doc's newest batch's
    * rows only — the [[graft.streaming.StreamOps.bm25Served]] rule) to
    * avoid double-counting; df, document lengths, and corpus stats are
    * then derived from the served state. Oracle: t149's own SQL — the
    * incremental index is indistinguishable from one built in one shot.
    *
    * Scale: per-batch cost is the batch's own explode + partial
    * aggregation (the state is never re-read to ingest); the collapse is
    * one (doc_id, max batch) equi-join on the doc partitioning the
    * postings already have; serving is [[bm25TopK]]'s audited plan.
    */
  def d151IncrementalPostings(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1 || col("doc_id") % 10 === 0)
    val state = CacheRegistry.harness.add(
      docPostings(b1).withColumn("batch", lit(1L))
        .unionByName(docPostings(b2).withColumn("batch", lit(2L)))
        .persist())
    val latest = state.groupBy("doc_id").agg(max("batch").as("batch"))
    // served feeds df, dl, AND the scored join — persist (the t149/t71
    // multi-consumer finding)
    val served = CacheRegistry.harness.add(
      state.join(latest, Seq("doc_id", "batch"))
        .select("doc_id", "term", "tf").persist())
    val dl = CacheRegistry.harness.add(
      served.groupBy("doc_id").agg(sum("tf").as("dl")).persist())
    val qterms = served.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3)
      .orderBy(col("df").asc, col("term")).limit(10)
    bm25TopK(served, dl, qterms.select("term")).orderBy("term", "rn")
  }

  /** A document batch's term-frequency postings — (doc_id, term, tf), one
    * map-side explode + a partial-aggregated count. THE batch-local
    * reduction of the lexical-index family: [[t149Bm25]] runs it over the
    * whole corpus, [[d151IncrementalPostings]] per incremental batch, and
    * the streaming sink ([[graft.streaming.StreamOps.postingsStream]]) per
    * micro-batch — one definition, so the three members cannot drift. A
    * doc's postings depend only on its own text, which is what makes the
    * incremental/streaming state a pure union of batch partials.
    */
  private[graft] def docPostings(docs: DataFrame): DataFrame =
    Spread.byKey(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** The BM25 serving scorer over a postings artifact — shared by
    * [[t149Bm25]] (postings built in-query) and the streaming postings
    * sink ([[graft.streaming.StreamOps.bm25Served]], postings maintained
    * per micro-batch): `tf` = (doc_id, term, tf) postings, `dl` =
    * (doc_id, dl) lengths, `qterms` = the query terms (one `term`
    * column). df and corpus stats are derived from the postings
    * themselves, so a superseded document's old postings stop counting
    * the moment they leave the artifact. Scoring touches only the
    * queried terms' postings (broadcast query set), stats are a one-row
    * broadcast, and the per-term top-5 rides the scored join's term
    * partitioning. See [[t149Bm25]]'s scaladoc for the engine-exactness
    * argument (quantized idf, summation-free IEEE chain, floor(·1e6)).
    */
  private[graft] def bm25TopK(tf: DataFrame, dl: DataFrame,
      qterms: DataFrame, stats: Option[DataFrame] = None): DataFrame = {
    val w = Window.partitionBy("term")
      .orderBy(col("score_q").desc, col("doc_id"))
    bm25Scores(tf, dl, qterms, stats)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select("term", "doc_id", "tf", "dl", "idf_q", "score_q", "rn")
  }

  /** The BM25 scored postings of the queried terms, BEFORE any top-k cut —
    * (term, doc_id, tf, dl, idf_q, score_q), one row per posting of a
    * query term. [[bm25TopK]] is the per-term top-5 window over this; the
    * hybrid fusion (t150) instead sums a query's terms' scores per doc, so
    * it needs the untruncated scores. `stats` optionally supplies the
    * corpus statistics as a precomputed 1-row (n_docs, sum_dl) artifact
    * (the compaction layout writes one); when absent they are derived from
    * `dl` — the one-shot path. The aggregation that builds the artifact is
    * IDENTICAL to the derivation (one count + one BIGINT sum), so serving
    * from the artifact is exact, not approximate.
    */
  private[graft] def bm25Scores(tf: DataFrame, dl: DataFrame,
      qterms: DataFrame, stats: Option[DataFrame] = None): DataFrame = {
    val st = stats.getOrElse(
      dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")))
    val qdf = tf.join(broadcast(qterms), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val tfD = col("tf").cast("double")
    val dlRatio = (col("dl").cast("double") * col("n_docs").cast("double")) /
      col("sum_dl").cast("double")
    tf.join(broadcast(qdf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .withColumn("idf_q", expr("(n_docs * 100) div df"))
      .withColumn("score_q",
        floor(col("idf_q").cast("double") *
          ((tfD * lit(2.2)) /
            (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * dlRatio))) *
          lit(1e6)).cast("long"))
      .select("term", "doc_id", "tf", "dl", "idf_q", "score_q")
  }

  /** Temperature-based corpus mixing (T=0.5): re-weight languages so the
    * sampled corpus moves from the natural distribution p toward
    * p^0.5/Σp^0.5 — the standard lever against dominant-language crowd-out
    * in multilingual pretraining. For T=0.5 the keep rate has the closed
    * form r_s = sqrt(n_min/n_s) (rarest language kept whole), which avoids
    * normalizing by a cross-group float sum — summation order is not
    * deterministic across engines, but sqrt and division are IEEE-pinned.
    * The per-doc draw reuses the t66/t70 md5-bucket construction
    * (append-stable, partitioning-independent).
    *
    * Scale: one partial-agg count per language (broadcast back), one
    * map-side draw over the corpus, one partial-agg kept-count. No join
    * moves corpus volume.
    */
  def t72TempMixing(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val nmin = counts.agg(min("n_docs").as("n_min"))
    // rates (one row per language) feeds both the draw join and the final
    // result join — persist so the counts subtree runs once, not per branch
    val rates = counts.crossJoin(broadcast(nmin))
      .withColumn("keep_permille",
        floor(sqrt(col("n_min").cast("double") / col("n_docs")) * 1000)
          .cast("long"))
      .select("lang", "n_docs", "keep_permille")
      .persist()
    val kept = docs
      .select(col("doc_id"), col("lang"),
        (h48(concat(col("doc_id").cast("string"), lit(":mix"))) % 1000)
          .as("bucket"))
      .join(broadcast(rates), "lang")
      .filter(col("bucket") < col("keep_permille"))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    rates.join(kept, "lang")
      .select("lang", "n_docs", "keep_permille", "n_kept")
      .orderBy("lang")
  }

  /** PMI collocation mining: the phrase-detection pass (word2vec-phrases /
    * tokenizer-vocab style) that finds word pairs occurring together far
    * more than chance — top-20 bigrams by pointwise mutual information with
    * support ≥ 3. PMI is integer-quantized (cnt_xy·100·N div cnt_x·cnt_y —
    * the argument of the log, monotone in PMI, so the ranking is identical)
    * to stay bit-reproducible across engines; ties break on the words.
    *
    * Scale: bigrams are built MAP-SIDE (zip_with of the word array against
    * its own tail — no self-join on token position); bigram and unigram
    * counts are partial-agg shuffles; the unigram vocabulary feeds both the
    * w1 and w2 joins and is persisted (it cannot broadcast at real corpus
    * scale, so both joins shuffle on the word key — the correct plan). The
    * BIGINT pmi numerator holds to ~10^18; a 100 TB corpus (10^12 tokens ×
    * 10^6 pair counts) needs DECIMAL(38,0) — the same expression tree with
    * one cast.
    */
  def t75Collocations(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    val pairs = documents(s, d)
      .select(explode(zip_with(
        ws, slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w2").isNotNull)
    val bgc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt_xy"))
      .filter(col("cnt_xy") >= 3)
    val uni = documents(s, d)
      .select(explode(ws).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist()
    val n = uni.agg(sum("cnt").as("n_tok"))
    bgc
      .join(uni.select(col("w").as("w1"), col("cnt").as("cnt_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cnt").as("cnt_y")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi_q",
        expr("(cnt_xy * 100 * n_tok) div (cnt_x * cnt_y)"))
      .select("w1", "w2", "cnt_xy", "cnt_x", "cnt_y", "pmi_q")
      .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** The exact label sum of a (doc_id, component) table, the convergence
    * test of [[starComponents]]: DECIMAL(38,0) so the sum of billions of
    * 64-bit ids cannot wrap (non-ANSI Long sum wraps silently, and a
    * wrapped collision would end the loop one round early).
    */
  private val labelSumCol: Column = coalesce(
    sum(col("component").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))

  /** t135 PageRank damping factor and fixed iteration count (fixed so the
    * trajectory is deterministic and the oracle can unroll it — the
    * [[graft.ops.VectorOps.v60Kmeans]] convention for iterative algorithms).
    */
  val PrDamping = 0.85
  val PrIters = 3

  /** 6-decimal floor truncation — PageRank masses are O(1/N) rationals, so
    * 4dp rounding is both too coarse and boundary-prone (int/int rationals
    * sit exactly on .5 ulps at some corpus sizes — the t21 lesson); floored
    * truncation of identical doubles is engine-exact by construction.
    */
  private def trunc6(c: Column): Column = floor(c * 1e6) / 1e6

  /** Quality-keeper near-dup resolution — the d137 query. d46 labels the
    * duplicate clusters and d26's min-doc_id convention picks an ARBITRARY
    * representative; a curation pipeline keeps the BEST one (Gopher/C4
    * lineage keep the highest-quality duplicate — public practice;
    * quality here is the shared t21 score, so the choice is the one the
    * pipeline's own filter would make). Per component: keeper = argmax
    * (quality, min doc_id tiebreak), selected via `min_by` over a
    * (−quality, doc_id) ordering struct — map-side partial aggregation,
    * one compact struct per component through the shuffle, never a window
    * over the corpus ([[graft.ops.VectorOps.assignToIvfLists]]'s argmax
    * convention). Quality is 4dp-floor-truncated BEFORE the argmax so the
    * comparison (including ties) is engine-exact.
    */
  def d137QualityKeeper(s: SparkSession, d: String): DataFrame = {
    // same overlap as t65: the eager CC fixpoint on one driver thread,
    // the independent quality table (a regex-dense scan) persisted and
    // primed on another (guide §2.6)
    val Seq(labels, q) = Par.run[DataFrame](s)(
      () => connectedComponents(
        d26MinhashLsh(s, d).select(col("d1"), col("d2"))),
      () => {
        val qq = CacheRegistry.harness.add(documents(s, d)
          .select(col("doc_id"), trunc4(qualityScore).as("quality"))
          .persist())
        qq.count(); qq
      })
    val member = CacheRegistry.harness.add(
      labels.join(q, Seq("doc_id")).persist())
    val keepers = member.groupBy("component")
      .agg(min_by(col("doc_id"),
        struct(-col("quality"), col("doc_id"))).as("keeper_id"))
    member.join(keepers, Seq("component"))
      .select(col("doc_id"), col("component"), col("quality"),
        (col("doc_id") === col("keeper_id")).as("keeper"))
      .orderBy("doc_id")
  }

  /** Leakage-aware train/valid/test split — the t138 query. t66 splits by
    * per-doc hash, which puts near-duplicates of a training document into
    * the eval splits (train/test contamination — the leakage every
    * dedup-before-split pipeline exists to prevent; Lee et al. 2022
    * documents eval inflation from exactly this). Here the split KEY is
    * the near-dup group: a doc's d46 component label when it has
    * near-dups, its own doc_id otherwise — so an entire duplicate cluster
    * lands in ONE split by construction (Ctrl+F a leaked eval doc in
    * train: impossible). The assignment rule on the group key is t66's
    * (h48 mod 100 → 80/10/10), so the two splits are directly comparable.
    *
    * Scale: the corpus-sized work is one left join of docs to the (small)
    * clustered-label table; the hash and split tags are map-side.
    */
  def t138LeakageSplit(s: SparkSession, d: String): DataFrame = {
    val labels = connectedComponents(
      d26MinhashLsh(s, d).select(col("d1"), col("d2")))
    val gkey = coalesce(col("component"), col("doc_id"))
    documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), gkey.as("group_key"))
      .withColumn("bucket", h48(col("group_key").cast("string")) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** t136 sample size. */
  val SampleK = 200

  /** Weight-proportional corpus sampling without replacement — the t136
    * query, Sequential Poisson / priority sampling (Ohlsson 1998;
    * Duffield–Lund–Thorup 2005 — public methods): u_i = (h48(id)+1)/2^48,
    * priority key = u_i / w_i, keep the k smallest keys. Weight =
    * `n_chars`, so longer documents enter the sample with probability
    * ∝ length — the token-budget-aware downsampling pass a curation
    * pipeline runs when cutting a corpus to a training budget (uniform
    * doc sampling under-represents long documents' tokens).
    *
    * Engine-exactness: the textbook key is u^(1/w) (a pow) or
    * log(u)/w — both transcendental, and libm results differ across
    * engines in the last ulp, which can flip ranks at the selection
    * boundary. Sequential Poisson's u/w ranking is ORDER-EQUIVALENT for
    * inclusion purposes and uses only one IEEE division on a dyadic
    * rational u (exact in double: (48-bit int + 1) / 2^48), so both
    * engines compute bit-identical keys — no rounding anywhere.
    *
    * Scale: the key is map-side; selection is `orderBy(key).limit(k)` —
    * Spark plans TakeOrderedAndProject (per-partition top-k, merge of
    * k-row partials), never a global sort of the corpus.
    */
  def t136PrioritySample(s: SparkSession, d: String): DataFrame = {
    val u = (h48(col("doc_id").cast("string")) + 1).cast("double") /
      lit(281474976710656.0) // 2^48, exact
    val w = Window.orderBy("pkey", "doc_id")
    documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (u / col("n_chars").cast("double")).as("pkey"))
      .orderBy("pkey", "doc_id").limit(SampleK)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .orderBy("rnk")
  }

  /** t152 feature-hash bucket count (the paper's hashed n-gram feature
    * space), selection size, and the curated target source. The target is
    * the corpus's own `src0` slice — the "trusted reference set" role
    * Wikipedia plays in the published pipelines; any small curated subset
    * works, and a source tag is how a real crawl marks one.
    */
  val DsirBuckets = 4096L
  val DsirK = 100
  val DsirTargetSource = "src0"

  /** Importance-resampling data selection — the t152 query, the DSIR
    * recipe (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling", arXiv:2302.03169 — public method): score
    * every raw-pool document by how much more likely its hashed-bigram
    * features are under the TARGET distribution than under the raw pool's
    * own, and keep the top-k — the distribution-matching selection pass a
    * pretraining pipeline runs to tilt a web crawl toward a curated
    * domain. Features are adjacent-word bigrams hashed into
    * [[DsirBuckets]] buckets (the paper's hashed n-gram model); both bag
    * models are add-1 smoothed.
    *
    * Engine-exactness — the integer probability-ratio surrogate (the t71
    * idf_q convention): the paper's per-feature term log(p_t(b)/p_r(b))
    * is transcendental, and libm logs differ across engines in the last
    * ulp — a selection-boundary hazard. The per-feature score here is the
    * quantized ratio `((c_t(b)+1) * 1e6) div (c_r(b)+1)` — BIGINT-exact in
    * both engines — and the doc weight is its order-independent integer
    * SUM. The smoothed normalizers (T+B)/(R+B) are corpus-level constants
    * multiplying every feature's ratio uniformly, so dropping them
    * rescales all doc weights monotonically and moves no rank.
    *
    * Scale: the corpus is tokenized ONCE (bigrams built map-side with
    * zip_with over adjacent slices — no explode-and-self-join); the two
    * bag models are ≤[[DsirBuckets]]-row aggregates of that stream; the
    * bucket score table is broadcast back onto it (a 4096-row build side);
    * the per-doc weight is a partial-aggregable sum; selection is
    * orderBy(k).limit — TakeOrderedAndProject, never a global sort. Two
    * passes over the feature stream total, zero corpus-sized shuffles
    * beyond the per-doc sum.
    */
  def t152DsirSelect(s: SparkSession, d: String): DataFrame =
    dsirSelectOn(documents(s, d))

  /** [[t152DsirSelect]] over an arbitrary (doc_id, source, text) frame —
    * the one-shot ground truth the incremental (d155) and streaming
    * (dsirIngestStream) members are held to.
    */
  private[graft] def dsirSelectOn(docs: DataFrame): DataFrame = {
    // persist(): the postings feed the target bag, the raw bag, and the
    // scoring join from one tokenize pass
    val posts = CacheRegistry.harness.add(dsirPostings(docs).persist())
    dsirServe(
      docs.filter(col("source") =!= DsirTargetSource).select("doc_id"),
      posts)
  }

  /** Per-doc hashed-bigram bucket postings (doc_id, is_target, b, n_f) —
    * the SHARED batch reduction behind the DSIR family: t152 folds it
    * inline, d155 materializes it as mergeable state. Bigrams are built
    * map-side (zip_with over adjacent slices — no explode-and-self-join);
    * the reduction is one partial-aggregable groupBy.
    */
  private[graft] def dsirPostings(df: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val n1 = greatest(size(ws) - 1, lit(0))
    val bigrams = zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    // project to the consumed columns BEFORE the spread: callers pass
    // union-with-state frames carrying extra columns, and the exchange
    // should move only (doc_id, source, text) — the narrow-rows contract
    // of every other Spread site
    Spread.byKey(df.select(col("doc_id"), col("source"), col("text")),
        col("doc_id"))
      .select(col("doc_id"),
        (col("source") === DsirTargetSource).as("is_target"),
        explode(bigrams).as("bg"))
      .groupBy(col("doc_id"), col("is_target"),
        (h48(col("bg")) % DsirBuckets).as("b"))
      .agg(count(lit(1)).as("n_f"))
  }

  /** DSIR serving over a postings table: bag models by bucket (≤
    * [[DsirBuckets]]-row aggregates), the integer-ratio score table
    * broadcast back onto the postings, per-doc BIGINT weight sums
    * (Σ n_f·w_q — identical to summing per-occurrence scores), top-k via
    * TakeOrderedAndProject. `pool` keeps featureless docs in the race at
    * weight 0.
    */
  private[graft] def dsirServe(pool: DataFrame, posts: DataFrame)
      : DataFrame = {
    val ct = posts.filter(col("is_target"))
      .groupBy("b").agg(sum("n_f").as("c_t"))
    val cr = posts.filter(!col("is_target"))
      .groupBy("b").agg(sum("n_f").as("c_r"))
    val wq = ct.join(cr, Seq("b"), "full")
      .select(col("b"),
        expr("((coalesce(c_t, 0) + 1) * 1000000) div (coalesce(c_r, 0) + 1)")
          .as("w_q"))
    dsirScoreWith(pool, posts, wq)
  }

  /** The DSIR scoring tail at a GIVEN score table — shared by
    * [[dsirServe]] (score table derived from the postings) and the
    * compacted-layout serve (score table from the pre-aggregated `.bags`
    * artifact, which yields the identical w_q values: the artifact's
    * conditional sums are 0 exactly where dsirServe's full join
    * coalesces to 0).
    */
  private[graft] def dsirScoreWith(pool: DataFrame, posts: DataFrame,
      wq: DataFrame): DataFrame = {
    val sums = posts.filter(!col("is_target"))
      .join(broadcast(wq), Seq("b"))
      .groupBy("doc_id").agg(sum(col("n_f") * col("w_q")).as("dsir_q"))
    val w = Window.orderBy(col("dsir_q").desc, col("doc_id"))
    pool
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dsir_q"), lit(0L)).as("dsir_q"))
      .orderBy(col("dsir_q").desc, col("doc_id")).limit(DsirK)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .orderBy("rnk")
  }

  /** Batch-incremental DSIR — the d155 query, the selection family's
    * oracle-gated incremental member (the d84/d101 proof standard: the
    * incremental state's served selection must be hash-indistinguishable
    * from the one-shot [[t152DsirSelect]], so the oracle IS t152's SQL).
    * A curation pipeline re-scores its selection as the raw pool grows —
    * and every new batch shifts EVERY bucket's raw count, so per-doc
    * weights are not cacheable; what IS incremental is the expensive
    * part: each document is tokenized once ever, its bucket postings
    * landing as state (the [[dsirPostings]] reduction — one compact row
    * per (doc, bucket)), and the bag models are additive per-bucket count
    * partials re-derivable from the novel postings alone. Serving joins
    * the CURRENT ≤4096-row score table back onto the accumulated
    * postings — O(postings) scoring with zero re-tokenization.
    *
    * Batch 2 re-delivers every tenth even doc (the d151 replay
    * convention); the doc_id novelty anti-join must drop them, or their
    * features double-count in both bag models and the weights drift.
    *
    * Scale: per batch, tokenization + the postings reduction are
    * O(batch); the novelty check is one anti-join against the roster
    * (doc_id-keyed state — at scale a bucket-pruned probe, the d151
    * layout); the merge is append-only. Serving is the t152 cost minus
    * its tokenize pass.
    */
  def d155IncrementalDsir(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "source", "text")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 20 === 0))

    def ingest(roster: DataFrame, posts: DataFrame, batch: DataFrame)
        : (DataFrame, DataFrame) = {
      val novel = batch.join(roster, Seq("doc_id"), "left_anti")
      (roster.unionByName(
        novel.select(col("doc_id"),
          (col("source") === DsirTargetSource).as("is_target"))),
        posts.unionByName(dsirPostings(novel)))
    }
    val roster0 = docs.filter(lit(false))
      .select(col("doc_id"), lit(false).as("is_target"))
    val posts0 = dsirPostings(docs.filter(lit(false)))
    val (roster1, posts1) = ingest(roster0, posts0, b1)
    val (roster2, posts2) = ingest(roster1, posts1, b2)
    val posts = CacheRegistry.harness.add(posts2.persist())
    dsirServe(roster2.filter(!col("is_target")).select("doc_id"), posts)
  }

  /** Incremental decontaminated selection — the d169 query, t168's
    * incremental twin composing the round's two incremental members the
    * way an ingest pipeline actually runs them: each arrival wave is
    * gated against the frozen eval grams AT ARRIVAL (d165's O(batch)
    * check — eval-fold docs never enter; flagged docs are dropped
    * BEFORE feature extraction, so contaminated text never shapes the
    * bag models), and only the clean subset's [[dsirPostings]] partials
    * accumulate behind the d155 novelty gate. Serving re-scores the
    * accumulated partials against the current ≤DsirBuckets-row score
    * table (the DSIR serving truth — per-doc weights are never
    * cacheable). Exactness: [[dsirPostings]] is a per-doc reduction and
    * the novelty-gated waves are disjoint, so the unioned partials ARE
    * the one-shot postings over the clean pool and
    * [[dsirSelectOn]] ≡ [[dsirServe]] over them — the oracle IS t168's
    * SQL.
    */
  def d169IncrementalCleanSelect(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "source", "text")
    val evalGrams = CacheRegistry.harness.add(
      shingleTableN(
        docs.filter(col("doc_id") % DecontamEvalMod === DecontamEvalRem), 5)
        .select("sh").distinct().persist())
    val train = docs
      .filter(col("doc_id") % DecontamEvalMod =!= DecontamEvalRem)
    val b1 = train.filter(col("doc_id") % 2 === 0)
    val b2 = train.filter(col("doc_id") % 2 === 1)
      .unionByName(train.filter(col("doc_id") % 20 === 0))

    def ingest(roster: DataFrame, posts: DataFrame, batch: DataFrame)
        : (DataFrame, DataFrame) = {
      // persist (r20): the wave's flagged list is the root of the
      // EXPENSIVE subtree (batch shingle pass + decontam counts), and the
      // roster/posts chains re-embed it — batch 1's reappears under
      // batch 2's novelty anti-join, the roster union, AND the serve's
      // pool side (4 plan occurrences; the persisted posts2 cache build
      // and the main job cannot share exchanges, so it re-EXECUTED per
      // occurrence). Caching the tiny doc_id list collapses those to one
      // shingle pass per wave; real IMR stats keep the anti-join's
      // auto-broadcast (the checkpoint trap does not apply).
      val flagged = CacheRegistry.harness.add(
        decontamCountsOn(shingleTableN(batch, 5), evalGrams)
          .select("doc_id").persist())
      val clean = batch.join(flagged, Seq("doc_id"), "left_anti")
      val novel = clean.join(roster, Seq("doc_id"), "left_anti")
      (roster.unionByName(
        novel.select(col("doc_id"),
          (col("source") === DsirTargetSource).as("is_target"))),
        posts.unionByName(dsirPostings(novel)))
    }
    val roster0 = docs.filter(lit(false))
      .select(col("doc_id"), lit(false).as("is_target"))
    val posts0 = dsirPostings(docs.filter(lit(false)))
    val (roster1, posts1) = ingest(roster0, posts0, b1)
    val (roster2, posts2) = ingest(roster1, posts1, b2)
    val posts = CacheRegistry.harness.add(posts2.persist())
    dsirServe(roster2.filter(!col("is_target")).select("doc_id"), posts)
  }

  /** Link-graph PageRank over the document corpus — the t135 query, the
    * graph-centrality source-quality signal large curation pipelines
    * compute over the crawl graph (CommonCrawl ranks its URLs by
    * centrality; RefinedWeb and CCNet select by such source-level signals
    * — public methods; Page et al. 1999 for the algorithm itself). The
    * driver corpus carries no real hyperlinks, so the graph is derived
    * deterministically from doc_ids (the [[syntheticUrl]] convention):
    * each document emits 3 outlinks `h48(id ++ '#' ++ j) mod N` (the
    * shared md5-prefix hash, so targets scatter multinomially and
    * in-degrees genuinely vary — an affine rule like `(31·id + c) mod N`
    * is a bijection per j, which makes the graph 3-regular in AND out and
    * PageRank degenerately uniform), self-links dropped.
    *
    * Scale design — the iterative-shuffle pattern CC ([[d91IncrementalCc]])
    * established, applied to weighted propagation:
    *  - the edge table is built map-side, repartitioned ON src ONCE and
    *    persisted: every iteration's rank-flow join reuses that
    *    partitioning, so per iteration only the compact (node, pr) table
    *    moves through the exchange — the edges never re-shuffle;
    *  - one iteration = equi-join ranks⋈edges on src (ranks shuffle to the
    *    edges' layout), groupBy dst with map-side partial sums, one
    *    broadcast-free corpus-sized aggregation — the canonical
    *    power-iteration step;
    *  - [[PrIters]] is a fixed constant and every iteration's masses are
    *    6dp-floor-truncated ([[trunc6]]), so the trajectory is bit-exact
    *    in any engine and the oracle unrolls the same three steps;
    *  - the per-edge flow terms `pr/outdeg` are floor-quantized to 1e-6
    *    INTEGERS before the inflow sum, and integer addition is
    *    associative-commutative — so the summed inflow is independent of
    *    Spark's (and DuckDB's) partition/merge order. A raw double sum
    *    truncated AFTER the fact would still be order-dependent in the
    *    last ulp, and a mass landing within 1 ulp of a 1e-6 floor
    *    boundary could flip the whole downstream trajectory between
    *    engines (the t71 idf_q / t136 dyadic-key convention: close float
    *    hazards by construction, not by luck of the corpus);
    *  - nodes with no inbound edges keep the teleport mass via a left
    *    join + coalesce(0) — no dangling-mass correction is needed because
    *    every node has outdegree ≥ 2 by construction.
    */
  def t135LinkPagerank(s: SparkSession, d: String): DataFrame = {
    val docs = CacheRegistry.harness.add(
      documents(s, d).select("doc_id").persist())
    val nn = docs.count()
    val edges = CacheRegistry.harness.add(
      linkEdges(docs, nn, lit(0L), lit(1L), lit(2L))
        .repartition(col("src"))
        .persist())
    val outdeg = CacheRegistry.harness.add(
      edges.groupBy("src").agg(count(lit(1)).as("outdeg")).persist())
    var ranks = prInit(docs, nn)
    for (_ <- 1 to PrIters) {
      ranks = CacheRegistry.harness.add(
        prStep(docs, ranks, edges, outdeg, nn).persist())
    }
    ranks.orderBy("doc_id")
  }

  /** The deterministic synthetic link edges shared by t135 and t145: one
    * outlink per (doc, j) — `h48(id ++ '#' ++ j) mod N`, self-links
    * dropped (see [[t135LinkPagerank]] on why the hash rule, not an
    * affine one).
    */
  private def linkEdges(docs: DataFrame, nn: Long, js: Column*): DataFrame =
    docs.select(col("doc_id").as("src"), explode(array(js: _*)).as("j"))
      .select(col("src"),
        (h48(concat(col("src").cast("string"), lit("#"),
          col("j").cast("string"))) % nn).as("dst"))
      .filter(col("dst") =!= col("src"))

  /** t153 fixed HITS iteration count — fixed so the trajectory is
    * deterministic and the oracle can unroll it (the t135/v60 convention
    * for iterative algorithms).
    */
  val HitsIters = 3

  /** HITS hubs-and-authorities — the t153 query (Kleinberg 1999,
    * "Authoritative Sources in a Hyperlinked Environment" — public
    * method), the second graph-centrality signal next to t135's PageRank:
    * a curation pipeline that ranks crawl sources wants both "pointed-to
    * by good hubs" (authority — quality of the page) and "points to good
    * authorities" (hub — quality of the page AS a directory). Same
    * deterministic [[linkEdges]] graph as t135/t145, so the two
    * centralities are directly comparable per doc.
    *
    * Engine-exactness — the integer-mass trajectory (the t135 quantization
    * convention, applied to HITS's mutual recursion): scores live as
    * BIGINT micro-units (initial hub mass 1e6 per node). One half-step
    * sums the counterpart mass over edges — an order-independent INTEGER
    * sum — then renormalizes to mean ~1e6 via `(raw * 1e6) div (S div N)`
    * where S is the integer total: two integer divisions both engines
    * compute identically, replacing the textbook L2 normalization (a
    * sqrt — transcendental, cross-engine last-ulp hazard) with an exact
    * L1-style one that preserves the ranking at every step. Inbound-less
    * nodes keep authority 0 via left join + coalesce.
    *
    * Scale — the t135 iterative-shuffle pattern, doubled for the mutual
    * recursion: the edge table is materialized twice, once partitioned on
    * src (the hub→authority flow joins scores on src) and once on dst
    * (the authority→hub flow joins on dst), each persisted ONCE — so per
    * iteration only the two compact (node, score) tables move through an
    * exchange, plus one 1-row total broadcast per half-step; the edges
    * never re-shuffle.
    */
  def t153Hits(s: SparkSession, d: String): DataFrame = {
    val docs = CacheRegistry.harness.add(
      documents(s, d).select("doc_id").persist())
    val nn = docs.count()
    hitsOverEdges(s, docs, linkEdges(docs, nn, lit(0L), lit(1L), lit(2L)),
      nn)
  }

  /** The HITS trajectory over an EXPLICIT (src, dst) edge set — the
    * [[t153Hits]] core, shared with the maintained-state rebuild
    * ([[graft.streaming.StreamOps.hitsFromEdgeState]]), so the periodic
    * rebuild a deployment runs over its compacted crawl graph computes
    * exactly the audited trajectory. `docs` is the node spine (isolated
    * nodes score authority 0 but still count in the renormalization's N).
    */
  private[graft] def hitsOverEdges(s: SparkSession, docs: DataFrame,
      e: DataFrame, nn: Long): DataFrame = {
    val eSrc = CacheRegistry.harness.add(e.repartition(col("src")).persist())
    val eDst = CacheRegistry.harness.add(e.repartition(col("dst")).persist())
    var hub = docs.select(col("doc_id"), lit(1000000L).as("score"))
    var auth: DataFrame = null
    for (_ <- 1 to HitsIters) {
      auth = hitsCheckpoint(hitsHalfStep(docs, hub, eSrc, "src", "dst", nn))
      hub = hitsCheckpoint(hitsHalfStep(docs, auth, eDst, "dst", "src", nn))
    }
    docs
      .join(auth.withColumnRenamed("score", "auth_q"), Seq("doc_id"))
      .join(hub.withColumnRenamed("score", "hub_q"), Seq("doc_id"))
      .select(col("doc_id"), col("auth_q"), col("hub_q"))
      .orderBy("doc_id")
  }

  /** [[lineageCheckpoint]] into the harness registry — the
    * [[connectedComponents]] truncation convention applied to the HITS
    * trajectory: each half-step consumes a 1-node LogicalRDD instead of
    * the alternating cached chain, whose plan TEXT repeats the entire
    * prior lineage inside every later step (a plain persist leaves
    * lineage in the plan; by step 6 Catalyst analysis and AQE's
    * per-execution plan-description string grow combinatorially —
    * measured as minutes of driver CPU inside generateTreeString at
    * sf0.001 before this cut).
    */
  private def hitsCheckpoint(df: DataFrame): DataFrame =
    lineageCheckpoint(df, CacheRegistry.harness)

  /** [[hitsCheckpoint]] with an explicit registry — the eager-truncation
    * convention shared by the HITS trajectory and the t145 pagerank-delta
    * chains (whose per-iteration base/overlay tables used plain persist,
    * leaving the full prior lineage in every later step's plan TEXT: the
    * t145 final plan measured 14,677 explain lines, Catalyst re-walking
    * it per action — r20).
    *
    * LAZY (eager = false): plan truncation — the reason this checkpoint
    * exists — happens at construction either way (the LogicalRDD replaces
    * the lineage immediately); laziness only folds the block
    * materialization into the consumer's first job instead of a
    * dedicated count() per step (the connectedComponents round fusion,
    * applied here).
    */
  private[ops] def lineageCheckpoint(df: DataFrame, reg: CacheRegistry)
      : DataFrame = {
    val (rebuilt, backing) = truncate(df, eager = false)
    reg.addRdd(backing)
    // same narrow-coalesce guard as [[connectedComponents]]' edge
    // checkpoint: a checkpoint captures the raw final-stage layout (often
    // a union/join's concatenated upstream partitions — wide and
    // near-empty for the KB-scale lists checkpointed here), and every
    // consumer stage would re-run that many map tasks. No-op at or under
    // core count, partitioning-only.
    val par = rebuilt.sparkSession.sparkContext.defaultParallelism
    if (backing.getNumPartitions > par) rebuilt.coalesce(par) else rebuilt
  }

  /** The one lineage-truncation primitive: `localCheckpoint` `df` (eager
    * or lazy) and rebuild it over the checkpoint's RDD with fresh
    * attributes. The checkpointed plan still carries constraints that
    * reference pre-checkpoint expression ids (they break a later Union's
    * constraint rewrite), hence the rebuild. Returns the rebuilt frame and
    * the checkpoint's backing RDD, whose blocks live at the RDD level
    * where `Dataset.unpersist` and `clearCache` cannot see them — the
    * caller releases it (`unpersist` or a [[CacheRegistry]]).
    */
  private[graft] def truncate(df: DataFrame, eager: Boolean): (DataFrame, RDD[_]) = {
    val ck = df.localCheckpoint(eager)
    val backing = ck.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.getOrElse(throw new IllegalStateException(
      "localCheckpoint plan has no LogicalRDD"))
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), backing)
  }

  /** One HITS half-step: sum `scores` over the edges' `joinKey` endpoint,
    * grouped by the opposite `outKey` endpoint, renormalized to integer
    * micro-units (see [[t153Hits]]). The 1-row denominator is broadcast;
    * the edge table arrives pre-partitioned on `joinKey` so only the
    * compact score table shuffles.
    *
    * OVERFLOW BOUND: a node's raw inflow is at most (in-degree ·
    * max-score); with mean-1e6 renormalized scores a skewed hub can push
    * `raw` past ~9.2e12 at a few million nodes, where `raw * 1000000`
    * would exceed BIGINT — Spark (non-ANSI) wraps silently while DuckDB
    * errors, silently breaking the cross-engine exactness claim. The
    * multiply therefore runs through a DECIMAL(38,0) intermediate (exact
    * 128-bit integer arithmetic; `div` keeps integral semantics on
    * decimals), and only the quotient — which is mean ~1e6 by
    * construction of the denominator — is cast back to BIGINT.
    */
  private def hitsHalfStep(docs: DataFrame, scores: DataFrame,
      edges: DataFrame, joinKey: String, outKey: String, nn: Long)
      : DataFrame = {
    // persist(): the raw inflow table feeds BOTH the 1-row denominator
    // and the renormalization join — without it the scores⋈edges
    // aggregation (the half-step's only corpus-scale work) executes
    // twice per half-step, 12 redundant joins across the trajectory
    val raw = CacheRegistry.harness.add(
      scores.join(edges, col("doc_id") === col(joinKey))
        .groupBy(col(outKey).as("nid"))
        .agg(sum(col("score")).as("raw"))
        .persist())
    val denom = raw.agg(sum(col("raw")).as("sraw"))
      .select(expr(s"sraw div ${nn}L").as("denom"))
    docs.join(raw, col("doc_id") === col("nid"), "left")
      .crossJoin(broadcast(denom))
      .select(col("doc_id"),
        coalesce(
          expr("CAST((CAST(raw AS DECIMAL(38,0)) * 1000000) div denom" +
            " AS BIGINT)"),
          lit(0L)).as("score"))
  }

  /** Uniform initial mass, 6dp-truncated — identical for any edge set at a
    * frozen node count.
    */
  private[graft] def prInit(docs: DataFrame, nn: Long): DataFrame =
    docs.select(col("doc_id"), trunc6(lit(1.0) / nn).as("pr"))

  /** One engine-exact power-iteration step over `spine` (the nodes whose
    * next-iteration rank is wanted — the full node table for t135, the
    * affected set for t145): equi-join ranks⋈edges on src, groupBy dst
    * with the 1e-6-quantized INTEGER flow sum (floor((pr/outdeg)·1e6) is
    * computed identically per edge in both engines — one IEEE division,
    * one multiply, one floor — and the BIGINT sum is order-independent, so
    * no partition/merge reordering can move it), then teleport + damped
    * inflow, 6dp-floor-truncated. 0.15 stays a LITERAL on both sides:
    * `1.0 - 0.85` in binary doubles is 0.15000000000000002, not the double
    * the literal `0.15` parses to — the oracle writes the same literal, so
    * the teleport mass is bit-equal.
    */
  private[graft] def prStep(spine: DataFrame, ranks: DataFrame,
      edges: DataFrame, outdeg: DataFrame, nn: Long): DataFrame = {
    val flow = ranks
      .join(edges, col("doc_id") === col("src"))
      .join(outdeg, Seq("src"))
      .groupBy(col("dst").as("dst_id"))
      .agg(sum(floor(col("pr") / col("outdeg") * 1e6)).as("inflow_q"))
    spine.select("doc_id")
      .join(flow, col("doc_id") === col("dst_id"), "left")
      .select(col("doc_id"),
        trunc6(lit(0.15 / nn) + lit(PrDamping) *
          (coalesce(col("inflow_q"), lit(0L)).cast("double") / 1e6))
          .as("pr"))
  }

  /** t145's delta-edge rule: docs whose id is ≡ 0 (mod 97) gain a fourth
    * outlink `j = 3` — the "newly crawled links" batch, ~1% of nodes.
    */
  private val DeltaSrcMod = 97L

  /** Incremental PageRank under a per-batch edge delta — the t145 query,
    * the lifecycle form of [[t135LinkPagerank]]: a crawl keeps discovering
    * links, and re-running the full power iteration over 100 TB of graph
    * for every link batch is exactly the recompute the incremental matrix
    * (d84/d91/d92/d96) exists to avoid. The verdict's sketch — frozen
    * teleport, per-batch edge deltas, touched-node re-iteration (the d128
    * condensation idea applied to mass propagation) — is implementable
    * EXACTLY here because the trajectory is truncated at [[PrIters]]: a
    * fixed-depth iteration has a bounded influence cone, so an edge delta
    * can only move ranks inside the forward [[PrIters]]-hop closure of the
    * perturbed nodes. Outside that closure the base trajectory is provably
    * bit-identical and passes through untouched.
    *
    * The affected-set recurrence (and why it is exact, not approximate):
    *  - D (directly perturbed) = dsts of ALL new-graph edges leaving a
    *    delta src — both the added edges' targets AND the old targets of a
    *    src whose outdegree changed (its per-edge flow `pr/outdeg`
    *    shrinks on every old edge too);
    *  - A_1 = D; A_i = D ∪ dst(new-graph edges from A_{i-1}).
    *    Inductively, a node v ∉ A_i has: identical in-edges (v ∉ D covers
    *    both added-edge targets and changed-outdeg flow), every in-neighbor
    *    with unchanged outdegree (a changed-outdeg in-neighbor would put v
    *    in D), and every in-neighbor outside A_{i-1} (so its iteration-
    *    (i−1) rank equals the base trajectory's by induction); the node
    *    count — hence teleport mass and p0 — is frozen by construction
    *    (edge-only deltas). So rank_i(v) equals the base run's BIT-EXACTLY
    *    — same integer flow sums, same truncations.
    *
    * Scale design: the base trajectory is the already-audited t135 shape
    *  (edges repartitioned on src once, per-iteration persist) — in
    * production it is the stored artifact of the previous run, rebuilt
    * here in-query by the standalone convention. The incremental overlay
    * touches ONLY O(|A_i| · in-degree) edge rows per iteration: the
    * affected set is broadcast into a left-semi join on dst (the
    * probed-list-restriction shape from v122/v132), the overlaid previous
    * ranks are one left join + coalesce against the base trajectory, and
    * the final answer is one more overlay join — nothing corpus-sized
    * moves beyond the base run it amortizes away. PagerankDeltaSpec pins
    * (a) incremental ≡ full recompute over the union graph (the oracle
    * checks the same thing against DuckDB), (b) the affected set stays a
    * STRICT subset of the nodes, and (c) the delta genuinely moves ranks.
    */
  def t145PagerankDelta(s: SparkSession, d: String): DataFrame =
    pagerankDeltaParts(s, d)._1

  /** [[t145PagerankDelta]]'s engine, also returning the per-iteration
    * affected-set sizes and the node count for PagerankDeltaSpec's
    * localization assertions.
    */
  private[ops] def pagerankDeltaParts(
      s: SparkSession, d: String): (DataFrame, Seq[Long], Long) = {
    val docs = CacheRegistry.harness.add(
      documents(s, d).select("doc_id").persist())
    val nn = docs.count()
    val baseEdges = CacheRegistry.harness.add(
      linkEdges(docs, nn, lit(0L), lit(1L), lit(2L))
        .repartition(col("src"))
        .persist())
    val deltaEdges = CacheRegistry.harness.add(
      linkEdges(docs.filter(col("doc_id") % DeltaSrcMod === 0), nn, lit(3L))
        .persist())
    val newEdges = CacheRegistry.harness.add(
      baseEdges.unionByName(deltaEdges).repartition(col("src")).persist())
    val outdegBase = CacheRegistry.harness.add(
      baseEdges.groupBy("src").agg(count(lit(1)).as("outdeg")).persist())
    val outdegNew = CacheRegistry.harness.add(
      newEdges.groupBy("src").agg(count(lit(1)).as("outdeg")).persist())

    // the base trajectory p0..pK — production's stored artifact.
    // lineageCheckpoint, not persist: each step's table is read by the
    // next step AND by the overlay loop, and a plain persist leaves the
    // whole prior lineage in every later plan's TEXT (the HITS lesson —
    // the t145 final plan measured 14,677 explain lines before this cut)
    var base = Vector(prInit(docs, nn))
    for (_ <- 1 to PrIters) {
      base = base :+ lineageCheckpoint(
        prStep(docs, base.last, baseEdges, outdegBase, nn),
        CacheRegistry.harness)
    }

    // D: dsts of every new-graph edge leaving a src whose edge set changed
    val deltaSrcs = deltaEdges.select("src").distinct()
    // the affected-set recurrence is a chain of driver-sequential counts
    // over newEdges that never reads a base rank, and the base trajectory
    // is a chain of tiny dependent aggregations — independent until the
    // overlay steps consume both. Materialize the base on a second driver
    // thread while the counts run (guide §2.6; the d118/fusion Par
    // pattern). prOverlays only CONSTRUCTS the overlay frames (lazy), so
    // nothing downstream executes before both threads join.
    val (ovs, affectedCounts) = Par.run[AnyRef](s)(
      () => { base(PrIters).count(); null },
      () => prOverlays(nn, i => base(i), newEdges,
        outdegNew, deltaSrcs, CacheRegistry.harness))(1)
      .asInstanceOf[(Vector[DataFrame], Seq[Long])]

    val healed = prOverlaid(base(PrIters), ovs.last).orderBy("doc_id")
    (healed, affectedCounts, nn)
  }

  /** A served rank view overlaid by an affected-set overlay: affected
    * nodes take the overlay's rank, everything else passes through.
    */
  private[graft] def prOverlaid(base: DataFrame, ov: DataFrame): DataFrame =
    base
      .join(ov.withColumnRenamed("pr", "pr_new"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("pr_new"), col("pr")).as("pr"))

  /** The per-iteration affected-set overlays of an edge-delta batch
    * against a served base trajectory — the engine shared by
    * [[t145PagerankDelta]] (base = the trajectory rebuilt in-query) and
    * the streaming maintenance sink
    * ([[graft.streaming.StreamOps.pagerankDeltaStream]], base = the
    * published state of all prior batches). `served(i)` must return the
    * iteration-i ranks (doc_id, pr) of the PREVIOUS graph for i in
    * 0..[[PrIters]]; `newEdges`/`outdegNew` describe the UNION graph;
    * `deltaSrcs` the srcs whose edge set changed. Returns the overlay per
    * iteration (exact ranks over the affected set A_i) and |A_i|. See
    * [[t145PagerankDelta]] for the exactness induction; the overlays are
    * BIT-exact, not approximate, because the trajectory is truncated and
    * integer-quantized.
    */
  /** Above this row count an affected/delta-src set is no longer
    * broadcast-hinted into the edge semi-joins: the explicit hint bypasses
    * `autoBroadcastJoinThreshold` and the 8 GB broadcast cap, and a dense
    * graph's [[PrIters]]-hop influence cone can approach the full node
    * set — past the cap the semi-join falls back to a shuffle, which is
    * the correct plan at that size (the affected side IS corpus-scale
    * then, and shuffling it is cheaper than OOMing the driver).
    */
  private[graft] val PrBroadcastCap = 5000000L

  private[graft] def prOverlays(nn: Long, served: Int => DataFrame,
      newEdges: DataFrame, outdegNew: DataFrame, deltaSrcs: DataFrame,
      reg: CacheRegistry): (Vector[DataFrame], Seq[Long]) = {
    // gated hint: broadcast only sets we have COUNTED below the cap (the
    // sets are persisted, so the count is one cheap action over cache)
    def gated(keys: DataFrame, cnt: Long): DataFrame =
      if (cnt <= PrBroadcastCap) broadcast(keys) else keys
    val deltaSrcsP = reg.add(deltaSrcs.persist())
    val directly = reg.add(
      newEdges
        .join(gated(deltaSrcsP, deltaSrcsP.count()), Seq("src"), "left_semi")
        .select(col("dst").as("doc_id")).distinct().persist())

    val affectedCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var ovs = Vector.empty[DataFrame]
    var aCur = directly
    var aCnt = directly.count()
    for (i <- 1 to PrIters) {
      if (i > 1) {
        val frontier = newEdges
          .join(gated(aCur.select(col("doc_id").as("src")), aCnt),
            Seq("src"), "left_semi")
          .select(col("dst").as("doc_id"))
        aCur = reg.add(
          directly.unionByName(frontier).distinct().persist())
        aCnt = aCur.count()
      }
      val prev =
        if (i == 1) served(0) // p0 is delta-independent at a frozen node set
        else prOverlaid(served(i - 1), ovs.last)
      val edgesIn = newEdges
        .join(gated(aCur.select(col("doc_id").as("dst")), aCnt),
          Seq("dst"), "left_semi")
      // lineageCheckpoint: each overlay is read by the next iteration's
      // prOverlaid AND the final healed view — persist would chain every
      // prior overlay's (and base step's) lineage into each later plan
      ovs = ovs :+ lineageCheckpoint(
        prStep(aCur, prev, edgesIn, outdegNew, nn), reg)
      affectedCounts += aCnt
    }
    (ovs, affectedCounts.toSeq)
  }

  /** The benchmark-decontamination eval fold: doc_id % 7 == 3, the
    * oracle-twin stand-in for a held-out evaluation set. One definition
    * shared by the Spark chain and the SQL so fold membership cannot
    * drift.
    */
  private[graft] val DecontamEvalMod = 7
  private[graft] val DecontamEvalRem = 3
  private[graft] val DecontamTopN = 50

  /** Benchmark decontamination — the t163 query: flag TRAINING documents
    * that share verbatim n-gram windows with a held-out EVAL set, the
    * check every published LLM training run performs before training
    * (n-gram-overlap decontamination — GPT-3 appendix C / PaLM style, a
    * public method; those use 8-13-gram windows at web scale, and width
    * 5 plays that role at this corpus' doc lengths via
    * [[shingleTableN]]). Eval fold = doc_id % 7 == 3 (the oracle-twin
    * fold convention t157's LM train split set); a train doc's
    * contamination count is the number of its DISTINCT 5-shingles that
    * appear anywhere in the eval set; output = the top-[[DecontamTopN]]
    * most-contaminated train docs on (n_overlap DESC, doc_id).
    *
    * Scale: the shingle explode runs ONCE (persisted — eval and train
    * branches read the cache, the d95 two-branch convention); the eval
    * gram set is BROADCAST into the train side — a benchmark is bounded
    * (thousands of docs) regardless of corpus size, so the contamination
    * check is a map-side semi-join over the train shingles with NO
    * shuffle of the corpus-scale side; the per-doc count is a partial
    * agg and the top-N a TakeOrderedAndProject. Same broadcast-bounded
    * contract as [[graft.streaming.StreamOps.fusedServe]]'s qmap.
    */
  def t163Decontamination(s: SparkSession, d: String): DataFrame = {
    val sh = CacheRegistry.harness.add(
      shingleTableN(documents(s, d).select("doc_id", "text"), 5).persist())
    val evalGrams = sh
      .filter(col("doc_id") % DecontamEvalMod === DecontamEvalRem)
      .select("sh").distinct()
    decontamReport(decontamCountsOn(
      sh.filter(col("doc_id") % DecontamEvalMod =!= DecontamEvalRem),
      evalGrams))
  }

  /** The contamination-count tail over an ALREADY-shingled train table —
    * ONE definition of the check (broadcast eval-gram semi-join +
    * per-doc partial-agg count) shared by [[t163Decontamination]] (eval
    * grams derived inline), [[d165IncrementalDecontam]] (per-wave, eval
    * grams frozen upfront), and
    * [[graft.streaming.StreamOps.decontamStream]] (per micro-batch,
    * frozen artifact), so the three forms can never drift.
    */
  private[graft] def decontamCountsOn(trainSh: DataFrame,
      evalGrams: DataFrame): DataFrame =
    trainSh.join(broadcast(evalGrams.select("sh")), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))

  /** [[decontamCountsOn]] from raw (doc_id, text) docs, keeping a ZERO
    * row for every checked doc — the streaming sink's form: a REVISED
    * doc whose new text has no eval overlap must still supersede its old
    * nonzero row (the DSIR featureless-doc lesson), and a zero row is
    * the gate's "checked, clean" record.
    */
  private[graft] def decontamCountsAll(docs: DataFrame,
      evalGrams: DataFrame): DataFrame =
    docs.select("doc_id").distinct()
      .join(decontamCountsOn(shingleTableN(docs, 5), evalGrams),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))

  /** The report cut every decontamination form serves: contaminated
    * docs only, top-[[DecontamTopN]] on (n_overlap DESC, doc_id) — a
    * TakeOrderedAndProject, never a global sort.
    */
  private[graft] def decontamReport(counts: DataFrame): DataFrame =
    counts.filter(col("n_overlap") >= 1)
      .orderBy(col("n_overlap").desc, col("doc_id"))
      .limit(DecontamTopN)

  /** Batch-incremental decontamination — the d165 query, [[t163Decontamination]]'s
    * incremental twin (the d155/d158 convention): the eval-gram set is a
    * FROZEN upfront artifact (a benchmark is fixed before ingest
    * starts), train docs arrive in two waves, and each wave is checked
    * AT ARRIVAL — one O(batch) shingle pass + broadcast semi-join per
    * wave, zero re-reads of earlier waves (each doc is shingled once
    * ever). Because the eval set is frozen, per-wave counts are final on
    * arrival; the union IS the accumulated state and the report is the
    * same top-N cut. Oracle = t163's SQL verbatim.
    */
  def d165IncrementalDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val evalGrams = CacheRegistry.harness.add(
      shingleTableN(
        docs.filter(col("doc_id") % DecontamEvalMod === DecontamEvalRem), 5)
        .select("sh").distinct().persist())
    val train = docs
      .filter(col("doc_id") % DecontamEvalMod =!= DecontamEvalRem)
    val waves = Seq(
      train.filter(col("doc_id") % 2 === 0),
      train.filter(col("doc_id") % 2 === 1))
    decontamReport(
      waves.map(w => decontamCountsOn(shingleTableN(w, 5), evalGrams))
        .reduce(_.unionByName(_)))
  }

  /** Context-window token budget for [[t166SequencePack]]. */
  private[graft] val SeqPackLen = 2048

  /** Shard count for [[t166SequencePack]] — the PARALLELISM knob, not a
    * semantic constant: packing within a shard is inherently sequential
    * (a prefix sum over the concat order), so sharding IS the
    * parallelization, exactly as production loaders pack per-worker. A
    * deployment picks S so one shard's docs fit one worker
    * (S ≈ corpus_tokens / per-worker budget — thousands at 100 TB); the
    * oracle twin pins S = 8 at test scale.
    */
  private[graft] val SeqPackShards = 8

  /** Sequence packing — the t166 query: the concat-then-chunk step every
    * pretraining pipeline runs between curation and the trainer (public
    * method — GPT/T5-style packing: shuffle docs, concatenate, slice
    * into fixed [[SeqPackLen]]-token context windows; a doc may span two
    * windows). Deterministic shuffle = the [[h48]] key order (the t164
    * construction), shard = uh % [[SeqPackShards]]; within a shard each
    * doc's start offset is the running token sum over (uh, doc_id)
    * order, and its chunk is start_off div L. Output = the chunk
    * BOUNDARY MAP a training loader actually seeks by: per (shard,
    * chunk), the first doc starting in it plus how many docs and tokens
    * start there — first 100 chunks on (shard, chunk).
    *
    * Exactness: token counts are the whitespace tokenizer (the t23
    * parity), offsets are integer sums — any off-by-one in ANY doc's
    * count shifts every later offset in its shard, so the hash check
    * pins the whole prefix sum, not samples of it.
    *
    * Scale: the cumulative sum is a window per SHARD — unavoidable
    * sequentiality (prefix sums don't parallelize within a concat
    * order), made scalable by the shard knob (see [[SeqPackShards]]);
    * everything else is one partial agg over (shard, chunk) and a
    * TakeOrderedAndProject.
    */
  def t166SequencePack(s: SparkSession, d: String): DataFrame =
    sequencePackOn(documents(s, d))

  /** [[t166SequencePack]] over an arbitrary (doc_id, text) frame —
    * shared with [[t167PackSelected]] (packing the curated selection)
    * so the packing semantics cannot drift between the whole-corpus and
    * composed forms.
    *
    * `seed` is the EPOCH key: a trainer reshuffles between epochs, and
    * folding the epoch seed into the hash input ([[h48]] of seed ++ id)
    * gives each epoch an independent deterministic shard/concat order
    * over the same doc set — same per-shard token conservation, different
    * prefix sums (EpochSeedSpec pins both). The default empty seed IS the
    * t166/t167 parity order (md5("" ++ id) = md5(id)), so existing
    * oracles stand unchanged.
    */
  private[graft] def sequencePackOn(docs: DataFrame,
      seed: String = ""): DataFrame = {
    val toks = docs.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("ntok"),
        h48(concat(lit(seed), col("doc_id").cast("string"))).as("uh"))
      .withColumn("shard", col("uh") % SeqPackShards)
    val w = Window.partitionBy("shard").orderBy(col("uh"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // `div` (integer division on the LONG operands) matches the oracle's
    // `//` exactly at any magnitude; `/` would cast through double and
    // lose exactness past 2^53 cumulative tokens per shard
    toks.withColumn("start_off", sum("ntok").over(w) - col("ntok"))
      .withColumn("chunk", expr(s"start_off div $SeqPackLen"))
      .groupBy("shard", "chunk")
      .agg(min_by(col("doc_id"), col("start_off")).as("first_doc"),
        min("start_off").as("first_off"),
        count(lit(1)).as("n_docs"), sum("ntok").as("n_tok"))
      .orderBy("shard", "chunk")
      .limit(100)
  }

  /** Pack the SELECTED corpus — the t167 query, composing two audited
    * stages the way a pipeline actually runs them (the t159/t161
    * composition convention): [[t152DsirSelect]] picks the training
    * subset, [[sequencePackOn]] packs exactly those docs into context
    * windows. The selection is ≤ DsirK rows, so it rides into the
    * corpus scan as ONE broadcast semi-join; everything downstream is
    * t166's own plan over the reduced corpus. Oracle = the sequence-pack
    * SQL with the ENTIRE t152 oracle composed verbatim as the selection
    * derived table.
    */
  def t167PackSelected(s: SparkSession, d: String): DataFrame = {
    val sel = t152DsirSelect(s, d).select("doc_id")
    sequencePackOn(documents(s, d)
      .join(broadcast(sel), Seq("doc_id"), "left_semi"))
  }

  /** Decontaminated DSIR selection — the t168 query, the data-plane
    * composition a training run actually needs: the selection must never
    * see text it must not train on, so the EVAL fold is held out of the
    * pool entirely and every contaminated train doc (the FULL flagged
    * set — [[decontamCountsOn]] with no top-N cut) is anti-joined away
    * BEFORE [[dsirSelectOn]] builds its bag models and picks the top-k.
    * Running the filter above the selection instead would let
    * contaminated text shape the importance weights even when it is
    * later dropped.
    *
    * Scale: the contamination side is t163's own plan (one shingle pass,
    * broadcast eval grams); the exclusion is a doc_id anti-join — the
    * flagged set is not broadcast-bounded in principle, so it stays a
    * plain anti-join and AQE picks the strategy; everything downstream
    * is t152's audited plan over the reduced pool.
    */
  def t168CleanSelect(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val sh = CacheRegistry.harness.add(
      shingleTableN(docs.select("doc_id", "text"), 5).persist())
    val evalGrams = sh
      .filter(col("doc_id") % DecontamEvalMod === DecontamEvalRem)
      .select("sh").distinct()
    val contaminated = decontamCountsOn(
      sh.filter(col("doc_id") % DecontamEvalMod =!= DecontamEvalRem),
      evalGrams).select("doc_id")
    dsirSelectOn(docs
      .filter(col("doc_id") % DecontamEvalMod =!= DecontamEvalRem)
      .join(contaminated, Seq("doc_id"), "left_anti"))
  }

  /** Sample budget for [[t164MixtureSample]]. Per-domain quotas are
    * floor(K·w/Σw) ≤ K, so the k-bounded aggregator's buffer can never
    * truncate a quota.
    */
  private[graft] val MixSampleK = 120

  /** Training-mixture sampling — the t164 query: draw a deterministic
    * stratified sample of the corpus whose composition follows per-domain
    * mixture weights (language here: en 4, zh 3, others 1 — the shape of
    * the domain-weighting step every LLM data pipeline runs after
    * curation, e.g. The Pile / LLaMA mixture tables; public method). Each
    * doc gets a reproducible pseudo-uniform key ([[h48]] of its id — the
    * engine-portable md5 construction the minhash family uses), and each
    * domain keeps its quota = floor(K·w/Σw over PRESENT domains) of
    * lowest-key docs — seeded quota sampling, so the sample is a pure
    * function of ids and weights: both engines, and any two cluster runs,
    * draw the identical manifest.
    *
    * Scale: the per-domain selection is the k-bounded [[TopKByValue]]
    * aggregator, NOT a window — a window partitioned by a 5-value domain
    * column would funnel the whole corpus through 5 tasks at 100 TB,
    * while the aggregator partial-aggregates map-side so at most K
    * entries per (domain, partition) cross the wire (O(domains·K·
    * partitions) shuffle volume, no skew funnel). Everything after the
    * agg runs over ≤ domains·K rows; the weight total is a 1-row
    * broadcast. Ordering inside the buffer is (-uh desc, doc_id asc) ≡
    * (uh asc, doc_id asc) — 48-bit keys negate exactly in a Double, and
    * the tie-break matches the oracle's ORDER BY uh, doc_id.
    */
  def t164MixtureSample(s: SparkSession, d: String): DataFrame =
    mixtureSampleOn(documents(s, d).select(col("doc_id"), col("lang")))

  /** [[t164MixtureSample]] over an arbitrary (doc_id, lang) pool —
    * shared with [[t170TrainingPlane]] (drawing the mixture from the
    * decontaminated selection) so the quota-sampling semantics cannot
    * drift between the whole-corpus and composed forms. `seed` is the
    * epoch key ([[sequencePackOn]]'s convention — folded into the h48
    * input; the default empty seed is the t164 parity draw).
    */
  private[graft] def mixtureSampleOn(docsPool: DataFrame,
      seed: String = ""): DataFrame = {
    import org.apache.spark.sql.Encoders
    val topk = udaf(new TopKByValue(MixSampleK),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val pool = docsPool
      .withColumn("uh",
        h48(concat(lit(seed), col("doc_id").cast("string"))).cast("double"))
      .groupBy("lang").agg(topk(col("doc_id"), -col("uh")).as("topk"))
    val weighted = pool.withColumn("w",
      when(col("lang") === "en", 4)
        .when(col("lang") === "zh", 3).otherwise(1))
    // Σw over the domains PRESENT in the data (pool is one row per
    // domain), so a missing domain redistributes rather than starving
    val tw = weighted.agg(sum("w").as("tw"))
    weighted.crossJoin(broadcast(tw))
      .select(col("lang"), col("w"), col("tw"), posexplode(col("topk")))
      .select(col("lang"), col("col._2").as("doc_id"),
        (col("pos") + 1).cast("long").as("rn"), col("w"), col("tw"))
      .filter(col("rn") <=
        greatest(lit(1), floor(lit(MixSampleK) * col("w") / col("tw"))))
      .select("lang", "doc_id", "rn")
      .orderBy("lang", "rn")
  }

  /** The full pre-training data plane — the t170 query, composing the
    * ENTIRE chain a training run actually executes, each stage an
    * already-audited member (the t159/t167 composition convention):
    *
    *  1. decontaminate + select: [[t168CleanSelect]] — eval fold held
    *     out, contaminated docs anti-joined away BEFORE the DSIR bag
    *     models, top-[[DsirK]] importance selection;
    *  2. mixture draw: [[mixtureSampleOn]] over the selection — the
    *     per-domain quota draw runs on the SELECTED roster (weights
    *     rebalance over the domains the selection actually produced);
    *  3. pack: [[sequencePackOn]] over the drawn docs — the per-shard
    *     boundary map a loader seeks by.
    *
    * Output = stage 3's boundary map; its hash pins every stage's
    * interface against the next (a doc wrongly selected, drawn, or
    * mis-counted shifts the prefix sums). Oracle = the pack SQL over the
    * mixture SQL over the clean-selection SQL, each composed verbatim as
    * a derived table.
    *
    * Scale: stage 1 is t168's audited plan; the selection is ≤ [[DsirK]]
    * rows and the draw ≤ [[MixSampleK]], so stages 2-3 ride into the
    * corpus scan as TWO broadcast semi-joins and everything downstream
    * runs over a bounded roster — the capstone adds no corpus-scale work
    * beyond its stage-1 parent.
    */
  def t170TrainingPlane(s: SparkSession, d: String): DataFrame =
    trainingPlaneOn(s, d, seed = "")

  /** The full plane at an arbitrary epoch `seed` — shared by t170 (the
    * default epoch) and [[t178EpochPlane]] (epoch 2). The seed threads
    * into the two STOCHASTIC stages only: the mixture draw and the pack
    * shuffle. Clean selection is epoch-INVARIANT by design — a trainer
    * reshuffles and redraws per epoch, but what is safe/high-quality to
    * train on does not change between epochs.
    */
  private[graft] def trainingPlaneOn(s: SparkSession, d: String,
      seed: String): DataFrame = {
    // lineageCheckpoint at both stage boundaries (r20): the mixture draw
    // references its pool TWICE (the quota table and its weight total), so
    // without the cut the ENTIRE t168 subtree (shingle pass + decontam +
    // DSIR serve) appears twice in the drawn plan and again inside the
    // pack's broadcast — 1,293 explain lines re-walked per action, with
    // the t168 tail re-executing under each occurrence. Both lists are
    // ≤ DsirK/MixSampleK rows and feed only broadcast-HINTED semi-joins,
    // so the checkpoint's defaultSizeInBytes stats cannot flip a join
    // strategy (the manifest negative-result trap does not apply).
    val sel = lineageCheckpoint(
      t168CleanSelect(s, d).select("doc_id"), CacheRegistry.harness)
    val drawn = lineageCheckpoint(mixtureSampleOn(
        documents(s, d).join(broadcast(sel), Seq("doc_id"), "left_semi")
          .select("doc_id", "lang"), seed)
      .select("doc_id"), CacheRegistry.harness)
    sequencePackOn(documents(s, d)
      .join(broadcast(drawn), Seq("doc_id"), "left_semi"), seed)
  }

  /** Epoch-2 packing — the t171 query: [[sequencePackOn]] at a non-default
    * epoch seed, making the "the shuffle key changes per epoch" claim an
    * ORACLE-CHECKED computation instead of a docs sentence: the seed folds
    * into the h48 shuffle key, so epoch 2 draws an independent
    * deterministic shard/concat order over the same corpus (EpochSeedSpec
    * pins order divergence + token conservation against t166's epoch).
    * Same plan shape as t166 — the seed is a literal in the hash input.
    */
  private[graft] val EpochSeed2 = "e2|"

  def t171EpochPack(s: SparkSession, d: String): DataFrame =
    sequencePackOn(documents(s, d), seed = EpochSeed2)

  /** Eval-fold cap for [[t172FixedEvalDecontam]] — the FROZEN-artifact
    * size: a real benchmark is a fixed document set, not a fixed
    * FRACTION of the corpus. t163's synthetic fold (doc_id % 7 == 3 of
    * the corpus itself) grows with the corpus — fine for the oracle
    * twin, but it made the 10× bench number an asterisk against the
    * bounded-benchmark contract instead of evidence for it. Capping the
    * fold at the K lowest doc_ids freezes the artifact: at 10× the data
    * the broadcast side is IDENTICAL, so the check's cost is one shingle
    * pass over the train corpus and nothing else grows.
    */
  private[graft] val DecontamFixedEvalK = 64

  /** The frozen-suite roster: the [[DecontamFixedEvalK]] lowest-id
    * members of a (mod, rem) fold — the deterministic stand-in for "a
    * benchmark is a fixed document set frozen upfront". Shared by every
    * fixed-artifact decontamination form (t172 single-suite, t174/t176
    * multi-suite, d175 onboarding) so the artifact definition can never
    * drift between them.
    */
  private[graft] def fixedSuiteRoster(docs: DataFrame, m: Int, r: Int)
      : DataFrame =
    docs.filter(col("doc_id") % m === r)
      .select("doc_id").orderBy("doc_id").limit(DecontamFixedEvalK)

  /** Fixed-benchmark decontamination — the t172 query: t163's check with
    * the eval-gram artifact frozen at [[DecontamFixedEvalK]] docs (the K
    * lowest-id fold members — deterministic in both engines). This is
    * the production shape end to end: benchmark frozen upfront and
    * bounded regardless of corpus size, check = one map-side broadcast
    * semi-join over the train shingles, report = the shared top-N cut.
    * Train = everything NOT in the frozen roster (the t174 anti-join
    * convention): a fold doc beyond the cap is ordinary train data — in
    * production a doc not in the frozen benchmark IS the corpus, so the
    * residue must be checked, not silently dropped.
    */
  def t172FixedEvalDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val evalIds = fixedSuiteRoster(docs, DecontamEvalMod, DecontamEvalRem)
    val evalGrams = shingleTableN(
        docs.join(broadcast(evalIds), Seq("doc_id"), "left_semi"), 5)
      .select("sh").distinct()
    decontamReport(decontamCountsOn(
      shingleTableN(
        docs.join(broadcast(evalIds), Seq("doc_id"), "left_anti"), 5),
      evalGrams))
  }

  /** The (mod, rem) folds standing in for three held-out benchmark
    * suites in [[t174MultiSuiteDecontam]] — each frozen at the
    * [[DecontamFixedEvalK]] lowest-id members (the t172 artifact shape,
    * three times).
    */
  private[graft] val MultiSuiteFolds = Seq((7, 3), (11, 5), (13, 7))

  /** Multi-suite decontamination — the t174 query: real pipelines check
    * DOZENS of eval suites, not one, and the union of their gram sets is
    * still bounded but no longer tiny — the shape where a Bloom
    * pre-filter in front of the exact check starts paying (t109's
    * machinery applied to the union form; GPT-3/PaLM-style multi-suite
    * overlap checks are the public method). Three frozen suites (the
    * [[MultiSuiteFolds]] folds, each capped at [[DecontamFixedEvalK]]
    * docs — the t172 artifact shape), eval docs = the union roster,
    * train = everything else.
    *
    * Two-stage check, exactness preserved: (1) the train shingles pass a
    * Bloom filter built over the union gram set — the filter reaches
    * the scan as a SCALAR-SUBQUERY plan literal (t109's finding: a
    * crossJoin(broadcast()) would memcpy the 16 KiB array into every
    * corpus row), false positives possible, false negatives impossible;
    * (2) the surviving sliver takes the EXACT broadcast semi-join +
    * per-doc count ([[decontamCountsOn]] — the shared tail, so t174
    * cannot drift from t163/t172), which kills the false positives.
    * Oracle = the exact SQL over the union fold; the Bloom stage is
    * invisible to results by construction, which is exactly what makes
    * it safely composable in front of ANY number of suites.
    *
    * Scale: the broadcast side grows with the number of SUITES (bounded
    * artifacts), never the corpus; the Bloom stage cuts the exact join's
    * probe stream to near-misses only, so adding suites widens one
    * bitmap and the union gram broadcast, not the corpus-side work.
    */
  def t174MultiSuiteDecontam(s: SparkSession, d: String): DataFrame =
    multiSuiteDecontamOn(s, d, MultiSuiteFolds)

  /** [[t174MultiSuiteDecontam]] at an arbitrary suite list — the
    * many-suite scale knob (`scripts/suite_scaling`): adding suites
    * widens the 16 KiB Bloom bitmap's fill and the bounded gram
    * broadcast, never the corpus-side work, and this parameterization is
    * what turns that sentence into a measurable curve.
    */
  private[graft] def multiSuiteDecontamOn(s: SparkSession, d: String,
      folds: Seq[(Int, Int)]): DataFrame = {
    import org.apache.spark.sql.Encoders
    graft.expressions.GraftFunctions.register(s)
    val docs = documents(s, d).select("doc_id", "text")
    val evalIds = folds.map { case (m, r) => fixedSuiteRoster(docs, m, r) }
      .reduce(_.unionByName(_)).distinct()
    // persist(): the union gram set feeds the Bloom build AND the exact
    // confirm (the d95 two-branch convention)
    val evalGrams = CacheRegistry.harness.add(
      shingleTableN(
        docs.join(broadcast(evalIds), Seq("doc_id"), "left_semi"), 5)
        .select("sh").distinct().persist())
    val bloomAgg = udaf(new BloomFilterAgg, Encoders.scalaLong)
    val bloom = evalGrams.agg(bloomAgg(xxhash64(col("sh"))).as("bloom"))
    // call-unique view name (the t109 convention — a fixed name would
    // clobber a user's view and race concurrent constructions)
    val view = s"t174_bloom_${
      java.util.UUID.randomUUID().toString.replace("-", "")}"
    bloom.createOrReplaceTempView(view)
    val trainSh = shingleTableN(
        docs.join(broadcast(evalIds), Seq("doc_id"), "left_anti"), 5)
      .filter(expr(
        s"bloom_might_contain((SELECT bloom FROM $view), xxhash64(sh))"))
    val out = decontamReport(decontamCountsOn(trainSh, evalGrams))
    // Dataset analysis is eager, so the scalar subquery above has already
    // resolved the view into the plan — drop it NOW, not at session end:
    // each invocation would otherwise leak one catalog entry per call
    // (three per bench run, one per spec invocation, forever)
    s.catalog.dropTempView(view)
    out
  }

  /** The fold standing in for a benchmark suite that DID NOT EXIST when
    * the corpus was ingested — [[d175SuiteOnboard]]'s onboarding case.
    * Disjoint from every fold the other decontamination forms freeze
    * ((7,3), (11,5), (13,7)), because the point is a suite the state has
    * never seen.
    */
  private[graft] val OnboardSuiteMod = 17
  private[graft] val OnboardSuiteRem = 5

  /** Decontamination-from-state — the d175 query: onboarding a NEW
    * benchmark suite without re-reading the corpus. Every one-shot
    * decontamination form (t163/t172/t174) pays a full train-corpus
    * shingle pass PER CHECK; the repo's own d155 convention ("each doc is
    * tokenized once ever") says the per-doc gram postings should be the
    * STATE instead. Here ingest accumulates exactly that: two arrival
    * waves (wave 2 re-delivering every tenth even doc — the d151 replay
    * convention, dropped by the doc_id novelty anti-join), each
    * contributing its novel docs' [[shingleTableN]] rows as mergeable
    * postings state (doc_id, sh) — one compact gram-set row per doc,
    * written once ever.
    *
    * Then a suite the state has NEVER seen arrives (the
    * [[OnboardSuiteMod]] fold, frozen at the [[fixedSuiteRoster]] cap) and
    * the whole check is a probe of the state: eval grams = the roster's
    * postings (a broadcast semi-join — no tokenize), train probe = the
    * non-roster postings (anti-join on the roster only, the t172/t174
    * residue convention) against the broadcast eval grams. New-suite
    * onboarding cost = O(suite grams + state probe), never a corpus
    * re-tokenize — the reference's `insert()` vs re-`index()` distinction
    * (`betfairdatabase/README.md:97`) applied to decontamination.
    *
    * Exactness: the novelty-gated waves are disjoint, [[shingleTableN]]
    * is per-doc, so the unioned postings ARE the one-shot shingle table
    * and the probe ≡ the stateless check — the oracle IS t172's SQL at
    * the unseen fold (the d165/d169 convention).
    *
    * Scale: the ingest side is O(batch) per wave; the probe reads the
    * postings state (at 100 TB a gram-bucketed layout pruned by the
    * broadcast roster/gram set), and onboarding suite N+1 re-pays only
    * the probe — the 10× row's claim.
    */
  /** The two-wave novelty-gated postings ingest shared by the
    * decontamination-state queries (d175 onboarding, d179 revision,
    * d182 batch attribution): wave 1 = even ids, wave 2 = odd ids plus
    * a replayed tenth (the d151 replay convention, dropped exactly by
    * the doc-id novelty anti-join). Returns (roster, posts) — the
    * accumulated doc-id roster and the (doc_id, sh) gram postings,
    * which by the disjoint-novel-waves argument ARE the one-shot
    * shingle table of the corpus.
    */
  private def noveltyIngest(docs: DataFrame): (DataFrame, DataFrame) = {
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 20 === 0))
    def ingest(roster: DataFrame, posts: DataFrame, batch: DataFrame)
        : (DataFrame, DataFrame) = {
      val novel = batch.join(roster, Seq("doc_id"), "left_anti")
      (roster.unionByName(novel.select("doc_id")),
        posts.unionByName(shingleTableN(novel, 5)))
    }
    val roster0 = docs.select("doc_id").filter(lit(false))
    val posts0 = shingleTableN(docs.filter(lit(false)), 5)
    val (roster1, posts1) = ingest(roster0, posts0, b1)
    ingest(roster1, posts1, b2)
  }

  def d175SuiteOnboard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val (roster2, posts2) = noveltyIngest(docs)
    // persist(): the accumulated postings state feeds the eval-gram
    // probe AND the train probe — the corpus is never re-tokenized
    val posts = CacheRegistry.harness.add(posts2.persist())
    // the new suite arrives AFTER ingest as a doc-id roster; its ids come
    // from the ROSTER state (a short doc with <5 words has no postings
    // row but still occupies a roster slot — deriving the cap from the
    // postings would shift which K ids are lowest)
    val suiteIds = roster2
      .filter(col("doc_id") % OnboardSuiteMod === OnboardSuiteRem)
      .orderBy("doc_id").limit(DecontamFixedEvalK)
    val evalGrams = posts
      .join(broadcast(suiteIds), Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    decontamReport(decontamCountsOn(
      posts.join(broadcast(suiteIds), Seq("doc_id"), "left_anti"),
      evalGrams))
  }

  /** Per-suite contamination attribution — the t176 query: t174 reports
    * a doc's overlap with the UNION of the frozen suites, but a real
    * pipeline excludes a doc from the eval of the SUITE it contaminates,
    * so the production output shape is (doc_id, suite, n_overlap). The
    * suite id is carried onto the gram rows (the encode-carry
    * convention): the union-roster docs are shingled ONCE, each gram row
    * then tagged with every suite its doc belongs to via one broadcast
    * join against the bounded (doc_id, suite) roster — a gram shared by
    * two suites attributes to both.
    *
    * The Bloom pre-filter stays in front of the exact join, built over
    * the DISTINCT union gram set exactly as t174 builds it —
    * results-invisible by construction (false positives killed by the
    * exact per-suite join, false negatives impossible), so the oracle is
    * the plain per-suite exact SQL. Train = everything not in the union
    * roster (one shared train pool — a doc in ANY suite's roster is eval
    * data, not corpus).
    *
    * Scale: identical corpus-side work to t174 (one shingle pass, one
    * Bloom probe, one broadcast join); the attribution multiplies only
    * the BOUNDED gram broadcast by suite multiplicity, never the corpus
    * stream.
    */
  def t176SuiteAttribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    graft.expressions.GraftFunctions.register(s)
    val docs = documents(s, d).select("doc_id", "text")
    val idSuite = MultiSuiteFolds.zipWithIndex.map { case ((m, r), i) =>
        fixedSuiteRoster(docs, m, r)
          .select(col("doc_id"), lit(i.toLong).as("suite"))
      }.reduce(_.unionByName(_))
    val unionIds = idSuite.select("doc_id").distinct()
    // persist(): the roster shingles feed the suite-tagged gram set AND
    // (via its distinct) the Bloom build — one shingle pass over the
    // bounded roster docs
    val suiteGrams = CacheRegistry.harness.add(
      shingleTableN(
          docs.join(broadcast(unionIds), Seq("doc_id"), "left_semi"), 5)
        .join(broadcast(idSuite), Seq("doc_id"))
        .select("suite", "sh").distinct().persist())
    val bloomAgg = udaf(new BloomFilterAgg, Encoders.scalaLong)
    val bloom = suiteGrams.select("sh").distinct()
      .agg(bloomAgg(xxhash64(col("sh"))).as("bloom"))
    val view = s"t176_bloom_${
      java.util.UUID.randomUUID().toString.replace("-", "")}"
    bloom.createOrReplaceTempView(view)
    val trainSh = shingleTableN(
        docs.join(broadcast(unionIds), Seq("doc_id"), "left_anti"), 5)
      .filter(expr(
        s"bloom_might_contain((SELECT bloom FROM $view), xxhash64(sh))"))
    val out = trainSh.join(broadcast(suiteGrams), Seq("sh"))
      .groupBy("doc_id", "suite").agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("n_overlap").desc, col("doc_id"), col("suite"))
      .limit(DecontamTopN)
    s.catalog.dropTempView(view)
    out
  }

  /** Epoch-2 full plane — the t178 query: [[trainingPlaneOn]] at
    * [[EpochSeed2]], pinning that the COMPOSITION reshuffles correctly
    * across epochs, not just its stages in isolation (t171 proved the
    * pack stage, EpochSeedSpec the mixture stage). The seed folds into
    * both stochastic stage hashes (an epoch-2 trainer draws a different
    * mixture AND packs in a different order over the SAME epoch-invariant
    * clean selection); the oracle composes the same seed into both
    * stages' md5 inputs. Same plan shape as t170 — an epoch is a pure
    * recompute, zero state.
    */
  def t178EpochPlane(s: SparkSession, d: String): DataFrame =
    trainingPlaneOn(s, d, seed = EpochSeed2)

  /** The never-seen fold [[d179PostingsRevision]] onboards AFTER its
    * revision wave — distinct from every other frozen fold, because the
    * point is a suite arriving against an already-revised state.
    */
  private[graft] val RevisionSuiteMod = 19
  private[graft] val RevisionSuiteRem = 4

  /** Postings-state revision — the d179 query: the decontamination gram
    * state under a RE-CRAWL, completing d175's lifecycle the way d131
    * completed the dedup families'. After the two-wave ingest
    * accumulates the (doc_id, sh) postings behind the novelty gate,
    * every doc_id % 5 == 2 is revised (the d131 re-crawl convention:
    * new text for an existing id). The update is supersession, not
    * recompute: the updated docs' old postings anti-join out and ONLY
    * the revised batch re-shingles — unchanged docs' text is never
    * re-read (a gram-set revision replaces the doc's whole gram set, the
    * superseding-state shape of the tiering scoping note). THEN a new
    * suite (the [[RevisionSuiteMod]] fold) onboards from the revised
    * state exactly as d175 onboards: eval grams and train probe both
    * from the postings, zero tokenization at check time.
    *
    * Exactness: after supersession the postings ARE the one-shot shingle
    * table of the UPDATED corpus (disjoint novelty waves minus the
    * updated ids plus their revised rows), so the oracle is t172's SQL
    * over the revised corpus at the unseen fold — a state that healed a
    * re-crawl must be hash-indistinguishable from a corpus that always
    * had the revisions (d131's proof standard).
    *
    * Scale: the revision wave costs O(revised batch) tokenize + one
    * broadcast anti-join over the postings (at 100 TB, doc-bucketed
    * postings prune the anti-join to the touched buckets); the onboard
    * probe is d175's.
    */
  def d179PostingsRevision(s: SparkSession, d: String): DataFrame = {
    // persist(): the doc scan feeds both ingest waves and the revision
    // split (the d131 convention)
    val docs = CacheRegistry.harness.add(
      documents(s, d).select("doc_id", "text").persist())
    val (roster2, posts2) = noveltyIngest(docs)
    // the re-crawl: revised text supersedes — old grams out, new in
    val updatedIds = docs.filter(col("doc_id") % 5 === 2).select("doc_id")
    val revised = docs.filter(col("doc_id") % 5 === 2)
      .select(col("doc_id"),
        concat(col("text"), lit(" u"),
          (col("doc_id") % 3).cast("string")).as("text"))
    // persist(): the revised postings state feeds the eval-gram probe
    // AND the train probe
    val posts = CacheRegistry.harness.add(
      posts2.join(broadcast(updatedIds), Seq("doc_id"), "left_anti")
        .unionByName(shingleTableN(revised, 5)).persist())
    // text revisions never change ids, so the roster state stands
    val suiteIds = roster2
      .filter(col("doc_id") % RevisionSuiteMod === RevisionSuiteRem)
      .orderBy("doc_id").limit(DecontamFixedEvalK)
    val evalGrams = posts
      .join(broadcast(suiteIds), Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    decontamReport(decontamCountsOn(
      posts.join(broadcast(suiteIds), Seq("doc_id"), "left_anti"),
      evalGrams))
  }

  /** The never-seen folds [[d182BatchSuiteAttribution]] onboards as one
    * BATCH — disjoint from every other frozen fold ((7,3), (11,5),
    * (13,7), (17,5), (19,4)), because the point is a wave of suites
    * arriving together against an existing state.
    */
  private[graft] val BatchOnboardFolds = Seq((23, 2), (29, 7), (31, 9))

  /** State-served batch per-suite attribution — the d182 query, the
    * composition of the round-18 features (t176 ∘ d175): a BATCH of
    * never-seen benchmark suites onboards against the accumulated gram
    * postings and the answer is the per-suite (doc_id, suite,
    * n_overlap) attribution — with ZERO tokenization at onboarding.
    * The [[noveltyIngest]] postings state is the only text-derived
    * input; each new suite's roster is frozen from the ROSTER state
    * (the d175 rule — a short doc holds its roster slot), the suite tag
    * rides the BOUNDED (doc_id, suite) broadcast onto the suite docs'
    * own postings (t176's encode-carry convention applied to state
    * rows), and the train probe is one broadcast join of the non-roster
    * postings against the tagged gram set.
    *
    * Exactness: the novelty-gated postings ARE the one-shot shingle
    * table (d175's argument), so the oracle is the plain per-suite
    * exact SQL at the batch folds — t176's oracle parameterized over
    * the new folds.
    *
    * Scale: onboarding N suites costs N bounded roster selections plus
    * ONE pass over the postings state (at 100 TB, the compacted
    * gram-bucketed layout prunes that pass to the union gram set's
    * buckets — [[graft.streaming.StreamOps.suiteOnboardCompacted]]'s
    * layout); suite multiplicity multiplies only the broadcast gram
    * set, never the corpus-side work — the t174 claim, now from state.
    */
  def d182BatchSuiteAttribution(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val (roster2, posts2) = noveltyIngest(docs)
    // persist(): the postings state feeds the suite-gram fetch AND the
    // train probe — the corpus is never re-tokenized at onboarding
    val posts = CacheRegistry.harness.add(posts2.persist())
    val idSuite = BatchOnboardFolds.zipWithIndex.map { case ((m, r), i) =>
      roster2.filter(col("doc_id") % m === r)
        .orderBy("doc_id").limit(DecontamFixedEvalK)
        .select(col("doc_id"), lit(i.toLong).as("suite"))
    }.reduce(_.unionByName(_))
    val unionIds = idSuite.select("doc_id").distinct()
    val suiteGrams = posts.join(broadcast(idSuite), Seq("doc_id"))
      .select("suite", "sh").distinct()
    posts.join(broadcast(unionIds), Seq("doc_id"), "left_anti")
      .join(broadcast(suiteGrams), Seq("sh"))
      .groupBy("doc_id", "suite").agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("n_overlap").desc, col("doc_id"), col("suite"))
      .limit(DecontamTopN)
  }
}
