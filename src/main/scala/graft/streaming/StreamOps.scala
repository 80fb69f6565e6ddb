package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Structured Streaming operators.
  *
  * The reference batch-processes captures of Betfair's exchange stream
  * (monotone `pt` epoch-millis per line — SURVEY.md §2.C "Streaming"); its
  * `insert()` is incremental by design. These are the streaming-native
  * equivalents: file-source ingestion, watermarked windowed aggregation, and
  * custom sessionization state — each scales by partitioning on the grouping
  * key with state kept per key in the state store.
  */
object StreamOps {

  /** THE STATE LIFECYCLE KERNEL. Every `batch=N` state family in this
    * object ingests through [[sink]] and [[publish]] and reads its live
    * view through [[liveRaw]] / [[rosterPointer]], so the protocol is
    * stated once, here.
    *
    * INGEST. A sink is a foreachBatch query checkpointed at
    * `<root>.checkpoint`. Each output partition of a micro-batch is staged
    * whole at `<root>.tmp/<rel>` — a SIBLING of the table root — and moved
    * into place as `<root>/<rel>` by one FileSystem rename, after a stale
    * copy left by an earlier attempt is deleted. Partition discovery over
    * the root never sees half-written files: a reader observes either the
    * complete partition or its absence (a `batch=N.tmp` dir INSIDE the root
    * would be discovered as a malformed partition value and corrupt the
    * inferred `batch` column type). A crash mid-batch leaves the table
    * WITHOUT the batch — a consistent older view — until foreachBatch
    * replays it; the replay re-stages and re-publishes its own
    * deterministic `batch=id` partitions, and probe sides exclude
    * `batch=id`, so a replay reproduces identical state and outputs
    * (effectively-once).
    *
    * SCOPE: the "never a torn partition" contract is exactly as strong as
    * the filesystem's directory rename. That holds on the local FS, HDFS,
    * and viewfs (atomic metadata ops) but NOT on flat-namespace object
    * stores — S3A/GCS "rename" is a per-file copy+delete, during which a
    * lister sees a partial partition. Those schemes are rejected rather
    * than silently degrading effectively-once to maybe-torn; an
    * object-store deployment should publish via a table format whose
    * commit is a metadata swap instead of this path.
    *
    * LIVE READ. Deletes land as `<statePath>.tombstones/batch=N` id
    * partitions ([[tombstoneStream]]) and are healed by ONE broadcast
    * anti-join ([[dropDead]]) — the same heal the compacted reads apply to
    * their `tombstones` argument. The state is never rewritten on the
    * ingest path; compactions read through the heal, so a delete becomes
    * physical at the next compaction and maintenance cannot resurrect it.
    */
  private def sink(input: DataFrame, root: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", s"$root.checkpoint")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        body(batch.toDF(), id)
      }
      .start()

  /** Stage `df` at `<root>.tmp/<rel>`, then publish it as `<root>/<rel>`
    * (the kernel's ingest protocol above).
    */
  private[streaming] def publish(df: DataFrame, root: String, rel: String)
      : Unit = {
    df.write.mode("overwrite").parquet(s"$root.tmp/$rel")
    publishPartition(df.sparkSession, s"$root.tmp/$rel", s"$root/$rel")
  }

  private val nonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "cos", "swift")

  /** Move the staged dir `tmp` to `dst` with one checked rename, deleting
    * a stale `dst` first; non-atomic-rename schemes are rejected (SCOPE
    * above).
    */
  private def publishPartition(spark: SparkSession, tmp: String, dst: String)
      : Unit = {
    val src = new org.apache.hadoop.fs.Path(tmp)
    val d = new org.apache.hadoop.fs.Path(dst)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (nonAtomicRenameSchemes.contains(scheme))
      throw new UnsupportedOperationException(
        s"publishPartition: $scheme:// rename is copy+delete, not atomic — " +
          "the torn-partition guarantee does not hold on this filesystem")
    if (fs.exists(d)) fs.delete(d, true)
    fs.mkdirs(d.getParent)
    if (!fs.rename(src, d))
      throw new java.io.IOException(s"publishPartition: rename $tmp -> $dst failed")
  }

  /** Where [[tombstoneStream]] lands the deletes of the state at
    * `statePath`.
    */
  private def tombstonePath(statePath: String): String =
    s"$statePath.tombstones"

  /** The published tombstones of the state at `statePath`; None before
    * the first delete.
    */
  private def tombstonesOf(spark: SparkSession, statePath: String)
      : Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstonePath(statePath))
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      None
    else Some(spark.read.parquet(p.toString))
  }

  /** THE tombstone heal: drop the rows of `df` whose `key` is one of the
    * `deadKey` ids in `dead`. The id list is compact, so the anti-join
    * broadcasts and rides the scan map-side — O(tombstones) per read.
    */
  private def dropDead(df: DataFrame, dead: Option[DataFrame],
      key: String = "doc_id", deadKey: String = "doc_id"): DataFrame =
    dead.fold(df)(t => df.join(broadcast(t.select(col(deadKey).as(key))),
      Seq(key), "left_anti"))

  /** The tombstone-healed accumulated state (or its sub-table `sub`, e.g.
    * `roster`/`posts`) with the `batch` column KEPT — the input of every
    * latest-batch-wins read and compaction ([[liveState]] is this view
    * minus `batch`).
    */
  private def liveRaw(spark: SparkSession, statePath: String, idCol: String,
      sub: String = ""): DataFrame =
    dropDead(
      spark.read.parquet(if (sub.isEmpty) statePath else s"$statePath/$sub"),
      tombstonesOf(spark, statePath), idCol, idCol)

  /** The roster version pointer of a multi-table state (dsir, lm, gram):
    * the healed `roster` collapsed to each doc's LATEST batch, which is the
    * authoritative version — a revision that leaves a sub-table empty must
    * still supersede its old rows there. Returns that (doc_id, batch)
    * table and a reader of a healed sub-table pruned to it.
    */
  private def rosterPointer(spark: SparkSession, statePath: String)
      : (DataFrame, String => DataFrame) = {
    val latest = liveRaw(spark, statePath, "doc_id", "roster")
      .groupBy("doc_id").agg(max("batch").as("batch"))
    (latest, sub => liveRaw(spark, statePath, "doc_id", sub)
      .join(latest, Seq("doc_id", "batch")))
  }

  /** The probe sink of the minhash, Hamming, video and semantic dedup
    * families: publish the batch's `state` partition, split the
    * accumulated state into this batch's rows (mine) and every other
    * batch's (prior), and publish `pairs(prior, mine)` under
    * `<statePath>.pairs`. Excluding `batch=id` from prior is what makes a
    * replay reproduce identical pairs.
    */
  private def probeSink(spark: SparkSession, input: DataFrame,
      statePath: String)(state: DataFrame => DataFrame)(
      pairs: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    sink(input, statePath) { (batch, id) =>
      publish(state(batch), statePath, s"batch=$id")
      val all = spark.read.parquet(statePath)
      publish(pairs(all.filter(col("batch") =!= id).drop("batch"),
          all.filter(col("batch") === id).drop("batch")),
        s"$statePath.pairs", s"batch=$id")
    }

  /** Watermarked tumbling-window counts per event type. */
  def windowedCounts(events: DataFrame, watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String,
      value: Double)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Long,
      sumValue: Double)
  case class Session(user_id: Long, start_ts: Long, end_ts: Long,
      n_events: Long, sum_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when a later event of the same user arrives more than `gapMillis` after
    * the last one (event-time gap, closed inline — no wall-clock timeout, so
    * the stream stays quiescent between triggers and results are
    * deterministic; a production variant would add EventTimeTimeout to flush
    * trailing sessions).
    */
  def sessionize(events: Dataset[Event], gapMillis: Long = 30 * 60 * 1000L)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.lastSeen > gapMillis =>
                closed += Session(userId, s.start, s.lastSeen, s.nEvents,
                  s.sumValue)
                cur = Some(SessionState(t, t, 1, e.value))
              case Some(s) =>
                cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1,
                  sumValue = s.sumValue + e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Streaming Gopher quality gate — the streaming twin of t59/t65's
    * quality stage, closing the batch/streaming parity gap for the
    * cleaning pipeline (dedup and sessionization already have streaming
    * twins). The verdict column IS [[graft.ops.TextOps.gopherKeep]] — the
    * same single source of truth the batch queries evaluate — so batch and
    * stream can never disagree on a document.
    *
    * The whole rule set (word-count/mean-word-length/stopword/repetition/
    * n-gram caps/line rules) is stateless map-side expression work: no
    * watermark, no state store, no shuffle — a quality gate adds ZERO
    * state to an unbounded feed, which is what makes it safe to run first,
    * before any stateful dedup stage, on a 100 TB/day ingest.
    * Input needs a `text` column; emits the input plus `keep_quality`
    * (use `.filter(col("keep_quality"))` to gate).
    */
  def qualityGateStream(docs: DataFrame): DataFrame =
    docs.withColumn("keep_quality",
      graft.ops.TextOps.gopherKeep(col("text")))

  /** Streaming C4 page gate — the streaming twin of t86's page verdict,
    * over the document's REAL lines (`split(text, '\n')`; the batch query
    * synthesizes lines only because the test corpus is single-line
    * prose). The verdict expression IS [[graft.ops.TextOps.c4Keep]] — the
    * same single source of truth — and, like [[qualityGateStream]], it is
    * stateless map-side HOF work: no watermark, no state store, no
    * shuffle. Input needs a `text` column; emits the input plus `keep_c4`.
    */
  def c4GateStream(docs: DataFrame): DataFrame =
    docs.withColumn("keep_c4",
      graft.ops.TextOps.c4Keep(split(col("text"), "\n")))

  /** Streaming blocklist gate — the streaming twin of t99's page verdict.
    * The expression IS [[graft.ops.TextOps.blocklistKeep]] (the same
    * single source of truth as the batch query and the DuckDB oracle), so
    * batch and stream can never disagree on a blocked page. Stateless
    * map-side membership work like the quality and C4 gates: no
    * watermark, no state store, no shuffle. Input needs `text` and `url`
    * columns (the raw crawl URL — canonicalized here with the shared
    * [[graft.ops.TextOps.canonicalizeUrl]] chain); emits the input plus
    * `keep_blocklist`.
    */
  def blocklistGateStream(docs: DataFrame): DataFrame =
    docs.withColumn("keep_blocklist",
      graft.ops.TextOps.blocklistKeep(col("text"),
        graft.ops.TextOps.canonicalizeUrl(col("url"))))

  /** Streaming URL dedup — the streaming twin of the d93 batch query
    * ([[graft.ops.TextOps.canonicalizeUrl]] is the shared single source of
    * truth, so batch and stream canonicalize identically): canonicalize
    * the incoming `url` column, then drop later fetches of the same
    * canonical URL within the watermark via
    * `dropDuplicatesWithinWatermark`. The watermark bounds the state
    * (canonical URLs older than the delay are evicted), which is what
    * makes URL dedup feasible on an unbounded crawl feed — global
    * first-per-URL belongs to the batch op (d93); this catches the
    * duplicates that co-occur in time (re-crawls, redirect storms, the
    * same page discovered via trailing-slash/utm variants). Input needs
    * an event-time `ts` column and a `url` column; emits the input plus
    * `canon_url`, deduplicated on it.
    */
  def urlDedupStream(docs: DataFrame, watermarkDelay: String = "10 minutes")
      : DataFrame =
    docs
      .withColumn("canon_url",
        graft.ops.TextOps.canonicalizeUrl(col("url")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("canon_url")

  /** Streaming exact dedup for document pipelines: normalize → fingerprint →
    * `dropDuplicatesWithinWatermark`. The watermark bounds the dedup state
    * (fingerprints older than the delay are evicted), which is what makes
    * exact dedup feasible on an unbounded 100 TB/day feed — global exact
    * dedup belongs to the batch ops (d24); this catches the duplicates that
    * actually co-occur in time (crawler re-fetches, retry storms).
    * Input needs an event-time `ts` column and a `text` column.
    */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "10 minutes")
      : DataFrame =
    docs
      .withColumn("fp",
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming benchmark decontamination — the stream-static twin of batch
    * t67 ([[graft.ops.TextOps.t67Decontaminate]]): incoming documents are
    * 3-gram-shingled map-side and joined against a STATIC benchmark-shingle
    * table (broadcast — an eval set is small by definition), then per-doc
    * overlap counts aggregate under the event-time watermark so the state
    * store stays bounded on an unbounded feed. Emits (window, doc_id,
    * n_shared) per contaminated document in append mode once its watermark
    * passes — the shape a live ingestion pipeline needs to quarantine
    * benchmark-leaking docs before they reach training storage.
    * Input docs need (doc_id, ts, text); benchShingles needs (sh).
    */
  def decontaminateStream(docs: DataFrame, benchShingles: DataFrame,
      watermarkDelay: String = "10 minutes", minShared: Long = 1L)
      : DataFrame = {
    val ws = split(trim(lower(col("text"))), "\\s+")
    val sh = docs
      .withWatermark("ts", watermarkDelay)
      .filter(size(ws) >= 3)
      .select(col("doc_id"), col("ts"),
        explode(array_distinct(transform(
          sequence(lit(1), size(ws) - 2),
          i => array_join(slice(ws, i, lit(3)), " ")))).as("sh"))
    sh.join(broadcast(benchShingles.select("sh")), Seq("sh"))
      .groupBy(window(col("ts"), "10 minutes"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      // keep the window: a doc whose hits straddle two windows emits one
      // row per window, and the consumer must be able to tell the partials
      // apart (each is tested against minShared separately — quarantine
      // logic that needs the TOTAL overlap should sum downstream by doc_id)
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("n_shared"))
  }

  /** Continuous incremental near-dup detection — the streaming twin of
    * [[graft.ops.TextOps.incrementalMinhashDedup]], and the piece that
    * makes the "100 TB pipelines are incremental" story END-TO-END: each
    * micro-batch of documents is shingled ONCE, its signature table (with
    * precomputed LSH band keys) APPENDED to the state as its own partition,
    * and only then probed — band keys from stored columns — against the
    * prior batches' partitions. Old text is never re-read, old signatures
    * never re-hashed, and the per-batch state WRITE is O(batch): the
    * accumulated corpus is read for the probe join but never rewritten
    * (the round-6 design rewrote the whole snapshot every batch —
    * quadratic cumulative I/O on an unbounded stream).
    *
    * Effectively-once through the kernel's [[probeSink]]. No cache: the
    * batch signatures are written once and read back for the three join
    * uses, so nothing persists across batches.
    *
    * Input batches must carry disjoint doc_ids (the contract of the
    * batch-side API): a re-ingested doc_id is stored once per carrying
    * batch — [[graft.ops.TextOps.incrementalPairsFromKeyed]]'s
    * distinct-band counting keeps `n_bands` correct for pairs probing
    * such duplicates, but the state grows with every copy and pairs
    * involving the doc are re-emitted by each duplicating batch, so
    * dedup the id space upstream (or key re-crawls by a fresh doc_id).
    *
    * Layout: `statePath/batch=N/` = signature+band-key partition of
    * micro-batch N ([[graft.ops.TextOps.minhashSignaturesWithKeys]] schema);
    * `statePath.pairs/batch=N/` = near-dup pairs emitted by micro-batch N.
    * Readers of the full accumulated state read `statePath` as one
    * partitioned parquet table. Returns the started query (caller stops it).
    */
  def incrementalDedupStream(spark: SparkSession, docs: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probeSink(spark, docs, statePath)(
      graft.ops.TextOps.minhashSignaturesWithKeys)(
      graft.ops.TextOps.incrementalPairsFromKeyed)

  /** Streaming incremental PERCEPTUAL-HASH dedup —
    * [[incrementalDedupStream]]'s state layout applied to the multimodal
    * pillar, completing the batch one-shot (d98) / oracle-gated
    * incremental (d104) / streaming sink trio for the Hamming family.
    * Per micro-batch of (doc_id, payload) media rows: decode + hash ONLY
    * the batch ([[graft.multimodal.Multimodal.aHash64]] — one real codec
    * round-trip per payload, never a re-decode of history), publish the
    * batch's own (doc_id, ahash) `batch=N` partition — EIGHT BYTES of
    * state per image, the cheapest accumulated state in the whole dedup
    * family — then probe the prior partitions through
    * [[graft.multimodal.Multimodal.incrementalHammingPairs]] (stored
    * hashes re-bucket with four shifts; nothing re-reads payload bytes).
    *
    * Effectively-once through the kernel's [[probeSink]]. Input batches
    * must carry disjoint doc_ids (the batch API's contract; the `=!=`
    * guard in the cross probe degrades an overlap to missed pairs, never
    * corrupt self-pairs).
    *
    * Layout: `statePath/batch=N/` = (doc_id, ahash) partition of
    * micro-batch N; `statePath.pairs/batch=N/` = Hamming≤3 pairs emitted
    * by micro-batch N. Returns the started query (caller stops it).
    */
  def imageDedupStream(spark: SparkSession, media: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    hammingDedupStream(spark, media, statePath,
      graft.multimodal.Multimodal.aHash64)

  /** Streaming incremental AUDIO dedup — the same sink as
    * [[imageDedupStream]] with [[graft.multimodal.Multimodal.audioHash64]]
    * as the per-batch hasher (the d111 finding made executable at the
    * streaming layer: nothing in the Hamming sink is image-specific beyond
    * the hash function). State is 8 bytes per clip; old WAVs are never
    * re-decoded.
    */
  def audioDedupStream(spark: SparkSession, media: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    hammingDedupStream(spark, media, statePath,
      graft.multimodal.Multimodal.audioHash64)

  /** The shared Hamming-family sink: hash ONLY the batch with `hashFn`,
    * publish its (doc_id, ahash) `batch=N` partition, probe prior
    * partitions via the shared bucket machinery. One implementation for
    * every 64-bit perceptual hash — a new modality is one function
    * reference.
    */
  private def hammingDedupStream(spark: SparkSession, media: DataFrame,
      statePath: String, hashFn: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probeSink(spark, media, statePath)(
      hashFn(_).filter(col("ahash").isNotNull))(
      graft.multimodal.Multimodal.incrementalHammingPairs(_, _))

  /** Streaming incremental VIDEO clip-overlap dedup — the containment
    * family's sink, completing streaming coverage across ALL multimodal
    * members (image/audio Hamming above, video here). Per micro-batch of
    * (doc_id, fp) frame-fingerprint rows (each video's COMPLETE frame set
    * in one batch — the whole-item contract of
    * [[graft.multimodal.Multimodal.incrementalClipPairs]]): publish the
    * batch's frame rows as `batch=N` state (append-only, ~33 bytes per
    * frame; prior videos are never re-decoded or re-fingerprinted), then
    * probe prior partitions for containment pairs (self + cross, the same
    * verdict as the one-shot d103). Effectively-once via [[probeSink]].
    */
  def videoDedupStream(spark: SparkSession, frames: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probeSink(spark, frames, statePath)(_.select(col("doc_id"), col("fp")))(
      graft.multimodal.Multimodal.incrementalClipPairs)

  /** Streaming incremental SEMANTIC dedup — [[incrementalDedupStream]]'s
    * state layout applied to the third dedup modality, completing
    * batch+streaming parity for the whole family (exact
    * [[dedupStream]] ✓, minhash [[incrementalDedupStream]] ✓, semantic
    * here). The codebook at `codebookPath` is the FROZEN k-means
    * centroid table ([[graft.ops.VectorOps.trainCodebook]] over an early
    * representative sample, persisted once, never rewritten by the
    * stream — the SemDeDup contract that keeps cluster ids comparable
    * across the stream's lifetime).
    *
    * Per micro-batch: assign the batch's (vec_id, embedding) rows against
    * the broadcast codebook (O(batch × k), no shuffle of accumulated
    * state), publish them as this batch's own `batch=N` assignment
    * partition, then probe the PRIOR partitions for same-cluster
    * above-threshold pairs — stored cids are read back, never re-derived.
    * State write is O(batch); the probe join is keyed on cid, but the
    * `batch=N` layout means the accumulated corpus is scanned (never
    * rewritten) each batch to find the matching cids — O(corpus) read per
    * batch. For the cid-pruned O(touched clusters) read, land the state
    * through [[graft.ops.VectorOps.writeCidBucketedState]]'s cid-bucketed
    * layout instead (the batch path; see BucketedStateSpec).
    *
    * Effectively-once through the kernel's [[probeSink]]. Input
    * batches must carry disjoint vec_ids (the batch API's contract; a
    * re-ingested vec_id degrades to missing cross pairs, not corrupt
    * self-pairs — see [[graft.ops.VectorOps.semanticPairs]]).
    *
    * Layout: `statePath/batch=N/` = (vec_id, embedding, cid) assignment
    * partition of micro-batch N; `statePath.pairs/batch=N/` = pairs
    * emitted by micro-batch N. Readers of the full accumulated
    * assignment state read `statePath` as one partitioned parquet table.
    * Returns the started query (caller stops it).
    */
  def semanticDedupStream(spark: SparkSession, emb: DataFrame,
      codebookPath: String, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probeSink(spark, emb, statePath)(b =>
      graft.ops.VectorOps.assignToCentroids(spark, b,
        spark.read.parquet(codebookPath)))(
      graft.ops.VectorOps.semanticPairs(spark, _, _))

  /** Streaming ANN index-ingest sink — the streaming member of the
    * similarity-search trio (one-shot v41 / batch-incremental v120 / here),
    * mirroring the dedup families' one-shot+incremental+streaming coverage.
    * The coarse quantizer is a FROZEN offline artifact at `codebookPath`
    * (the v120/d92 contract: retraining is a corpus re-index, not an
    * ingest step). Per micro-batch of (vec_id, embedding): assign the
    * batch's vectors to their inverted lists with the SHARED
    * [[graft.ops.VectorOps.assignToIvfLists]] (batch and stream cannot
    * assign differently) — O(batch) work, stored vectors never re-read or
    * re-assigned — and publish as this batch's own `batch=N` partition
    * (the kernel's [[publish]]). [[annIndexQuery]] serves top-k over the
    * accumulated index at read time.
    */
  def annIngestStream(spark: SparkSession, emb: DataFrame,
      codebookPath: String, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(emb, statePath) { (batch, id) =>
      publish(graft.ops.VectorOps.assignToIvfLists(spark, batch,
        spark.read.parquet(codebookPath)), statePath, s"batch=$id")
    }

  /** Top-k cosine query over an [[annIngestStream]]-accumulated index:
    * probe each query's `nprobe` nearest inverted lists through the same
    * shared probe/score/rank definitions as v41/v120
    * ([[graft.ops.VectorOps.ivfQueryProbes]] /
    * `ivfProbeCandidates` / `ivfTopK`) — the served answer is the one-shot
    * answer by construction. `queries` carries (vec_id, embedding).
    * Reads through the tombstone heal ([[liveRaw]]): a vec_id deleted via
    * [[tombstoneStream]] can never occupy a served top-k slot.
    */
  def annIndexQuery(spark: SparkSession, statePath: String,
      codebookPath: String, queries: DataFrame, k: Int = 3, nprobe: Int = 2)
      : DataFrame = {
    val codebook = spark.read.parquet(codebookPath)
    // latest-batch collapse BEFORE scoring: an at-least-once source can
    // deliver the same vec_id in two micro-batches; without the collapse
    // the duplicate would occupy two top-k slots here while
    // compactAnnIndex's serving layout holds it once — the two query
    // paths over the same state must agree (the same latestPerId rule).
    val state = latestPerId(liveRaw(spark, statePath, "vec_id"), "vec_id")
    val probes =
      graft.ops.VectorOps.ivfQueryProbes(spark, queries, codebook, nprobe)
    graft.ops.VectorOps.ivfTopK(
      graft.ops.VectorOps.ivfProbeCandidates(spark, state, probes), k)
  }

  /** Compact an [[annIngestStream]]-accumulated `batch=N` index into the
    * clabel-bucketed serving layout
    * ([[graft.ops.VectorOps.writeIvfBucketedState]]) — the maintenance job
    * bridging the two layouts' tradeoffs: the streaming sink's layout is
    * append-only (each micro-batch publishes its own partition, no
    * read-modify-write), the serving layout is probe-optimal
    * (exchange-free, bucket-pruned — see `probeIvfBucketedState`). One
    * rewrite job, run off the ingest path. Replayed vec_ids collapse to
    * their latest batch's row via a max_by partial aggregation (the sink
    * overwrites a replayed partition, so earlier duplicates are stale by
    * construction). Compacts from [[liveRaw]], so [[tombstoneStream]]
    * deletes are applied PHYSICALLY here — a deleted vec_id never reaches
    * the serving table — and the write is a full overwrite (a re-run
    * compaction replaces, never doubles, the serving rows).
    */
  def compactAnnIndex(spark: SparkSession, statePath: String,
      tableName: String, path: String, nBuckets: Int = 32): Unit =
    graft.ops.VectorOps.writeIvfBucketedState(
      latestPerId(liveRaw(spark, statePath, "vec_id"), "vec_id"), tableName,
      path, nBuckets, overwrite = true)

  /** Collapse a `batch=N` per-item state to one row per `idCol` — latest
    * batch wins (the sink overwrites a replayed partition, so earlier
    * duplicates are stale by construction). Every non-id column rides one
    * max_by payload struct, a partial aggregation, so the map side reduces
    * before the shuffle. The ONE dedup rule of every 1-row-per-id state's
    * direct reads and compactions.
    */
  private def latestPerId(raw: DataFrame, idCol: String): DataFrame = {
    val dataCols = raw.columns.filter(c => c != idCol && c != "batch").toSeq
    raw.groupBy(idCol)
      .agg(max_by(struct(dataCols.map(col): _*), col("batch")).as("t"))
      .select(col(idCol) +: dataCols.map(c => col(s"t.$c").as(c)): _*)
  }

  /** Compact an [[incrementalDedupStream]] `batch=N` signature state into
    * the (band, bkey)-bucketed serving layout
    * ([[graft.ops.TextOps.writeBandBucketedState]]) — the minhash member
    * of the compaction family [[compactAnnIndex]] started: the sink's
    * layout stays append-only (each micro-batch publishes its own
    * partition), the serving layout is probe-optimal (exchange-free,
    * the state never re-hashed). Replayed doc_ids collapse to their
    * latest batch's signature row. Compacts from [[liveRaw]] (tombstones
    * applied physically) and overwrites the serving table (a re-run
    * replaces, never doubles).
    */
  def compactMinhashState(spark: SparkSession, statePath: String,
      tableName: String, path: String, nBuckets: Int = 32): Unit =
    graft.ops.TextOps.writeBandBucketedState(
      latestPerId(liveRaw(spark, statePath, "doc_id"), "doc_id"),
      tableName, path, nBuckets, overwrite = true)

  /** Compact a [[semanticDedupStream]] `batch=N` assignment state into the
    * cid-bucketed serving layout
    * ([[graft.ops.VectorOps.writeCidBucketedState]]): exchange-free,
    * cluster-pruned probes instead of the sink's whole-state read per
    * batch. Replayed vec_ids collapse to their latest batch's row.
    * Tombstones applied physically ([[liveRaw]]); full overwrite.
    */
  def compactSemanticState(spark: SparkSession, statePath: String,
      tableName: String, path: String, nBuckets: Int = 32): Unit =
    graft.ops.VectorOps.writeCidBucketedState(
      latestPerId(liveRaw(spark, statePath, "vec_id"), "vec_id"),
      tableName, path, nBuckets, overwrite = true)

  /** Streaming density-pruning ingest — the streaming member completing
    * the v154/v156 prototype-pruning trio (one-shot / batch-incremental /
    * here), the d92 → [[semanticDedupStream]] step applied to selection:
    * a growing corpus keeps its pruning decisions refreshable while
    * vectors arrive as a feed. The codebook is a FROZEN offline artifact
    * at `codebookPath` (the v156/d92 contract: cluster ids must stay
    * comparable across batches; retraining is a re-index, not an ingest
    * step). Per micro-batch of (vec_id, embedding): assign against the
    * broadcast codebook with the SHARED
    * [[graft.ops.VectorOps.assignToCentroids]] (batch, incremental and
    * stream cannot assign differently) — O(batch) work, stored vectors
    * never re-read — and publish as this batch's own `batch=N` partition
    * ([[publish]]). A re-delivered or revised vec_id
    * supersedes at READ time (latest-batch-wins in
    * [[densityPruneServed]]); deletes ride [[tombstoneStream]] at the
    * same `statePath` with idCol `vec_id`. WITHIN a batch the feed is
    * collapsed to one deterministic row per vec_id first (max embedding
    * — arrays order lexicographically, so the pick is arbitrary but
    * TOTAL, the [[dedupWithinBatch]] rule): two revisions of one vec_id
    * delivered in a single trigger would otherwise land as two rows
    * under the same batch id and [[latestPerId]]'s tie-break would serve
    * a nondeterministic winner.
    */
  def densityPruneStream(spark: SparkSession, emb: DataFrame,
      codebookPath: String, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(emb, statePath) { (batch, id) =>
      val one = batch.groupBy("vec_id").agg(max("embedding").as("embedding"))
      publish(graft.ops.VectorOps.assignToCentroids(spark, one,
        spark.read.parquet(codebookPath)), statePath, s"batch=$id")
    }

  /** The served prototypicality ranks of a [[densityPruneStream]] state:
    * tombstone-healed assignments collapse to each vector's LATEST batch
    * (a revision moves the vector to its new cluster and the old row
    * stops serving), then the SHARED
    * [[graft.ops.VectorOps.prototypicalityRanks]] serve — so the served
    * decision ≡ the fixed-codebook one-shot over the current corpus by
    * construction (DensityStreamSpec pins it across a revision and a
    * delete). The rank windows partition by cid (the bounded-cluster
    * contract); the accumulated state is read once, never exchanged
    * beyond the per-cluster rank shuffle the one-shot also pays — a
    * revision or delete shifts its CLUSTER's ranks (and n), so per-vector
    * ranks are deliberately not cached across batches.
    */
  def densityPruneServed(spark: SparkSession, statePath: String,
      codebookPath: String): DataFrame =
    graft.ops.VectorOps.prototypicalityRanks(spark,
      latestPerId(liveRaw(spark, statePath, "vec_id"), "vec_id"),
      spark.read.parquet(codebookPath))

  /** The served ranks over a COMPACTED density state — the production
    * read: a [[densityPruneStream]] state holds exactly the
    * (vec_id, embedding, cid) assignment schema, so its compaction IS
    * [[compactSemanticState]] (latest-wins collapse, physical
    * tombstones, cid-bucketed serving table — per-cluster rank windows
    * read each cluster's rows bucket-local). `tombstones` carries
    * vec_ids deleted since the last compaction (anti-joined below the
    * ranks — a dead vector must leave its cluster's n and ranks, the
    * v127/v130 convention). A post-compaction revision is invisible
    * until the next compaction ([[bm25Compacted]]'s staleness window);
    * revision-fresh reads serve [[densityPruneServed]] instead.
    */
  def densityPruneCompacted(spark: SparkSession, tableName: String,
      codebookPath: String, tombstones: Option[DataFrame] = None)
      : DataFrame = {
    graft.ops.VectorOps.prototypicalityRanks(spark,
      dropDead(spark.table(tableName), tombstones, "vec_id", "vec_id"),
      spark.read.parquet(codebookPath))
  }

  /** Compact an [[imageDedupStream]]/[[audioDedupStream]] `batch=N` hash
    * state into the Hamming serving layout
    * ([[graft.multimodal.Multimodal.writeHammingBucketedState]]): member
    * rows bucketed on ahash plus the distinct-hash bucket rows bucketed
    * on tb, so `probeHammingBucketedState` prunes both scans and never
    * exchanges the state. Replayed doc_ids collapse to their latest
    * batch's hash. Tombstones applied physically ([[liveRaw]]): deleted
    * docs leave BOTH tables — member rows by the anti-join, their hash's
    * bucket rows because [[graft.multimodal.Multimodal.distinctHashBuckets]]
    * rebuilds from the surviving members — so post-compaction occupancy
    * counts are exact over the survivors (the between-compactions read
    * path, [[liveState]], is conservative only).
    */
  def compactHammingState(spark: SparkSession, statePath: String,
      memberTable: String, memberPath: String, bucketTable: String,
      bucketPath: String, nBuckets: Int = 32): Unit =
    graft.multimodal.Multimodal.writeHammingBucketedState(
      latestPerId(liveRaw(spark, statePath, "doc_id"), "doc_id"),
      memberTable, memberPath, bucketTable, bucketPath, nBuckets)

  /** Compact a [[videoDedupStream]] `batch=N` frame state into the
    * fp-bucketed serving layout
    * ([[graft.multimodal.Multimodal.writeFrameBucketedState]]). Frame
    * state is MULTI-row per doc (whole-item contract), so latest-batch-
    * wins operates per doc: a replayed doc keeps only its latest batch's
    * complete frame set. Per-doc sizes are computed once here and stored,
    * so probes never window over the accumulated state. Tombstones
    * applied physically ([[liveRaw]]); full overwrite.
    */
  def compactFrameState(spark: SparkSession, statePath: String,
      tableName: String, path: String, nBuckets: Int = 32): Unit = {
    val latest = latestWholeItem(liveRaw(spark, statePath, "doc_id"),
      "doc_id").select("doc_id", "fp")
    val sized = latest.withColumn("sz",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    graft.multimodal.Multimodal.writeFrameBucketedState(sized, tableName,
      path, nBuckets)
  }

  /** Latest-batch-wins for MULTI-row-per-item state (the whole-item
    * contract: an item's rows all travel in one batch, so a replayed or
    * revised item keeps only its newest batch's COMPLETE row set —
    * [[latestPerId]]'s row-wise max_by rule cannot apply here without
    * mixing two batches' halves). One compact (id → max batch) aggregate
    * joined back; shared by [[compactFrameState]] and the PQ code paths
    * ([[pqIndexQuery]]/[[compactPqCodes]]) so the collapse rule cannot
    * drift.
    */
  private[graft] def latestWholeItem(raw: DataFrame, idCol: String)
      : DataFrame = {
    // renamed join keys: the max-batch side derives from raw, so
    // qualified column references would trip Spark's ambiguous-self-join
    // check
    val latestBatch = raw.groupBy(idCol).agg(max("batch").as("mb"))
      .withColumnRenamed(idCol, "mid")
    raw.join(latestBatch,
        col(idCol) === col("mid") && col("batch") === col("mb"))
      .drop("mid", "mb")
  }

  /** Streaming PQ code-ingest sink — the streaming member of the
    * COMPRESSED-index trio (one-shot v64 / batch-incremental v121 /
    * here), giving the PQ pillar the same ingest/query/compact symmetry
    * the raw IVF index has ([[annIngestStream]]). The per-subspace
    * codebooks at `codebookPath` are the FROZEN offline artifact
    * ([[graft.ops.VectorOps.trainPqCodebooksOn]], persisted once — the
    * v121 contract). Per micro-batch of (vec_id, embedding): encode ONLY
    * the batch against the broadcast codebooks (O(batch) — stored
    * vectors are never re-encoded; the state holds M small ids per
    * vector, nothing else) and publish as this batch's own `batch=N`
    * partition ([[publish]]). A vector's M code rows always travel
    * together (whole-item contract), so readers collapse latest-batch-wins
    * per vec_id and a re-delivered or re-crawled vector supersedes
    * cleanly.
    */
  def pqIngestStream(spark: SparkSession, emb: DataFrame,
      codebookPath: String, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(emb, statePath) { (batch, id) =>
      publish(graft.ops.VectorOps.encodePq(spark,
        graft.ops.VectorOps.pqSubvectors(batch),
        spark.read.parquet(codebookPath)), statePath, s"batch=$id")
    }

  /** Top-k ADC query over a [[pqIngestStream]]-accumulated code table:
    * latest-batch-wins per vec_id ([[latestWholeItem]] — the same rule
    * compaction applies, so the two query paths cannot drift),
    * tombstones healed ([[liveRaw]]), then the SHARED
    * [[graft.ops.VectorOps.pqAdcScore]] / `pqTopK` definitions — the
    * served answer is v64/v121's answer by construction. `queries`
    * carries (vec_id, embedding); scoring reads only the M-small-ids
    * code rows, never stored floats.
    */
  def pqIndexQuery(spark: SparkSession, statePath: String,
      codebookPath: String, queries: DataFrame, k: Int = 3): DataFrame = {
    val cb = spark.read.parquet(codebookPath)
    val codes = latestWholeItem(liveRaw(spark, statePath, "vec_id"),
      "vec_id").select("vec_id", "m", "cid")
    graft.ops.VectorOps.pqTopK(
      graft.ops.VectorOps.pqAdcScore(spark, codes,
        graft.ops.VectorOps.pqSubvectors(queries), cb), k)
  }

  /** Compact a [[pqIngestStream]] `batch=N` code state into one plain
    * serving table: latest-batch-wins per vec_id, tombstones applied
    * physically, full overwrite (a re-run replaces). Deliberately NOT
    * bucketed: ADC scores EVERY code row by design (PQ's honest cost —
    * see the v82 frontier), so there is no key to prune on and a bucket
    * layout would buy nothing; this compaction's value is collapsing
    * replays, applying deletes, and rewriting many small micro-batch
    * files into few scan-friendly ones (sorted by (m, cid) so the
    * broadcast-LUT join streams locality-friendly).
    */
  def compactPqCodes(spark: SparkSession, statePath: String, path: String)
      : Unit =
    latestWholeItem(liveRaw(spark, statePath, "vec_id"), "vec_id")
      .select("vec_id", "m", "cid")
      .sortWithinPartitions("m", "cid")
      .write.mode("overwrite").parquet(path)

  /** Streaming ingest into the COMBINED residual IVF+PQ index
    * ([[graft.ops.VectorOps.v133IvfPqResidual]]) — the index a 100 TB
    * deployment actually streams into. Both quantizers are FROZEN offline
    * artifacts: the coarse centroids at `centroidPath`
    * ([[graft.ops.VectorOps.ivfCodebookOn]]) and the RESIDUAL per-subspace
    * codebooks at `codebookPath`. Per micro-batch of (vec_id, embedding):
    * assign the batch to its inverted lists (broadcast centroids, O(batch)),
    * subtract each vector's list centroid, encode the residual subvectors
    * (broadcast codebooks, O(batch)), and publish (vec_id, clabel, M ids)
    * as this batch's own `batch=N` partition — the list id lands ON the
    * code rows at encode time, so every downstream reader prunes on it.
    * Whole-item contract: a vector's M rows travel in one batch.
    *
    * `carry` names extra attribute columns of `emb` (label/license/
    * language — the v142 encode-carry contract) to ride onto the code
    * rows, so the LIVE state can answer filtered serves
    * ([[fusedServeFresh]]'s `pred`) without a side table — the same ride
    * [[graft.ops.VectorOps.writeIvfPqBucketedState]] layouts get from
    * their one-shot encode.
    */
  def ivfPqIngestStream(spark: SparkSession, emb: DataFrame,
      centroidPath: String, codebookPath: String, statePath: String,
      carry: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(emb, statePath) { (batch, id) =>
      val cent = spark.read.parquet(centroidPath)
      val cb = spark.read.parquet(codebookPath)
      val assigned = graft.ops.VectorOps.assignToIvfLists(spark, batch, cent,
        carry = carry)
      publish(graft.ops.VectorOps.encodePq(spark,
          graft.ops.VectorOps.pqSubvectors(
            graft.ops.VectorOps.residualOf(assigned, cent, carry = carry),
            carry = "clabel" +: carry),
          cb, carry = "clabel" +: carry),
        statePath, s"batch=$id")
    }

  /** Top-k query over an [[ivfPqIngestStream]]-accumulated code state:
    * latest-batch-wins per vec_id ([[latestWholeItem]]), tombstones healed
    * ([[liveRaw]]), then the SHARED v133 scoring definitions — probe the
    * frozen centroids for each query's nprobe lists, build the
    * per-(query, probed-list) residual LUT, and ADC-score ONLY code rows
    * whose list is probed ([[graft.ops.VectorOps.listLutAdcScore]]). The
    * served answer is v133's answer by construction; the state side is
    * touched by one equi-join on (clabel, m, cid), never a float dot.
    */
  def ivfPqIndexQuery(spark: SparkSession, statePath: String,
      centroidPath: String, codebookPath: String, queries: DataFrame,
      k: Int = 3): DataFrame = {
    val cent = spark.read.parquet(centroidPath)
    val cb = spark.read.parquet(codebookPath)
    val codes = latestWholeItem(liveRaw(spark, statePath, "vec_id"),
      "vec_id").select("vec_id", "clabel", "m", "cid")
    val probes = graft.ops.VectorOps.ivfQueryProbes(spark, queries, cent)
    graft.ops.VectorOps.pqTopK(graft.ops.VectorOps.listLutAdcScore(codes,
      graft.ops.VectorOps.residualLut(spark, probes, cent, cb)), k)
  }

  /** Compact an [[ivfPqIngestStream]] `batch=N` code state into the
    * clabel-BUCKETED serving layout
    * ([[graft.ops.VectorOps.writeIvfPqBucketedState]]): latest-batch-wins,
    * tombstones applied physically, full overwrite (a re-run replaces,
    * never doubles). Unlike [[compactPqCodes]] (deliberately unbucketed —
    * plain ADC scans everything), the combined index's scan key IS the
    * coarse list id, so the compacted table serves bucket-pruned and
    * exchange-free through
    * [[graft.ops.VectorOps.probeIvfPqResidualState]].
    */
  def compactIvfPqCodes(spark: SparkSession, statePath: String,
      tableName: String, path: String): Unit =
    // drop only the batch bookkeeping: ingest-carried attribute columns
    // (the v142 encode-carry ride) must survive into the compacted
    // layout, or a filtered serve would lose its predicate columns at
    // the first compaction
    graft.ops.VectorOps.writeIvfPqBucketedState(
      latestWholeItem(liveRaw(spark, statePath, "vec_id"), "vec_id")
        .drop("batch"),
      tableName, path, overwrite = true)

  /** Streaming tombstone sink — how deletes ARRIVE at an accumulated
    * `batch=N` state (the batch heals are d123/d126/v127; this is their
    * feed). Per micro-batch of deleted ids: publish the batch's own
    * `<statePath>.tombstones/batch=N` partition ([[publish]]; an id
    * tombstoned twice is one anti-join fact). The state itself is NEVER
    * rewritten on the ingest path: readers serve through [[liveState]]'s
    * anti-join view, and the periodic compaction jobs
    * ([[compactMinhashState]] / [[compactSemanticState]] /
    * [[compactHammingState]] /
    * [[compactFrameState]] / [[compactAnnIndex]]) apply tombstones
    * physically — each compacts from [[liveRaw]], so a deleted id never
    * reaches a serving layout (TombstoneCompactionSpec proves
    * tombstone → compact → probe ≡ the survivor-only probe per schema).
    */
  def tombstoneStream(spark: SparkSession, deletes: DataFrame,
      statePath: String, idCol: String = "doc_id")
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(deletes, tombstonePath(statePath)) { (batch, id) =>
      publish(batch.select(idCol).distinct(), tombstonePath(statePath),
        s"batch=$id")
    }

  /** Streaming UPDATE sink — d131's tombstone+re-ingest semantics in ONE
    * micro-batch through the sink layout, completing the CDC story: a
    * re-crawl delivers changed text under the SAME doc_id, and the sink
    * must supersede the stored version without rewriting state and
    * without a correctness gap between the delete and the re-ingest.
    *
    * Three publishes per micro-batch (each through [[publish]]):
    *
    *  1. the batch's signatures as an ordinary `batch=N` partition —
    *     readers collapse latest-batch-wins ([[updatedState]] /
    *     `latestPerId`), so the newest row IS the doc and the old
    *     version needs no tombstone at all on the doc-state axis;
    *  2. a SUPERSEDE marker `(doc_id, upto=N)` — stale PAIRS need
    *     retraction (the old text's near-dup edges no longer hold), but
    *     a plain tombstone would also kill the pairs this very batch
    *     emits for the new text. The marker carries the batch id, and
    *     [[updatedPairs]] kills only pair rows from batches < upto: the
    *     revision invalidates strictly-older facts, never its own;
    *  3. the batch's pairs, probed against the LIVE prior view: other
    *     batches' rows collapsed latest-wins MINUS the batch's own ids
    *     (their stored versions are superseded this instant, so probing
    *     them would emit pairs against dead text).
    *
    * A doc revised twice supersedes twice — max(upto) wins; the probe
    * cost stays O(batch) against the accumulated state ([[liveRaw]]'s
    * read + one compact collapse), old text never re-shingled. Works for
    * first-time ingest too (an insert is an update with no prior row),
    * so ONE sink serves the whole CDC feed. Terminal deletes stay on
    * [[tombstoneStream]]; both views compose it.
    */
  def updateDedupStream(spark: SparkSession, docs: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      publish(graft.ops.TextOps.minhashSignaturesWithKeys(batch), statePath,
        s"batch=$id")
      publish(batch.select("doc_id").distinct().withColumn("upto", lit(id)),
        s"$statePath.supersede", s"batch=$id")
      val all = spark.read.parquet(statePath)
      val mine = all.filter(col("batch") === id).drop("batch")
      val prior = latestPerId(all.filter(col("batch") =!= id), "doc_id")
        .join(mine.select("doc_id"), Seq("doc_id"), "left_anti")
      publish(graft.ops.TextOps.incrementalPairsFromKeyed(prior, mine),
        s"$statePath.pairs", s"batch=$id")
    }

  /** The current doc-state view of an [[updateDedupStream]] state: latest
    * batch wins per doc (a revision supersedes by writing a newer row),
    * then [[tombstoneStream]] terminal deletes anti-join out. O(state
    * read + one compact max_by collapse); nothing is ever rewritten.
    */
  def updatedState(spark: SparkSession, statePath: String): DataFrame =
    latestPerId(liveRaw(spark, statePath, "doc_id"), "doc_id")

  /** The currently-valid pair view of an [[updateDedupStream]] state:
    * a pair row is alive iff NEITHER end was superseded by a LATER batch
    * (upto > the pair's emitting batch) and neither end is terminally
    * tombstoned. The supersede side collapses to one (doc_id, max upto)
    * row per revised doc and broadcasts; both anti-joins ride the pair
    * scan map-side.
    */
  def updatedPairs(spark: SparkSession, statePath: String): DataFrame = {
    val pairs = spark.read.parquet(s"$statePath.pairs")
    val supPath = new org.apache.hadoop.fs.Path(s"$statePath.supersede")
    val fs = supPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val superseded =
      if (!fs.exists(supPath)) pairs
      else {
        val sup = spark.read.parquet(s"$statePath.supersede")
          .groupBy("doc_id").agg(max("upto").as("upto"))
        pairs
          .join(broadcast(sup.withColumnRenamed("doc_id", "sd1")),
            col("d1") === col("sd1") && col("batch") < col("upto"),
            "left_anti")
          .join(broadcast(sup.withColumnRenamed("doc_id", "sd2")),
            col("d2") === col("sd2") && col("batch") < col("upto"),
            "left_anti")
      }
    val dead = tombstonesOf(spark, statePath)
    dropDead(dropDead(superseded, dead, "d1"), dead, "d2").drop("batch")
  }

  /** Streaming tokenization under the FROZEN merge rules — the streaming
    * member of the BPE family (one-shot learn t139 / corpus tokenize t140 /
    * held-out serve t146 / here), the shape a production ingest actually
    * runs: the merge table at `rulesPath` is the offline artifact
    * ([[graft.ops.BpeOps.learnBpeOn]]'s rules, persisted once — the
    * frozen-codebook contract), and every micro-batch of (doc_id, text)
    * tokenizes against it with ZERO corpus state: the batch's distinct
    * alpha words get the K-deep map-side rule fold
    * ([[graft.ops.BpeOps.applyMerges]] — t146's serving path verbatim),
    * the batch's docs join to that O(batch-vocabulary) table, and the
    * per-doc summaries publish as this batch's own `batch=N` partition
    * ([[publish]]). The K rules are collected once per
    * batch — a bounded ~10-row artifact read, the probed-list-literal
    * convention. A re-delivered or revised doc supersedes via
    * latest-batch-wins in [[bpeTokenState]] — ACROSS batches; within ONE
    * micro-batch there is no delivery order to break ties with, so a
    * doc_id delivered twice in the same batch is collapsed to one
    * deterministic representative ([[dedupWithinBatch]]) before the
    * summary is computed — without it the two versions' pieces would
    * merge into one garbage summary under the same batch id, which
    * latest-batch-wins can never heal.
    */
  def bpeTokenizeStream(spark: SparkSession, docs: DataFrame,
      rulesPath: String, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      val pairs = spark.read.parquet(rulesPath)
        .orderBy("rnk").collect().map(_.getAs[String]("pair")).toSeq
      val b = dedupWithinBatch(batch)
      val tok = graft.ops.BpeOps.tokTableFor(b, pairs)
      publish(graft.ops.BpeOps.docSummary(graft.ops.BpeOps.piecesOver(b, tok)),
        statePath, s"batch=$id")
    }

  /** The current per-doc token accounting of a [[bpeTokenizeStream]]
    * state: latest batch wins per doc (a revised doc's newer summary
    * supersedes), [[tombstoneStream]] terminal deletes anti-join out. The
    * served rows are [[graft.ops.BpeOps.docSummary]] rows by construction
    * — BpeStreamSpec pins stream ≡ one-shot over the delivered corpus.
    */
  def bpeTokenState(spark: SparkSession, statePath: String): DataFrame =
    latestPerId(liveRaw(spark, statePath, "doc_id"), "doc_id")

  /** Streaming PageRank maintenance under edge deltas — the streaming
    * member of the centrality family (one-shot t135 / batch-incremental
    * t145 / here), the shape a live crawl runs: link batches arrive on a
    * stream, and each micro-batch advances the stored trajectory by
    * [[graft.ops.TextOps.prOverlays]] — t145's EXACT touched-node
    * re-iteration — instead of re-running the full power iteration over
    * the whole graph. The node set is FROZEN (the `docs` table; edge-only
    * CDC), which is what keeps the teleport mass and p0 delta-independent.
    *
    * State layout under `statePath`:
    *  - `edges/batch=N` — this batch's NOVEL edges (exact-duplicate and
    *    replayed edges anti-joined out against the prior graph, so a
    *    foreachBatch replay republishes an identical partition);
    *  - `outdeg/batch=N` — the batch's per-src outdegree PARTIAL (one
    *    (src, cnt) row per novel-edge src — outdegree is an additive
    *    count, so the served value is the mergeable sum of partials, the
    *    d101 convention; it is never recomputed from the edge set);
    *  - `edgesc/v=M` + `outdegc/v=M` + the `v=M.ok` read barrier — the
    *    compacted generation [[compactPagerankEdges]] maintains;
    *  - `pr/iter=i/batch=N` — iteration i's ranks for the nodes batch N
    *    moved (the first effective batch publishes ALL nodes — the full
    *    build production runs once). The served iteration-i view is
    *    latest-batch-wins per node over those partitions, so serving
    *    needs ONE overlay read, and the per-batch write volume is
    *    O(affected × K), never corpus-sized.
    *
    * Per-delta-batch cost — NOTHING corpus-sized is shuffled or
    * re-aggregated (PagerankStreamSpec asserts the plans):
    *  - novelty check = [[prNoveltyDelta]]: a bucket-pruned probe of the
    *    compacted src-bucketed edge table (only the batch's srcs' buckets
    *    are read — SelectedBucketsCount) plus the few uncompacted
    *    `batch=N` partitions, anti-joined as a gated broadcast — the
    *    accumulated edge set is never exchanged;
    *  - outdegree = [[prServedOutdeg]]: one partial-agg merge over the
    *    compact (src, cnt) state — a node-table-sized aggregation (the
    *    accepted t135 cost class), with NO read of the edge rows;
    *  - the union graph feeds [[graft.ops.TextOps.prOverlays]] purely
    *    through map-side semi-join FILTERS (broadcast below the
    *    [[graft.ops.TextOps.PrBroadcastCap]] gate) — the former
    *    per-batch `repartition(src)` full-graph shuffle is gone; it
    *    bought nothing, because the overlay machinery consumes edges via
    *    dst/src semi joins, not a src-partitioned join.
    * Only the FIRST effective batch (the amortized base build) pays the
    * t135 one-time repartition-and-iterate cost.
    *
    * Exactness is inductive over batches: each batch's overlays are
    * computed against the served views of the PREVIOUS graph's
    * trajectory, which t145's influence-cone theorem makes bit-equal to a
    * full recompute over the union graph (PagerankStreamSpec pins stream
    * ≡ one-shot across delta batches, including one arriving AFTER an
    * edge compaction). All reads of this batch's own partitions are
    * excluded by the `batch` filter, so a replayed batch recomputes from
    * exactly the prior-graph state. Run [[compactPagerankEdges]] /
    * [[compactPagerankState]] only at a quiescent stream point (between
    * committed batches) — the read barrier protects concurrent READERS,
    * not a writer replaying a crashed batch. That contract is ENFORCED,
    * not assumed: each batch checks its id against the compacted
    * generation's version (= the highest batch id the generation
    * absorbed) and fails the query fast when it replays at or below it,
    * instead of silently publishing nothing (see the in-batch guard).
    */
  def pagerankDeltaStream(spark: SparkSession, edges: DataFrame,
      docs: DataFrame, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(edges, statePath) { (batch, id) =>
      // ENFORCED quiescent-point contract (not just documented): the
      // compacted generation's version is the highest batch id it
      // absorbed. A replaying batch at id <= that version finds its own
      // edges already inside the generation (no batch column left to
      // exclude), computes an empty delta, and would silently skip
      // publishing its PageRank overlays — served ranks would then
      // permanently omit the batch's influence. Fail the query fast
      // instead; the operator re-runs compaction AFTER the checkpoint
      // commits (or restores the pre-compaction state).
      prEdgeVersion(spark, statePath).foreach { case (m, _) =>
        if (id <= m) throw new IllegalStateException(
          s"pagerankDeltaStream: batch $id replayed at or below the " +
            s"compacted edge generation v=$m — compaction absorbed a " +
            "batch whose streaming checkpoint had not committed; its " +
            "overlays cannot be recomputed from the remaining state")
      }
      val reg = new graft.ops.CacheRegistry
      val nodes = reg.add(docs.select("doc_id").persist())
      val nn = nodes.count()
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val delta = reg.add(
        prNoveltyDelta(spark, batch, statePath, id, reg).persist())
      if (delta.count() > 0) {
        publish(delta, statePath, s"edges/batch=$id")
        publish(delta.groupBy("src").agg(count(lit(1)).as("cnt")), statePath,
          s"outdeg/batch=$id")
        val outdegNew = reg.add(prServedOutdeg(spark, statePath).persist())
        val all = prUnionEdges(spark, statePath, id, delta)
        val k = graft.ops.TextOps.PrIters
        val publishIter = (df: DataFrame, i: Int) =>
          publish(df, statePath, s"pr/iter=$i/batch=$id")
        val prDone = new org.apache.hadoop.fs.Path(s"$statePath/pr/iter=$k")
        if (!fs.exists(prDone)) {
          // first effective batch: the full build — the ONE place the
          // graph is repartitioned on src and iterated whole (t135's
          // audited base-build shape, amortized over every later delta)
          val allR = reg.add(all.repartition(col("src")).persist())
          var ranks = graft.ops.TextOps.prInit(nodes, nn)
          for (i <- 1 to k) {
            ranks = reg.add(graft.ops.TextOps
              .prStep(nodes, ranks, allR, outdegNew, nn).persist())
            publishIter(ranks, i)
          }
        } else {
          val served: Int => DataFrame = i =>
            if (i == 0) graft.ops.TextOps.prInit(nodes, nn)
            else prServedIter(spark, statePath, i, id)
          val (ovs, _) = graft.ops.TextOps.prOverlays(nn, served, all,
            outdegNew, delta.select("src").distinct(), reg)
          for (i <- 1 to k) publishIter(ovs(i - 1), i)
        }
      }
      reg.release()
    }

  /** Batch srcs above this count stop being inlined as bucket-pruning
    * literals in [[prNoveltyDelta]] (the probed-list-literal convention
    * needs a BOUNDED artifact cut): past the cap the probe reads the
    * whole compacted table instead — the bulk-load shape, where the
    * "delta" is itself corpus-scale and pruning has nothing to prune.
    */
  private[graft] val PrSrcLiteralCap = 1024

  /** The batch partition ids currently present under a `batch=N` root —
    * empty when the root is missing or holds no partitions (a parquet
    * read of either would throw, not return empty).
    */
  private def batchIds(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLong }
  }

  /** One compacted generation of a tiered append-only state: its
    * version (= the highest batch id it absorbed), the catalog name of
    * its bucketed table, and whether it is MAJOR (covers everything up
    * to its version) or MINOR (covers only the batch range since the
    * previous generation). Shared by the PageRank edge tiers and the
    * URL keeper tiers — one catalog, two states.
    */
  private[graft] final case class StateGen(version: Long, table: String,
    major: Boolean)

  /** Every published generation under `gensRoot`, ascending by
    * version — read from the `v=M.ok` read-barrier sentinels. A
    * sentinel is written LAST ([[publishGenSentinel]]), so a generation
    * is visible only when its artifacts are complete; line 1 of its
    * content is the table's catalog name, line 2 the generation kind
    * (`major`/`minor`; absent = major, the pre-tiering format).
    */
  private[graft] def stateGens(spark: SparkSession,
      gensRoot: String): Seq[StateGen] = {
    val root = new org.apache.hadoop.fs.Path(gensRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("v=") && n.endsWith(".ok") =>
        n.stripPrefix("v=").stripSuffix(".ok").toLong }
      .sorted
      .map { v =>
        val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/v=$v.ok"))
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        StateGen(v, lines.head.trim,
          lines.drop(1).headOption.forall(_.trim != "minor"))
      }
  }

  /** The CONSISTENT read set of a tiered state's generations: the
    * highest MAJOR plus every minor above it, ascending. Minors cover
    * disjoint batch ranges by construction and the major covers
    * everything below itself, so the union of exactly this set holds
    * each underlying fact once — reading a superseded generation that
    * is still on disk for a pinned reader would double-count (fatal for
    * outdegrees, flow mass, and URL occurrence counts alike, not just
    * wasteful).
    */
  private[graft] def liveGens(gens: Seq[StateGen]): Seq[StateGen] = {
    val lastMajor = gens.lastIndexWhere(_.major)
    if (lastMajor < 0) gens else gens.drop(lastMajor)
  }

  /** The read barrier: stage the sentinel beside its final name, rename
    * into place LAST — a generation becomes visible only complete.
    */
  private def publishGenSentinel(fs: org.apache.hadoop.fs.FileSystem,
      gensRoot: String, version: Long, table: String,
      major: Boolean): Unit = {
    val okPath = new org.apache.hadoop.fs.Path(s"$gensRoot/v=$version.ok")
    val okTmp =
      new org.apache.hadoop.fs.Path(s"$gensRoot/v=$version.ok.tmp")
    val out = fs.create(okTmp, true)
    try out.write(s"$table\n${if (major) "major" else "minor"}"
      .getBytes("UTF-8")) finally out.close()
    if (fs.exists(okPath)) fs.delete(okPath, true)
    if (!fs.rename(okTmp, okPath))
      throw new java.io.IOException(s"sentinel rename failed: $okPath")
  }

  /** Every published edge generation under `edgesc/` ([[stateGens]]). */
  private[graft] def prEdgeGens(spark: SparkSession,
      statePath: String): Seq[StateGen] =
    stateGens(spark, s"$statePath/edgesc")

  /** The edge state's consistent generation read set ([[liveGens]]). */
  private[graft] def prLiveEdgeGens(spark: SparkSession,
      statePath: String): Seq[StateGen] =
    liveGens(prEdgeGens(spark, statePath))

  /** The current compacted edge frontier: (max version, that generation's
    * table name) — the version is what splits compacted from uncompacted
    * batch partitions. Readers wanting edge ROWS use [[prLiveEdgeGens]].
    */
  private[graft] def prEdgeVersion(spark: SparkSession,
      statePath: String): Option[(Long, String)] =
    prEdgeGens(spark, statePath).lastOption.map(g => (g.version, g.table))

  /** A batch's NOVEL edges against the accumulated graph — the
    * [[pagerankDeltaStream]] novelty check, costed for a delta batch:
    * the accumulated side is the [[prLiveEdgeGens]] read set of
    * SRC-BUCKETED generation tables (the highest major + the minors
    * above it), EACH probed with the batch's srcs as pruning literals
    * (only their buckets are read — SelectedBucketsCount per
    * generation; gated at [[PrSrcLiteralCap]]) plus the few uncompacted
    * `batch=N` partitions newer than the read barrier (their count is
    * bounded by the compaction cadence, as is the generation count by
    * the major-compaction cadence); the anti-join
    * broadcasts that prior view below the
    * [[graft.ops.TextOps.PrBroadcastCap]] gate, so the accumulated edge
    * set is never exchanged — the only shuffle is the batch's own
    * distinct. `excludeBatch` masks the batch's own partition so a
    * crashed-and-replayed batch recomputes the identical delta.
    *
    * The prior view is persist()ed (registered on `reg`, released by the
    * registry's owner) because it has exactly two consumers — the
    * broadcast-gate count and the anti-join — and both are delta-bounded
    * but not free: without the cache every delta batch would evaluate the
    * bucket-pruned compacted scan + uncompacted-partition union twice.
    */
  private[graft] def prNoveltyDelta(spark: SparkSession, batchDf: DataFrame,
      statePath: String, excludeBatch: Long,
      reg: graft.ops.CacheRegistry = graft.ops.CacheRegistry.harness)
      : DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b = batchDf.select("src", "dst").distinct()
    val gens = prLiveEdgeGens(spark, statePath)
    val after = gens.lastOption.map(_.version).getOrElse(-1L)
    val recent =
      if (batchIds(fs, s"$statePath/edges").exists(n =>
          n > after && n != excludeBatch))
        Some(spark.read.parquet(s"$statePath/edges")
          .filter(col("batch") > after && col("batch") =!= excludeBatch)
          .select("src", "dst"))
      else None
    // ONE bounded literal cut shared by every generation's pruned scan
    val srcs =
      if (gens.isEmpty) Seq.empty[Long]
      else b.select("src").distinct()
        .limit(PrSrcLiteralCap + 1).collect().map(_.getLong(0)).toSeq
    val compacted = gens.map { g =>
      val state = spark.table(g.table).select("src", "dst")
      if (srcs.length <= PrSrcLiteralCap)
        state.filter(col("src").isin(srcs: _*))
      else state
    }
    val prior = (recent.toSeq ++ compacted)
      .reduceOption(_.unionByName(_))
    prior.fold(b) { p0 =>
      val p = reg.add(p0.persist())
      val hinted =
        if (p.count() <= graft.ops.TextOps.PrBroadcastCap) broadcast(p)
        else p
      b.join(hinted, Seq("src", "dst"), "left_anti")
    }
  }

  /** The accumulated graph's per-src outdegree, served from the MERGEABLE
    * count state: one groupBy-sum over the compacted `outdegc` generation
    * plus the uncompacted per-batch partials — a node-table-sized partial
    * aggregation (the t135-accepted cost class) that never reads an edge
    * row. Includes every published partial, the just-published batch's
    * own included: the result describes the UNION graph the overlays
    * iterate.
    */
  private[graft] def prServedOutdeg(spark: SparkSession,
      statePath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = prLiveEdgeGens(spark, statePath)
    val after = gens.lastOption.map(_.version).getOrElse(-1L)
    val recent =
      if (batchIds(fs, s"$statePath/outdeg").exists(_ > after))
        Some(spark.read.parquet(s"$statePath/outdeg")
          .filter(col("batch") > after).select("src", "cnt"))
      else None
    // counts are additive, so the tiered read set merges for free: each
    // generation's outdegc covers exactly the batch range its edge table
    // does, and one groupBy-sum over the union is the served outdegree
    val compacted = gens.map(g =>
      spark.read.parquet(s"$statePath/outdegc/v=${g.version}")
        .select("src", "cnt"))
    (recent.toSeq ++ compacted).reduce(_.unionByName(_))
      .groupBy("src").agg(sum("cnt").as("outdeg"))
  }

  /** The union graph (compacted generation + uncompacted partitions +
    * this batch's delta) as a plain (src, dst) view — consumed by the
    * overlay machinery exclusively through semi-join FILTERS, so it is
    * deliberately NOT repartitioned or persisted here.
    */
  private def prUnionEdges(spark: SparkSession, statePath: String,
      excludeBatch: Long, delta: DataFrame): DataFrame =
    prStateEdges(spark, statePath, excludeBatch)
      .foldLeft(delta.select("src", "dst"))(_.unionByName(_))

  /** The accumulated graph's stored (src, dst) views: the uncompacted
    * `batch=N` partitions above the read frontier (minus `excludeBatch`)
    * plus the [[prLiveEdgeGens]] read set — each edge exactly once (the
    * stream lands only NOVEL edges and the read set covers disjoint batch
    * ranges). Shared by the per-batch union graph ([[prUnionEdges]]) and
    * the maintained-state rebuild reads ([[hitsFromEdgeState]]).
    */
  private def prStateEdges(spark: SparkSession, statePath: String,
      excludeBatch: Long = -1L): Seq[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = prLiveEdgeGens(spark, statePath)
    val after = gens.lastOption.map(_.version).getOrElse(-1L)
    val recent =
      if (batchIds(fs, s"$statePath/edges").exists(n =>
          n > after && n != excludeBatch))
        Seq(spark.read.parquet(s"$statePath/edges")
          .filter(col("batch") > after && col("batch") =!= excludeBatch)
          .select("src", "dst"))
      else Seq.empty
    recent ++ gens.map(g => spark.table(g.table).select("src", "dst"))
  }

  /** The second centrality served from the MAINTAINED edge state: the
    * periodic HITS rebuild consumes [[prStateEdges]] (the compacted
    * generations + uncompacted partitions [[pagerankDeltaStream]] keeps
    * current) instead of re-deriving its graph in-query — the shared
    * edge infrastructure is literally "what either centrality's rebuild
    * reads". The trajectory is the audited [[graft.ops.TextOps.t153Hits]]
    * core ([[graft.ops.TextOps.hitsOverEdges]]), so state-served scores
    * ≡ the in-query HITS over the same edge set by construction
    * (PagerankStreamSpec pins it). HITS is a rebuild, not a delta
    * overlay, BY PROOF: its global renormalization moves every node's
    * score under any delta (the PLANS round-14 scoping note), so the
    * maintained state saves the graph scan/shuffle, never the iteration.
    * `docs` is the node spine (the same roster the PageRank sink takes).
    */
  def hitsFromEdgeState(spark: SparkSession, statePath: String,
      docs: DataFrame): DataFrame = {
    val reg = graft.ops.CacheRegistry.harness
    val nodes = reg.add(docs.select("doc_id").persist())
    val nn = nodes.count()
    val edges = prStateEdges(spark, statePath)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.range(0)
        .select(col("id").as("src"), col("id").as("dst")))
    graft.ops.TextOps.hitsOverEdges(spark, nodes, edges, nn)
  }

  /** The served iteration-i rank view of a [[pagerankDeltaStream]] state,
    * excluding `excludeBatch`'s own partitions (replay safety): latest
    * batch wins per node.
    */
  private[graft] def prServedIter(spark: SparkSession, statePath: String,
      i: Int, excludeBatch: Long): DataFrame =
    latestPerId(
      spark.read.parquet(s"$statePath/pr/iter=$i")
        .filter(col("batch") =!= excludeBatch), "doc_id")

  /** Compact a [[pagerankDeltaStream]] EDGE state into the next
    * src-bucketed serving generation — the maintenance job that bounds
    * what every delta batch's novelty probe has to touch: without it an
    * unbounded crawl accumulates one `edges/batch=N` partition per batch
    * forever. TIERED (the LSM shape): a MINOR compaction (the default)
    * absorbs ONLY the uncompacted `batch=N` partitions into generation
    * M (M = the highest ingested batch id) — its write volume is
    * proportional to the absorbed partitions, never to the accumulated
    * graph — and readers union the [[prLiveEdgeGens]] read set (highest
    * major + minors above it, each still bucket-pruned per probe). A
    * MAJOR compaction (`major = true`, or automatic once a minor would
    * push the live set past `maxGens` — the backstop that bounds the
    * read set without operator discipline) rewrites that whole read set
    * into one generation, bounding the per-probe generation count; it is
    * the only O(graph) write in the lifecycle and runs at its own (much
    * slower) cadence. Each generation is a `src`-bucketed,
    * (src, dst)-sorted catalog table (the
    * [[graft.ops.TextOps.writeBandBucketedState]] layout convention —
    * bucket pruning on the single `src` column is what makes the novelty
    * probe read only the batch's srcs' buckets), with the generation's
    * outdegree partials merged into `outdegc/v=M` alongside (counts are
    * additive, so per-generation outdegc tiers for free).
    *
    * READER-SAFE PUBLISH (the read barrier): all of generation M's
    * artifacts are written first; the `v=M.ok` sentinel (line 1 = the
    * table's catalog name, line 2 = `major`/`minor`) is renamed into
    * place LAST. Readers pin the read set derived from the sentinels
    * present at pin time, so mid-compaction they serve the prior set
    * (still complete on disk) and post-publish the new one — never a
    * half generation, and never a generation twice (a superseded
    * generation awaiting retirement is EXCLUDED from the read set by
    * the highest-major rule — unioning it would double-count edges).
    * Retirement is DEFERRED one cycle: this run deletes batch
    * partitions ≤ P (P = the frontier before this run — their covering
    * generation published a full cycle ago) and generations a major
    * superseded BEFORE this run; the grace contract is that a read
    * completes within one compaction cycle. A crashed run is healed by
    * re-running (pre-sentinel artifacts are overwritten; post-sentinel
    * leftovers are retired by the next run).
    */
  def compactPagerankEdges(spark: SparkSession, statePath: String,
      tableBase: String, nBuckets: Int = 32, major: Boolean = false,
      maxGens: Int = 8): Unit = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val edgeBatches = batchIds(fs, s"$statePath/edges")
    if (edgeBatches.isEmpty) return
    val m = edgeBatches.max
    val allGens = prEdgeGens(spark, statePath)
    val live = liveGens(allGens)
    val after = live.lastOption.map(_.version).getOrElse(-1L)
    if (m <= after) return // nothing new since the last generation
    // the first generation has no prior to tier over — it is a major by
    // construction, whatever was asked for. The maxGens backstop bounds
    // the read set's generation count WITHOUT operator discipline (the
    // enforce-don't-document theme): once a minor would make the live
    // set exceed it, the run upgrades itself to a major.
    val isMajor = major || live.isEmpty || live.size + 1 > maxGens
    val recent = spark.read.parquet(s"$statePath/edges")
      .filter(col("batch") > after && col("batch") <= m)
      .select("src", "dst")
    val newEdges =
      if (!isMajor) recent
      else live.map(g => spark.table(g.table).select("src", "dst"))
        .foldLeft(recent)(_.unionByName(_))
    val tbl = s"${tableBase}_v$m"
    spark.sql(s"DROP TABLE IF EXISTS $tbl") // a crashed prior attempt
    newEdges.write.mode("overwrite")
      .bucketBy(nBuckets, "src").sortBy("src", "dst")
      .option("path", s"$statePath/edgesc/v=$m").saveAsTable(tbl)
    val recentOd = spark.read.parquet(s"$statePath/outdeg")
      .filter(col("batch") > after && col("batch") <= m)
      .select("src", "cnt")
    val newOd =
      if (!isMajor) recentOd
      else live.map(g =>
        spark.read.parquet(s"$statePath/outdegc/v=${g.version}")
          .select("src", "cnt"))
        .foldLeft(recentOd)(_.unionByName(_))
    publish(newOd.groupBy("src").agg(sum("cnt").as("cnt")), statePath,
      s"outdegc/v=$m")
    // the read barrier: rename the sentinel into place LAST
    publishGenSentinel(fs, s"$statePath/edgesc", m, tbl, isMajor)
    // deferred retire (one full cycle each):
    //  - batch partitions <= P: covered by generations published at
    //    least one cycle ago (a reader pinned at P's read set reads
    //    batches > P only);
    //  - generations a major had already superseded BEFORE this run
    //    (they left the read set when that major published — this run's
    //    own supersessions, major or not, retire next run).
    if (live.nonEmpty) {
      Seq("edges", "outdeg").foreach { side =>
        val root = new org.apache.hadoop.fs.Path(s"$statePath/$side")
        if (fs.exists(root)) fs.listStatus(root).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("batch=") &&
              n.stripPrefix("batch=").toLong <= after)
            fs.delete(st.getPath, true)
        }
      }
    }
    val liveSet = live.map(_.version).toSet
    allGens.filterNot(g => liveSet.contains(g.version)).foreach { g =>
      spark.sql(s"DROP TABLE IF EXISTS ${g.table}")
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$statePath/edgesc/v=${g.version}"), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$statePath/edgesc/v=${g.version}.ok"), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$statePath/outdegc/v=${g.version}"), true)
    }
  }

  /** The served PageRank of a [[pagerankDeltaStream]] state: the final
    * iteration's latest-batch-wins rank per node — exactly the rank a
    * full [[graft.ops.TextOps.PrIters]]-step power iteration over the
    * accumulated edge set would produce (the t145 induction).
    */
  def pagerankState(spark: SparkSession, statePath: String): DataFrame =
    latestPerId(
      spark.read.parquet(s"$statePath/pr/iter=${graft.ops.TextOps.PrIters}"),
      "doc_id")

  /** Compact a [[pagerankDeltaStream]] trajectory state: collapse each
    * iteration's `batch=N` overlay partitions to ONE latest-wins
    * partition, so the partition count stays bounded under an unbounded
    * batch history (each batch adds K small overlay partitions; without
    * maintenance a year of crawl batches is a year of partitions per
    * iteration). The collapsed rows publish UNDER THE CURRENT MAX batch
    * id — they subsume every older partition in the latest-wins order, so
    * a reader at ANY point during compaction (before the publish, between
    * publish and the deletes, after) serves the identical trajectory;
    * then the superseded older partitions are dropped. Re-running a
    * crashed compaction is a no-op rewrite (the overwrite-replaces
    * contract). The `edges/batch=N` partitions are NOT compacted here:
    * edge reads are unions, not latest-wins, so an in-place collapse
    * would double-count a mid-compaction reader's outdegrees — their
    * maintenance is [[compactPagerankEdges]], whose versioned read
    * barrier sidesteps exactly that hazard.
    */
  def compactPagerankState(spark: SparkSession, statePath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prRoot = new org.apache.hadoop.fs.Path(
      s"$statePath/pr/iter=${graft.ops.TextOps.PrIters}")
    // no effective batch has published yet (an empty-delta stream, or
    // compaction scheduled before first data): a no-op, not a read error
    if (!prRoot.getFileSystem(conf).exists(prRoot)) return
    for (i <- 1 to graft.ops.TextOps.PrIters) {
      val root = s"$statePath/pr/iter=$i"
      val raw = spark.read.parquet(root)
      val maxBatch =
        raw.agg(max("batch")).head.getAs[Number](0).longValue
      publish(latestPerId(raw, "doc_id"), statePath,
        s"pr/iter=$i/batch=$maxBatch")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(conf)
      fs.listStatus(rootPath).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("batch=") &&
            name.stripPrefix("batch=").toLong < maxBatch)
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Streaming URL keeper-state maintenance — d101's min-mergeable
    * (canon_url → min keeper_id, n_docs) state as a sink, the second
    * tiered append-only state (the scoping note's qualifying shape:
    * mergeable set facts whose serve is one associative+commutative
    * reduce). Per micro-batch of (doc_id, url): canonicalize with the
    * SHARED [[graft.ops.TextOps.canonicalizeUrl]] (batch, incremental
    * and stream cannot canonicalize differently), reduce to the batch's
    * own O(batch) partial keeper state — min and sum are associative+
    * commutative, so within-batch duplicates collapse in the same
    * aggregate — and publish as `urls/batch=N` ([[publish]]). Input batches
    * must carry disjoint doc_ids across batches (the d101 batch-API
    * contract — a re-ingested doc_id adds to its URL's n_docs once per
    * carrying batch).
    *
    * The quiescent-compaction contract is ENFORCED exactly as in
    * [[pagerankDeltaStream]]: a batch replaying at or below the
    * compacted generation's version finds its rows already merged into
    * the generation (its partition was retired), and republishing would
    * double its URLs' counts at the next compaction — fail the query
    * fast instead.
    */
  def urlStateStream(spark: SparkSession, docs: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      stateGens(spark, s"$statePath/urlsc").lastOption.foreach { g =>
        if (id <= g.version) throw new IllegalStateException(
          s"urlStateStream: batch $id replayed at or below the " +
            s"compacted keeper generation v=${g.version} — compaction " +
            "absorbed a batch whose streaming checkpoint had not " +
            "committed; republishing would double its URL counts")
      }
      publish(batch
          .select(col("doc_id"),
            graft.ops.TextOps.canonicalizeUrl(col("url")).as("canon_url"))
          .groupBy("canon_url")
          .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs")),
        statePath, s"urls/batch=$id")
    }

  /** Tiered compaction of a [[urlStateStream]] keeper state — the
    * [[compactPagerankEdges]] LSM shape on the second qualifying state:
    * a MINOR generation merges ONLY the batch partitions since the last
    * generation (write volume O(delta-URLs), the point of tiering — a
    * full rewrite of an ever-growing keeper table per cadence was the
    * one O(corpus) maintenance shape left); a MAJOR additionally folds
    * every live generation into one (its own cadence bounds the read
    * set's generation count, enforced by `maxGens` — past it a minor
    * upgrades itself, the enforce-don't-document backstop). Generations
    * are canon_url-bucketed+sorted, so the keeper lookup probes them
    * bucket-pruned ([[urlKeeperProbe]]); the `v=M.ok` sentinel publishes
    * LAST (read barrier, shared [[publishGenSentinel]]). Because the
    * state is MERGEABLE (not disjoint facts like edges), a URL may
    * appear in several live generations — the serve's one groupBy
    * re-merges; what the read-set rule guarantees is that each BATCH
    * PARTIAL is covered exactly once, which is what keeps n_docs exact.
    * Deferred retire (one full cycle each, the compactPagerankEdges
    * rule): absorbed batch partitions at or below the previous frontier,
    * and generations a major had already superseded before this run.
    */
  def compactUrlState(spark: SparkSession, statePath: String,
      tableBase: String, nBuckets: Int = 32, major: Boolean = false,
      maxGens: Int = 8): Unit = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = batchIds(fs, s"$statePath/urls")
    if (batches.isEmpty) return
    val m = batches.max
    val allGens = stateGens(spark, s"$statePath/urlsc")
    val live = liveGens(allGens)
    val after = live.lastOption.map(_.version).getOrElse(-1L)
    if (m <= after) return // nothing new since the last generation
    val isMajor = major || live.isEmpty || live.size + 1 > maxGens
    val recent = spark.read.parquet(s"$statePath/urls")
      .filter(col("batch") > after && col("batch") <= m)
      .select("canon_url", "keeper_id", "n_docs")
    val newRows =
      (if (!isMajor) recent
       else live.map(g =>
         spark.table(g.table).select("canon_url", "keeper_id", "n_docs"))
         .foldLeft(recent)(_.unionByName(_)))
        .groupBy("canon_url")
        .agg(min("keeper_id").as("keeper_id"), sum("n_docs").as("n_docs"))
    val tbl = s"${tableBase}_v$m"
    spark.sql(s"DROP TABLE IF EXISTS $tbl") // a crashed prior attempt
    newRows.write.mode("overwrite")
      .bucketBy(nBuckets, "canon_url").sortBy("canon_url")
      .option("path", s"$statePath/urlsc/v=$m").saveAsTable(tbl)
    publishGenSentinel(fs, s"$statePath/urlsc", m, tbl, isMajor)
    if (live.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(s"$statePath/urls")
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch=") &&
            n.stripPrefix("batch=").toLong <= after)
          fs.delete(st.getPath, true)
      }
    }
    val liveSet = live.map(_.version).toSet
    allGens.filterNot(g => liveSet.contains(g.version)).foreach { g =>
      spark.sql(s"DROP TABLE IF EXISTS ${g.table}")
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$statePath/urlsc/v=${g.version}"), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$statePath/urlsc/v=${g.version}.ok"), true)
    }
  }

  /** The merged keeper state of a [[urlStateStream]] + [[compactUrlState]]
    * lifecycle: the consistent generation read set ([[liveGens]] — each
    * batch partial covered exactly once) plus the uncompacted batch
    * partitions above the frontier, re-merged by the full-outer
    * [[mergeKeeperPair]] ladder — served keeper and n_docs ≡ the
    * one-shot d93 state over every document ever ingested
    * (UrlStateStreamSpec pins it at every lifecycle point).
    *
    * WHY a join ladder and not groupBy-over-union: two reasons, one
    * chosen and one forced. Chosen — every generation is already
    * one-row-per-url and canon_url-bucketed+sorted, so each gen⋈gen
    * full-outer step is a co-bucketed join that moves NOTHING (no
    * exchange — UrlStateStreamSpec asserts zero shuffles on the
    * pure-generation serve); only the uncompacted delta (pre-merged by
    * its own groupBy over plain parquet) pays an exchange into the final
    * step — groupBy over the union would re-shuffle every generation's
    * full rows instead. Forced — Spark 4.1.2 plans the aggregate over a
    * UNION of identically-bucketed scans WITHOUT the merging exchange
    * (each child's HashPartitioning claim is true alone but false for
    * the concatenation; even an explicit repartition between them is
    * elided), which returns one row per (key, generation) — duplicate
    * groups, a silent wrong answer. Single-table bucketed-scan claims
    * are true, so the join ladder is immune.
    */
  def urlKeeperState(spark: SparkSession, statePath: String): DataFrame =
    urlKeeperMerged(spark, statePath, identity)

  /** Bounded keeper lookup — the probe the tiered layout exists for
    * (reference anchor: `select` never scans the data files,
    * betfairdatabase/database.py:144-152): canonicalize the RAW `urls`
    * (driver-side through the same shared expression, bounded by the
    * [[PrSrcLiteralCap]]-style gate), then probe EVERY live generation
    * with the canonical list as a literal IN-filter — each scan
    * bucket-pruned (SelectedBucketsCount; UrlStateStreamSpec asserts
    * it) — plus the few uncompacted batch partitions, and re-merge just
    * those URLs' partials through the same [[mergeKeeperPair]] ladder.
    * Returns (canon_url, keeper_id, n_docs) for the probed URLs that
    * exist.
    */
  def urlKeeperProbe(spark: SparkSession, statePath: String,
      urls: Seq[String]): DataFrame = {
    import spark.implicits._
    require(urls.nonEmpty && urls.length <= PrSrcLiteralCap,
      s"urlKeeperProbe takes a bounded url list (1..$PrSrcLiteralCap); " +
        "corpus-scale lookups should read urlKeeperState instead")
    val canon = urls.toDF("url")
      .select(graft.ops.TextOps.canonicalizeUrl(col("url")))
      .collect().map(_.getString(0)).toSeq.distinct
    urlKeeperMerged(spark, statePath,
      _.filter(col("canon_url").isin(canon: _*)))
  }

  /** The merged keeper view: live generations (each already
    * one-row-per-url) plus the uncompacted batches (pre-merged by one
    * groupBy — batch partials MAY repeat a canon_url across batches),
    * folded with [[mergeKeeperPair]]. `cut` is identity for the full
    * serve, the canonical-literal filter for the probe (applied per
    * scan, BEFORE any join, so bucket pruning holds per generation).
    */
  private def urlKeeperMerged(spark: SparkSession, statePath: String,
      cut: DataFrame => DataFrame): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = liveGens(stateGens(spark, s"$statePath/urlsc"))
    val after = gens.lastOption.map(_.version).getOrElse(-1L)
    val recent =
      if (batchIds(fs, s"$statePath/urls").exists(_ > after))
        Seq(cut(spark.read.parquet(s"$statePath/urls")
          .filter(col("batch") > after)
          .select("canon_url", "keeper_id", "n_docs"))
          .groupBy("canon_url")
          .agg(min("keeper_id").as("keeper_id"),
            sum("n_docs").as("n_docs")))
      else Seq.empty
    val parts = gens.map(g => cut(
      spark.table(g.table).select("canon_url", "keeper_id", "n_docs"))) ++
      recent
    require(parts.nonEmpty, s"no URL keeper state at $statePath")
    parts.reduce(mergeKeeperPair)
  }

  /** Merge two one-row-per-url keeper partials: full-outer on canon_url,
    * keeper = least (skips the absent side's null), n_docs = sum of the
    * present sides — min/sum associativity is what makes the ladder
    * order-free.
    */
  private def mergeKeeperPair(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("canon_url"), col("keeper_id").as("ka"),
        col("n_docs").as("na"))
      .join(b.select(col("canon_url"), col("keeper_id").as("kb"),
        col("n_docs").as("nb")), Seq("canon_url"), "full_outer")
      .select(col("canon_url"),
        least(col("ka"), col("kb")).as("keeper_id"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)))
          .as("n_docs"))

  /** Streaming BM25 postings maintenance — the streaming member of the
    * lexical-retrieval family (one-shot t149 / here), the index a live
    * document feed keeps warm: each micro-batch of (doc_id, text) reduces
    * to its per-doc term-frequency postings (one map-side explode + a
    * batch-local partial aggregation — the batch never sees the corpus)
    * and publishes them as this batch's own `batch=N` partition
    * ([[publish]]). A re-delivered or revised doc
    * supersedes at READ time: [[bm25Served]] keeps only each doc's
    * latest-batch postings rows, so stale term rows of an earlier
    * version — including terms the revision no longer contains — stop
    * counting, and document frequencies and corpus stats shift with
    * them. That supersession is an ACROSS-batch rule; a doc_id delivered
    * twice in ONE micro-batch has no order to supersede by, and summing
    * both versions' term counts under the same batch id would be
    * unhealable — so the batch is first collapsed to one deterministic
    * row per doc_id ([[dedupWithinBatch]]). Doc deletes ride
    * [[tombstoneStream]]'s `doc_id` tombstones (healed by the shared
    * [[liveRaw]] anti-join).
    */
  def postingsStream(spark: SparkSession, docs: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      publish(graft.ops.TextOps.docPostings(dedupWithinBatch(batch)),
        statePath, s"batch=$id")
    }

  /** Streaming DSIR postings maintenance — the selection family's sink,
    * completing its one-shot (t152) / incremental (d155) / streaming trio.
    * Input columns: (doc_id, source, text). Per micro-batch: collapse to
    * ONE deterministic row per doc_id — max (text, source) struct, a
    * total order, so a replay lands identical bytes and a within-batch
    * double delivery cannot double-count features under one batch id
    * (which latest-batch-wins supersession could never heal; revisions
    * are only correct ACROSS batches) — then land the
    * [[graft.ops.TextOps.dsirPostings]] reduction as `posts/batch=N` and
    * the per-doc (doc_id, is_target) roster row as `roster/batch=N`
    * (featureless docs have no postings rows; the roster keeps them in
    * the selection pool at weight 0, and its (doc_id, max batch) is the
    * authoritative version pointer — a revision that LOSES all bigrams
    * must still supersede its old postings).
    *
    * Ingest is batch-local: tokenize + one partial-aggregable reduction
    * over the batch, zero reads of accumulated state. Deletes ride the
    * shared [[tombstoneStream]] at the same `statePath`.
    */
  def dsirIngestStream(spark: SparkSession, docs: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      val one = batch.groupBy("doc_id")
        .agg(max(struct(col("text"), col("source"))).as("ts"))
        .select(col("doc_id"), col("ts.source").as("source"),
          col("ts.text").as("text"))
      publish(graft.ops.TextOps.dsirPostings(one), statePath,
        s"posts/batch=$id")
      publish(one.select(col("doc_id"),
          (col("source") === graft.ops.TextOps.DsirTargetSource)
            .as("is_target")),
        statePath, s"roster/batch=$id")
    }

  /** The DSIR selection over a [[dsirIngestStream]] state — the serving
    * read: tombstone-healed roster rows collapse to each doc's LATEST
    * batch (the authoritative version pointer — see the sink's scaladoc),
    * that (doc_id, batch) pair prunes the postings to the newest
    * version's rows, and the scorer is [[graft.ops.TextOps.dsirServe]] —
    * the t152 query's own engine, so the served selection ≡ the one-shot
    * score over the current corpus by construction (DsirStreamSpec pins
    * it, including a revision shifting BOTH bag models and a tombstoned
    * doc's features vanishing from the raw distribution).
    *
    * Note the DSIR-specific serving truth: a revision or delete shifts
    * EVERY bucket's raw count, so per-doc weights are never cacheable —
    * what the state saves is the tokenize pass (each doc reduced once at
    * ingest), and serving re-scores the compact postings against the
    * current ≤4096-row score table.
    */
  def dsirServed(spark: SparkSession, statePath: String): DataFrame = {
    val (rosterLive, posts) = dsirLive(spark, statePath)
    graft.ops.TextOps.dsirServe(
      rosterLive.filter(!col("is_target")).select("doc_id"), posts)
  }

  /** The current (roster, postings) of a [[dsirIngestStream]] state:
    * tombstone-healed, collapsed to each doc's LATEST roster batch (the
    * authoritative version pointer — see the sink's scaladoc). Shared by
    * [[dsirServed]] (direct read) and [[compactDsirState]] (serving
    * rebuild).
    */
  private def dsirLive(spark: SparkSession, statePath: String)
      : (DataFrame, DataFrame) = {
    val (_, at) = rosterPointer(spark, statePath)
    (at("roster").select("doc_id", "is_target"),
      at("posts").select("doc_id", "is_target", "b", "n_f"))
  }

  /** Compact a [[dsirIngestStream]] `batch=N` state into the serving
    * layout — the selection member of the compaction family: the live
    * postings and roster (latest version per doc, tombstones applied
    * PHYSICALLY) each land as one generation, and the bag models are
    * pre-aggregated as the ≤[[graft.ops.TextOps.DsirBuckets]]-row
    * `<path>.bags` artifact (b, c_t, c_r as conditional sums — zero
    * exactly where the direct serve's full join coalesces to zero, so
    * the derived score table is value-identical) — a compacted serve
    * reads two bucket-count columns instead of re-aggregating the
    * corpus-sized postings per query. All writes are full overwrites (a
    * re-run replaces, never doubles; the `batch=N` sink stays the source
    * of truth).
    */
  def compactDsirState(spark: SparkSession, statePath: String,
      path: String): Unit = {
    val (rosterLive, postsLive0) = dsirLive(spark, statePath)
    val postsLive = postsLive0.persist()
    postsLive.write.mode("overwrite").parquet(s"$path/posts")
    rosterLive.write.mode("overwrite").parquet(s"$path/roster")
    postsLive.groupBy("b")
      .agg(sum(when(col("is_target"), col("n_f")).otherwise(0L)).as("c_t"),
        sum(when(!col("is_target"), col("n_f")).otherwise(0L)).as("c_r"))
      .write.mode("overwrite").parquet(s"$path.bags")
    postsLive.unpersist()
  }

  /** The DSIR selection over a [[compactDsirState]] layout — the
    * production serve: the score table derives from the 4096-row `.bags`
    * artifact (no corpus-sized bag aggregation), the scoring tail is
    * [[graft.ops.TextOps.dsirScoreWith]] — t152's own engine. Deletes
    * arriving AFTER the compaction pass as `tombstones` (doc_id rows)
    * and are applied EXACTLY: the dead docs' postings leave the scoring
    * side by an anti-join, and their bucket counts are subtracted from
    * the artifact (an O(dead postings) delta — every surviving doc's
    * weight shifts correctly because DSIR weights depend on the raw
    * distribution). A post-compaction REVISION, however, is invisible to
    * this layout until the next compaction (the bm25Compacted staleness
    * window) — a reader needing revision-fresh selection between
    * compactions serves [[dsirServed]] from the batch=N state instead.
    */
  def dsirCompacted(spark: SparkSession, path: String,
      tombstones: Option[DataFrame] = None): DataFrame = {
    val posts0 = spark.read.parquet(s"$path/posts")
    val roster0 = spark.read.parquet(s"$path/roster")
    val bags0 = spark.read.parquet(s"$path.bags")
    val (posts, roster, bags) = tombstones match {
      case None => (posts0, roster0, bags0)
      case Some(t) =>
        val ids = broadcast(t.select("doc_id"))
        val dead = posts0.join(ids, Seq("doc_id"), "left_semi")
        val deltas = dead.groupBy("b")
          .agg(sum(when(col("is_target"), col("n_f")).otherwise(0L))
            .as("d_t"),
            sum(when(!col("is_target"), col("n_f")).otherwise(0L))
              .as("d_r"))
        (dropDead(posts0, tombstones), dropDead(roster0, tombstones),
          bags0.join(deltas, Seq("b"), "left")
            .select(col("b"),
              (col("c_t") - coalesce(col("d_t"), lit(0L))).as("c_t"),
              (col("c_r") - coalesce(col("d_r"), lit(0L))).as("c_r")))
    }
    val wq = bags.select(col("b"),
      expr("((c_t + 1) * 1000000) div (c_r + 1)").as("w_q"))
    graft.ops.TextOps.dsirScoreWith(
      roster.filter(!col("is_target")).select("doc_id"), posts, wq)
  }

  /** Streaming bigram-LM maintenance — the LM family's sink, completing
    * its one-shot (t157) / incremental (d158) / streaming trio on the
    * additive count state. Input columns: (doc_id, text). Per
    * micro-batch: collapse to ONE deterministic row per doc_id
    * ([[dedupWithinBatch]] — a within-batch double delivery must not
    * double its counts under one batch id), then land the
    * [[graft.ops.TextOps.lmTokPartials]] /
    * [[graft.ops.TextOps.lmPairPartials]] reductions as `toks/batch=N`
    * and `pairs/batch=N`, plus the per-doc roster row as
    * `roster/batch=N` — the roster's (doc_id, max batch) is the
    * authoritative version pointer (a revision that loses all tokens
    * must still supersede its old partials). Ingest is batch-local:
    * tokenize + two partial-aggregable reductions, zero reads of
    * accumulated state. Deletes ride the shared [[tombstoneStream]] at
    * the same `statePath`.
    */
  def lmIngestStream(spark: SparkSession, docs: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      val one = dedupWithinBatch(batch)
      publish(graft.ops.TextOps.lmTokPartials(one), statePath,
        s"toks/batch=$id")
      publish(graft.ops.TextOps.lmPairPartials(one), statePath,
        s"pairs/batch=$id")
      publish(one.select("doc_id"), statePath, s"roster/batch=$id")
    }

  /** The LM scores over a [[lmIngestStream]] state — the serving read:
    * tombstone-healed roster rows collapse to each doc's LATEST batch,
    * that (doc_id, batch) pair prunes both partials tables to the newest
    * version's rows, and the scorer is
    * [[graft.ops.TextOps.lmScoreFrom]] — the t157 query's own engine, so
    * served scores ≡ the one-shot over the current corpus by
    * construction (LmStreamSpec pins it across a revision that shifts
    * the TRAIN model and a tombstoned train doc). Like DSIR, per-doc
    * scores are never cacheable (any train-doc change moves c1/c2/nt and
    * with them every doc's info_q); what the state saves is the
    * tokenize pass.
    */
  def lmServed(spark: SparkSession, statePath: String): DataFrame = {
    val (roster, toks, pairs) = lmLive(spark, statePath)
    graft.ops.TextOps.lmScoreFrom(roster, toks, pairs)
  }

  /** The current (roster, toks, pairs) of a [[lmIngestStream]] state:
    * tombstone-healed, collapsed to each doc's LATEST roster batch.
    * Shared by [[lmServed]] (direct read) and [[compactLmState]]
    * (serving rebuild).
    */
  private def lmLive(spark: SparkSession, statePath: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (latest, at) = rosterPointer(spark, statePath)
    (latest.select("doc_id"), at("toks").select("doc_id", "w", "c"),
      at("pairs").select("doc_id", "w1", "w2", "np"))
  }

  /** Compact a [[lmIngestStream]] `batch=N` state into the serving
    * layout — the LM member of the compaction family: the live partials
    * and roster (latest version per doc, tombstones applied PHYSICALLY)
    * each land as one generation, and the train model is pre-aggregated
    * as three artifacts — `<path>.c1` (train unigrams, vocab-sized),
    * `<path>.c2` (train bigrams, vocab²-bounded but Heaps-small), and
    * the 1-row `<path>.nt` token total — value-identical to the direct
    * serve's derivation (the sums are the same additive partials), so a
    * compacted serve skips the two train groupBy-sums per query. All
    * writes are full overwrites (a re-run replaces, never doubles; the
    * `batch=N` sink stays the source of truth).
    */
  def compactLmState(spark: SparkSession, statePath: String,
      path: String,
      trainFilter: DataFrame => DataFrame =
        graft.ops.TextOps.LmParityTrain): Unit = {
    val (roster, toks0, pairs0) = lmLive(spark, statePath)
    val toks = toks0.persist()
    val pairs = pairs0.persist()
    roster.write.mode("overwrite").parquet(s"$path/roster")
    toks.write.mode("overwrite").parquet(s"$path/toks")
    pairs.write.mode("overwrite").parquet(s"$path/pairs")
    val c1 = trainFilter(toks)
      .groupBy("w").agg(sum("c").as("c")).persist()
    c1.write.mode("overwrite").parquet(s"$path.c1")
    c1.agg(coalesce(sum("c"), lit(0L)).as("nt"))
      .write.mode("overwrite").parquet(s"$path.nt")
    trainFilter(pairs)
      .groupBy("w1", "w2").agg(sum("np").as("c2"))
      .write.mode("overwrite").parquet(s"$path.c2")
    c1.unpersist(); toks.unpersist(); pairs.unpersist()
  }

  /** The LM scores over a [[compactLmState]] layout — the production
    * serve: the train model reads from the pre-aggregated artifacts (no
    * train groupBy-sums per query), the scoring tail is
    * [[graft.ops.TextOps.lmScoreWith]] — t157's own engine. Deletes
    * arriving AFTER the compaction pass as `tombstones` (doc_id rows)
    * and are applied EXACTLY: dead docs leave the roster and the scored
    * pairs by anti-join, and — because the model counts are ADDITIVE —
    * dead TRAIN docs' own partials are subtracted from c1/c2/nt (an
    * O(dead partials) delta; every surviving doc's score shifts
    * correctly because info_q depends on the train distribution). A
    * post-compaction REVISION is invisible to this layout until the
    * next compaction (the bm25Compacted staleness window) — a reader
    * needing revision-fresh scores between compactions serves
    * [[lmServed]] from the batch=N state instead.
    *
    * `trainFilter` is the SAME train membership the producing
    * [[compactLmState]] ran with (it determined the c1/c2/nt artifacts;
    * the late-delete delta must subtract under the identical
    * membership) — default parity, the [[graft.ops.TextOps.LmParityTrain]]
    * convention.
    */
  def lmCompacted(spark: SparkSession, path: String,
      tombstones: Option[DataFrame] = None,
      trainFilter: DataFrame => DataFrame =
        graft.ops.TextOps.LmParityTrain): DataFrame = {
    val roster0 = spark.read.parquet(s"$path/roster")
    val pairs0 = spark.read.parquet(s"$path/pairs")
    val c10 = spark.read.parquet(s"$path.c1")
    val c20 = spark.read.parquet(s"$path.c2")
    val nt0 = spark.read.parquet(s"$path.nt")
    val (roster, pairs, c1, c2, nt) = tombstones match {
      case None => (roster0, pairs0, c10, c20, nt0)
      case Some(t) =>
        val ids = broadcast(t.select("doc_id"))
        val deadToks = trainFilter(
          spark.read.parquet(s"$path/toks")
            .join(ids, Seq("doc_id"), "left_semi"))
        val deadPairs = trainFilter(
          spark.read.parquet(s"$path/pairs")
            .join(ids, Seq("doc_id"), "left_semi"))
        val d1 = deadToks.groupBy("w").agg(sum("c").as("d"))
        val d2 = deadPairs.groupBy("w1", "w2").agg(sum("np").as("d"))
        val dnt = deadToks.agg(coalesce(sum("c"), lit(0L)).as("dnt"))
        (dropDead(roster0, tombstones), dropDead(pairs0, tombstones),
          c10.join(d1, Seq("w"), "left")
            .select(col("w"),
              (col("c") - coalesce(col("d"), lit(0L))).as("c"))
            .filter(col("c") > 0),
          c20.join(d2, Seq("w1", "w2"), "left")
            .select(col("w1"), col("w2"),
              (col("c2") - coalesce(col("d"), lit(0L))).as("c2"))
            .filter(col("c2") > 0),
          nt0.crossJoin(broadcast(dnt))
            .select((col("nt") - col("dnt")).as("nt")))
    }
    graft.ops.TextOps.lmScoreWith(roster, pairs, c1, c2, nt)
  }

  /** BM25 top-5 per query term over a [[postingsStream]] state — the
    * serving read: tombstone-healed postings collapse to each doc's
    * LATEST batch (all of a doc's term rows carry its ingest batch, so
    * the (doc_id, max batch) equi-join keeps exactly the newest
    * version's postings and drops every stale term row), doc lengths are
    * the per-doc tf sums of the surviving rows, and the scorer is
    * [[graft.ops.TextOps.bm25TopK]] — the t149 query's own engine, so
    * served ranking ≡ one-shot BM25 over the current corpus by
    * construction (Bm25StreamSpec pins it, including a revision and a
    * tombstoned doc shifting df and corpus stats).
    */
  def bm25Served(spark: SparkSession, statePath: String,
      qterms: DataFrame): DataFrame = {
    val served = servedPostings(spark, statePath)
    val dl = served.groupBy("doc_id").agg(sum("tf").as("dl"))
    graft.ops.TextOps.bm25TopK(served, dl, qterms)
  }

  /** The current postings of a [[postingsStream]] state: tombstone-healed
    * rows collapsed to each doc's LATEST batch (all of a doc's term rows
    * carry its ingest batch, so [[latestWholeItem]] keeps exactly the
    * newest version's postings). Shared by [[bm25Served]]
    * (direct read) and [[compactPostingsState]] (serving rebuild).
    */
  private def servedPostings(spark: SparkSession,
      statePath: String): DataFrame =
    latestWholeItem(liveRaw(spark, statePath, "doc_id"), "doc_id")
      .select("doc_id", "term", "tf")

  /** Compact a [[postingsStream]] `batch=N` state into the term-bucketed
    * serving layout — the lexical member of the compaction family: the
    * sink layout stays append-only, the serving layout is probe-optimal.
    * Writes (a) the live postings (latest version per doc, tombstones
    * applied PHYSICALLY) bucketed+sorted on `term`, so a query-term probe
    * reads only its terms' buckets, (b) the per-doc length table as
    * `<path>.dl`, and (c) the corpus statistics as the 1-row
    * `<path>.stats` artifact (n_docs, sum_dl) — so a serve reads corpus
    * stats as one row instead of re-aggregating one `.dl` row per live
    * doc per query (billions of rows at scale for two numbers that only
    * change at compaction). All writes are full overwrites (a re-run
    * replaces, never doubles; the `batch=N` sink stays the source of
    * truth).
    */
  def compactPostingsState(spark: SparkSession, statePath: String,
      tableName: String, path: String, nBuckets: Int = 32): Unit = {
    val served = servedPostings(spark, statePath).persist()
    served.write.mode("overwrite")
      .bucketBy(nBuckets, "term").sortBy("term")
      .option("path", path).saveAsTable(tableName)
    val dl = served.groupBy("doc_id").agg(sum("tf").as("dl")).persist()
    dl.write.mode("overwrite").parquet(s"$path.dl")
    dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$path.stats")
    dl.unpersist(); served.unpersist()
  }

  /** BM25 top-5 per query term over a [[compactPostingsState]] layout —
    * the production probe: the bounded query-term list is a LITERAL
    * IN-filter on the bucket column (the probed-list-literal convention),
    * so the scan reads only the queried terms' buckets
    * (SelectedBucketsCount — Bm25StreamSpec asserts it) and never
    * exchanges the state; document lengths join from the compacted `.dl`
    * artifact (one row per live doc, touched only for the scored
    * candidates) and corpus stats come from the 1-row `.stats` artifact —
    * never re-aggregated from `.dl` per serve (Bm25StreamSpec asserts the
    * plan scans `.dl` exactly once); `tombstones` carries doc_ids deleted
    * since the last compaction (broadcast anti-joins below the score, the
    * v127/v130 convention; the stats row is adjusted by the tombstoned
    * docs' own O(tombstones) count/length aggregate, so served statistics
    * stay exact — redundant after the next compaction applies them
    * physically). STALENESS SCOPE: `tombstones` covers post-compaction
    * DELETES only. A post-compaction REVISION lands in the `batch=N` sink
    * and is invisible to this probe until the next compaction rebuilds
    * the layout — a reader that needs revision-fresh ranking between
    * compactions must serve from [[bm25Served]] (the direct read), which
    * is exactly the freshness/latency trade the compacted layout buys.
    */
  def bm25Compacted(spark: SparkSession, tableName: String, path: String,
      qterms: Seq[String],
      tombstones: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val (postings, dl, stats) =
      bm25CompactedParts(spark, tableName, path, qterms, tombstones)
    graft.ops.TextOps.bm25TopK(postings, dl, qterms.toDF("term"),
      Some(stats))
  }

  /** The healed (postings, dl, stats) views of a [[compactPostingsState]]
    * layout at a bounded query-term list — the shared scan layer of both
    * compacted lexical reads: [[bm25Compacted]] (per-term top-5) and
    * [[fusedServe]]'s lexical half (per-query score sums). The postings
    * scan is bucket-pruned by the term IN-literal; the stats row is
    * adjusted by the tombstoned docs' own O(tombstones) aggregate.
    */
  private def bm25CompactedParts(spark: SparkSession, tableName: String,
      path: String, qterms: Seq[String], tombstones: Option[DataFrame])
      : (DataFrame, DataFrame, DataFrame) = {
    val postings = dropDead(
      spark.table(tableName).filter(col("term").isin(qterms: _*)), tombstones)
    val dlRaw = spark.read.parquet(s"$path.dl")
    val base = spark.read.parquet(s"$path.stats")
    val stats = tombstones.fold(base) { t =>
      // exact O(tombstones) adjustment: subtract the deleted docs' own
      // count and summed length from the compacted 1-row artifact
      val gone = dlRaw
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("d_docs"),
          coalesce(sum("dl"), lit(0L)).as("d_dl"))
      base.crossJoin(broadcast(gone))
        .select((col("n_docs") - col("d_docs")).as("n_docs"),
          (col("sum_dl") - col("d_dl")).as("sum_dl"))
    }
    (postings, dropDead(dlRaw, tombstones), stats)
  }

  /** Hybrid lexical+dense retrieval served from the COMPACTED layouts —
    * the production read path t150 proves in-query: a deployed hybrid RAG
    * stack answers every query by composing exactly these two
    * already-audited probes, so the fusion entry point composes them
    * rather than re-deriving either (reference anchor: one `select`
    * composing `where` predicates over one index,
    * betfairdatabase/database.py:144-151).
    *
    *  - LEXICAL: the [[compactPostingsState]] layout probed at the
    *    pseudo-query terms (`qmap` = (query_id, term), ≤3 terms per
    *    query) — the bounded term list is the bucket-pruning IN-literal
    *    (the probed-list-literal convention; FusedServeSpec asserts
    *    SelectedBucketsCount through the composed plan), stats from the
    *    1-row artifact, then [[graft.ops.FusionOps.lexTopK]] — t150's own
    *    lexical tail;
    *  - DENSE: the residual-IVFADC serving state probed via
    *    [[graft.ops.VectorOps.probeIvfPqResidualState]] (bucket-pruned on
    *    the probed clabels, broadcast LUT), exact-re-ranked against the
    *    deployment's raw-vector store `rawVecs` by the shared
    *    [[graft.ops.VectorOps.exactRerankOn]] — v134's own two-stage
    *    serve;
    *  - FUSION: [[graft.ops.FusionOps.rrfFuse]] over the two O(queries×k)
    *    lists.
    *
    * `tombstones` (doc_id rows) heals BOTH sides: lexical postings, doc
    * lengths and the stats row (exactly, O(tombstones)); dense code rows
    * AND the raw-vector re-rank side (a deleted doc can neither score nor
    * be re-ranked into a slot). Staleness scope is each side's own
    * (post-compaction revisions invisible until the next compaction —
    * the [[bm25Compacted]] window).
    *
    * Served ≡ t150 by construction (shared lexTopK/exactRerankOn/rrfFuse
    * over state whose serve ≡ the in-query chains) — FusedServeSpec pins
    * it bit-exactly over the same corpus, the DsirStreamSpec
    * compacted-≡-direct standard.
    *
    * FILTERED SERVING (the t160 form): `pred` is the dense side's
    * serve-time metadata predicate over encode-carried attribute columns
    * of the code table (the v142 contract — it composes with the clabel
    * pruning and pushes into the bucketed scan), `allowed` the lexical
    * side's allowed doc_ids (broadcast semi-join on the scored postings,
    * below the score and above the rank). Pass both halves of one
    * logical predicate — FusedServeSpec pins the filtered serve ≡ t160.
    *
    * RE-RANK STORE (the production raw-vector side): with `rerankTable`
    * set to a [[graft.ops.VectorOps.writeRerankState]] table, the exact
    * re-rank probes it at the shortlist's own bounded id list (queries ×
    * RerankR rows, collected from the persisted shortlist — the
    * probed-list-literal convention), so the raw-vector fetch is
    * bucket-pruned I/O instead of an O(corpus) scan of `rawVecs` — the
    * last unpruned scan in this path, closed. Answers are bit-identical
    * to the `rawVecs` form (the store holds the same vectors; the
    * re-rank join restricts to shortlist ids either way — FusedServeSpec
    * pins equality and asserts SelectedBucketsCount on the store scan);
    * tombstones keep healing by the same anti-join.
    */
  /** [[fusedServe]] qmaps above this distinct-term count fail fast: the
    * pseudo-query list is a driver-collected bucket-pruning IN-literal
    * (the probed-list-literal convention needs a BOUNDED artifact cut —
    * [[PrSrcLiteralCap]]'s theme), and a serve-path precondition is
    * enforced, not documented. Unlike the PageRank probe there is no
    * un-pruned fallback to degrade to: the term list IS the query
    * definition, so an oversized qmap is a caller bug, not a bulk-load
    * shape.
    */
  private[graft] val FusedTermLiteralCap = 1024

  def fusedServe(spark: SparkSession, bm25Table: String, bm25Path: String,
      qmap: DataFrame, ivfPqTable: String, centroids: DataFrame,
      pqCodebooks: DataFrame, queries: DataFrame, rawVecs: DataFrame,
      tombstones: Option[DataFrame] = None,
      pred: Column = lit(true),
      allowed: Option[DataFrame] = None,
      rerankTable: Option[String] = None): DataFrame = {
    import spark.implicits._
    // the pseudo-query term list is bounded (≤3·|queries|) — the
    // probed-list-literal convention makes it the pruning IN-filter.
    // ENFORCED, not assumed (the PrSrcLiteralCap theme): the limit
    // bounds the collect itself and the require fails fast, so an
    // oversized qmap can never become an unbounded driver collect plus
    // a corpus-scale IN-literal.
    val qterms = qmap.select("term").distinct()
      .limit(FusedTermLiteralCap + 1)
      .collect().map(_.getString(0)).toSeq
    require(qterms.size <= FusedTermLiteralCap,
      s"fusedServe qmap exceeds $FusedTermLiteralCap distinct terms — " +
        "the qmap contract is a bounded per-query-batch pseudo-query " +
        "(<=3 terms per query); serve smaller query batches instead of " +
        "one corpus-scale qmap")
    val (postings, dl, stats) =
      bm25CompactedParts(spark, bm25Table, bm25Path, qterms, tombstones)
    val scored0 = graft.ops.TextOps.bm25Scores(postings, dl,
      qterms.toDF("term"), Some(stats))
    val scored = allowed.fold(scored0)(a =>
      scored0.join(broadcast(a.select("doc_id")), Seq("doc_id"),
        "left_semi"))
    val lex = graft.ops.FusionOps.lexTopK(scored, qmap)
    val probes = graft.ops.VectorOps.ivfQueryProbes(spark, queries,
      centroids)
    val lut = graft.ops.VectorOps.residualLut(spark, probes, centroids,
      pqCodebooks)
    val cands = graft.ops.VectorOps.probeIvfPqResidualState(spark,
      ivfPqTable, lut,
      tombstones.map(_.select(col("doc_id").as("vec_id"))), pred)
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val heal = dropDead(_: DataFrame, tombstones, "neighbor_id")
    val denseRk = rerankTable match {
      case None =>
        graft.ops.VectorOps.exactRerankOn(spark, qv,
          heal(rawVecs.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("nv"))), cands)
      case Some(store) =>
        // persist(): the shortlist subtree (bucket-pruned ADC probe +
        // broadcast LUT) feeds BOTH the driver-collected pruning
        // literal and the re-rank join — without the cache the whole
        // probe would execute twice per serve
        val shortlist = graft.ops.CacheRegistry.harness.add(
          graft.ops.VectorOps.rerankShortlist(cands).persist())
        // bounded by construction: queries × RerankR shortlist rows —
        // the probed-list-literal convention's artifact cut
        val ids = shortlist.select("neighbor_id").distinct()
          .collect().map(_.getLong(0)).toSeq
        graft.ops.VectorOps.exactRerankFrom(spark, qv,
          heal(spark.table(store).filter(col("vec_id").isin(ids: _*))
            .select(col("vec_id").as("neighbor_id"),
              col("embedding").as("nv"))),
          shortlist)
    }
    val dense = denseRk
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("dense_rn"))
    graft.ops.FusionOps.rrfFuse(lex, dense).orderBy("query_id", "rn")
  }

  /** Revision-FRESH hybrid serve — [[fusedServe]]'s freshness twin,
    * completing the pair every other stateful family already has
    * (bm25Served/bm25Compacted, dsirServed/dsirCompacted, lmServed/
    * lmCompacted): [[fusedServe]] composes the two COMPACTED layouts, so
    * a post-compaction REVISION is invisible until the next compaction
    * (the documented [[bm25Compacted]] staleness window). This serve
    * composes the two LIVE `batch=N` states instead — lexical postings
    * from [[servedPostings]] (latest batch per doc, tombstone-healed,
    * corpus stats re-derived from the live doc lengths), dense
    * candidates from the [[ivfPqIngestStream]] code state
    * ([[latestWholeItem]] + heal, the [[ivfPqIndexQuery]] scan) — and
    * runs them through the SAME
    * [[graft.ops.FusionOps.lexTopK]]/[[graft.ops.VectorOps.exactRerankOn]]/
    * [[graft.ops.FusionOps.rrfFuse]] tails, so the fresh answer cannot
    * drift from the proven t150 semantics (FusedServeSpec pins fresh ≡
    * t150 over a corpus with a post-compaction revision, exactly where
    * the compacted serve is pinned STALE).
    *
    * The raw-vector re-rank side heals against the DENSE state's
    * tombstone table (the deletes that rode [[tombstoneStream]] there —
    * the same ids that healed the code rows). This is the latency/
    * freshness trade's other half: no bucket pruning (live state is
    * batch-partitioned, not term/clabel-bucketed), every serve pays the
    * latest-version collapse — which is exactly what the compacted path
    * exists to avoid between revisions.
    *
    * FILTERED FRESH SERVING (completing [[fusedServe]]'s `pred`/`allowed`
    * symmetry — a deployment that serves filtered hybrid queries must
    * not lose freshness the moment it filters): `pred` is the dense
    * side's serve-time metadata predicate over attribute columns the
    * INGEST carried onto the code rows (the v142 encode-carry contract —
    * here it filters the collapsed live rows BELOW the ADC score and
    * above the rank, after the latest-version collapse so a revision's
    * attributes are the ones judged); `allowed` is the lexical side's
    * allowed doc_ids, the same broadcast semi-join on the scored
    * postings. FusedServeSpec pins filtered-fresh ≡ the filtered serve
    * over revision-recompacted layouts, exactly where the filtered
    * compacted serve is pinned stale.
    */
  def fusedServeFresh(spark: SparkSession, postingsStatePath: String,
      qmap: DataFrame, ivfPqStatePath: String, centroids: DataFrame,
      pqCodebooks: DataFrame, queries: DataFrame, rawVecs: DataFrame,
      pred: Column = lit(true),
      allowed: Option[DataFrame] = None): DataFrame = {
    // lexical half: live postings, fresh doc lengths, stats derived from
    // them (no 1-row artifact exists for uncompacted state)
    val postings = servedPostings(spark, postingsStatePath)
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val scored0 = graft.ops.TextOps.bm25Scores(postings, dl,
      qmap.select("term").distinct())
    val scored = allowed.fold(scored0)(a =>
      scored0.join(broadcast(a.select("doc_id")), Seq("doc_id"),
        "left_semi"))
    val lex = graft.ops.FusionOps.lexTopK(scored, qmap)
    // dense half: the live code state through the v133 scoring
    // definitions, then the shared exact re-rank. The predicate runs
    // AFTER the latest-version collapse (a revision is judged on its own
    // attributes, not a dead version's) and BELOW the score/rank (the
    // v142 placement — post-rank filtering would under-fill k)
    val codes = latestWholeItem(liveRaw(spark, ivfPqStatePath, "vec_id"),
      "vec_id").filter(pred).select("vec_id", "clabel", "m", "cid")
    val probes = graft.ops.VectorOps.ivfQueryProbes(spark, queries,
      centroids)
    val lut = graft.ops.VectorOps.residualLut(spark, probes, centroids,
      pqCodebooks)
    val cands = graft.ops.VectorOps.listLutAdcScore(codes, lut)
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val nb = dropDead(rawVecs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")),
      tombstonesOf(spark, ivfPqStatePath), "neighbor_id", "vec_id")
    val dense = graft.ops.VectorOps.exactRerankOn(spark, qv, nb, cands)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("dense_rn"))
    graft.ops.FusionOps.rrfFuse(lex, dense).orderBy("query_id", "rn")
  }

  /** Streaming RAW-vector ingest sink — the exact re-rank side's source
    * of truth, closing the one lifecycle hole left in the fused read
    * path: the bucket-pruned re-rank store
    * ([[graft.ops.VectorOps.writeRerankState]]) was a ONE-SHOT write
    * from a caller-supplied corpus DataFrame, and [[fusedServeFresh]]
    * likewise trusted the caller to hand it revision-fresh raw vectors —
    * the only serving input without a maintained
    * ingest → live-view → compaction lifecycle (codes, postings,
    * signatures, assignments, LM counts all have one). Per micro-batch
    * of (vec_id, embedding): collapse to ONE deterministic row per
    * vec_id ([[dedupWithinBatch]]'s rationale — foreachBatch hands an
    * unordered Dataset, so "latest within a batch" is undefined; `max`
    * over the orderable embedding array is arbitrary but TOTAL, so a
    * replayed batch republishes an identical partition) and publish as
    * the batch's own `batch=N` partition ([[publish]]). Deletes
    * ride [[tombstoneStream]] at idCol `vec_id`; a revision supersedes
    * by latest-batch-wins at read time ([[liveRawVecs]]). O(batch) work
    * per trigger — stored vectors are never re-read or rewritten.
    */
  def rawVecIngestStream(spark: SparkSession, emb: DataFrame,
      statePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    sink(emb, statePath) { (batch, id) =>
      publish(batch.groupBy("vec_id").agg(max("embedding").as("embedding")),
        statePath, s"batch=$id")
    }

  /** The live raw-vector view over a [[rawVecIngestStream]] state:
    * latest-batch-wins per vec_id ([[latestPerId]] — the same max_by
    * rule every 1-row-per-id state serves through), tombstones healed
    * ([[liveRaw]]). This IS the `rawVecs` input [[fusedServeFresh]]
    * wants between compactions — the fresh serve composes it directly,
    * so revision-fresh re-ranking no longer depends on the caller
    * syncing a side table — and the survivor set
    * [[compactRerankState]] rebuilds the bucketed store from.
    */
  def liveRawVecs(spark: SparkSession, statePath: String): DataFrame =
    latestPerId(liveRaw(spark, statePath, "vec_id"), "vec_id")
      .select("vec_id", "embedding")

  /** Compact a [[rawVecIngestStream]] state into the vec_id-bucketed
    * re-rank serving store ([[graft.ops.VectorOps.writeRerankState]]):
    * latest-batch-wins, tombstones applied physically, full overwrite —
    * [[fusedServe]]'s `rerankTable` becomes a MAINTAINED artifact on the
    * same compaction cadence as the code and postings layouts instead of
    * a one-shot caller write. Superseding-state shape (a revision
    * replaces the whole row), so per the tiering scoping note this
    * correctly STAYS a full rewrite: the compaction's value is exactly
    * the latest-version resolution that tiering would push back onto
    * every serve.
    */
  def compactRerankState(spark: SparkSession, statePath: String,
      tableName: String, path: String, nBuckets: Int = 32): Unit =
    graft.ops.VectorOps.writeRerankState(liveRawVecs(spark, statePath),
      tableName, path, nBuckets)

  /** Streaming decontamination gate — the sink member of the t163/d165
    * family, run where a production pipeline actually runs the check: at
    * INGEST, against the frozen eval-gram artifact at `evalGramPath` (a
    * benchmark is fixed before ingest starts — the d165 contract). Per
    * micro-batch of (doc_id, text): collapse to one deterministic row
    * per doc_id ([[dedupWithinBatch]]), count each doc's distinct
    * 5-shingles shared with the broadcast eval set
    * ([[graft.ops.TextOps.decontamCountsAll]] — the SHARED tail, so the
    * gate cannot drift from the one-shot), and publish (doc_id,
    * n_overlap) as the batch's own `batch=N` partition. ZERO rows are
    * kept: they are the "checked, clean" gate record, and a revision
    * that LOSES its overlaps must supersede its old nonzero row
    * (latest-batch-wins can only supersede a row that exists). O(batch)
    * work per trigger; the corpus is never re-shingled. Deletes ride
    * [[tombstoneStream]] at `doc_id`.
    */
  def decontamStream(spark: SparkSession, docs: DataFrame,
      evalGramPath: String, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      publish(graft.ops.TextOps.decontamCountsAll(dedupWithinBatch(batch),
        spark.read.parquet(evalGramPath)), statePath, s"batch=$id")
    }

  /** The contamination report over a [[decontamStream]] state:
    * latest-batch-wins per doc ([[latestPerId]]), tombstones healed
    * ([[liveRaw]]), then the SHARED report cut
    * ([[graft.ops.TextOps.decontamReport]]) — the served answer is the
    * one-shot t163 cut over the current corpus by construction.
    */
  def decontamServed(spark: SparkSession, statePath: String): DataFrame =
    graft.ops.TextOps.decontamReport(
      latestPerId(liveRaw(spark, statePath, "doc_id"), "doc_id"))

  /** Compact a [[decontamStream]] `batch=N` state into one plain serving
    * table: latest-batch-wins, tombstones applied physically, full
    * overwrite. Superseding-state shape — stays a full rewrite (the
    * scoping note's rule); the value is collapsing replays/revisions and
    * rewriting micro-batch files. Zero rows are kept: the compacted
    * table is the full gate ledger, and [[decontamCompacted]] serves the
    * report cut from it.
    */
  def compactDecontamState(spark: SparkSession, statePath: String,
      path: String): Unit =
    latestPerId(liveRaw(spark, statePath, "doc_id"), "doc_id")
      .write.mode("overwrite").parquet(path)

  /** The contamination report over a [[compactDecontamState]] layout,
    * with post-compaction deletes healed by the standard broadcast
    * anti-join.
    */
  def decontamCompacted(spark: SparkSession, path: String,
      tombstones: Option[DataFrame] = None): DataFrame = {
    graft.ops.TextOps.decontamReport(
      dropDead(spark.read.parquet(path), tombstones))
  }

  /** Streaming gram-postings sink — the streaming member of the
    * decontamination-STATE family (one-shot t172 / incremental-onboard
    * d175 / revision d179 / here), the state that makes "onboard
    * benchmark suite N+1 without re-reading the corpus" a standing
    * capability instead of a batch job. Per micro-batch of (doc_id,
    * text): collapse to one deterministic row per doc
    * ([[dedupWithinBatch]] — within a batch there is no delivery order),
    * shingle ONLY the batch ([[graft.ops.TextOps.shingleTableN]] at the
    * decontamination width 5), and publish the batch's (doc_id, sh)
    * rows as `posts/batch=N` plus one roster row per doc as
    * `roster/batch=N`. The roster's (doc_id, max batch) is the
    * authoritative version pointer (the dsirIngestStream convention): a
    * revision that loses ALL its grams — a re-crawl to a <5-word stub —
    * has no postings rows to supersede with, and only the roster pointer
    * can make its old grams stop counting. O(batch) work per trigger;
    * deletes ride [[tombstoneStream]] at the same `statePath`.
    */
  def gramPostingsStream(spark: SparkSession, docs: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(docs, statePath) { (batch, id) =>
      val one = dedupWithinBatch(batch)
      publish(graft.ops.TextOps.shingleTableN(one, 5), statePath,
        s"posts/batch=$id")
      publish(one.select("doc_id"), statePath, s"roster/batch=$id")
    }

  /** The current (roster, postings) of a [[gramPostingsStream]] state:
    * tombstone-healed, each doc's postings pruned to its LATEST roster
    * batch (the authoritative version pointer — see the sink's
    * scaladoc). Shared by [[suiteOnboardServed]] (direct read) and
    * [[compactGramState]] (serving rebuild).
    */
  private def gramLive(spark: SparkSession, statePath: String)
      : (DataFrame, DataFrame) = {
    val (latest, at) = rosterPointer(spark, statePath)
    (latest.select("doc_id"), at("posts").select("doc_id", "sh"))
  }

  /** Onboard a NEW benchmark suite against a [[gramPostingsStream]]
    * state — d175's probe as the serving read: the suite roster is the
    * [[graft.ops.TextOps.DecontamFixedEvalK]] lowest-id live docs of the
    * (m, r) fold, eval grams = the roster's postings (broadcast
    * semi-join — zero tokenization at check time), train probe = the
    * non-roster postings through the shared
    * [[graft.ops.TextOps.decontamCountsOn]]/[[graft.ops.TextOps.decontamReport]]
    * tail, so the served check ≡ the stateless one-shot over the current
    * corpus by construction (GramStateStreamSpec pins it across a
    * replay, both revision directions, a delete, and compaction).
    */
  def suiteOnboardServed(spark: SparkSession, statePath: String,
      m: Int, r: Int): DataFrame = {
    val (rosterLive, posts) = gramLive(spark, statePath)
    serveOnboard(rosterLive, posts, m, r)
  }

  /** The onboard probe over a given (live roster, live postings) pair —
    * shared by the direct state read and the compacted layout so the two
    * serving paths cannot drift.
    */
  private def serveOnboard(rosterLive: DataFrame, posts: DataFrame,
      m: Int, r: Int): DataFrame = {
    val suiteIds = rosterLive.filter(col("doc_id") % m === r)
      .orderBy("doc_id").limit(graft.ops.TextOps.DecontamFixedEvalK)
    val evalGrams = posts
      .join(broadcast(suiteIds), Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    graft.ops.TextOps.decontamReport(graft.ops.TextOps.decontamCountsOn(
      posts.join(broadcast(suiteIds), Seq("doc_id"), "left_anti"),
      evalGrams))
  }

  /** Compact a [[gramPostingsStream]] `batch=N` state into the
    * PROBE-OPTIMAL serving layout — the gram-state member of the
    * compaction family, now holding the same bucketed-serving standard
    * as its BM25 ([[compactPostingsState]]), URL-keeper, and edge
    * siblings. Two generations, each keyed for the read that consumes
    * it (full overwrites — the superseding-state rule; a re-run
    * replaces, never doubles; the `batch=N` sink stays the source of
    * truth):
    *
    *  - `<tableName>_posts` at `path/posts`: the live (doc_id, sh)
    *    postings (latest version per doc, tombstones applied
    *    PHYSICALLY), bucketed+sorted on `sh` — a suite onboard's train
    *    probe filters by the bounded eval gram set, so the gram-keyed
    *    layout lets the scan prune to the matching buckets
    *    (SelectedBucketsCount) and skip non-matching row groups via the
    *    sort, instead of re-reading the corpus-sized state per suite
    *    (the r18 3.3×-at-10× probe residual this layout removes);
    *  - `<tableName>_roster` at `path/roster`: one (doc_id, grams) row
    *    per live doc — the doc's full gram SET as a sorted array —
    *    bucketed+sorted on `doc_id`, serving the two doc-id-keyed
    *    reads: the fold selection (scans only the doc_id column) and
    *    the suite docs' eval-gram fetch (prunes to the ≤
    *    [[graft.ops.TextOps.DecontamFixedEvalK]] ids' buckets). Grams
    *    land twice across the generations — the same
    *    storage-for-probe-locality trade the BM25 layout makes with its
    *    `.dl` artifact, paid once per compaction, saved on every
    *    onboard.
    */
  def compactGramState(spark: SparkSession, statePath: String,
      tableName: String, path: String, nBuckets: Int = 32): Unit = {
    val (rosterLive, posts0) = gramLive(spark, statePath)
    val posts = posts0.persist()
    posts.write.mode("overwrite")
      .bucketBy(nBuckets, "sh").sortBy("sh")
      .option("path", s"$path/posts").saveAsTable(s"${tableName}_posts")
    // sort_array: deterministic file content on recompaction (the
    // replay-republishes-identical convention); order is irrelevant to
    // the probe, which explodes and distincts
    rosterLive
      .join(posts.groupBy("doc_id")
        .agg(sort_array(collect_set(col("sh"))).as("grams")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("grams"), array().cast("array<string>")).as("grams"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "doc_id").sortBy("doc_id")
      .option("path", s"$path/roster").saveAsTable(s"${tableName}_roster")
    posts.unpersist()
  }

  /** The onboard probe over a [[compactGramState]] layout — the
    * production read the bucketed layout exists for. Both scans are
    * pruned by bounded plan literals (the probed-list convention):
    * the suite's ≤ [[graft.ops.TextOps.DecontamFixedEvalK]] doc ids
    * prune the roster generation's doc_id buckets for the eval-gram
    * fetch, and the fetched gram set (bounded by suite size, never
    * corpus size) prunes the posts generation's `sh` buckets for the
    * train probe — the state is never scanned corpus-wide at onboard
    * time, and the exact tail is the shared
    * [[graft.ops.TextOps.decontamCountsOn]]/[[graft.ops.TextOps.decontamReport]]
    * (the isin pre-filters are supersets of the inner-join condition,
    * results-invisible by construction). Deletes arriving after the
    * compaction heal by the standard broadcast anti-join on both
    * generations.
    */
  def suiteOnboardCompacted(spark: SparkSession, tableName: String,
      m: Int, r: Int, tombstones: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val roster = dropDead(spark.table(s"${tableName}_roster"), tombstones)
    // job 1: the fold's K lowest ids — a TakeOrdered over the doc_id
    // column only (column pruning keeps the gram arrays unread)
    val suiteIds = roster.filter(col("doc_id") % m === r)
      .select("doc_id").orderBy("doc_id")
      .limit(graft.ops.TextOps.DecontamFixedEvalK)
      .as[Long].collect().toSeq
    // job 2: the suite docs' gram sets — doc_id-bucket-pruned fetch of
    // ≤ K rows; the union/distinct runs driver-side on the bounded
    // result (suite grams, never corpus grams), sorted so the literal
    // below is deterministic
    val evalGrams = roster.filter(col("doc_id").isin(suiteIds: _*))
      .select("grams").as[Seq[String]].collect()
      .flatten.distinct.sorted.toSeq
    val train = dropDead(spark.table(s"${tableName}_posts")
        .filter(col("sh").isin(evalGrams: _*)), tombstones)
      .join(broadcast(suiteIds.toDF("doc_id")), Seq("doc_id"), "left_anti")
    graft.ops.TextOps.decontamReport(graft.ops.TextOps.decontamCountsOn(
      train, evalGrams.toDF("sh")))
  }

  /** The live view of an accumulated `batch=N` state under its
    * [[tombstoneStream]] deletes: one anti-join on the id column (a
    * missing tombstone table means no deletes yet). The anti-join's
    * right side is the compact id list, so it broadcasts and rides the
    * state scan map-side — per-read cost O(tombstones), the state is
    * never rewritten.
    */
  def liveState(spark: SparkSession, statePath: String,
      idCol: String = "doc_id"): DataFrame =
    liveRaw(spark, statePath, idCol).drop("batch")

  /** Collapse a (doc_id, text) micro-batch to ONE row per doc_id. The
    * cross-batch revision story is latest-batch-wins, but WITHIN a batch
    * there is no delivery order — Spark gives foreachBatch an unordered
    * Dataset — so "latest" is undefined and any per-partition pick
    * (`dropDuplicates`) would make replays nondeterministic. The pick here
    * is arbitrary but TOTAL (max text per doc_id), so a replayed batch
    * republishes an identical partition; a source that delivers two
    * versions of a doc in one trigger should treat which one wins as
    * undefined and re-deliver the intended version in a later batch.
    */
  private def dedupWithinBatch(batch: DataFrame): DataFrame =
    batch.groupBy("doc_id").agg(max("text").as("text"))

  /** Streaming retention state sink — the streaming member of the
    * analytics trio (one-shot q107 / batch-incremental d113 / here),
    * mirroring the dedup families' batch+incremental+streaming coverage.
    * Per micro-batch of events: bucket to weeks with the SHARED
    * [[graft.ops.Relational.retentionWeek]] expression (batch and stream
    * cannot bucket differently), reduce the batch to its distinct
    * (user_id, wk) partial — the O(batch→users×weeks) collapse happens
    * BEFORE anything is written — and publish it as this batch's own
    * `batch=N` partition ([[publish]]).
    *
    * The accumulated state is union-of-distincts, NOT globally distinct —
    * dedup across batches happens at read time ([[retentionMatrix]]),
    * which is exactly the d113 merge and is idempotent under replayed or
    * re-delivered events. State volume is bounded by
    * users×weeks×batches-touching-that-week, not by event volume.
    */
  def retentionStream(spark: SparkSession, events: DataFrame,
      statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(events, statePath) { (batch, id) =>
      publish(batch.select(col("user_id"),
          graft.ops.Relational.retentionWeek(col("ts")).as("wk")).distinct(),
        statePath, s"batch=$id")
    }

  /** The retention matrix from [[retentionStream]]'s accumulated state:
    * the d113 merge (distinct over the unioned partials) + the shared
    * q107 tail ([[graft.ops.Relational.retentionMatrixFrom]]) — so the
    * streaming read is bit-identical to the one-shot by construction.
    */
  def retentionMatrix(spark: SparkSession, statePath: String): DataFrame =
    graft.ops.Relational.retentionMatrixFrom(
      spark.read.parquet(statePath).select("user_id", "wk").distinct())

  /** Watermarked stream-stream interval join: attribute each purchase to the
    * same user's clicks in the preceding `intervalSql` (event-time range
    * condition). Both sides carry watermarks AND the join condition bounds
    * click_ts relative to purchase_ts, so Spark can compute exactly how long
    * to retain each side's state — the state store stays bounded on an
    * unbounded feed (the prerequisite for running attribution on a
    * production clickstream). Inputs need (user_id, event_id, ts) columns.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "2 hours", intervalSql: String = "1 hour")
      : DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c, expr(
      s"""c_user = p_user AND
          click_ts >= purchase_ts - INTERVAL $intervalSql AND
          click_ts < purchase_ts"""))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** End-to-end continuous indexing: stream market definitions from `dir`
    * and upsert the latest (by `pt`) definition per market into a parquet
    * snapshot at `indexPath` via foreachBatch — the streaming twin of
    * `BetfairDatabase.insert` (incremental by design, reference README.md:97).
    * Each micro-batch is a merge: new definitions win over stored ones only
    * with a strictly higher `pt`; the snapshot swap is the batch engine's
    * crash-safe retire-then-publish ([[graft.betfair.SnapshotSwap]]) — the
    * live index is never deleted, a crash mid-swap leaves a complete `_old`
    * copy that the next batch restores before merging, and a crash mid-batch
    * replays the batch against the intact live index (foreachBatch replay +
    * idempotent swap = effectively-once). Returns the started query (caller
    * stops it).
    */
  def continuousIndex(spark: SparkSession, dir: String, indexPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(streamMarketDefinitions(spark, dir), indexPath) { (batch, _) =>
      val live = new org.apache.hadoop.fs.Path(indexPath)
      val retired = new org.apache.hadoop.fs.Path(s"${indexPath}_old")
      val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // heal a swap that crashed between retire and publish before reading
      graft.betfair.SnapshotSwap.recover(fs, live, retired)
      val latestPerMarket = (df: DataFrame) => df.groupBy("marketId")
        .agg(max_by(struct(col("pt"), col("definition")), col("pt")).as("x"))
        .select(col("marketId"), col("x.pt").as("pt"),
          col("x.definition").as("definition"))
      val latest = latestPerMarket(batch)
      val merged =
        if (!fs.exists(live)) latest
        else latestPerMarket(spark.read.parquet(indexPath).unionByName(latest))
      val tmp = new org.apache.hadoop.fs.Path(s"$indexPath.tmp")
      merged.write.mode("overwrite").parquet(tmp.toString)
      graft.betfair.SnapshotSwap.publish(fs, tmp, live, retired)
    }

  /** Streaming ingestion of exchange-stream NDJSON files: parse each line's
    * market-change message, keep the latest marketDefinition per market via
    * max_by in foreachBatch upserts. Mirrors the reference's incremental
    * `insert()` as a continuously-running pipeline.
    *
    * Returns the streaming DataFrame (caller starts it with
    * `.writeStream.foreachBatch(...)` or a memory sink in tests).
    */
  def streamMarketDefinitions(spark: SparkSession, dir: String): DataFrame = {
    val lineSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pt",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("mc",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("marketDefinition",
              graft.betfair.Schemas.metadataSchema)))))))
    spark.readStream
      .option("maxFilesPerTrigger", 16)
      .text(dir)
      .select(from_json(col("value"), lineSchema).as("m"))
      .filter(col("m.mc").isNotNull)
      .select(explode(col("m.mc")).as("mc"), col("m.pt").as("pt"))
      .filter(col("mc.marketDefinition").isNotNull)
      .select(col("mc.id").as("marketId"), col("pt"),
        col("mc.marketDefinition").as("definition"))
  }
}
