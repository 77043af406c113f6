package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming forms of the event-table queries (SURVEY §7
  * step 5): watermarked tumbling/sliding windows, session windows, and
  * a `flatMapGroupsWithState` sessionizer with explicit state.
  *
  * All transforms take an unbounded `DataFrame` from `readStream` and
  * return one; they run identically on a batch frame (minus the
  * watermark pruning), which is how the batch oracle checks them.
  * State scales horizontally: every operator keys its state by a
  * shuffle column (window/user), nothing accumulates on the driver. */
object EventStreams {

  /** Watermarked tumbling-window counts per event type. Late data
    * beyond `lateness` is dropped and the state for closed windows is
    * evicted — the property that keeps state bounded on an unbounded
    * stream. */
  def tumblingCounts(events: DataFrame, window_ : String = "10 minutes",
                     lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding windows (window/slide) — each event contributes to
    * window/slide buckets. */
  def slidingCounts(events: DataFrame, window_ : String = "10 minutes",
                    slide: String = "5 minutes",
                    lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Built-in session windows (gap-merged) per user. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** One event for the custom sessionizer. */
  case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  /** Open-session state kept per user between micro-batches. */
  case class SessionState(start: Long, lastTs: Long, n: Long, sumValue: Double)

  /** Emitted when a session closes (gap exceeded or state timeout). */
  case class ClosedSession(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long,
                           sum_value: Double)

  /** Custom stateful sessionization via `flatMapGroupsWithState`:
    * explicit per-user state, event-time timeout keyed to the
    * watermark, sessions emitted once the watermark passes their end +
    * gap. This is the escape hatch for session semantics
    * `session_window` can't express (e.g. value-dependent gaps); here
    * the gap is fixed so the built-in variant above is the cross-check.
    *
    * State is a LIST of open sessions, not one: a late (but
    * within-watermark) event can open a session entirely before the
    * current one, or bridge two previously-separate sessions — exactly
    * session_window's gap-merge under out-of-order arrival. A
    * single-session state cannot represent that (it would either merge
    * events farther than `gap` apart or emit a session the watermark
    * has not sealed yet). Sessions close only when
    * `lastTs + gap <= watermark`, so no later event can retroactively
    * extend an emitted session. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMs: Long): Dataset[ClosedSession] = {
    import spark.implicits._

    def fn(userId: Long, batch: Iterator[Event],
           state: GroupState[Seq[SessionState]]): Iterator[ClosedSession] = {
      var sessions = state.getOption.getOrElse(Seq.empty).toList
      batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        // sessions this event is within `gap` of (either side, strict,
        // matching session_window's boundary semantics); merging the
        // event can bridge several of them into one
        val (near, far) = sessions.partition(s =>
          t - s.lastTs < gapMs && s.start - t < gapMs)
        val merged = near.foldLeft(SessionState(t, t, 1, e.value)) { (acc, s) =>
          SessionState(math.min(acc.start, s.start),
            math.max(acc.lastTs, s.lastTs), acc.n + s.n,
            acc.sumValue + s.sumValue)
        }
        sessions = merged :: far
      }
      // wm == 0 = "no watermark committed yet" (see gridFillIngest):
      // closing against the initial 0 would prematurely split
      // pre-epoch sessions that later within-gap events should merge
      val wm = state.getCurrentWatermarkMs()
      val (closed, open) =
        if (wm == 0L) (Nil, sessions)
        else sessions.partition(s => s.lastTs + gapMs <= wm)
      if (open.isEmpty) state.remove()
      else {
        state.update(open)
        // earliest possible close time of any open session; remaining
        // sessions have lastTs + gap > wm, so this is always > wm as
        // setTimeoutTimestamp requires
        state.setTimeoutTimestamp(open.map(_.lastTs).min + gapMs)
      }
      closed.sortBy(_.start).map(st =>
        ClosedSession(userId, new Timestamp(st.start),
          new Timestamp(st.lastTs), st.n, st.sumValue)).iterator
    }

    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exact deduplication by key: state keeps one entry per
    * key only until the watermark passes it (`dropDuplicates` without
    * the watermark bound would grow state forever on an unbounded
    * stream). The batch twin is `TextOps.dedupExact` — this is the
    * ingest-time form a training-data pipeline runs before anything
    * else touches the stream. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  lateness: String = "30 minutes"): DataFrame = {
    require(keys.nonEmpty, "dedupStream needs at least one key column")
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Single-key convenience forms. Scala allows default arguments on
    * only one overload, so the pre-composite-key call shape
    * `dedupStream(df, "key")` gets its own explicit 2-arg overload
    * (ADVICE r5: the Seq migration silently broke it). */
  def dedupStream(events: DataFrame, key: String,
                  lateness: String): DataFrame =
    dedupStream(events, Seq(key), lateness)

  def dedupStream(events: DataFrame, key: String): DataFrame =
    dedupStream(events, Seq(key))

  /** Streaming schema inference — the reference's CORE capability run
    * as a monitoring stream: per watermarked tumbling window, the JSON
    * column folds through the schema-merge lattice (the same
    * associative `InferSchemaStringAgg` the batch CLI uses) and the
    * window emits its rendered schema. State per open window is ONE
    * O(schema) tree merged map-side like any partial+final aggregate —
    * inference over a 100 TB/day firehose has the identical one-pass
    * shape as the batch crawl. A producer deploying a field change
    * becomes visible in the next window's rendered schema instead of
    * at the next batch inventory run. */
  def schemaOverTime(events: DataFrame, jsonCol: String = "props",
                     window_ : String = "1 hour",
                     lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.infer.InferSchema.of(col(jsonCol), "flat").as("schema_flat"))
      .select(col("w.start").as("window_start"), col("n_events"),
        col("schema_flat"))

  /** Stream–static enrichment join: the static dim is broadcast to
    * every micro-batch (no state, no watermark needed) — the standard
    * way to attach slowly-changing reference data to a stream. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming materialization of an NDJSON document directory — the
    * graftjson table's streaming twin, deliberately built ON Spark's
    * own file stream source rather than re-implementing one:
    * `readStream.textFile` tails the directory (new files per
    * micro-batch, exactly-once file tracking via the stream's
    * seen-files log — machinery a custom MicroBatchStream would have
    * to rebuild), and every line materializes through the SAME
    * [[graft.infer.Materialize]] conversion the batch source and CLI
    * run, so the three surfaces cannot drift. The HType is FIXED for
    * the stream's lifetime (Structured Streaming schemas are static):
    * discover it from a representative batch prefix (the graftjson
    * planning pass) or reuse the batch table's; documents that don't
    * fit a field yield null there, never a failure — and
    * [[schemaOverTime]] is the monitoring stream that tells you when
    * the corpus has drifted enough to re-infer and restart. */
  def streamJsonDocs(spark: SparkSession, dir: String,
                     inferred: graft.types.HType): DataFrame =
    graft.infer.Materialize.materialize(
      spark.readStream.textFile(dir), inferred.canonical)

  /** One micro-batch of [[jsonIngest]]: write the batch as NDJSON
    * under the table's hidden `_ingest_tmp` staging dir, then move
    * the part files to DETERMINISTIC epoch names
    * (`epoch-NNNNNN[-K].json`) in the table dir — a replayed epoch
    * reconciles exactly its own namespace: published files whose bytes
    * already match the replay's are KEPT (no mtime bump — historical
    * save fingerprints of replayed epochs stay valid, r14), differing
    * ones are replaced, stale sibling names swept; recovery is
    * idempotent with no id bookkeeping (the [[indexIngest]] contract).
    * A crash mid-move leaves a subset of the epoch's files visible;
    * the replay converges those same names to the identical committed
    * state.
    * When `refreshMeta`, the durable planning metadata refreshes in
    * the same cycle — the meta diff walks only this epoch's files, so
    * a fresh-JVM reader plans the table walk-free.
    *
    * Replays and LIVE TAILS don't mix: a replay sweeps and rewrites
    * its epoch's published names, which a concurrent
    * `readStream.format("graftjson")` tail that already consumed them
    * correctly fails LOUDLY on (the append-only mtime/disappearance
    * guards) — replay-exposed epochs belong to the ingest pipeline's
    * recovery, not to a tailed steady state; start tails after the
    * ingest checkpoint has committed the epochs they will read. */
  def ingestEpoch(batch: DataFrame, dir: String, batchId: Long,
                  nFiles: Int = 1, refreshMeta: Boolean = true,
                  opId: String = ""): Unit = {
    require(nFiles > 0, "nFiles must be positive")
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    // enforced single-writer: the epoch's sweep-then-publish mutates
    // the table namespace — a concurrent write/compact fails loudly
    // ([[graft.sources.JsonLease]], r13)
    // retrySameLabel: the foreachBatch retry of THIS epoch is a serial
    // replay of the same logical op (deterministic epoch names) — it
    // must not wait out a crashed attempt's lease TTL (review r13).
    // `opId` scopes the retry to ONE logical pipeline: two pipelines
    // ingesting the same table with equal batchIds must conflict
    // loudly, not usurp each other's live lease (ADVICE r13) —
    // [[jsonIngest]] derives it from its checkpoint; direct callers
    // sharing a table across pipelines should pass their own
    val label =
      if (opId.isEmpty) s"ingest-epoch-$batchId"
      else s"ingest-epoch-$opId-$batchId"
    graft.sources.JsonLease.withLease(fs, root, label,
      retrySameLabel = true) { h =>
    // CLAIM-UNIQUE staging (r16 — a real JsonLeaseRaceSpec find, round
    // 52 of a full-suite run): the shared `_ingest_tmp` let a
    // residual-window double-claimant's mode(overwrite) write CLOBBER
    // the verified holder's staged parts between its tmp job and its
    // publish renames — the holder then LISTED the other epoch's
    // parts and renamed FOREIGN ROWS under its own epoch names (a
    // silent wrong-content publish; the victim's later "could not
    // publish" was loud, the thief's commit was not). A unique dir
    // per attempt means every claimant only ever lists its own bytes;
    // the lease's advisory residual then degrades to loud aborts,
    // never content theft. Crashed attempts' dirs sweep by lease TTL
    // (fresh ones may belong to a live racer in the residual window —
    // spared, the clearStaleStage discipline).
    try Option(fs.listStatus(root)).getOrElse(Array.empty)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_ingest_tmp") &&
        System.currentTimeMillis() - st.getModificationTime >
          graft.sources.JsonLease.DefaultTtlMs)
      .foreach(st => fs.delete(st.getPath, true))
    catch { case _: java.io.FileNotFoundException => () }
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"_ingest_tmp_${java.util.UUID.randomUUID().toString.take(12)}")
    batch.repartition(nFiles).write.mode("overwrite").json(tmp.toString)
    // the tmp write is a full Spark job that can outlast the lease TTL
    // at scale: heartbeat, then re-check ownership BEFORE the first
    // namespace mutation (the sweep below) — a post-TTL usurper makes
    // this run abort loudly instead of interleaving (ADVICE r13)
    h.touch(); h.verifyHeld()
    val parts = fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    // the epoch's target names, then reconcile its WHOLE published
    // namespace against them — not just the names about to be written:
    // a replayed epoch can land FEWER part files than its crashed
    // first attempt (different upstream partitioning, an empty
    // partition), and a stale epoch-NNNNNN-KKK.json would otherwise
    // survive holding rows the rewritten files also carry — duplicates.
    // (The native streaming sink sweeps its prefix for exactly this
    // reason; review r12.)
    val prefix = f"epoch-$batchId%06d"
    val targets: Seq[(org.apache.hadoop.fs.FileStatus, String)] =
      parts.zipWithIndex.map { case (st, k) =>
        st -> (if (nFiles == 1) f"epoch-$batchId%06d.json"
               else f"epoch-$batchId%06d-$k%03d.json")
      }.toSeq
    val targetNames = targets.map(_._2).toSet
    try
      Option(fs.listStatus(root)).getOrElse(Array.empty)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && (n == s"$prefix.json" ||
            (n.startsWith(s"$prefix-") && n.endsWith(".json"))) &&
            !targetNames.contains(n)
        }
        .foreach(st => fs.delete(st.getPath, false))
    catch { case _: java.io.FileNotFoundException => }
    targets.foreach { case (st, name) =>
      val dst = new org.apache.hadoop.fs.Path(root, name)
      // content-identical replay keeps the PUBLISHED file: a true
      // foreachBatch retry re-renders the same bytes, and overwriting
      // them would bump the mtime — drifting the file out of every
      // historical save's (len, mtime) fingerprint and killing asOf
      // reads of replayed epochs for no reason (VERDICT r13 #2 /
      // watchpoint r13#1). Only differing bytes replace the file.
      val existing =
        try Some(fs.getFileStatus(dst))
        catch { case _: java.io.FileNotFoundException => None }
      val identical = existing.exists(_.getLen == st.getLen) &&
        graft.ops.Fs.sameBytes(fs, st.getPath, dst)
      if (identical) fs.delete(st.getPath, false)
      else {
        existing.foreach(_ => fs.delete(dst, false))
        if (!fs.rename(st.getPath, dst))
          throw new IllegalStateException(s"could not publish $dst")
      }
    }
    fs.delete(tmp, true)
    if (refreshMeta) {
      // the publish renames are namespace mutations too — heartbeat
      // and re-verify before the meta commit (ADVICE r13)
      h.touch(); h.verifyHeld()
      graft.sources.JsonMeta.saveWith(spark, dir, None, h)
    }
    }
    ()
  }

  /** Streaming NDJSON ingest into a graftjson table — the WRITE twin
    * of [[streamJsonDocs]] and the front door [[graft.sources
    * .JsonCompact.compact]] maintains behind: each micro-batch lands
    * as its own deterministic epoch file via [[ingestEpoch]]
    * (idempotent replay), the planning metadata stays fresh
    * incrementally, and the accreting small epoch files are exactly
    * the population `compact(refreshMeta=true)` later folds into
    * split-friendly large ones. */
  def jsonIngest(docs: DataFrame, dir: String, nFiles: Int = 1,
                 checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // lease-label discriminator: stable across RESTARTS of this
    // checkpointed pipeline (the checkpoint IS the logical stream's
    // identity — replays must match a crashed attempt's label), unique
    // per run otherwise (no checkpoint ⇒ no cross-run replay exists,
    // and two concurrent unchckpointed pipelines must not share labels)
    val opId = checkpointDir.fold(
      java.util.UUID.randomUUID().toString.take(8))(d =>
      f"${scala.util.hashing.MurmurHash3.stringHash(
        new org.apache.hadoop.fs.Path(d).toUri.getPath)}%08x")
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) ingestEpoch(batch, dir, batchId, nFiles, opId = opId)
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Ingest-time contamination scrub: drop streamed documents whose
    * token-set fingerprint appears in the (static, benchmark-sized)
    * eval set — the streaming form of the batch q70 check, run BEFORE
    * contaminated text ever lands in the lake. Stream-static
    * left_anti with the eval fingerprints broadcast per micro-batch;
    * stateless, no watermark needed. */
  def scrubContaminated(docs: DataFrame, evalDocs: DataFrame): DataFrame =
    docs.withColumn("fp", graft.ops.TextOps.tokenSetFingerprint(col("text")))
      .join(broadcast(
        evalDocs.select(graft.ops.TextOps.tokenSetFingerprint(col("text")).as("fp"))),
        Seq("fp"), "left_anti")
      .drop("fp")

  /** The composed streaming front door of a training-data lake:
    * quality gate, contamination scrub, then watermarked content
    * dedup — documents that are low-quality, eval-contaminated, or
    * duplicate never LAND, instead of being filtered by the next
    * batch sweep. Stage order matters: the stateless stages run
    * FIRST, so a rejected document never claims a fingerprint state
    * entry — the reverse order would let a low-quality first copy
    * both occupy state and permanently shadow a later
    * quality-passing duplicate inside the watermark. The fingerprint
    * is computed once and shared by the scrub anti-join and the
    * [[dedupStream]] key; the eval side is broadcast per
    * micro-batch; state is bounded by the watermark. */
  def curatedIngest(docs: DataFrame, evalDocs: DataFrame,
                    lateness: String = "30 minutes"): DataFrame = {
    val fpCol = graft.ops.TextOps.tokenSetFingerprint(col("text"))
    val gated = docs
      .where(graft.ops.TextOps.qualityOk)
      .withColumn("fp", fpCol)
      .join(broadcast(evalDocs.select(fpCol.as("fp"))), Seq("fp"), "left_anti")
    dedupStream(gated, Seq("fp"), lateness).drop("fp")
  }

  /** Streaming NEAR-duplicate suppression: [[curatedIngest]]'s content
    * dedup catches exact token-set copies only; this stage drops
    * paraphrased duplicates too. Each doc's MinHash signature
    * (`graft_minhash` when installed) splits into LSH bands; band rows
    * dedup within the watermark (`dropDuplicatesWithinWatermark` on
    * the band key — first arrival claims the key), and a doc survives
    * iff it claims ALL its bands. Any band collision with an earlier
    * in-watermark doc ⇒ suppressed, the standard LSH candidate
    * criterion. A suppressed doc's novel bands still claim state, so
    * later near-dups of a dropped doc are suppressed transitively.
    *
    * Two chained stateful operators (band dedup → per-window count
    * gate), both watermark-bounded: state is one entry per distinct
    * band key plus one open-window aggregate per doc — never a
    * signature archive. Emission is append-mode: a doc surfaces when
    * its window closes (curation latency = window + lateness, the
    * price of the all-bands gate). Batch twin:
    * [[graft.ops.TextOps.nearDupSuppress]] (parity spec-pinned).
    * Claim order: ACROSS micro-batches, first arrival claims a band;
    * within one micro-batch the surviving same-key row is whichever
    * the state store meets first (post-shuffle order, not contracted)
    * — same-batch near-dup ties resolve arbitrarily but exactly one
    * claimant survives, so the kept/suppressed PARTITION is still
    * correct; only which twin wins is unspecified.
    *
    * EVERY doc emits an audit row — suppressed docs included
    * (`n_lost_bands` > 0, `is_kept` = 0), parity-grade with the batch
    * twin's lineage instead of silently vanishing (VERDICT r8 #4):
    * the deduped band rows (each worth one CLAIM) union with the raw
    * band rows (one row per band, claim 0), and the per-(window, doc)
    * aggregate counts claims against the constant band total. The
    * union adds no state — it re-reads the same banded projection —
    * so the state bound is unchanged. Downstream keeps
    * `where(is_kept = 1)`; a monitor alerts on the suppressed side. */
  def nearDupIngest(docs: DataFrame, nSig: Int = 12, bands: Int = 3,
                    lateness: String = "30 minutes",
                    window_ : String = "10 minutes"): DataFrame = {
    val banded = docs
      .withColumn("sig", graft.ops.TextOps.minhashSignatureFromHashes(
        graft.ops.TextOps.ngramHashSet(col("text"), 1), nSig))
      .select(col("ts"), col("doc_id"), col("text"),
        explode(graft.ops.TextOps.bandStructs(col("sig"), nSig, bands)).as("b"))
      .select(col("ts"), col("doc_id"), col("text"),
        col("b.band").as("band"), col("b.band_key").as("band_key"))
      .withWatermark("ts", lateness)
    val claims = banded
      .dropDuplicatesWithinWatermark("band", "band_key")
      .select(col("ts"), col("doc_id"), col("text"), lit(1L).as("claimed"))
    val allBands = banded
      .select(col("ts"), col("doc_id"), col("text"), lit(0L).as("claimed"))
    claims.unionByName(allBands)
      .groupBy(window(col("ts"), window_).as("w"), col("doc_id"))
      .agg(sum(col("claimed")).as("n_new_bands"), first(col("text")).as("text"))
      .select(col("w").getField("start").as("window_start"), col("doc_id"),
        col("text"),
        (lit(bands.toLong) - col("n_new_bands")).as("n_lost_bands"),
        (col("n_new_bands") === bands).cast("int").cast("bigint").as("is_kept"))
  }

  /** Stream–stream interval join: purchases matched to views by the
    * same user within `windowSpec` before the purchase. Both sides
    * carry watermarks so matched/expired state is evicted — the
    * bounded-state requirement of stream–stream joins. */
  def purchasesWithRecentViews(events: DataFrame,
                               lateness: String = "30 minutes",
                               window_ : String = "10 minutes"): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", lateness)
    val views = events.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", lateness)
    purchases.join(views,
      col("user_id") === col("view_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $window_"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("view_id"), col("view_ts"))
  }

  /** Streaming vector-index ingest — the serving loop that keeps an
    * ANN index fresh without retraining: each micro-batch of
    * (vec_id, embedding) rows flags itself against the STORED index
    * ([[graft.ops.VectorOps.incrementalNearDupIvf]] — batch ⋈ stored
    * cells only, dynamic partition pruning) and appends ONLY the novel
    * vectors ([[graft.ops.VectorOps.appendToIvfIndex]] — dynamic
    * overwrite of touched cells, write cost ∝ batch). `foreachBatch`
    * because the per-batch work is two batch operations against an
    * external store; a replayed epoch is safe because the append
    * anti-joins ids already stored (idempotent, spec-pinned).
    * Batch-internal duplicates are out of scope, as in
    * [[graft.ops.TextOps.incrementalDedup]] — compose a dedup stage
    * upstream. */
  def vectorIndexIngest(vectors: DataFrame, indexDir: String,
                        threshold: Double, nAssign: Int = 4,
                        checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // materialize the micro-batch once: the probe, the anti-join
        // and the append are three actions, and a non-replayable
        // source (Kafka) must not be re-read per action.
        // localCheckpoint REQUIRED (not persist): the lineage roots
        // in the epoch's source offsets, which recompute cannot
        // honor for a non-replayable source. Executor loss here fails
        // the EPOCH and Structured Streaming replays the batch from
        // the checkpoint — the idempotent-replay contract this sink
        // is spec-pinned for, so truncation costs nothing durable.
        val batch = batch0.localCheckpoint(true)
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val dups = graft.ops.VectorOps
            .incrementalNearDupIvf(spark, indexDir, batch, threshold, nAssign)
            .select(col("batch_id").as("vec_id")).distinct()
          // same epoch-scoped truncation as `batch` above: novel is
          // read by isEmpty + the append (two actions), and its
          // lineage roots in the same non-replayable epoch
          val novel = batch.join(dups, Seq("vec_id"), "left_anti")
            .localCheckpoint(true)
          // skip the write job entirely when the whole batch was
          // duplicates (an empty dynamic overwrite is a no-op but
          // still schedules a job). The probe and the append each
          // read the stored index once — two index reads per batch
          // is the price of composing the two batch operators
          // verbatim; the index metadata (centroids) is tiny and the
          // corpus scan prunes to probed/touched cells.
          if (!novel.isEmpty)
            graft.ops.VectorOps.appendToIvfIndex(spark, indexDir, novel)
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Streaming CDC ingest into a bucketed document store — the lake
    * twin of [[vectorIndexIngest]]: each micro-batch of change rows
    * (store columns + `op` ∈ {upsert, delete}) merges via
    * [[graft.ops.Sharding.mergeCdc]], so write cost per batch is
    * ∝ batch (only touched bucket partitions rewrite) and the store
    * stays point-lookup-able between batches. A replayed epoch
    * re-applies the same by-id operations to the same partitions →
    * identical content, which is exactly the foreachBatch retry
    * contract; the merge itself stages the batch durably before
    * reading the store, so a non-replayable source is evaluated
    * once. Batches must carry one change per doc_id (mergeCdc
    * enforces it) — resolve last-write-wins upstream, e.g. a
    * max_by(ts) groupBy before the sink. */
  def cdcIngest(changes: DataFrame, storeDir: String, nBuckets: Int,
                checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Sharding.mergeCdc(batch.sparkSession, storeDir, batch,
            nBuckets)
          ()
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Streaming text-index ingest: each micro-batch of documents
    * indexes as its own LSM segment
    * ([[graft.ops.InvertedIndex.appendSegment]], segId = batchId + 1
    * — build owns segment 0), so a replayed epoch overwrites ITS OWN
    * segment with identical content: idempotence falls out of the
    * segId↔batchId bijection, with no id bookkeeping at all. Append
    * cost ∝ batch; existing segments are never read or rewritten. */
  def indexIngest(docs: DataFrame, indexDir: String,
                  checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.InvertedIndex.appendSegment(batch, indexDir,
            segId = batchId.toInt + 1)
          ()
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Streaming twin of the q138 HLL sketch store: each micro-batch
    * sketches into its own `shard=batch-<id>` partition of the store
    * — the statistics-side instance of the [[indexIngest]] contract.
    * Replay of a failed batch dynamically overwrites the same shard
    * with identical blobs (batchId keys the shard name, so no id
    * bookkeeping), and the merged estimate stays exact w.r.t. a
    * global sketch because HLL register-max union is idempotent and
    * order-free. Store growth is one tiny sketch row-set per batch;
    * compact by re-sketching shards together offline if shard count
    * ever matters. */
  def sketchIngest(rows: DataFrame, storeDir: String,
                   group: org.apache.spark.sql.Column,
                   id: org.apache.spark.sql.Column,
                   checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Sketches.writeHllShards(batch, storeDir,
            lit(f"batch-$batchId%06d"), group, id)
          ()
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Streaming histogram-sketch ingest — [[sketchIngest]]'s
    * distribution twin ([[graft.ops.Sketches.writeHistShards]]): each
    * micro-batch lands as its own `shard=batch-NNNNNN` partition of
    * exact bin counts, and because bin counts merge by ADDITION the
    * merged store equals the one-shot batch histogram over everything
    * that ever arrived — any arrival order, any batch split. Replay
    * of a batch id dynamically overwrites exactly its own partition
    * with identical rows (idempotent recovery). The (lo, hi, nBins)
    * frame is fixed at stream start: a histogram's bins must mean the
    * same thing in every shard, so the frame is a DESIGN-TIME
    * contract (size it from history), not per-batch state. Cost per
    * batch: one column-pruned pass, ≤ nBins aggregate rows written. */
  def histIngest(rows: DataFrame, storeDir: String,
                 value: org.apache.spark.sql.Column,
                 lo: Double, hi: Double, nBins: Int,
                 checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Sketches.writeHistShards(batch, storeDir,
            value, lit(f"batch-$batchId%06d"), lo, hi, nBins)
          ()
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Incremental schema inference over a JSON stream: the running
    * lattice join surfaced per micro-batch (complete mode) — the
    * streaming form of the reference's whole program. */
  def streamingInferSchema(jsonDocs: DataFrame): DataFrame =
    jsonDocs.agg(graft.infer.InferSchema.of(col("value"), "ddl").as("ddl"))

  /** Batch form of the throughput anomaly monitor (q157's body, shared
    * so the streaming twin is parity-checked against the exact same
    * arithmetic): hourly event-type counts z-scored against the
    * preceding 24 hourly ROWS (`ROWS -24..-1` — hours without events
    * produce no row and no gap-filling happens, in batch or stream).
    * Integer moments ⇒ exact under any layout. */
  def hourlyAnomalies(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(-24, -1)
    val mu = col("s1").cast("double") / col("n_prev")
    val sigma = sqrt(col("s2").cast("double") / col("n_prev") - mu * mu)
    hourly
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("s1", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      .where(col("n_prev") === 24 && sigma > 0)
      .select(col("event_type"), col("hr"), col("cnt"),
        round(mu, 4).as("mu"), round(sigma, 4).as("sigma"),
        round((col("cnt") - mu) / sigma, 4).as("z"),
        (abs((col("cnt") - mu) / sigma) >= 3.0).cast("int").cast("bigint")
          .as("is_anomaly"))
      .orderBy(col("event_type"), col("hr"))
  }

  /** One (type, ts) observation for the streaming monitor. */
  case class TypedTs(event_type: String, ts: Timestamp)

  /** Per-type monitor state: the trailing ring of closed hourly rows
    * (newest last, ≤ 24 kept — exactly the batch window's frame) and
    * the still-open hour counts. Bounded: 24 + (lateness/1h + 1)
    * entries per event type, keyed state on the type shuffle column —
    * nothing driver-side. */
  case class AnomalyState(ring: Seq[(Long, Long)], open: Map[Long, Long])

  /** One emitted monitor row (mirrors a [[hourlyAnomalies]] row). */
  case class HourAnomaly(event_type: String, hr: Timestamp, cnt: Long,
                         mu: Double, sigma: Double, z: Double,
                         is_anomaly: Long)

  /** Streaming twin of [[hourlyAnomalies]] — the live form of the
    * monitoring query: per event type, hourly counts accumulate in
    * keyed state; when the watermark closes an hour the row is scored
    * against the trailing 24-row ring with EXACTLY the batch twin's
    * IEEE sequence (long moments, s/n double divisions,
    * `BigDecimal.valueOf` HALF_UP rounding — the same ladder Spark's
    * `round` applies), emitted, and appended to the ring. Hours close
    * in watermark order, so ring order equals the batch window's row
    * order; StreamAnomalySpec pins stream == batch on identical
    * arrival order. Rows with fewer than 24 predecessors or zero
    * variance are suppressed exactly as in batch. */
  def anomalyIngest(spark: SparkSession, events: Dataset[TypedTs],
                    lateness: String = "2 hours"): Dataset[HourAnomaly] = {
    import spark.implicits._
    val hourMs = 3600L * 1000L

    def score(ring: Seq[(Long, Long)], hr: Long, cnt: Long)
        : Option[HourAnomaly] = {
      if (ring.size != 24) return None
      val n = ring.size.toLong
      var s1 = 0L; var s2 = 0L
      ring.foreach { case (_, c) => s1 += c; s2 += c * c }
      val mu = s1.toDouble / n
      val sigma = math.sqrt(s2.toDouble / n - mu * mu)
      if (!(sigma > 0)) return None
      def r4(v: Double): Double =
        java.math.BigDecimal.valueOf(v)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      val z = (cnt - mu) / sigma
      Some(HourAnomaly("", new Timestamp(hr), cnt, r4(mu), r4(sigma),
        r4(z), if (math.abs(z) >= 3.0) 1L else 0L))
    }

    def fn(tpe: String, batch: Iterator[TypedTs],
           state: GroupState[AnomalyState]): Iterator[HourAnomaly] = {
      var st = state.getOption.getOrElse(AnomalyState(Seq.empty, Map.empty))
      var open = st.open
      batch.foreach { e =>
        val h = Math.floorDiv(e.ts.getTime, hourMs) * hourMs
        open = open.updated(h, open.getOrElse(h, 0L) + 1L)
      }
      // wm == 0 = "no watermark yet": see gridFillIngest — closing
      // pre-epoch hours against the initial 0 would emit early
      val wm = state.getCurrentWatermarkMs()
      val (closed, stillOpen) =
        if (wm == 0L) (Map.empty[Long, Long], open)
        else open.partition { case (h, _) => h + hourMs <= wm }
      var ring = st.ring
      val out = Seq.newBuilder[HourAnomaly]
      closed.toSeq.sortBy(_._1).foreach { case (h, c) =>
        score(ring, h, c).foreach(a => out += a.copy(event_type = tpe))
        ring = (ring :+ (h, c)).takeRight(24)
      }
      state.update(AnomalyState(ring, stillOpen))
      if (stillOpen.nonEmpty)
        state.setTimeoutTimestamp(stillOpen.keys.min + hourMs)
      out.result().iterator
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** One event for the grid-fill ingest (needs the event_id for the
    * batch twin's (ts, event_id) hour-close tiebreak). */
  case class UserTs(user_id: Long, ts: Timestamp, event_id: Long,
                    value: Double)

  /** Per-user fill state: the last CLOSED observed hour and its
    * close, plus per-open-hour (count, best ts, best event_id, best
    * value) accumulators. `lastHour` Long.MinValue = nothing closed
    * yet. State is bounded by the open-hour count (≤ lateness span),
    * never by event volume. */
  case class GridState(lastHour: Long, lastClose: Double,
                       open: Map[Long, (Long, Long, Long, Double)])

  /** One emitted grid row (mirrors a q162 batch row). */
  case class GridRow(user_id: Long, h: Timestamp, n_events: Long,
                     is_observed: Long, filled_close: Double,
                     hours_stale: Long)

  /** Streaming twin of the q162 time-grid forward fill — the live
    * resampler: per user, hourly accumulators collect in keyed state;
    * when the watermark closes an observed hour, first the GAP hours
    * since the previous observed hour are emitted (zero events, the
    * carried close, a true staleness counter), then the observed row —
    * exactly the rows the batch grid produces for the closed prefix.
    * The hour-close is the event with the lexicographically largest
    * (ts, event_id), the batch twin's unique tiebreak, so the carried
    * doubles are bit-identical. Gap rows materialize lazily (emitted
    * with the NEXT observed close), so a silent user costs state, not
    * output, until they return; trailing gaps never exist because the
    * batch grid also ends at the last observed hour.
    * StreamGridFillSpec pins stream == batch on ordered arrival. */
  def gridFillIngest(spark: SparkSession, events: Dataset[UserTs],
                     lateness: String = "2 hours"): Dataset[GridRow] = {
    import spark.implicits._
    val hourMs = 3600L * 1000L

    // the batch twin's tiebreak orders by the MICROSECOND timestamp;
    // Timestamp.getTime is ms-resolution, so compare on full micros
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

    def fn(userId: Long, batch: Iterator[UserTs],
           state: GroupState[GridState]): Iterator[GridRow] = {
      var st = state.getOption
        .getOrElse(GridState(Long.MinValue, 0.0, Map.empty))
      var open = st.open
      batch.foreach { e =>
        val h = Math.floorDiv(e.ts.getTime, hourMs) * hourMs
        val tm = micros(e.ts)
        val acc = open.get(h) match {
          case None => (1L, tm, e.event_id, e.value)
          case Some((c, bt, bi, bv)) =>
            if (tm > bt || (tm == bt && e.event_id > bi))
              (c + 1L, tm, e.event_id, e.value)
            else (c + 1L, bt, bi, bv)
        }
        open = open.updated(h, acc)
      }
      // wm == 0 means "no watermark committed yet" (Spark's initial
      // value) — closing against it would prematurely close PRE-EPOCH
      // hours (negative epoch ms, in-contract per TablesSpec) while
      // later same-hour events are still admissible. Deferring closure
      // until a real watermark exists only delays emission, never
      // changes the rows, so batch parity is preserved.
      val wm = state.getCurrentWatermarkMs()
      val (closed, stillOpen) =
        if (wm == 0L) (Map.empty[Long, (Long, Long, Long, Double)], open)
        else open.partition { case (h, _) => h + hourMs <= wm }
      var lastHour = st.lastHour
      var lastClose = st.lastClose
      val out = Seq.newBuilder[GridRow]
      closed.toSeq.sortBy(_._1).foreach { case (h, (c, _, _, v)) =>
        if (lastHour != Long.MinValue) {
          var g = lastHour + hourMs
          while (g < h) {
            out += GridRow(userId, new Timestamp(g), 0L, 0L, lastClose,
              (g - lastHour) / hourMs)
            g += hourMs
          }
        }
        out += GridRow(userId, new Timestamp(h), c, 1L, v, 0L)
        lastHour = h; lastClose = v
      }
      state.update(GridState(lastHour, lastClose, stillOpen))
      if (stillOpen.nonEmpty)
        state.setTimeoutTimestamp(stillOpen.keys.min + hourMs)
      out.result().iterator
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** One typed event for the transition ingest (event_id carries the
    * batch twin's unique (ts, event_id) sequence tiebreak). */
  case class TypedUserTs(user_id: Long, ts: Timestamp, event_id: Long,
                         event_type: String)

  /** Per-user transition state: the latest CLOSED event under the
    * (ts, event_id) order (`lastTs` Long.MinValue = none yet) plus the
    * open buffer of events the watermark has not yet sealed. State is
    * bounded by the user's event volume inside the lateness window
    * (the stream–stream-join state contract), never total history. */
  case class TransitionState(lastTs: Long, lastId: Long, lastType: String,
                             open: Seq[(Long, Long, String)])

  /** One emitted transition — a q180 pair-stream row: the (from → to)
    * edge stamped at the `to` event's coordinates. */
  case class Transition(user_id: Long, ts: Timestamp, event_id: Long,
                        from_type: String, to_type: String)

  /** Streaming twin of the q180 Markov transition matrix — the live
    * pair stream: per user, events buffer in keyed state until the
    * watermark seals them (ts ≤ wm means no earlier-ordered event can
    * still arrive), then emit (prev → next) transitions in the batch
    * twin's exact (ts, event_id) order, carrying the last sealed
    * event across micro-batches. Out-of-order arrival WITHIN the
    * lateness window reorders nothing: ordering comes from the sort
    * at seal time, not arrival. Downstream, `groupBy(from_type,
    * to_type).count()` over the emitted pairs IS q180's matrix —
    * kept as a separate batch step so the append-mode pair stream
    * stays replayable. StreamTransitionSpec pins stream pairs ==
    * batch lead() pairs and watermark-gated emission. */
  def transitionIngest(spark: SparkSession, events: Dataset[TypedUserTs],
                       lateness: String = "2 hours"): Dataset[Transition] = {
    import spark.implicits._

    def fn(userId: Long, batch: Iterator[TypedUserTs],
           state: GroupState[TransitionState]): Iterator[Transition] = {
      val st = state.getOption.getOrElse(
        TransitionState(Long.MinValue, Long.MinValue, "", Seq.empty))
      val open = st.open ++
        batch.map(e => (e.ts.getTime, e.event_id, e.event_type))
      // wm == 0 = "no watermark committed yet" (the gridFillIngest
      // guard): sealing pre-epoch events against the initial 0 would
      // emit while same-ts events are still admissible
      val wm = state.getCurrentWatermarkMs()
      val (closed, stillOpen) =
        if (wm == 0L) (Seq.empty[(Long, Long, String)], open)
        else open.partition { case (t, _, _) => t <= wm }
      var lastTs = st.lastTs; var lastId = st.lastId
      var lastType = st.lastType
      val out = Seq.newBuilder[Transition]
      closed.sortBy(c => (c._1, c._2)).foreach { case (t, id, tpe) =>
        if (lastTs != Long.MinValue)
          out += Transition(userId, new Timestamp(t), id, lastType, tpe)
        lastTs = t; lastId = id; lastType = tpe
      }
      state.update(TransitionState(lastTs, lastId, lastType, stillOpen))
      // fire when the watermark passes the earliest open event so a
      // quiet user's buffer still seals (min+1 > wm by construction)
      if (stillOpen.nonEmpty)
        state.setTimeoutTimestamp(stillOpen.map(_._1).min + 1L)
      out.result().iterator
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming point-in-time enrichment against a STORED SCD2
    * dimension ([[graft.ops.Sharding.scd2Apply]]'s output) — the
    * stream twin of the q156 temporal join, and the piece that makes
    * dimension REPLAY correct: an event is joined to the dimension
    * version valid AT ITS EVENT TIME, so re-running yesterday's
    * stream against today's history reproduces yesterday's
    * enrichment instead of leaking today's attributes backward. A
    * plain stream–static equi-join (Spark's built-in) would always
    * read the LATEST version; the temporal predicate is the whole
    * point, hence foreachBatch. Unmatched events keep their row with
    * NULL attributes (left join — lineage over silent drops).
    *
    * Each batch lands under `batch=NNNNNN`, dynamic overwrite, so a
    * replayed micro-batch rewrites exactly its own partition
    * (the store-ingest idempotence discipline). The dimension is
    * re-read per batch — versions published between batches take
    * effect immediately, cost one bounded dim scan per batch. */
  def scd2Enrich(events: DataFrame, dimDir: String, key: String,
                 ts: String, outDir: String,
                 checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail fast on name collisions (ADVICE r9) — at start(), not deep
    // inside a micro-batch where the error surfaces as a stream crash:
    // `batch` is the output's partition column, and any shared
    // event/dimension attribute would make the left join ambiguous
    require(!events.columns.contains("batch"),
      "scd2Enrich writes a 'batch' partition column; the event stream " +
        "already has one — rename it upstream")
    val dimCols =
      events.sparkSession.read.parquet(dimDir).columns.toSet
    // the dimension side too: a dim attribute named 'batch' would be
    // silently OVERWRITTEN by the ingest batch id after the join —
    // the exact silent-collision class this guard exists to kill
    require(!dimCols.contains("batch"),
      "scd2Enrich writes a 'batch' partition column; the dimension " +
        "has an attribute of that name — alias it before enriching")
    val clash = events.columns.toSet.intersect(dimCols) - key
    require(clash.isEmpty,
      s"scd2Enrich: event and dimension share non-key columns " +
        s"${clash.toSeq.sorted.mkString(", ")} — alias the dimension " +
        "attributes (or the event columns) before enriching")
    val writer = events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val dim = batch.sparkSession.read.parquet(dimDir)
          batch.join(dim,
              batch(key) === dim(key) &&
                batch(ts) >= dim("valid_from") &&
                (dim("valid_to").isNull || batch(ts) < dim("valid_to")),
              "left")
            .drop(dim(key))
            .withColumn("batch", lit(f"$batchId%06d"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch").parquet(outDir)
        }
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  case class MgState(counts: Map[String, Long], n: Long)
  case class MgCounter(bucket: Int, w: String, est: Long, n_bucket: Long)

  /** Streaming heavy hitters — the FREQUENCY member of the streaming
    * sketch triad ([[sketchIngest]] = distinct, [[histIngest]] =
    * distribution): bucket-keyed Misra–Gries state, the batch q123
    * summary ([[graft.ops.TextOps.heavyHitters]]) run as long-lived
    * stream state instead of a per-partition pass. Tokens hash to one
    * of `nBuckets` state keys (a token ALWAYS lands in its own
    * bucket, so per-bucket MG guarantees apply globally); each
    * micro-batch folds its group's tokens into the bucket's ≤
    * `nCounters` counters with the (k+1)-way cancellation, then
    * re-emits the bucket's full counter set (≤ k rows, update mode).
    * Downstream reads the latest emission per bucket: every token
    * with true count > n_bucket/(nCounters+1) is guaranteed present
    * (spec-pinned), estimates undercount by at most that bound.
    *
    * Scale: state is nBuckets × nCounters (token, long) entries —
    * size-capped by construction, never corpus-proportional — and a
    * batch's shuffle is its own tokens keyed by bucket. No archive,
    * no per-token state: the MG cancellation is what makes unbounded
    * streams affordable. Exact counts for the survivors (q123's
    * second pass) remain a batch job over the stored corpus. */
  def heavyHitterIngest(spark: SparkSession, tokens: Dataset[String],
                        nBuckets: Int = 64,
                        nCounters: Int = 256): Dataset[MgCounter] = {
    import spark.implicits._
    require(nBuckets > 0 && nCounters > 0)

    def fn(bucket: Int, batch: Iterator[String],
           state: GroupState[MgState]): Iterator[MgCounter] = {
      val st = state.getOption.getOrElse(MgState(Map.empty, 0L))
      val counts = scala.collection.mutable.HashMap[String, Long]()
      st.counts.foreach { case (k, v) => counts(k) = v }
      var np = st.n
      batch.foreach { w =>
        np += 1
        counts.get(w) match {
          case Some(c) => counts.update(w, c + 1)
          case None if counts.size < nCounters => counts.update(w, 1L)
          case None =>
            val dead = List.newBuilder[String]
            counts.foreach { case (k, c) =>
              if (c == 1L) dead += k else counts.update(k, c - 1)
            }
            dead.result().foreach(counts.remove)
        }
      }
      state.update(MgState(counts.toMap, np))
      counts.iterator.map { case (w, c) => MgCounter(bucket, w, c, np) }
    }

    tokens
      .groupByKey(w => math.floorMod(w.hashCode, nBuckets))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
  }
}
