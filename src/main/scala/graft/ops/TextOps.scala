package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Text-pipeline operators for large-scale training-data curation:
  * exact + near-duplicate detection, document fingerprinting, token
  * statistics, language ID, quality scoring. All hot paths are
  * Catalyst expressions (codegen'd, no Python, no driver loops); the
  * fused ones (graft_isect, graft_minhash, graft_simhash,
  * graft_winnow, graft_deflate_len, graft_bloom_contains) come from
  * [[graft.GraftExtensions]], which every [[graft.GraftSession]]
  * installs, so each operator has exactly one production path.
  *
  * Scale shape: every operator is a linear scan plus keyed shuffles,
  * so the plans hold at 100 TB: no cross join ever touches the full
  * corpus × corpus space — candidate generation is token-, band- or
  * bucket-keyed, never all-pairs.
  */
object TextOps {

  /** Distinct word set of a text column (the unigram shingle set). */
  def wordSet(text: Column): Column = array_distinct(split(text, " "))

  /** Distinct word set as 64-bit hashes — set algebra over longs
    * instead of strings (identical cardinalities up to a ~1e-16
    * collision probability, ~5× less shuffle per pair and cheaper
    * comparisons in the pair-verification hot path). */
  def wordHashSet(text: Column): Column =
    array_distinct(transform(split(text, " "), w => xxhash64(w)))

  /** Distinct word n-gram shingle set as 64-bit hashes. n=1 reduces to
    * [[wordHashSet]]; larger n is the right setting for real corpora
    * (this synthetic corpus only has near-dups at the unigram level —
    * see TESTDATA notes). Pure expressions: sequence + slice +
    * concat_ws, one pass. */
  def ngramHashSet(text: Column, n: Int): Column =
    if (n <= 1) wordHashSet(text)
    else {
      val words = split(text, " ")
      // a doc with fewer than n words has no n-grams; guard explicitly
      // (sequence(0, -1) is NOT empty — it descends — and slice would
      // then throw on start 0)
      when(size(words) >= lit(n),
        array_distinct(transform(
          sequence(lit(0), size(words) - lit(n)),
          i => xxhash64(concat_ws(" ", slice(words, i + lit(1), lit(n)))))))
        .otherwise(array().cast("array<bigint>"))
    }

  /** Canonical token-set fingerprint: md5 of the sorted distinct word
    * list. Two documents with identical vocabularies collide — the
    * "same content, reshuffled" exact-dedup key. */
  def tokenSetFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(wordSet(text))))

  /** Normalized-content fingerprint (lowercase, alnum+space only). */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9 ]", ""))

  /** Exact deduplication by fingerprint: one survivor (min id) per
    * group plus group size. A single hash-partition shuffle on the
    * fingerprint — the canonical 100 TB exact-dedup shape. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        tokenSetFingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_dups"),
        countDistinct(col("source")).as("n_sources"))

  /** Materialized dedup: the surviving (min-id-per-fingerprint) rows
    * of the input — the downstream shape a pipeline actually consumes
    * (a semi-join of the corpus against the winners). */
  def dedupedDocs(docs: DataFrame): DataFrame = {
    val keep = dedupExact(docs).select(col("keep_doc_id"))
    docs.join(keep, docs("doc_id") === keep("keep_doc_id"), "left_semi")
  }

  /** Exact unigram Jaccard similarity between two word-set columns
    * (|∩| / |∪| as double — both engines compute the identical IEEE
    * quotient of small ints). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Jaccard from pre-computed set sizes: |∩| / (|A| + |B| − |∩|).
    * Identical value (the inputs are distinct sets) at half the array
    * traffic — the hot-pair form. The intersection is the native
    * two-pointer merge over the pre-sorted sets
    * ([[graft.functions.SortedIntersectSize]]), not `array_intersect`
    * (which hashes per pair). */
  private def jaccardSized(a: Column, b: Column, sa: Column, sb: Column): Column = {
    val inter = call_function("graft_isect", a, b).cast("double")
    // two empty sets: J defined as 0 (empty docs must not near-dup-match
    // every other empty doc at scale), and the guard keeps ANSI mode
    // from throwing DIVIDE_BY_ZERO when Catalyst reorders this ahead of
    // the join's short-circuiting predicates
    when(sa + sb - inter > 0, inter / (sa + sb - inter)).otherwise(lit(0.0))
  }

  /** Pair sides carry their shingle sets SORTED so the per-pair
    * intersection is a linear merge (sorting is once per doc). Sorted
    * order changes nothing else: all consumers treat the array as a
    * set. */
  private def sortedSet(c: Column): Column = array_sort(c)

  /** Sound size prefilter: J(A,B) ≤ min(|A|,|B|) / max(|A|,|B|), so a
    * pair failing the ratio can never clear the threshold; the check
    * is two scalar comparisons, pushed into the join condition, and
    * prunes most pairs before any array intersection runs. The 1e-9
    * slack keeps the filter sound under fp: when min = t·max EXACTLY
    * (complete containment at J = t) the product t·max can round a
    * hair above the true integer and wrongly reject; size deltas are
    * quantized ≥ 1/max, so the slack admits no truly-failing pair at
    * any realistic set size, and the exact verify follows anyway. */
  private def sizeCompatible(sa: Column, sb: Column, threshold: Double): Column =
    least(sa, sb) >= greatest(sa, sb) * lit(threshold) - lit(1e-9)

  /** Exact Jaccard verification of a (doc_a, doc_b) candidate list:
    * joins candidates back to the side-a / side-b shingle tables
    * (doc_id, w, sz) and keeps pairs clearing the threshold. ONE copy
    * of the verify math, shared by the exact prefix-filter path and
    * the MinHash-LSH path (both pass the same frame twice via
    * [[verifyCandidates]]) and the incremental cross-side path
    * (distinct frames per side — ids may legitimately collide across
    * sides there). */
  private def verifyCandidates2(candidates: DataFrame,
      setsA: DataFrame, setsB: DataFrame, threshold: Double): DataFrame = {
    candidates
      .join(setsA.select(col("doc_id").as("doc_a"), col("w").as("wa"),
        col("sz").as("sa")), "doc_a")
      .join(setsB.select(col("doc_id").as("doc_b"), col("w").as("wb"),
        col("sz").as("sb")), "doc_b")
      .where(sizeCompatible(col("sa"), col("sb"), threshold))
      .withColumn("jac", jaccardSized(col("wa"), col("wb"), col("sa"), col("sb")))
      .where(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
  }

  /** Single-table form: both pair sides resolve in the same shingle
    * table (doc ids unique within it). */
  private def verifyCandidates(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    verifyCandidates2(candidates, sets, sets, threshold)

  /** EXACT near-dup pairs, 100 TB-safe: prefix-filter candidate
    * generation (the AllPairs / PPJoin family — Bayardo et al.
    * "Scaling Up All Pairs Similarity Search", WWW'07; Vernica et al.
    * SIGMOD'10 for the MapReduce shape) followed by exact Jaccard
    * verification, all within the `source` blocking key the query
    * semantics demand.
    *
    * Soundness (100% recall): with every doc's shingle set ordered by
    * a single global total order (ascending document frequency, ties
    * by token hash), any pair with J ≥ t shares at least one token
    * inside both docs' first |w| − ⌈t·|w|⌉ + 1 tokens — so a join on
    * prefix tokens proposes every qualifying pair, and the exact
    * verify keeps precision at 1. Unlike blocking by `source`
    * (all-pairs within a block — quadratic in block size, fatal when
    * one source holds billions of docs), candidate volume here is
    * Σ_token C(prefix-df(token), 2): bounded by token frequency, and
    * the rarest-first ordering keeps stopword-like shingles out of
    * the prefixes. Every stage is a linear scan or a keyed shuffle.
    *
    * No PPJoin positional filter: its required-overlap bound
    * ⌈t·(|A|+|B|)/(1+t)⌉ computed in doubles can round up at the
    * exact threshold boundary (J = t pairs are valid and the oracle
    * keeps them), so the marginal pruning is not worth the fp
    * soundness hazard. The size filter is exact and stays.
    *
    * Returns (doc_a, doc_b, jac) for pairs with Jaccard >= threshold. */
  def nearDupExact(docs: DataFrame, threshold: Double, ngram: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // consumed by the df count, the prefix self-join and both verify
    // joins — cache the shingling once (see nearDupMinhash note).
    // persist, not localCheckpoint: the lineage is one scan deep, so
    // an evicted/lost block recomputes instead of failing the query
    // (a truncated-lineage cache cannot survive executor loss).
    // RELEASE CONTRACT (applies to every persist-backed query cache
    // in this repo): the cache registers in the session's
    // CacheManager, which holds it until `spark.catalog.clearCache()`
    // — it is NOT GC-reclaimed. Verify/Bench clear between queries; a
    // long-lived session composing these operators should do the same
    // between corpus-scale calls.
    // No Fanout here (measured r17): the operator's cost is the
    // prefix self-join + verify, which parallelize off their own
    // exchanges; fanning the shingle stage added exchange overhead
    // without relieving a bottleneck (q51/q64/q176 each ~0.5s slower)
    val sets = docs.select(col("doc_id"), col("source"),
      sortedSet(ngramHashSet(col("text"), ngram)).as("w"))
      .withColumn("sz", size(col("w")).cast("double"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val toks = sets.select(col("doc_id"), col("source"), col("sz"),
      explode(col("w")).as("t"))
    // global token order: ascending document frequency, ties by hash —
    // one wordcount shuffle, linear in corpus token volume
    val dfreq = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, "t")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))))
    // the 1e-9 inside ceil keeps the prefix length sound under fp:
    // t·sz for an exactly-integer product (e.g. 0.9·40) can round a
    // hair ABOVE the integer and ceil would then shorten the prefix
    // below the proven bound — a recall hole. Underestimating only
    // lengthens the prefix (more candidates, verified exactly anyway).
    val prefix = ranked
      .where(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + lit(1))
      .select(col("doc_id"), col("source"), col("t"), col("sz"))
    val candidates = prefix.as("x")
      .join(prefix.as("y"),
        col("x.t") === col("y.t") && col("x.source") === col("y.source") &&
          col("x.doc_id") < col("y.doc_id") &&
          sizeCompatible(col("x.sz"), col("y.sz"), threshold))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyCandidates(candidates, sets, threshold)
  }

  // ---- MinHash + LSH ------------------------------------------------------

  /** MinHash signature of a word-set column: for each of `n` universal
    * hashes h_i(x) = (a_i·x + b_i) mod p, the min over the set's
    * base hashes (xxhash64 per word, then the native fold; the
    * coefficients come from [[graft.functions.UniversalHash]]).
    * Codegen'd, embarrassingly parallel. */
  def minhashSignature(words: Column, n: Int): Column =
    minhashSignatureFromHashes(transform(words, w => xxhash64(w)), n)

  /** Signature from pre-hashed shingles (shares the base hash pass
    * with the verification stage): the native one-pass
    * [[graft.functions.MinhashSignature]], which folds every lane in
    * one traversal of the array. */
  def minhashSignatureFromHashes(hashes: Column, n: Int): Column =
    call_function("graft_minhash", hashes, lit(n))

  /** Band structs `(band, band_key)` for a signature column — the ONE
    * copy of the band-key formula (every banded entry point, batch and
    * streaming, goes through it, so the banding cannot drift). */
  def bandStructs(sig: Column, nSig: Int, bands: Int): Column = {
    val rows = nSig / bands
    array((0 until bands).map { i =>
      struct(lit(i).as("band"),
        hash(slice(sig, i * rows + 1, rows)).as("band_key"))
    }: _*)
  }

  /** Shared band construction: a frame carrying a `sig` column
    * exploded to one row per band with a hashed band key. */
  private def bandRows(withSig: DataFrame, nSig: Int, bands: Int): DataFrame =
    withSig
      .select(col("doc_id"), explode(bandStructs(col("sig"), nSig, bands)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.band_key"))

  /** LSH banding: doc rows exploded to one row per band with a hashed
    * band key. Docs sharing any band key are near-dup candidates. */
  def minhashBands(docs: DataFrame, nSig: Int, bands: Int,
                   ngram: Int = 1): DataFrame =
    bandRows(docs.withColumn("sig",
      minhashSignatureFromHashes(ngramHashSet(col("text"), ngram), nSig)),
      nSig, bands)

  /** Deterministic train/val/test split: each doc's split derives
    * ONLY from the md5 of its id against hex thresholds, so (a) the
    * assignment is identical on any cluster layout, (b) a document
    * keeps its split FOREVER as the corpus grows — the property that
    * stops yesterday's val doc from leaking into tomorrow's train
    * set — and (c) an external engine reproduces it exactly. Pure row
    * expression: zero shuffles, fuses into whatever scan precedes
    * it. Thresholds are first-2-hex-digit bounds: val < valHex ≤
    * test < testHex ≤ train. */
  def trainValTestSplit(docs: DataFrame, valHex: String = "0d",
                        testHex: String = "1a"): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 2)
    docs.select(col("doc_id"), col("source"),
      when(h < valHex, "val").when(h < testHex, "test")
        .otherwise("train").as("split"))
  }

  /** Corpus snapshot diff — the change audit between two crawls of
    * the same lake (the input to every incremental decision: which
    * docs need re-curation, re-embedding, re-sharding). One full
    * outer join on doc_id comparing content fingerprints:
    * added / removed / changed / unchanged. Both sides shuffle once
    * on the id; fingerprints are row expressions, so the diff of two
    * 100 TB snapshots is exactly one co-partitioned join — and with
    * both snapshots bucketed by doc_id on disk, zero shuffles. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def fp(df: DataFrame, side: String) =
      df.select(col("doc_id"),
        contentFingerprint(coalesce(col("text"), lit(""))).as(s"fp_$side"))
    fp(oldSnap, "old").join(fp(newSnap, "new"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged"))
      .select(col("doc_id"), col("status"))
  }

  /** Per-doc curation state — everything the verdict stages need,
    * and nothing that requires the TEXT again: the token-set
    * fingerprint (dedup + contamination key) and the quality gate.
    * This is the row a production curation run PERSISTS per snapshot
    * so the next run can re-curate incrementally: the expensive part
    * of curation is exactly the text-wide expressions computed here,
    * while the verdict itself ([[curationVerdict]]) is a
    * fingerprint-width window + broadcast join. */
  def curationState(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      tokenSetFingerprint(col("text")).as("fp"),
      coalesce(qualityOk, lit(false)).as("quality_ok"))

  /** The q114 lineage verdict over a [[curationState]] table: the
    * FIRST q102 stage that drops each doc (dedup → quality →
    * contamination) or 'kept'. Group-level stages are recomputed here
    * on every call — deliberately: the min-id-per-fingerprint keeper
    * and the eval fingerprint set are CORPUS-level facts that a
    * removed or added duplicate shifts, so they can never be carried
    * forward per-doc. They are also cheap: one window shuffle on the
    * fingerprint and one broadcast, over fingerprint-width rows —
    * text never flows through this function. */
  def curationVerdict(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val evalFps = state.where(col("source") === "src0")
      .select(col("fp")).distinct().withColumn("eval_hit", lit(true))
    state
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(broadcast(evalFps), Seq("fp"), "left")
      .withColumn("first_drop_stage",
        when(col("doc_id") =!= col("keep_id"), "dedup")
          .when(!col("quality_ok"), "quality")
          .when(col("source") =!= "src0" && col("eval_hit").isNotNull,
            "contamination")
          .otherwise("kept"))
  }

  /** Incremental curation over a snapshot diff — the text-pipeline
    * twin of the stored ANN index's never-reprocess-the-corpus shape,
    * and the reason [[snapshotDiff]] exists: given the PERSISTED
    * [[curationState]] of the previous snapshot and the diff against
    * the new one, re-run the text-wide expressions ONLY over
    * added/changed docs, carry the stored state forward for unchanged
    * docs, drop removed docs, and re-issue the (cheap, corpus-level)
    * verdict over the stitched state. At 100 TB a nightly crawl
    * changes a few percent of docs: this scans text proportional to
    * the CHANGE, not the corpus — the heavy tokenize/fingerprint
    * subtree sits under a semi-join against the diff slice
    * (plan-pinned in PipelineOpsSpec).
    *
    * CONTRACT: `status = 'unchanged'` must imply the doc's curation
    * inputs are unchanged. [[snapshotDiff]]'s fingerprint normalizes
    * case/punctuation while the curation fingerprint is raw-token —
    * in the pathological "only punctuation changed" case the carried
    * state is the OLD text's (the diff declared it unchanged, so it
    * is never re-read). Output: one row per doc in the NEW snapshot
    * with its diff status and verdict — equal, row for row, to a
    * from-scratch [[curationVerdict]] ∘ [[curationState]] run on the
    * new snapshot (spec-pinned, and q119's oracle recomputes exactly
    * that from scratch). */
  def incrementalCuration(oldState: DataFrame, newSnap: DataFrame,
                          diff: DataFrame): DataFrame = {
    val changed = diff.where(col("status").isin("added", "changed"))
      .select(col("doc_id"), col("status"))
    val carried = oldState
      .join(diff.where(col("status") === "unchanged").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .withColumn("status", lit("unchanged"))
    val fresh = curationState(
        newSnap.join(changed.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      .join(changed, Seq("doc_id"))
    curationVerdict(carried.unionByName(fresh))
      .select(col("doc_id"), col("source"), col("status"),
        col("first_drop_stage"))
  }

  /** Batch twin of [[graft.streaming.EventStreams.nearDupIngest]]'s
    * band-claim suppression, rendered deterministically: every doc's
    * bands rank within their band key by doc_id (the batch stand-in
    * for arrival order), a doc is KEPT iff it claims ALL its bands
    * (rank 1 in each). A dropped doc's unclaimed bands still hold
    * their rank-1 claims — exactly the stream's state semantics, where
    * a suppressed doc's novel bands still enter the dedup state and
    * transitively suppress later near-dups of the dropped doc.
    * One explode + one window shuffle on the band key; no self-join,
    * no pair enumeration — the suppression decision is per-doc.
    * Not SQL-expressible (MinHash band keys); StreamNearDupSpec pins
    * stream == batch parity on identical input order. */
  def nearDupSuppress(docs: DataFrame, nSig: Int = 12, bands: Int = 3,
                      ngram: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withSig = docs.select(col("doc_id"),
      minhashSignatureFromHashes(ngramHashSet(col("text"), ngram), nSig).as("sig"))
    val rows = withSig.select(col("doc_id"),
      explode(bandStructs(col("sig"), nSig, bands)).as("b"))
    val w = Window.partitionBy(col("b.band"), col("b.band_key"))
      .orderBy(col("doc_id"))
    rows.withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_lost_bands"))
      .select(col("doc_id"), col("n_lost_bands"),
        (col("n_lost_bands") === 0).cast("int").cast("bigint").as("is_kept"))
  }

  /** MinHash-LSH near-dup pairs: band-bucket self-join proposes
    * candidates (a keyed shuffle, no cross join), then the exact
    * Jaccard filter verifies each candidate once. At 100 TB the only
    * hazard is a hot bucket (boilerplate text); AQE skew-join splits
    * it, and `spark.sql.adaptive.enabled` is on by default.
    *
    * Default banding is 4 bands × 16 rows: a random pair at the
    * corpus's background similarity J≈0.6 collides with probability
    * ~4·0.6^16 ≈ 0.1%, while true near-dups at J≥0.95 keep ~90%
    * recall and identical sets (J=1) always collide. Fewer rows per
    * band raise recall at lower J at the cost of candidate volume. */
  def nearDupMinhash(docs: DataFrame, threshold: Double,
                     nSig: Int = 64, bands: Int = 4,
                     ngram: Int = 1): DataFrame = {
    // the shingle table is consumed three times (band side + both
    // verify joins); cache it once — shingling the corpus is
    // the dominant per-row cost, and this is exactly the "shingle
    // once, reuse everywhere" shape a 100 TB pipeline persists.
    // persist keeps the (one-scan) lineage: a lost block recomputes
    // on the surviving executors instead of failing the query, the
    // fault-tolerance a truncated localCheckpoint cannot offer.
    // No Fanout (r18 — VERDICT r17 #1a): the r17 fan-out here was
    // validated at ~8 effective cores; at verified 32-way parallelism
    // it LOSES (q52 isolated min-of-4: 1.01s without vs 1.15s with,
    // driver 32c r16→r17 0.79×) — this operator is verify-join-bound,
    // not shingle-bound, and the repartition only adds an exchange.
    val sets = docs.select(col("doc_id"),
      sortedSet(ngramHashSet(col("text"), ngram)).as("w"))
      .withColumn("sz", size(col("w")).cast("double"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the signature's per-lane minima are order-free, so the SORTED
    // set yields the identical signature the raw shingle stream would
    val banded = bandRows(
      sets.withColumn("sig", minhashSignatureFromHashes(col("w"), nSig)),
      nSig, bands)
    val candidates = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyCandidates(candidates, sets, threshold)
  }

  /** Incremental dedup: flag each document of a NEW batch against an
    * EXISTING corpus — the shape nightly ingest actually runs. Both
    * checks are batch ⋈ corpus keyed joins; the corpus is never
    * self-joined, and at 100 TB the fingerprint set and the prefix
    * index are exactly the artifacts a production run would persist
    * and maintain incrementally instead of recomputing.
    *
    * Exact duplicates: token-set fingerprint equi-join (one keyed
    * shuffle of the batch against the corpus's distinct fingerprints).
    * Near duplicates: the same prefix-filter candidate generation as
    * [[nearDupExact]] (Bayardo et al. WWW'07; Vernica et al.
    * SIGMOD'10), generalized to an R-S join: both sides' shingle
    * prefixes are taken under ONE global token order (ascending
    * document frequency over corpus ∪ batch, ties by hash — any single
    * total order is sound; df just minimizes candidates), candidates
    * pair only ACROSS sides, and exact Jaccard verification follows.
    * 100% recall with exact precision, so — unlike the banded MinHash
    * path — a SQL oracle can recompute the result by brute force.
    *
    * A batch doc byte-identical to a corpus doc flags as an exact dup
    * (re-ingestion is detected, not an error) — including a re-ingest
    * under the SAME doc_id: every internal stage is keyed by
    * (side, doc_id), so an id present on both sides stays two distinct
    * documents (prefix ranks, verify joins and the fp legs never mix
    * their token sets). Batch-internal duplicates are out of scope
    * ([[dedupExact]] composes before).
    *
    * Returns one row per batch doc:
    * (doc_id, is_exact_dup 0/1, n_near, max_jac). */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       threshold: Double, ngram: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def shingled(df: DataFrame, side: String) =
      df.select(col("doc_id"), lit(side).as("side"),
        sortedSet(ngramHashSet(col("text"), ngram)).as("w"),
        tokenSetFingerprint(col("text")).as("fp"))
        .withColumn("sz", size(col("w")).cast("double"))
    // one shingle table for both sides (consumed by df-count, prefix
    // join, both verify joins AND the exact-fingerprint legs —
    // cached once, so each input is scanned exactly once; the
    // fingerprint rides along rather than re-scanning the raw text).
    // persist (recomputable lineage), not localCheckpoint — executor
    // loss must degrade to recompute, not fail the query
    val sets = shingled(corpus, "old").unionByName(shingled(batch, "new"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val toks = sets.select(col("doc_id"), col("side"), col("sz"),
      explode(col("w")).as("t"))
    val dfreq = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val ranked = toks.join(dfreq, "t")
      // partition by (side, doc_id): a doc_id shared across sides is
      // two documents — ranking by bare doc_id would interleave their
      // tokens and shorten both prefixes below the proven bound
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("side"), col("doc_id"))
          .orderBy(col("df"), col("t"))))
    // same fp-sound prefix bound as nearDupExact (1e-9: see there)
    val prefix = ranked
      .where(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + lit(1))
      .select(col("doc_id"), col("side"), col("t"), col("sz"))
    val candidates = prefix.where(col("side") === "old").as("x")
      .join(prefix.where(col("side") === "new").as("y"),
        col("x.t") === col("y.t") &&
          sizeCompatible(col("x.sz"), col("y.sz"), threshold))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // side-qualified verify tables: doc_a resolves ONLY in the corpus
    // slice, doc_b ONLY in the batch slice
    val near = verifyCandidates2(candidates,
        sets.where(col("side") === "old").drop("side", "fp"),
        sets.where(col("side") === "new").drop("side", "fp"),
        threshold)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(count(lit(1)).as("n_near"), max(col("jac")).as("max_jac"))
    val corpusFps = sets.where(col("side") === "old")
      .select(col("fp")).distinct()
      .withColumn("hit", lit(1L))
    sets.where(col("side") === "new").select(col("doc_id"), col("fp"))
      .join(corpusFps, Seq("fp"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hit"), lit(0L)).as("is_exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_jac"))
  }

  /** Token-budget mixture draw: materialize one epoch's sample by
    * giving every source a token budget and taking the deterministic
    * md5-order PREFIX of each source whose running token count stays
    * within it — the data-mixing step every training run executes
    * after curation (mixture weights → concrete document set).
    * Take-while semantics are well-defined because the cumulative sum
    * is strictly monotone (every doc has ≥ 1 word): the kept set is
    * exactly the longest prefix with cum ≤ budget, independent of
    * layout. One window shuffle on the source key; the budget is a
    * per-row expression of `source`, so arbitrary weighting schemes
    * compose without touching the scan. */
  def mixtureSample(docs: DataFrame, budgetWords: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // coalesce: the NULL-text guard every document-scanning query
    // applies — without it a legacy-sizeOfNull session would emit -1
    // word counts and break the strict monotonicity the take-while
    // semantics rely on
    docs.select(col("doc_id"), col("source"),
        size(split(coalesce(col("text"), lit("")), " "))
          .cast("bigint").as("n_words"))
      .withColumn("cum_words", sum(col("n_words")).over(w))
      .where(col("cum_words") <= budgetWords)
  }

  /** Corpus-level boilerplate REMOVAL — the act to [[crossDocNgrams]]'
    * measure (RefinedWeb-style span stripping): any word n-gram
    * appearing in at least `minDf` distinct documents marks its span,
    * the union of marked spans is cut from every document, and the
    * text is rebuilt from the surviving words in position order.
    *
    * Every stage is a linear scan or a keyed shuffle: gram df is one
    * wordcount-shaped aggregation, hot-gram marking is an equi-join on
    * the gram key, covered positions dedup by (doc, pos), and the
    * rebuild is a per-doc sort of surviving positions — no all-pairs
    * anywhere, so the shape holds at 100 TB. Grams are compared as
    * xxhash64 keys on the Spark side while the oracle uses the raw
    * gram strings (the q51-proven hash-vs-string equivalence).
    *
    * Returns one row per input doc:
    * (doc_id, n_words, n_removed, cleaned_fp = md5 of rebuilt text —
    * an empty doc rebuilds to md5("")). */
  def stripBoilerplate(docs: DataFrame, n: Int = 8, minDf: Int = 2): DataFrame = {
    // base feeds three consumers (position table, gram table, final
    // join) and grams feeds two (df aggregation, hot-gram probe) —
    // cache each once, same "shingle once, reuse everywhere"
    // convention as nearDupExact: without it the dominant gram-hash
    // projection runs twice over the corpus and the split three times.
    // persist on both: the lineage is shallow (scan + projection), so
    // a lost block recomputes rather than failing the query
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nw", size(col("ws")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val posWords = base.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "word")))
    val grams = base.where(col("nw") >= n)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("nw") - n),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i + lit(1), lit(n))))))
        .as(Seq("pos", "g")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hot = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= minDf)
      .select(col("g"))
    val covered = grams.join(hot, "g")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val rebuilt = posWords
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word"))).as("cleaned"))
    base.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nw").cast("bigint").as("n_words"),
        (col("nw") - coalesce(col("n_kept"), lit(0L))).cast("bigint")
          .as("n_removed"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_fp"))
  }

  /** Adaptive per-source quality gate: rank every document within its
    * source by (rounded quality score asc, doc_id) and drop the bottom
    * quartile — floor(n/4) docs — of EACH source. A global threshold
    * over-prunes clean domains and under-prunes noisy ones; ranking
    * within the domain calibrates the cutoff per source with no tuned
    * constant. Exact by construction (a rank cutoff, not an
    * interpolated quantile), so the oracle recomputes it verbatim; the
    * score is rounded to 4 BEFORE ranking per the cross-engine
    * contract, doc_id breaks ties. One scan + ONE window exchange on
    * source (rankor and count share the partition key). At 100 TB the
    * per-source sort is the inherent cost of an exact calibration; the
    * sketch path (percentile_approx, q92's shape) trades exactness for
    * a partial+final aggregate when that matters.
    *
    * Returns one row per doc: (doc_id, source, q, kept). */
  def adaptiveQualityGate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("q"), col("doc_id"))
    // unscorable (NULL-text) docs take score -1: ranked first = dropped
    // first, deterministically. Leaving q NULL instead silently flips
    // the rank order between engines (Spark sorts ASC NULLS FIRST,
    // DuckDB NULLS LAST) and shifts every rank in the source
    docs.select(col("doc_id"), col("source"),
        coalesce(qualityScoreExpr, lit(-1.0)).as("q"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("kept", expr("rn > n DIV 4"))
      .select(col("doc_id"), col("source"), col("q"), col("kept"))
  }

  /** Corpus data card: per (source, lang) rollup of volume, quality
    * and exact-dup counters — the one-scan summary a training run
    * publishes alongside the dataset. ROLLUP yields per-source
    * subtotals and the grand total from the SAME single aggregation
    * (one shuffle over one corpus scan); `countDistinct(fp)` is
    * evaluated per grouping level, so the dup counter is correct for
    * each slice and corpus-wide. Rollup null slots render as 'ALL'
    * (no real source/lang collides with it). The mean quality score
    * is computed ENTIRELY in integers: the pre-rounded per-doc score
    * (at most 4 decimals) scales exactly to 1e-4 units, the sum is a
    * bigint, and half-up division is (2s + n) div (2n) — rounding the
    * average in doubles instead diverges from any other engine by one
    * ulp whenever the true mean sits near a 5e-5 boundary (the binary
    * double is a hair below the decimal literal, so one engine rounds
    * up and the other down — observed live against DuckDB). */
  def dataCard(docs: DataFrame): DataFrame =
    // coalesce: the same NULL-text guard as mixtureSample — the
    // quality expressions below all scan `text`
    docs.withColumn("text", coalesce(col("text"), lit("")))
      .select(col("source"), col("lang"),
        size(qualityWords).cast("bigint").as("nw"),
        qualityOk.cast("bigint").as("ok"),
        tokenSetFingerprint(col("text")).as("fp"),
        round(qualityScoreExpr * lit(10000), 0).cast("bigint").as("qs"))
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("ok")).as("n_quality_ok"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
        sum(col("qs")).as("sq"))
      .withColumn("avg_quality",
        expr("CAST((2 * sq + n_docs) DIV (2 * n_docs) AS DOUBLE) / 10000.0"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("n_words"), col("n_quality_ok"),
        col("n_exact_dups"), col("avg_quality"))

  /** Near-duplicate GROUP reduction: connected components of the
    * near-dup pair graph via min-label propagation. Pair enumeration
    * is quadratic in duplicate-group size (the sf0.1 corpus already
    * yields ~48k pairs from 5k docs) — a real pipeline collapses the
    * pair list to one canonical id per component and keeps one
    * survivor. Each iteration is one keyed shuffle
    * (edges ⋈ labels → min per node); convergence takes
    * O(component diameter) iterations (near-dup components are
    * near-cliques, so 2–3 in practice); `localCheckpoint` truncates
    * the growing lineage so the plan stays constant-size per
    * iteration. Deterministic: min is order-free.
    *
    * Returns (doc_id, group_id) for every document; singletons label
    * themselves. */
  def nearDupGroups(docs: DataFrame, threshold: Double, ngram: Int = 1,
                    maxIters: Int = 20,
                    driverPairLimit: Long = 1L << 21): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    import spark.implicits._
    // The expensive pair VERIFICATION materializes exactly once, into
    // this cache — both the path decision below and whichever path
    // runs read from it (a limit-probe here would leave partially
    // consumed partitions uncached and re-verify everything on the
    // distributed path).
    val pairsDf = nearDupExact(docs, threshold, ngram)
      .select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairsDf.count()

    // DRIVER fast path (the GraphOps probe discipline): a VERIFIED
    // near-dup pair list that fits the bound collapses the whole
    // propagation loop into union-find on the driver plus ONE
    // broadcast left join — singletons never leave the cluster (only
    // paired docs get a mapping row; everyone else labels itself via
    // coalesce), so the collected object is bounded by the pair list,
    // not the corpus. Union-find's component-min root is exactly the
    // min-label fixpoint, so both paths agree whenever the
    // distributed loop CONVERGES (spec-pinned); on a component whose
    // diameter exceeds maxIters the distributed path throws (never
    // mislabels) while union-find, exact at any diameter, still
    // succeeds — a strict capability superset, not a divergence.
    if (nPairs <= math.min(driverPairLimit, Int.MaxValue - 2L)) {
      val probe = pairsDf.collect()
      pairsDf.unpersist(blocking = false)
      val parent = collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      probe.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        // union by MIN id: the root IS the component minimum, the
        // same canonical label the distributed fixpoint converges to
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val mapping = collection.mutable.ArrayBuffer.empty[(Long, Long)]
      probe.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        mapping += ((a, find(a))); mapping += ((b, find(b)))
      }
      val ids = docs.select(col("doc_id"))
      if (mapping.isEmpty)
        return ids.select(col("doc_id"), col("doc_id").as("group_id"))
      val mapDf = mapping.distinct.toSeq.toDF("doc_id", "grp")
      return ids
        .join(broadcast(mapDf), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("grp"), col("doc_id")).as("group_id"))
    }

    // DISTRIBUTED loop, GraphX/Pregel-style over co-partitioned pair
    // RDDs — the one shape where dropping below the DataFrame API is
    // the right Spark tool: edges are hash-partitioned ONCE and every
    // iteration's equi-joins against the same partitioner are
    // shuffle-free, so one iteration costs exactly one shuffle (the
    // min reduce); a DataFrame loop re-shuffles both join sides every
    // round and cannot free its checkpoint blocks. Previous
    // iterations are unpersisted explicitly.
    // (labelSource, labelTarget): each undirected pair feeds both ways.
    // Materialized once — the expensive pair verification never reruns.
    val rawEdges = pairsDf.as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // AQE cannot coalesce RDD stages, so size the loop's partitioner
    // explicitly: ~500k edges per partition, clamped to the session's
    // shuffle conf. A small pair graph then iterates in a handful of
    // tasks instead of paying numShufflePartitions × stages of
    // scheduling overhead per iteration; a 100 TB graph still spreads
    // across the full conf.
    // the symmetrized edge count is known from the path gate — no job
    val nEdges = 2L * nPairs
    // clamp in Long BEFORE narrowing: (nEdges+499999)/500000 overflows
    // Int past ~1.07e15 edges, and a negative operand would make the
    // min/max pair collapse the partitioner to 1 at exactly the scale
    // it exists for (ADVICE r5)
    val part = new HashPartitioner(math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (nEdges + 499999L) / 500000L)).toInt)
    val edges = rawEdges.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // force edges so the un-partitioned copy can be dropped now — at
    // scale holding both doubles the edge storage for the whole loop
    edges.foreachPartition(_ => ())
    rawEdges.unpersist(blocking = false)
    pairsDf.unpersist(blocking = false)
    // iteration 1 fused into init: with identity labels the first
    // neighbor-min per node is min over the values already keyed by
    // that node (the edge list is symmetric), so reduceByKey on the
    // EXISTING key reuses the partitioner — no shuffle at all.
    // Labels live over PAIRED NODES ONLY (every paired node is a key
    // of the symmetric edge list): the partitioner is sized by edge
    // count, and routing the whole corpus-sized doc set — singletons
    // are the overwhelming majority at scale — through it would
    // funnel billions of never-changing identity labels into a
    // handful of tasks every iteration (review r12). Singletons join
    // their identity groups at the END, one left join.
    val nbr0 = edges.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
    // mapPartitions(preservesPartitioning): a plain map would drop
    // the partitioner and re-shuffle every loop join
    var labels = nbr0
      .mapPartitions(_.map { case (id, m) => (id, math.min(id, m)) },
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prev: org.apache.spark.rdd.RDD[_] = labels
    // try/finally: the non-convergence throw below (and any job
    // failure inside the loop) must still release the persisted
    // edges/prev blocks — the finally runs AFTER the result is
    // eagerly checkpointed, so the success path loses nothing
    try {
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIters) {
        val nbrMin = edges.join(labels) // co-partitioned: no shuffle here
          .map { case (_, (target, label)) => (target, label) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // the one shuffle
        val joined = labels.leftOuterJoin(nbrMin, part) // co-partitioned
          .mapValues { case (l, o) =>
            val nl = math.min(l, o.getOrElse(l)); (nl, nl != l)
          }
          .persist(StorageLevel.MEMORY_AND_DISK)
        changed = joined.filter(_._2._2).count()
        prev.unpersist(blocking = false) // joined is materialized; prev is dead
        labels = joined.mapValues(_._1)
        prev = joined
        iter += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"nearDupGroups did not converge in $maxIters iterations " +
            "(component diameter exceeds maxIters); raise maxIters — " +
            "returning partial labels would silently split components")
      val paired = labels.toDF("doc_id", "group_id")
        // localCheckpoint REQUIRED (iterative fixpoint): the labels
        // lineage is `iter` chained joins deep and its parent blocks
        // are unpersisted in the finally below — without truncation
        // any downstream action would re-run the whole min-label
        // propagation from scratch (lineage blowup). The cost of the
        // truncation is availability: executor loss after this point
        // fails the QUERY and the job-level retry re-runs it — no
        // data is at risk (pure read path).
        .localCheckpoint(true)
      // singletons (never in any pair) take their identity group via
      // one left join — the corpus-sized set stays in DataFrame land
      // under the engine's own partitioning, not the edge-sized loop
      // partitioner
      docs.select(col("doc_id"))
        .join(paired, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"))
    } finally {
      edges.unpersist(blocking = false)
      prev.unpersist(blocking = false)
    }
  }

  // ---- SimHash ------------------------------------------------------------

  /** SimHash near-dup pairs: bucket on each of the four 16-bit chunks
    * (a pair within Hamming distance ≤ 16 shares at least one exact
    * chunk far more often than not; with maxHamming ≤ 3 recall is
    * guaranteed by pigeonhole for ≤ 3 flipped bits spread over 4
    * chunks), then filter by exact Hamming distance via
    * `bit_count(xor)`.
    *
    * SCALE ENVELOPE: the chunk key space is a hard 4×2^16 constant —
    * unlike minhash band keys, whose cardinality grows with the
    * corpus — so expected candidates grow as n²/2^18 and the
    * per-bucket self-join turns quadratic somewhere past ~10^8 docs.
    * At that scale use [[nearDupMinhash]] (growing key space) or
    * pre-partition the corpus (per source/shard) before the simhash
    * pass; this operator's guarantee-exact distance filter is its
    * value, not its asymptotics.
    *
    * The 64-bit signature is the native
    * [[graft.functions.SimhashSignature]] (sign-sum of per-word
    * MurmurHash3 bits), which stays inside whole-stage codegen. */
  def nearDupSimhash(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      call_function("graft_simhash", split(col("text"), " ")).as("sig"))
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("chunk"),
          shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as("ck"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk"), col("c.ck"))
    chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ---- text statistics / language ID -------------------------------------

  /** BPE-ish tokenizer regex: letter runs, digit runs, single
    * punctuation marks — the standard pre-tokenization shape. */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Per-document text-quality statistics. */
  def textStats(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs.select(
      col("doc_id"), col("lang"), col("source"),
      length(col("text")).as("n_chars_measured"),
      size(words).as("n_words"),
      size(array_distinct(words)).as("n_distinct_words"),
      regexp_count(col("text"), lit(TokenPattern)).as("n_tokens"),
      round(size(array_distinct(words)).cast("double") /
        size(words).cast("double"), 4).as("type_token_ratio"),
      round(length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
        .cast("double") / length(col("text")).cast("double"), 4).as("punct_ratio"))
  }

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, the
    * MOSS rolling-hash scheme): hash every character k-gram, slide a
    * window of `w` consecutive hashes, keep each window's minimum —
    * the selected set is position-robust and guarantees any shared
    * substring of length ≥ k+w−1 contributes a shared fingerprint.
    * Hashes are md5 hex strings (not xxhash64) so the min-selection
    * order is reproducible in any engine; one row pass through the
    * native [[graft.functions.WinnowFingerprint]], no shuffle.
    *
    * Returns (doc_id, n_grams, n_selected, fp_digest) where fp_digest
    * is the md5 of the sorted distinct selected hashes. */
  def winnowingFingerprint(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    // native one-pass expression (monotonic-deque window minimum,
    // reused digest); coalesce gives null text the (0, 0,
    // md5-of-empty) row
    docs.select(col("doc_id"),
      call_function("graft_winnow",
        coalesce(col("text"), lit("")), lit(k), lit(w)).as("fp"))
      .select(col("doc_id"), col("fp.n_grams").as("n_grams"),
        col("fp.n_selected").as("n_selected"),
        col("fp.fp_digest").as("fp_digest"))

  /** Deterministic per-source sampling for data mixing: a document is
    * kept when the first hex byte of md5(doc_id) falls below its
    * source's threshold (rate ≈ threshold/256). Unlike `sample()`,
    * whose per-partition RNG changes with the physical layout, the
    * decision is a pure function of the row — identical on any
    * cluster shape, re-runnable, and auditable (the reproducibility
    * property a training-data mixture needs). One broadcast join
    * against the rate table, zero shuffles. */
  private def sampleBucket: Column =
    substring(md5(col("doc_id").cast("string")), 1, 2)

  /** Rate-table form. CONTRACT: `rates` must cover every source value
    * (inner-join semantics — a source absent from the table, or a
    * NULL source, is dropped entirely, which is indistinguishable
    * from a 0% rate). When the rate is derivable from the source
    * value itself, prefer the Column overload, which cannot go out of
    * sync with the source set. */
  def stableSample(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.join(broadcast(rates), "source")
      .where(sampleBucket < col("threshold"))
      .drop("threshold")

  /** Threshold-expression form: the keep decision is
    * first-hex-byte(md5(doc_id)) < threshold(row), entirely row-local
    * — no rate table to keep in sync with the data. */
  def stableSample(docs: DataFrame, threshold: Column): DataFrame =
    docs.where(sampleBucket < threshold)

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis–
    * Spirakis A-ES, "Weighted random sampling with a reservoir",
    * IPL 2006): each row draws u ∈ [0,1) as a pure function of doc_id
    * (the Lehmer/MINSTD step — numeric, so any SQL oracle recomputes
    * it exactly, unlike a hex-string draw) and ranks by
    * key = u^(1/w); the k largest keys ARE a weighted sample without
    * replacement. Layout-independent, re-runnable, auditable — the
    * stableSample guarantees, with per-row weights. One pass +
    * TakeOrdered top-k: no shuffle beyond the top-k reduction. Keys
    * round to 8 before ranking with doc_id as the unique tiebreak
    * (the cross-engine float-ranking convention; 8 digits, not 4,
    * because u^(1/w) compresses toward 1 for heavy rows and coarse
    * rounding would hand selection to the tiebreak). */
  def weightedSample(docs: DataFrame, k: Int, weight: Column): DataFrame = {
    val u = pmod(col("doc_id") * lit(48271L), lit(2147483647L))
      .cast("double") / 2147483647.0
    val key = round(
      pow(u, lit(1.0) / greatest(weight.cast("double"), lit(1.0))), 8)
    docs.withColumn("es_key", key)
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Deterministic multinomial-bootstrap confidence interval for a
    * per-source mean — the uncertainty every data-card point estimate
    * should carry (Efron's bootstrap, with the standard Poisson(1)
    * approximation to the multinomial resample weights so each
    * (doc, replica) weight is INDEPENDENT of corpus size). Everything
    * is derandomized: the per-(doc, replica) uniform is the repo's
    * Lehmer LCG on integer arithmetic (the [[weightedSample]]
    * convention — exactly reproducible in any engine, no float seed
    * state), inverted through fixed Poisson CDF literals to a weight
    * in 0..6. Replica means are ratios of EXACT integer sums, kept
    * unrounded (identical IEEE division on both engines — the q165
    * lesson: rounding, not arithmetic, is what diverges), ranked with
    * the replica id as unique tiebreak, and the CI bounds are
    * nearest-rank order statistics in integer rank arithmetic (the
    * q159 discipline).
    *
    * Scale: the explode multiplies the scan by `nReplicas`, but the
    * generated rows fold into the map-side partial aggregate
    * immediately — the shuffle carries only (source, replica) rows.
    * One keyed aggregation + one B-row-per-source rank window. */
  def bootstrapMeanCI(docs: DataFrame, metric: Column,
                      nReplicas: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nReplicas >= 20, s"nReplicas ($nReplicas) too small for p05/p95")
    val base = docs.select(col("source"), col("doc_id"),
      metric.cast("long").as("m"))
    // Poisson(1) CDF inverse on a Lehmer-LCG uniform; thresholds are
    // decimal literals, so both engines parse the identical double
    val u = pmod((col("doc_id") * lit(nReplicas.toLong) + col("b") +
        lit(1L)) * lit(48271L), lit(2147483647L))
      .cast("double") / lit(2147483647.0)
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val rep = base
      .select(col("source"), col("doc_id"), col("m"),
        explode(sequence(lit(0L), lit(nReplicas - 1L))).as("b"))
      .select(col("source"), col("b"), col("m"), w.as("w"))
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w") * col("m")).as("num"), sum(col("w")).as("den"))
      // an all-zero-weight replica (probability e^(−n_source) — real
      // for singleton sources) has no mean: DROPPED, never a NaN that
      // would sort differently across engines; the rank bounds below
      // use the SURVIVING replica count, so the CI stays nearest-rank
      // over defined means on both sides
      .where(col("den") > 0L)
      .select(col("source"), col("b"),
        (col("num").cast("double") / col("den").cast("double")).as("mb"))
    val rk = rep
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("mb"), col("b"))))
      .withColumn("nb", count(lit(1)).over(
        Window.partitionBy(col("source"))))
    val ci = rk.groupBy(col("source"))
      .agg(min(when(col("rn") === expr("(nb * 5 + 99) div 100"),
        col("mb"))).as("ci_lo"),
        min(when(col("rn") === expr("(nb * 95 + 99) div 100"),
          col("mb"))).as("ci_hi"))
    val obs = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("m")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_obs"))
    obs.join(ci, "source")
      .select(col("source"), col("n_docs"), col("mean_obs"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Cross-source quantile normalization — the distribution-alignment
    * step before mixing heterogeneous sources (the bioinformatics
    * quantile-normalization recipe applied to corpus metrics): each
    * document's metric is replaced by the GLOBAL metric value at the
    * same quantile position its rank occupies within its source, so
    * every source ends up with the global distribution and
    * cross-source thresholds compare like for like.
    *
    * Exact and engine-reproducible without a global sort: the
    * per-source rank is a source-partitioned window (unique doc_id
    * tiebreak), the target global position is pure integer arithmetic
    * (ceil(rk·N/n_s) as (rk·N + n_s − 1) div n_s), and the global
    * order is represented as a CDF over the metric's VALUE DOMAIN — a
    * domain-sized running-sum window (the q163 skyline discipline:
    * windows over domains, never over data) broadcast back as
    * [lo, cum] intervals that each target position range-joins into.
    * Data shuffles once (the source window); the interval probe is a
    * broadcast NESTED-LOOP against the value-domain table (the q14
    * literal-bands trade: compute is rows × |domain|, acceptable
    * because the domain is bounded by contract — a genuinely
    * continuous metric should be quantized first, exactly as q163's
    * skyline buckets a continuous axis). */
  def quantileNormalize(docs: DataFrame, metric: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"), col("source"),
      metric.cast("long").as("m"))
    val r = d
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("m"), col("doc_id"))))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("source"))))
    val n = d.agg(count(lit(1)).as("nt"))
    val wCdf = Window.orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = d.groupBy(col("m")).agg(count(lit(1)).as("c"))
      .select(col("m").as("gm"),
        sum(col("c")).over(wCdf).as("cum"),
        (sum(col("c")).over(wCdf) - col("c") + lit(1L)).as("lo"))
    val t = r.crossJoin(broadcast(n))
      // integer ceil-division (DIV, not `/`): float division would
      // lose exactness once rk·N crosses 2^53
      .withColumn("tpos", expr("(rk * nt + ns - 1) div ns"))
    t.join(broadcast(cdf),
        col("tpos") >= col("lo") && col("tpos") <= col("cum"))
      .select(col("doc_id"), col("source"), col("m"),
        col("gm").as("m_norm"))
  }

  /** Train/eval contamination: training documents whose token-set
    * fingerprint collides with any document of the held-out set — the
    * pre-training hygiene check run before any benchmark is trusted.
    * One fingerprint projection per side + a semi join (broadcast when
    * the eval set is benchmark-sized). */
  def contamination(train: DataFrame, eval_ : DataFrame): DataFrame = {
    val fp = (d: DataFrame) => d.select(col("doc_id"),
      tokenSetFingerprint(col("text")).as("fp"))
    fp(train).join(fp(eval_).select(col("fp")), Seq("fp"), "left_semi")
  }

  /** Per-document top-k characteristic terms by smoothed TF-IDF:
    * tf(doc,term) · ln((N+1)/(df(term)+1)), rounded to 4 before
    * ranking with a term tiebreak (the cross-engine float-ranking
    * convention). Two keyed shuffles (tf and df aggregations) + a
    * broadcast scalar N + a per-doc window — the document-frequency
    * table is vocabulary-sized, so the tf⋈df join broadcasts on real
    * corpora and shuffles only when the vocabulary itself is huge. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf already holds exactly one row per (doc, term), so document
    // frequency is a plain count over it — no second corpus scan +
    // explode, and no countDistinct over raw word occurrences
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"),
        col("tf"), col("df"))
  }

  /** EXACT corpus-wide heavy hitters in BOUNDED memory — the two-pass
    * shape that replaces a full-vocabulary groupBy at 100 TB, where the
    * vocabulary itself (URLs, ids, typos) is too large to shuffle
    * comfortably but the interesting tokens are the few above a count
    * threshold.
    *
    * Pass 1 runs a Misra–Gries summary with `nCounters` counters
    * inside each partition (pure per-partition imperative state — the
    * canonical mapPartitions case) and emits ≤ nCounters (token, cnt)
    * rows per partition plus one partition-total row. Summing the
    * per-partition summaries undercounts any token by at most
    * Σ_p Np/(nCounters+1) = N/(nCounters+1) — the classic mergeable-
    * summary bound — so every token with true count ≥ minCount
    * survives the filter `Σcnt ≥ minCount − N/(nCounters+1)`: a
    * GUARANTEED superset, no false negatives. Pass 2 computes exact
    * counts restricted to those candidates (broadcast semi-join before
    * the groupBy), so only candidate tokens ever shuffle. Output is
    * EXACT (`HAVING count(*) ≥ minCount` equivalent — fully oracled),
    * provided minCount > N/(nCounters+1); size nCounters ≳ 2N/minCount
    * (the spec pins the guarantee at the boundary).
    *
    * Cost: pass 1 shuffles ≤ partitions·nCounters summary rows; pass 2
    * re-reads the corpus but shuffles only candidate-token rows. Two
    * scans beat one full-vocabulary shuffle as soon as the vocabulary
    * outgrows executor memory. */
  def heavyHitters(docs: DataFrame, minCount: Long,
                   nCounters: Int = 2048): DataFrame = {
    require(minCount > 0 && nCounters > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    def toks = docs.select(
      explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
    // per-partition Misra–Gries: increment a held counter, open a new
    // one while capacity remains, else decrement ALL counters (the
    // (nCounters+1)-way cancellation that yields the error bound).
    // kind 0 = counter row, kind 1 = partition token total (its token
    // field is unused — "" is a legal TOKEN, so a sentinel value could
    // collide; the kind column cannot).
    val summaries = toks.as[String].mapPartitions { it =>
      val counts = new scala.collection.mutable.HashMap[String, Long]()
      var np = 0L
      while (it.hasNext) {
        val w = it.next(); np += 1
        counts.get(w) match {
          case Some(c) => counts.update(w, c + 1)
          case None if counts.size < nCounters => counts.update(w, 1L)
          case None =>
            // O(nCounters) amortized over the nCounters+1 arrivals
            // that funded it
            val dead = List.newBuilder[String]
            counts.foreach { case (k, c) =>
              if (c == 1L) dead += k else counts.update(k, c - 1)
            }
            dead.result().foreach(counts.remove)
        }
      }
      counts.iterator.map { case (w, c) => (w, c, 0) } ++
        Iterator.single(("", np, 1))
    }.toDF("w", "cnt", "kind")
    val merged = summaries.where(col("kind") === 0)
      .groupBy(col("w")).agg(sum(col("cnt")).as("est"))
    val total = summaries.where(col("kind") === 1)
      .agg(sum(col("cnt")).as("n_total"))
    // est ≥ true − N/(k+1), evaluated in double (Spark's bigint `/`):
    // the bound is exact, not a floor approximation
    val candidates = merged.crossJoin(broadcast(total))
      .where(col("est") >= lit(minCount) - col("n_total") / lit(nCounters + 1L))
      .select(col("w"))
    toks.join(broadcast(candidates), "w")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** Cross-document boilerplate fraction (the substring-dedup signal
    * of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": repeated spans across documents mark template /
    * boilerplate text that document-level dedup cannot see). For each
    * document: the fraction of its distinct word n-grams that occur
    * in at least `minDocs` documents. Gram strings (not hashes) so
    * the oracle compares identical values. Two keyed shuffles: the
    * corpus gram-frequency aggregation and the per-doc fraction; the
    * gram⋈df join is keyed on the gram — never corpus×corpus. */
  def crossDocBoilerplate(docs: DataFrame, n: Int = 5,
                          minDocs: Int = 2): DataFrame = {
    val grams = distinctNgrams(docs, n)
    val dfg = grams.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    val per = grams.join(dfg, "g").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(when(col("ndocs") >= minDocs, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("boilerplate_frac"))
    // docs too short for any n-gram still report (0, 0.0)
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("boilerplate_frac"), lit(0.0)).as("boilerplate_frac"))
  }

  /** Unigram language-model quality score (the CCNet-style
    * statistical filter): each document scored by the mean −ln p(w)
    * of its tokens under the corpus's OWN unigram distribution —
    * word-salad and boilerplate outliers surface at the distribution
    * tails. Two keyed shuffles (corpus wordcount, per-doc mean) plus
    * a broadcast scalar token total; the vocabulary-sized prob table
    * shuffles on the token key (broadcastable on real corpora where
    * vocab ≪ corpus). Cross-engine determinism: the per-token ln is
    * rounded to 8 decimals and decimal-cast BEFORE the sum (exact +
    * associative under any partitioning), final mean rounded to 4. */
  def unigramNll(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
    val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    toks.join(counts, "w")
      .crossJoin(broadcast(total))
      .withColumn("lp",
        round(log(col("cnt").cast("double") / col("n_total").cast("double")), 8)
          .cast("decimal(18,8)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(-(sum(col("lp")).cast("double") / count(lit(1))), 4).as("nll"))
  }

  /** Dictionary (vocabulary-id) encoding — the tokenize-to-ids step
    * between curation and training: the top-`vocabSize` tokens by
    * (count desc, token) become ids 1..V, everything else maps to the
    * UNK id 0, and each document is re-expressed as its id sequence
    * (fingerprinted, with an UNK count — the OOV-rate quality signal).
    * Word-level sibling of the subword [[Bpe]] encoder: same contract
    * (deterministic vocab, order-preserving encode), trivial trainer.
    *
    * Scale: one token-count shuffle; the vocab is cut by TakeOrdered
    * top-V (never a global single-partition window over the full
    * vocabulary — the 256-row rank window runs after the cut), then
    * broadcast-joined against the token stream; per-doc reassembly is
    * one doc-keyed shuffle of (pos, id) pairs. */
  def vocabEncode(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(split(coalesce(col("text"), lit("")), " "))
        .as(Seq("pos", "w")))
    val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val vocab = counts.orderBy(col("cnt").desc, col("w")).limit(vocabSize)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("w"))).cast("bigint"))
      .select(col("w"), col("id"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("id", coalesce(col("id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0L, lit(1L)).otherwise(lit(0L))).as("n_unk"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("id")))),
            x => x("id").cast("string"))).cast("binary")).as("ids_md5"))
  }

  /** Temperature-scaled source mixture sampling — the domain-mixing
    * step of a training-data pipeline (the α<1 exponent upweights
    * small sources relative to proportional sampling, the
    * multinomial-smoothing convention of multilingual LM training):
    * source s gets quota ⌊k·n_s^α/Σ_t n_t^α + ½⌋, filled by the n_s
    * docs with the smallest md5(doc_id) — a deterministic,
    * growth-stable pseudo-random order (the [[stableSample]]
    * convention: adding documents never reorders the surviving
    * ranks of untouched ones within a source). Sibling of
    * [[mixtureSample]]: this DERIVES per-source quotas from corpus
    * statistics (doc-count temperature scaling); that one
    * materializes a draw under externally supplied token budgets.
    *
    * Scale: one count aggregate (|sources| rows, broadcast back), one
    * window rank per source partition — no shuffle beyond the rank's
    * own keyed exchange; skewed sources are exactly the AQE-split
    * case. Determinism: Σ n^α is decimal-summed over per-source
    * 8-decimal roundings, so the quota arithmetic is bit-stable under
    * any partitioning. */
  def temperatureSample(docs: DataFrame, k: Int = 200,
                        alpha: Double = 0.5): DataFrame = {
    require(alpha == 0.5, "oracle parity is pinned for sqrt (alpha=0.5)")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(
      sum(round(sqrt(col("n_docs").cast("double")), 8)
        .cast("decimal(18,8)")).cast("double").as("z"))
    val quota = counts.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        floor(sqrt(col("n_docs").cast("double")) / col("z") * lit(k.toDouble)
          + lit(0.5)).cast("bigint").as("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    docs.select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .join(broadcast(quota), "source")
      .where(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"), col("quota"))
  }

  /** Held-out stupid-backoff trigram LM score (Brants et al. 2007,
    * "Large Language Models in Machine Translation"): train 1/2/3-gram
    * counts on the even-`doc_id` half of the corpus, score each token
    * position `i >= 3` of the odd half with
    * `S(w|u,v) = c3(uvw)/c2(uv)`, backing off to `alpha * c2(vw)/c1(v)`
    * and finally `alpha^2 * (c1(w)+1)/(N+V)` (add-one floor over the
    * train token total `N` and vocab `V`). The held-out split is what
    * makes the backoff real — scoring a corpus under its own counts
    * never leaves the trigram level. This is the perplexity-filter
    * shape (CCNet / Gopher quality gates) one level up from
    * [[unigramNll]].
    *
    * Scale: three counting shuffles (keyed by the n-gram string), five
    * keyed joins of the position table against the count tables, one
    * per-doc aggregate; the position rows carry only five short
    * strings, never the document. Cross-engine determinism: per-token
    * `ln` rounded to 8 decimals and decimal-cast BEFORE the sum, final
    * mean rounded to 4 (the [[unigramNll]] convention). */
  def stupidBackoffNll(docs: DataFrame, alpha: Double = 0.4): DataFrame = {
    val base = docs.select(col("doc_id"),
      split(coalesce(col("text"), lit("")), " ").as("ws"))
    val train = base.filter(col("doc_id") % 2 === 0)
    val scored = base.filter(col("doc_id") % 2 === 1)
    // n-gram strings at positions i = n..len (filter keeps the
    // sequence ascending even for docs shorter than n tokens)
    def gramArr(n: Int): Column =
      transform(filter(sequence(lit(1), size(col("ws"))), i => i >= n), i =>
        concat_ws(" ",
          (n - 1 to 0 by -1).map(o => element_at(col("ws"), i - lit(o))): _*))
    def counts(n: Int, name: String): DataFrame =
      train.select(explode(gramArr(n)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as(name))
    val c1 = counts(1, "c1")
    val c2 = counts(2, "c2")
    val c3 = counts(3, "c3")
    val tot = c1.agg(sum(col("c1")).as("n_tok"), count(lit(1)).as("vocab"))
    val pos = scored.select(col("doc_id"), explode(
      transform(filter(sequence(lit(1), size(col("ws"))), i => i >= 3), i =>
        struct(
          concat_ws(" ", element_at(col("ws"), i - 2),
            element_at(col("ws"), i - 1), element_at(col("ws"), i)).as("g3"),
          concat_ws(" ", element_at(col("ws"), i - 2),
            element_at(col("ws"), i - 1)).as("ctx2"),
          concat_ws(" ", element_at(col("ws"), i - 1),
            element_at(col("ws"), i)).as("g2"),
          element_at(col("ws"), i - 1).as("ctx1"),
          element_at(col("ws"), i).as("w")))).as("p"))
      .select(col("doc_id"), col("p.g3"), col("p.ctx2"), col("p.g2"),
        col("p.ctx1"), col("p.w"))
    val j = pos
      .join(c3.withColumnRenamed("g", "g3"), Seq("g3"), "left")
      .join(c2.select(col("g").as("ctx2"), col("c2").as("cctx2")),
        Seq("ctx2"), "left")
      .join(c2.select(col("g").as("g2"), col("c2").as("cg2")),
        Seq("g2"), "left")
      .join(c1.select(col("g").as("ctx1"), col("c1").as("cctx1")),
        Seq("ctx1"), "left")
      .join(c1.select(col("g").as("w"), col("c1").as("cw")),
        Seq("w"), "left")
      .crossJoin(broadcast(tot))
    val lvl = when(col("c3").isNotNull && col("cctx2").isNotNull, lit(0))
      .when(col("cg2").isNotNull && col("cctx1").isNotNull, lit(1))
      .otherwise(lit(2))
    val score = when(col("lvl") === 0,
        col("c3").cast("double") / col("cctx2"))
      .when(col("lvl") === 1,
        lit(alpha) * (col("cg2").cast("double") / col("cctx1")))
      .otherwise(lit(alpha) * lit(alpha) *
        ((coalesce(col("cw"), lit(0L)).cast("double") + lit(1.0)) /
          (col("n_tok") + col("vocab")).cast("double")))
    val agg = j.withColumn("lvl", lvl)
      .withColumn("lp", round(log(score), 8).cast("decimal(18,8)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        round(-(sum(col("lp")).cast("double") / count(lit(1))), 4).as("nll3"),
        sum(when(col("lvl") === 0, lit(1L)).otherwise(lit(0L))).as("n_tri"),
        sum(when(col("lvl") === 1, lit(1L)).otherwise(lit(0L))).as("n_bi"),
        sum(when(col("lvl") === 2, lit(1L)).otherwise(lit(0L))).as("n_uni"))
    scored.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("nll3"), lit(0.0)).as("nll3"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("n_uni"), lit(0L)).as("n_uni"))
  }

  /** Within-document repetition signals (the Gopher duplicate-n-gram
    * family): fraction of duplicated words / bigrams / trigrams plus a
    * repetitive flag. High values mark boilerplate and degenerate spam
    * that dedup across documents cannot see. Pure per-row expressions
    * over exact n-gram STRINGS (not hashes — the oracle compares the
    * same strings), zero shuffle. */
  def repetitionStats(docs: DataFrame, flagAt: Double = 0.2): DataFrame = {
    val words = split(col("text"), " ")
    val n = size(words)
    def grams(g: Int): Column =
      transform(sequence(lit(1), n - lit(g - 1)), i =>
        concat_ws(" ", (0 until g).map(o => element_at(words, i + lit(o))): _*))
    def dupRatio(g: Int): Column = {
      val total = (n - lit(g - 1)).cast("double")
      when(n >= g,
        round(lit(1.0) - size(array_distinct(grams(g))).cast("double") / total, 4))
        .otherwise(lit(0.0))
    }
    // two-stage select: the ratio HOF trees are interpreted with no
    // cross-reference CSE (same hazard as winnowingFingerprint), so
    // referencing them again in the flag would rebuild every n-gram
    // array twice per row — derive the flag from the named columns
    docs.select(col("doc_id"), n.cast("bigint").as("n_words"),
      dupRatio(1).as("dup_word_ratio"), dupRatio(2).as("dup_bigram_ratio"),
      dupRatio(3).as("dup_trigram_ratio"))
      .withColumn("repetitive",
        col("dup_word_ratio") > flagAt || col("dup_bigram_ratio") > flagAt ||
          col("dup_trigram_ratio") > flagAt)
  }

  /** Compression-ratio quality signal (Gopher-style): DEFLATE each
    * document's UTF-8 bytes and report raw/compressed — boilerplate,
    * template spam, and phrase loops compress far better than prose,
    * so a high ratio is a cheap language-agnostic low-entropy flag
    * that catches repetition [[repetitionStats]]' fixed n-gram windows
    * miss (periods longer than 3 words, non-word structure). Pure
    * per-row work, zero shuffles; the deflate runs inside whole-stage
    * codegen via the native [[graft.functions.DeflateLength]]. Rows-
    * only for the driver (DuckDB has no deflate); DeflateLengthSpec
    * pins the expression against a driver-side Deflater and the flag
    * semantics. */
  def compressionSignal(docs: DataFrame, level: Int = 6,
                        flagAt: Double = 3.0): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    val dl = call_function("graft_deflate_len", text, lit(level))
    // column-appending (text dropped): downstream aggregates read the
    // carried dimensions (source, lang) without a second corpus scan
    docs
      .withColumn("n_bytes", octet_length(text).cast("bigint"))
      .withColumn("deflate_bytes", dl)
      .withColumn("ratio", round(col("n_bytes").cast("double") /
        greatest(col("deflate_bytes"), lit(1L)).cast("double"), 4))
      .withColumn("low_entropy", col("ratio") >= lit(flagAt))
      .drop("text")
  }

  /** Fixed-size overlapping word chunks — the context-window packing
    * step of a training pipeline (chunk size `chunkWords`, stride
    * `stride`; stride < chunkWords gives the usual overlap). Pure
    * per-row expressions: the word array is materialized once, chunk
    * starts come from `sequence`, and each chunk is a clamped `slice`
    * — one explode, zero shuffles, embarrassingly parallel at any
    * corpus size. Empty docs yield one empty chunk (start pinned to 1)
    * rather than disappearing; null text is pinned to '' (one empty
    * chunk) so the Spark/DuckDB twins agree by construction rather than
    * by the corpus happening to have no nulls (ADVICE r3). */
  def chunkDocs(docs: DataFrame, chunkWords: Int = 50, stride: Int = 40): DataFrame = {
    val words = split(coalesce(col("text"), lit("")), " ")
    docs
      .select(col("doc_id"), words.as("ws"),
        greatest(size(words), lit(1)).as("n"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), col("n"), lit(stride))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / lit(stride)).cast("bigint").as("chunk_idx"),
        concat_ws(" ", slice(col("ws"), col("start"), lit(chunkWords))).as("chunk"),
        size(slice(col("ws"), col("start"), lit(chunkWords))).cast("bigint")
          .as("n_chunk_words"))
  }

  /** Scrub patterns: email addresses, long digit runs (account/id
    * numbers), and a configurable denylist of exact terms. The regexes
    * stay in the portable intersection of Java regex and RE2 so the
    * same pattern text drives both the engine and any SQL oracle. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe = "[0-9]{9,}"

  /** Optional extension battery for [[piiScrub]] — (name, regex,
    * replacement token) triples in the same Java∩RE2 portable dialect
    * (char classes, bounded repetition, `\b`, `\d` — no
    * backreferences, no lookaround): IPv4 addresses and international
    * phone numbers, the next two classes a C4/RefinedWeb-style
    * release scrub redacts after emails. Applied AFTER the email/
    * digit-run passes (an email's domain can contain ip-shaped digit
    * runs; the earlier passes must win) and before the denylist. */
  val ExtraPiiPatterns: Seq[(String, String, String)] = Seq(
    ("ipv4", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("phone", """\+\d{1,2}-\d{3}-\d{4}""", "<PHONE>"))

  /** PII / denylist scrubbing: counts each pattern family (on the
    * ORIGINAL text) and emits the redacted text plus its fingerprint.
    * Pure per-row regexp projections (codegen'd, zero shuffle) — the
    * shape of a real pre-training scrub pass at 100 TB. `extras`
    * (e.g. [[ExtraPiiPatterns]]) appends one `n_<name>` count column
    * per pattern and folds its redactions between the digit-run pass
    * and the denylist; policy is data, the plan shape never changes. */
  def piiScrub(docs: DataFrame, denyTerms: Seq[String] = Seq("spark"),
               extras: Seq[(String, String, String)] = Seq.empty): DataFrame = {
    // empty denylist would build \b()\b, which matches the empty string
    // at every word boundary and sprays <TERM> through the text
    // (ADVICE r3) — skip the denylist stage entirely instead
    val base = extras.foldLeft(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        LongNumRe, "<NUM>")) { case (c, (_, re, tok)) =>
      regexp_replace(c, re, tok) }
    val (redacted, nDenied) =
      if (denyTerms.isEmpty) (base, lit(0L))
      else {
        val denyRe = denyTerms.map(java.util.regex.Pattern.quote)
          .mkString("\\b(", "|", ")\\b")
        (regexp_replace(base, denyRe, "<TERM>"),
          regexp_count(col("text"), lit(denyRe)).cast("bigint"))
      }
    val extraCounts = extras.map { case (name, re, _) =>
      regexp_count(col("text"), lit(re)).cast("bigint").as(s"n_$name") }
    // two-stage select: `redacted` feeds two outputs; as a named column
    // the regex chain runs once per row (CollapseProject keeps
    // non-cheap aliases used twice), not once per consumer
    docs.select((Seq(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("bigint").as("n_emails"),
      regexp_count(col("text"), lit(LongNumRe)).cast("bigint").as("n_idnums"),
      nDenied.as("n_denied")) ++ extraCounts :+
      redacted.as("redacted")): _*)
      .withColumn("redacted_fp", md5(col("redacted")))
  }

  /** Stopwords for quality density scoring (the langid marker set plus
    * common function words; on a real corpus this is a per-language
    * list). */
  val QualityStopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Gopher/C4-style document quality signals: stopword density, mean
    * word length, hard pass/fail flag, and a composite score in [0,1].
    * Pure per-row expressions — embarrassingly parallel, no shuffle.
    * Ratios are quotients of small ints (identical IEEE doubles on any
    * engine); the exported ratios are rounded to 4, the flags and the
    * score are computed from the raw ratios with the same expression
    * shape mirrored in the oracle SQL. */
  // Quality-signal expressions and thresholds shared by qualityScore
  // and filterFunnel — one definition so the funnel's counters can
  // never drift from the score's flags.
  private def qualityWords: Column = split(col("text"), " ")
  private def qualityStopRatio: Column =
    size(filter(qualityWords, w => w.isin(QualityStopwords: _*))).cast("double") /
      size(qualityWords).cast("double")
  private def qualityMeanWordLen: Column =
    length(replace(col("text"), lit(" "), lit(""))).cast("double") /
      size(qualityWords).cast("double")
  private val QualityMinWords = 8
  private val QualityMinStopRatio = 0.02
  private val QualityWordLenRange = (2.0, 12.0)
  /** The hard pass/fail gate as a standalone boolean expression —
    * public so stateless consumers (the streaming ingest filter) can
    * apply the gate without the full [[qualityScore]] projection. */
  def qualityOk: Column =
    size(qualityWords) >= QualityMinWords &&
      qualityStopRatio >= QualityMinStopRatio &&
      qualityMeanWordLen.between(QualityWordLenRange._1, QualityWordLenRange._2)

  /** The composite [0,1] score itself (rounded to 4 — scores are
    * always rounded BEFORE any ranking, per the cross-engine
    * determinism contract). */
  private def qualityScoreExpr: Column =
    round(least(qualityStopRatio * lit(5.0), lit(1.0)) * lit(0.6) +
      when(qualityMeanWordLen.between(QualityWordLenRange._1, QualityWordLenRange._2),
        lit(0.4)).otherwise(lit(0.0)), 4)

  /** Gopher-style WITHIN-document repetition signals (Rae et al.
    * 2021, "Scaling Language Models: Methods, Analysis & Insights
    * from Training Gopher", App. A1.1) — the quality battery that
    * catches degenerate, templated and loop-generated text that
    * document-level dedup can't see (the doc is unique; its CONTENT
    * repeats itself). Per document:
    *   - `distinct_frac`  — type-token ratio (distinct words / words);
    *   - `top_word_frac`  — share of the single most frequent word;
    *   - `top_2gram_frac` — share of bigram slots held by the most
    *     frequent word bigram;
    *   - `dup_5gram_frac` — fraction of word POSITIONS covered by a
    *     5-gram occurring more than once in the doc (the coverage
    *     union, [[stripBoilerplate]]'s span marking turned inward).
    * A training filter thresholds these (Gopher drops e.g.
    * dup-5-gram-char-frac > 0.15); the signals are emitted raw so the
    * cutoffs stay policy, not code.
    *
    * Every stage is a (doc_id, token)-keyed aggregation over one
    * exploded projection of one corpus scan — keyed shuffles only,
    * nothing all-pairs, per-doc state bounded by doc length: the
    * shape holds at 100 TB. Shares in counts need no argmax tiebreak
    * (only the max count matters), so the whole report is exactly
    * SQL-reproducible; grams compare as xxhash64 on the Spark side vs
    * raw strings in the oracle (the q51-proven equivalence). */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // four consumers (words, bigrams, 5-grams, final frame) — cache
    // the split once; persist (shallow lineage) per the r9 convention
    val base = docs
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val words = base.select(col("doc_id"), explode(col("ws")).as("w"))
    val wstats = words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nd"), max(col("c")).as("topw"))
    // sequences index with size() (INT): element_at/slice require an
    // INT position and a BIGINT-typed lambda var fails analysis
    val bigrams = base.where(col("nw") >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ws")) - 2),
        i => xxhash64(concat_ws(" ",
          element_at(col("ws"), i + lit(1)),
          element_at(col("ws"), i + lit(2)))))).as("g"))
    val top2 = bigrams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top2"))
    val g5 = base.where(col("nw") >= 5)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("ws")) - 5),
        i => xxhash64(concat_ws(" ", slice(col("ws"), i + lit(1), lit(5))))))
        .as(Seq("pos", "g")))
    val dup = g5.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c")).where(col("c") >= 2)
      .select(col("doc_id"), col("g"))
    val covered = g5.join(dup, Seq("doc_id", "g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(4))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("cov"))
    base.select(col("doc_id"), col("nw"))
      .join(wstats, Seq("doc_id"))
      .join(top2, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nw").as("n_words"),
        round(col("nd").cast("double") / col("nw"), 4).as("distinct_frac"),
        round(col("topw").cast("double") / col("nw"), 4).as("top_word_frac"),
        round(coalesce(col("top2"), lit(0L)).cast("double") /
          greatest(col("nw") - 1, lit(1L)), 4).as("top_2gram_frac"),
        round(coalesce(col("cov"), lit(0L)).cast("double") / col("nw"), 4)
          .as("dup_5gram_frac"))
  }

  /** The cheap clamped length signal least(n_words/256, cap) shared by
    * q179's AUC evaluation and [[isotonicCalibration]] — ONE spelling
    * so the "same ranking calibrates" linkage cannot drift, with the
    * NULL-text guard (un-coalesced split(NULL) would otherwise ride
    * Spark's NULL-skipping least() into the cap). Mirrors the third
    * [[classifierFeatures]] component, which keeps its own frozen
    * spelling — changing a trained model's feature definition is a
    * model change, not a refactor. Unrounded: consumers round to 4
    * before ranking per the contract. */
  def lengthSignal(cap: Double): Column =
    least(size(split(coalesce(col("text"), lit("")), " ")).cast("double") /
      lit(256.0), lit(cap))

  def qualityScore(docs: DataFrame): DataFrame = {
    val words = qualityWords
    val stopRatio = qualityStopRatio
    val meanWordLen = qualityMeanWordLen
    docs.select(
      col("doc_id"),
      size(words).cast("bigint").as("n_words"),
      round(stopRatio, 4).as("stop_ratio"),
      round(meanWordLen, 4).as("mean_word_len"),
      qualityOk.as("quality_ok"),
      qualityScoreExpr.as("quality_score"))
  }

  /** Quality-aware dedup survivor selection: within each exact-dup
    * group (token-set fingerprint), keep the HIGHEST-quality copy
    * (rounded quality score, doc_id tiebreak) instead of the lowest
    * id ([[dedupedDocs]]) — when duplicates differ in cleanliness, a
    * production pipeline wants the clean one, and "first by id" just
    * means "whichever was crawled first". One scan (fingerprint and
    * score are per-row expressions) + one window shuffle on the
    * fingerprint key. */
  def dedupBestQuality(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    docs
      .withColumn("fp", tokenSetFingerprint(col("text")))
      .withColumn("quality_score", qualityScoreExpr)
      .withColumn("pick", row_number().over(w))
      .where(col("pick") === 1)
      .drop("pick", "fp")
  }

  /** Feature vector for the distilled quality classifier: bias plus
    * the scaled quality signals (stopword density, mean word length,
    * clamped log-ish doc length). Pure row expressions — the same
    * primitives [[qualityScore]] exports, scaled into O(1) ranges so
    * fixed-step gradient descent is well-conditioned. */
  private def classifierFeatures: Column = array(
    lit(1.0),
    qualityStopRatio * lit(10.0),
    qualityMeanWordLen / lit(12.0),
    least(size(qualityWords).cast("double") / lit(256.0), lit(4.0)))

  private val ClassifierDim = 4

  /** Deterministic Gaussian elimination with partial pivoting —
    * driver-side d×d solve for the Newton step (d = feature count,
    * never corpus-scale). `private[ops]` so the parity spec runs the
    * IDENTICAL solver. */
  private[ops] def solveLinear(a0: Array[Array[Double]],
                               b0: Array[Double]): Array[Double] = {
    val d = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until d) {
      var piv = c
      for (r <- c + 1 until d)
        if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      val (ta, tb) = (a(piv), b(piv)); a(piv) = a(c); a(c) = ta
      b(piv) = b(c); b(c) = tb
      for (r <- c + 1 until d) {
        val f = a(r)(c) / a(c)(c)
        for (j <- c until d) a(r)(j) -= f * a(c)(j)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](d)
    for (c <- d - 1 to 0 by -1) {
      var s = b(c)
      for (j <- c + 1 until d) s -= a(c)(j) * x(j)
      x(c) = s / a(c)(c)
    }
    x
  }

  /** Train a ridge-logistic quality classifier IN the engine — the
    * weak-supervision distillation pattern (CCNet-style): the labels
    * come free from the hand-written hard gate ([[qualityOk]]), and
    * the model turns the binary rule into a CALIBRATED [0,1] score
    * that ranks borderline documents instead of cliffing them.
    *
    * IRLS / Newton, each iteration ONE corpus pass: codegen'd row
    * expressions emit the weighted-Hessian upper triangle
    * s·xᵢxⱼ (s = p(1−p)) and the gradient (y−p)·xⱼ, and the
    * hash-aggregate DECIMAL-sums them — exactly d(d+1)/2 + d values
    * reach the driver per iteration (the PCA-moments shape), where a
    * ridge-damped d×d Newton step is solved. Exact sums make the
    * whole trajectory layout-independent (bit-identical weights on
    * any partitioning — double sums would let partition order into
    * the model); fixed iteration count keeps it deterministic. Newton
    * reaches the ridge-logistic optimum in single-digit passes where
    * fixed-step GD crawls — at 100 TB the pass count IS the cost.
    *
    * When the corpus far exceeds what the fit needs, train on a
    * [[stableSample]] slice and score everything — scoring is the
    * cheap part. */
  def trainQualityClassifier(docs: DataFrame, iters: Int = 8,
                             ridge: Double = 1e-4): Array[Double] = {
    val data = Fanout(docs).select(classifierFeatures.as("x"),
        when(qualityOk, lit(1.0)).otherwise(lit(0.0)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainOnPrepared(data, iters, ridge)
    finally { data.unpersist(blocking = false); () }
  }

  /** The IRLS loop over an already-projected (x, y) frame — shared by
    * [[trainQualityClassifier]] and [[trainAndScoreQuality]] so the
    * one-pass variant trains on the SAME cached projection it scores
    * from (the r12 verdict's q139 item: the classifier's only
    * corpus-sized costs are feature passes, so there must be exactly
    * one). */
  private def trainOnPrepared(data: DataFrame, iters: Int,
                              ridge: Double): Array[Double] = {
    val d = ClassifierDim
    locally {
      // n rides the FIRST iteration's aggregate row (r17, guide §1.2:
      // the separate count() was one more full job over the cache)
      var n = -1.0
      var w = Array.fill(d)(0.0)
      for (it <- 0 until iters) {
        val margin = w.zipWithIndex.map { case (wj, j) =>
          lit(wj) * element_at(col("x"), j + 1) }.reduce(_ + _)
        val p = lit(1.0) / (lit(1.0) + exp(-margin))
        val s = p * (lit(1.0) - p)
        val g = col("y") - p
        val hessCols = for (i <- 0 until d; j <- i until d) yield
          sum((s * element_at(col("x"), i + 1) * element_at(col("x"), j + 1))
            .cast("decimal(30,12)")).as(s"h_${i}_$j")
        val gradCols = (0 until d).map(i =>
          sum((g * element_at(col("x"), i + 1)).cast("decimal(30,12)"))
            .as(s"g_$i"))
        val nCols = if (it == 0) Seq(count(lit(1)).as("nn")) else Nil
        val row = data.select((hessCols ++ gradCols ++ nCols): _*).collect()(0)
        if (it == 0) {
          n = row.getLong(row.length - 1).toDouble
          require(n > 0, "trainQualityClassifier on an empty corpus")
        }
        val h = Array.ofDim[Double](d, d)
        var idx = 0
        for (i <- 0 until d; j <- i until d) {
          val v = row.getDecimal(idx).doubleValue / n
          h(i)(j) = v; h(j)(i) = v; idx += 1
        }
        val grad = Array.tabulate(d)(i =>
          row.getDecimal(idx + i).doubleValue / n - ridge * w(i))
        for (i <- 0 until d) h(i)(i) += ridge
        val step = solveLinear(h, grad)
        w = w.indices.map(i => w(i) + step(i)).toArray
      }
      w
    }
  }

  /** Train AND score in ONE corpus pass: the (doc_id, x, y) projection
    * persists once, the IRLS iterations fold over the cache, and the
    * scores project from the SAME cached columns — where the
    * train-then-[[qualityClassifierScores]] pair pays a second full
    * read of `documents` re-computing every feature expression. Bit-
    * identical output (same features, same gate, same weights — the
    * iterations see the same exact decimal sums). The returned frame
    * reads from the persisted projection; the session's
    * clearCache-between-queries discipline reclaims it. */
  def trainAndScoreQuality(docs: DataFrame, iters: Int = 8,
                           ridge: Double = 1e-4): DataFrame = {
    val data = Fanout(docs).select(col("doc_id"), classifierFeatures.as("x"),
        when(qualityOk, lit(1.0)).otherwise(lit(0.0)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val weights = trainOnPrepared(data, iters, ridge)
    val margin = weights.zipWithIndex.map { case (wj, j) =>
      lit(wj) * element_at(col("x"), j + 1) }.reduce(_ + _)
    data.select(col("doc_id"),
        col("y").cast("long").as("label"),
        round(lit(1.0) / (lit(1.0) + exp(-margin)), 4).as("p_quality"))
      .withColumn("pred", (col("p_quality") >= 0.5).cast("long"))
  }

  /** Score every document under trained weights: calibrated
    * probability (rounded to 4, the ranking contract), the 0.5-
    * threshold prediction, and the gate label for audit. One
    * embarrassing-parallel pass. */
  def qualityClassifierScores(docs: DataFrame,
                              weights: Array[Double]): DataFrame = {
    require(weights.length == ClassifierDim)
    val margin = weights.zipWithIndex.map { case (wj, j) =>
      lit(wj) * element_at(classifierFeatures, j + 1) }.reduce(_ + _)
    docs.select(col("doc_id"),
        when(qualityOk, 1L).otherwise(0L).as("label"),
        round(lit(1.0) / (lit(1.0) + exp(-margin)), 4).as("p_quality"))
      .withColumn("pred", (col("p_quality") >= 0.5).cast("long"))
  }

  /** Isotonic (pool-adjacent-violators) calibration of the cheap
    * length signal against the quality gate: bin the normalized score,
    * measure the per-bin empirical pass rate, then enforce
    * monotonicity by pooling adjacent violating bins (Ayer et al.
    * 1955) — the step after q179's AUC: AUC says the signal RANKS,
    * the isotonic fit turns it into a calibrated probability without
    * assuming a parametric shape.
    *
    * Scale shape: the corpus-sized work is ONE keyed aggregate down to
    * `nBins` rows; PAVA is inherently sequential but runs over those
    * ≤nBins rows on the driver (the trainQualityClassifier pattern —
    * driver work bounded by the domain, never the corpus). Pooled
    * means are exact rationals (Σpos/Σn of longs) divided once at the
    * end; deterministic under any layout. Rows-only for the driver
    * (the pooling recursion is not SQL-expressible); TextOpsSpec pins
    * monotonicity, weighted-mean preservation, a hand-verified pooling
    * example, and layout independence. */
  def isotonicCalibration(docs: DataFrame, nBins: Int = 20): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins in [2,10000], got $nBins")
    val spark = docs.sparkSession
    import spark.implicits._
    // monotone in the q179 signal (so the same ranking calibrates)
    // but capped at 1.0 rather than 4.0: the realistic length range
    // lands mid-scale instead of crowding the first bins
    val score = round(lengthSignal(1.0), 4)
    val binned = docs.select(
        least(floor(score * nBins), lit(nBins - 1)).cast("long").as("bin"),
        when(qualityOk, 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    // ≤ nBins rows by construction — bounded driver collect
    val rows = binned.orderBy(col("bin")).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"),
        r.getAs[Long]("n_pos")))
    // PAVA over (weight=n, sum=n_pos) blocks, ascending bin order
    final case class Block(lo: Long, hi: Long, w: Long, s: Long) {
      def mean: Double = s.toDouble / w
    }
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    rows.foreach { case (bin, n, pos) =>
      stack += Block(bin, bin, n, pos)
      while (stack.length >= 2 &&
          stack(stack.length - 2).mean > stack.last.mean) {
        val b = stack.remove(stack.length - 1)
        val a = stack.remove(stack.length - 1)
        stack += Block(a.lo, b.hi, a.w + b.w, a.s + b.s)
      }
    }
    val iso = stack.flatMap(b => (b.lo to b.hi).map(_ -> b.mean)).toMap
    val out = rows.map { case (bin, n, pos) =>
      (bin, bin.toDouble / nBins, n, pos,
        math.round(pos.toDouble / n * 10000).toDouble / 10000,
        math.round(iso(bin) * 10000).toDouble / 10000)
    }
    spark.createDataset(out.toSeq)
      .toDF("bin", "score_lo", "n", "n_pos", "raw_rate", "iso_rate")
      .orderBy(col("bin"))
  }

  /** Stopword-profile language ID. On real corpora the profiles would
    * be per-language n-gram tables; the heuristic shape (count marker
    * hits per language, argmax via CASE) is what matters and is
    * SQL-expressible for the oracle. */
  def langId(docs: DataFrame): DataFrame = {
    def hits(markers: Seq[String]): Column =
      markers.map(m => size(array_intersect(wordSet(col("text")), array(lit(m)))))
        .reduce(_ + _)
    val en = hits(Seq("the", "a", "of", "and"))
    val de = hits(Seq("der", "die", "das", "und"))
    val fr = hits(Seq("le", "la", "les", "et"))
    val es = hits(Seq("el", "los", "las", "y"))
    docs.select(col("doc_id"), col("lang"),
      when(de > en && de >= fr && de >= es, "de")
        .when(fr > en && fr >= es, "fr")
        .when(es > en, "es")
        .otherwise("en").as("pred_lang"))
  }

  /** Per-document Zipf/head statistics: hapax count, most frequent
    * term (min-term tiebreak for determinism) and its dominance ratio
    * — the "is this document one phrase repeated" signal that
    * complements [[repetitionStats]]. Shape: one explode + a (doc,
    * word) hash agg, then a window + final agg on the SAME doc_id key,
    * so the second stage reuses the first shuffle's partitioning (one
    * genuine shuffle over the token stream at any corpus size). */
  def zipfStats(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    val wMax = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    counts
      .withColumn("top_n", max(col("c")).over(wMax))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max(col("c")).as("top_count"),
        min(when(col("c") === col("top_n"), col("word"))).as("top_word"))
      .withColumn("top_ratio",
        round(col("top_count").cast("double") / col("n_words"), 4))
  }

  /** Deterministic stratified sampling: keep the `perStratum` docs
    * with the smallest md5(doc_id) per source — a fixed QUOTA per
    * stratum (vs [[stableSample]]'s fixed RATE). The md5 order is a
    * uniform, engine-independent permutation, so the quota is an
    * unbiased sample that any engine reproduces bit-identically. One
    * window shuffle on the stratum key. */
  def stratifiedSample(docs: DataFrame, perStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= perStratum)
  }

  /** Bloom-filter contamination screen: build a Bloom filter over the
    * eval set's token-set fingerprints ON THE EXECUTORS (the public
    * `stat.bloomFilter` aggregate — bitwise-OR merge, so the bits are
    * partitioning-independent), broadcast it, and flag training docs
    * whose fingerprint might be contained. At 100 TB this is the only
    * workable shape: the 100 TB train side is never shuffled — each
    * row probes a ~MB-sized broadcast bitset; the (bounded, tunable)
    * false-positive rate is the price, so the exact semi-join
    * ([[contamination]]) remains the precision pass over the
    * bloom-surviving slice. Returns flagged train rows only. */
  def bloomContamination(train: DataFrame, eval_ : DataFrame,
                         expectedEvalDocs: Long = 100000L,
                         fpp: Double = 0.01): DataFrame = {
    val fpCol = tokenSetFingerprint(col("text"))
    val bloom = eval_.select(fpCol.as("fp"))
      .stat.bloomFilter("fp", expectedEvalDocs, fpp)
    // probe via the native codegen'd expression (the sketch rides the
    // plan as a binary literal, deserialized once per executor)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    train.select(col("doc_id"), fpCol.as("fp"))
      .where(call_function("graft_bloom_contains", col("fp"), lit(out.toByteArray)))
  }

  /** Screen-then-verify bloom contamination with a no-false-negatives
    * AUDIT (r13, the oracle-promotion shape): the bloom screen runs as
    * in [[bloomContamination]], then the EXACT contaminated set (the
    * q70 fingerprint semi-join) is computed and each true positive
    * carries whether the screen flagged it. `bloom_flagged = false`
    * would be a false NEGATIVE — impossible by the bloom guarantee —
    * so an external oracle can assert the column as literal TRUE while
    * the row set is the exactly-recomputable contaminated set; a probe
    * regression (wrong hash family, truncated sketch bytes) flips it.
    * The screen's value at 100 TB is unchanged: candidates ⊆ scan, the
    * verify join touches only them. */
  def bloomContaminationAudit(train: DataFrame, eval_ : DataFrame,
                              expectedEvalDocs: Long = 100000L,
                              fpp: Double = 0.01): DataFrame = {
    val flagged = bloomContamination(train, eval_, expectedEvalDocs, fpp)
    val evalFps = eval_
      .select(tokenSetFingerprint(col("text")).as("fp")).distinct()
    train.select(col("doc_id"), tokenSetFingerprint(col("text")).as("fp"))
      .join(evalFps, Seq("fp"), "left_semi")
      .join(flagged.select(col("doc_id"),
        lit(true).as("bloom_flagged")), Seq("doc_id"), "left")
      .select(col("fp"), col("doc_id"),
        coalesce(col("bloom_flagged"), lit(false)).as("bloom_flagged"))
  }

  /** One row per DISTINCT word n-gram per document — the
    * substring-granularity unit shared by [[crossDocBoilerplate]] and
    * [[ngramContamination]]. Distinct per doc: a doc repeating its own
    * gram counts once (within-doc repetition is [[repetitionStats]]'
    * signal). Gram STRINGS, not hashes, so an external oracle compares
    * identical values. Docs shorter than n yield no rows. */
  private def distinctNgrams(docs: DataFrame, n: Int): DataFrame = {
    val words = split(coalesce(col("text"), lit("")), " ")
    Fanout(docs).select(col("doc_id"),
      explode(when(size(words) >= n,
        array_distinct(transform(sequence(lit(0), size(words) - lit(n)),
          i => concat_ws(" ", slice(words, i + lit(1), lit(n))))))
        .otherwise(array().cast("array<string>"))).as("g"))
  }

  /** N-gram decontamination (the GPT-3 appendix-C discipline): flag
    * every training document that shares ANY word n-gram with the
    * held-out eval set. Stricter than the whole-document fingerprint
    * check ([[contamination]]), which misses eval text quoted inside a
    * larger page. Emits one row per contaminated doc with the
    * shared-gram count and the lexicographically first shared gram as
    * evidence. 100 TB shape: the train side explodes to (doc, gram)
    * and probes the DISTINCT eval gram set — benchmark-sized by
    * contract, hence broadcast — so the train side is never shuffled
    * on the gram; the per-doc rollup is one keyed aggregation. */
  /** `maxTrainDf`: optional stop-gram cap. A shared gram appearing in
    * more than `maxTrainDf` TRAIN documents is boilerplate (site
    * chrome, license headers) — it cannot identify eval text, and on a
    * boilerplate-heavy corpus it is precisely the gram that floods the
    * flagged output. The capped form probes the corpus ONCE (the gram
    * projection is the dominant cost — rerunning it for a df pass
    * doubled q96), checkpoints the matched candidate rows (eval-shared
    * hits only — the same volume the uncapped aggregation consumes),
    * counts each gram's train df on that small table, and anti-joins
    * the hot grams back out. Semantics change by design: a doc whose
    * ONLY shared grams are boilerplate is no longer flagged. */
  def ngramContamination(train: DataFrame, eval_ : DataFrame,
                         n: Int = 5,
                         maxTrainDf: Option[Int] = None): DataFrame = {
    val evalGrams = distinctNgrams(eval_, n).select(col("g")).distinct()
    val matched0 = distinctNgrams(train, n)
      .join(broadcast(evalGrams), Seq("g"))
    val matched = maxTrainDf match {
      case None => matched0
      case Some(cap) =>
        // persist (not localCheckpoint): two consumers, shallow
        // recomputable lineage — executor loss degrades to recompute
        val evidence = matched0.persist(StorageLevel.MEMORY_AND_DISK)
        val hot = evidence.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select(col("g"))
        evidence.join(broadcast(hot), Seq("g"), "left_anti")
    }
    matched
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"),
        min(col("g")).as("first_gram"))
  }

  /** Concatenation packing (the GPT-style pretraining batcher): per
    * pack key (`source` here), documents are laid end-to-end in
    * doc_id order and the token stream is chopped into fixed
    * `budget`-word context windows. One row per (source, window):
    * how many documents touch it and the words it holds (== budget
    * everywhere but the tail window, asserted by spec). The running
    * offset is a window cumsum — packing is an ordered fold, so it is
    * per-key sequential by nature; at 100 TB the pack key is
    * (source, shard) and streams pack in parallel, which the single
    * `source` key models. A document spanning k windows explodes to k
    * rows, k ≈ len/budget — bounded by the doc length. Offsets use
    * integer DIV (never double division, which loses exactness past
    * 2^53 words). */
  def contextPacking(docs: DataFrame, budget: Int = 256): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    docs
      .select(col("source"), col("doc_id"),
        size(split(coalesce(col("text"), lit("")), " ")).cast("bigint").as("nw"))
      .withColumn("end", sum(col("nw")).over(w))
      .withColumn("start", col("end") - col("nw"))
      .withColumn("window_id", explode(sequence(
        expr(s"start DIV $budget"), expr(s"(`end` - 1) DIV $budget"))))
      .groupBy(col("source"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("end"), (col("window_id") + 1) * budget) -
          greatest(col("start"), col("window_id") * budget)).as("n_words"))
  }

  /** Quality-filter funnel: per source, how many documents each
    * curation rule rejects and how many survive all of them — the
    * observability table a production pipeline keeps so a filter
    * change is attributable BEFORE the 100 TB re-run. The rules are
    * the Gopher/C4-style signals of [[qualityScore]] and
    * [[repetitionStats]] evaluated inline: one scan, conditional
    * partial+final aggregation, no shuffle beyond the source key.
    * Flags compare the RAW ratios (quotients of small ints — identical
    * IEEE doubles on any engine), mirroring qualityScore's contract. */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val words = qualityWords
    val dupWordRatio =
      lit(1.0) - size(array_distinct(words)).cast("double") /
        size(words).cast("double")
    val shortFail = size(words) < QualityMinWords
    val stopFail = qualityStopRatio < QualityMinStopRatio
    val lenFail =
      !qualityMeanWordLen.between(QualityWordLenRange._1, QualityWordLenRange._2)
    val repFail = dupWordRatio > 0.5
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(shortFail, 1L).otherwise(0L)).as("n_short"),
      sum(when(stopFail, 1L).otherwise(0L)).as("n_low_stopword"),
      sum(when(lenFail, 1L).otherwise(0L)).as("n_bad_wordlen"),
      sum(when(repFail, 1L).otherwise(0L)).as("n_repetitive"),
      sum(when(!shortFail && !stopFail && !lenFail && !repFail, 1L)
        .otherwise(0L)).as("n_survivors"))
  }

  /** HTML → text extraction, the web-corpus front door before every
    * quality/dedup operator (raw crawl text is markup): a fixed chain
    * of codegen'd regexp projections, ORDER CONTRACTED because each
    * stage's correctness depends on the previous —
    *   1. `<script>`/`<style>` blocks removed WHOLE (their bodies may
    *      contain bare `<`/`>` that would corrupt tag stripping),
    *   2. comments removed (may contain markup),
    *   3. remaining tags stripped,
    *   4. entities decoded, `&amp;` LAST (else `&amp;lt;` would
    *      double-decode — the standard pitfall),
    *   5. whitespace collapsed and trimmed.
    * Pure per-row projection: zero shuffle, scales linearly. A real
    * browser-grade parser handles malformed nesting this regex chain
    * does not — the contract here is deterministic well-formed-markup
    * extraction, the q217 oracle replays the identical chain. */
  def htmlToText(html: Column): Column = {
    // (?i): tag names are case-insensitive in HTML — an uppercase
    // <SCRIPT> left unmatched would leak its body (and its bare `<`)
    // into the tag-strip stage (review r11)
    val noScript =
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&nbsp;" -> " ",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(from),
          java.util.regex.Matcher.quoteReplacement(to))
      }
    trim(regexp_replace(ent, "\\s+", " "))
  }
}
