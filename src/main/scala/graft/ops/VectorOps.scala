package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over embedding columns (`array<float>`).
  *
  * Hot paths are Catalyst expressions: the dot product is the native
  * `graft_dot` — codegen'd, left-to-right (deterministic)
  * accumulation in double.
  *
  * Scale design: the brute-force path broadcasts the (small) query
  * set against the corpus — linear in corpus size, the right baseline
  * for exact top-k. The LSH path buckets the corpus by a
  * random-hyperplane signature so candidate generation is a keyed
  * join, not a cross join; at 100 TB only the bucketed path runs, and
  * the signature computation is a single embarrassing-parallel
  * projection. */
object VectorOps {

  /** Element-wise dot product of two double-array columns: the native
    * codegen'd [[graft.functions.DotProduct]] (left-to-right
    * accumulation in double). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Corpus projected to (vec_id, v, n): double vector + its norm,
    * computed once. */
  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))

  /** Exact brute-force cosine top-k: the query side (a handful of
    * vectors) is broadcast; every corpus partition scores its rows
    * locally and a per-query top-k window keeps k rows. Ranking uses
    * the score rounded to 4 decimals with a vec_id tiebreak so the
    * result set is stable across engines and partitionings. */
  def cosineTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val corpus = prepared(embeddings)
    val qs = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
    val scored = corpus.join(broadcast(qs), col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("n") * col("qn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .select(col("query_id"), col("vec_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** One selected row of [[mmrRerank]]'s greedy loop. */
  private[ops] case class MmrPick(position: Int, vec_id: Long,
                                  relevance: Double, mmr_score: Double)

  /** Deterministic greedy MMR over one query's shortlist — pure
    * function of the rank-sorted candidate array, so the result is
    * identical under any partitioning. Scores are rounded to 4 BEFORE
    * the argmax (the cross-engine ranking contract) with a vec_id
    * tiebreak. `private[ops]` so the spec runs the IDENTICAL loop
    * against hand-computed picks. */
  private[ops] def mmrGreedy(cands: Seq[(Long, Double, Seq[Double])],
                             k: Int, lambda: Double): Seq[MmrPick] = {
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Seq[Double], Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (picked.length < k && remaining.nonEmpty) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < remaining.length) {
        val (id, rel, u) = remaining(i)
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.iterator.map { case (_, _, pu, _) =>
            var d = 0.0; var j = 0
            while (j < u.length) { d += u(j) * pu(j); j += 1 }
            d
          }.max
        val sc = math.round((lambda * rel - (1 - lambda) * maxSim) * 10000)
          .toDouble / 10000
        if (sc > bestScore ||
            (sc == bestScore && best >= 0 && id < remaining(best)._1)) {
          best = i; bestScore = sc
        }
        i += 1
      }
      val (id, rel, u) = remaining.remove(best)
      picked += ((id, rel, u, bestScore))
    }
    picked.toSeq.zipWithIndex.map { case ((id, rel, _, sc), pos) =>
      MmrPick(pos + 1, id, rel, sc)
    }
  }

  /** Maximal-marginal-relevance diversity rerank (Carbonell &
    * Goldstein 1998) of the exact cosine shortlist: from each query's
    * top-`shortlist` candidates, greedily keep `k` maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    * result-diversification step after retrieval (q172's RRF fuses
    * rankers; this de-dups what one ranker returns, e.g. so near-dup
    * documents don't fill a context window).
    *
    * Scale shape: the corpus-sized work is [[cosineTopK]] (broadcast
    * queries, per-partition scoring, top-k window). The greedy loop —
    * inherently sequential, O(k·shortlist) dots — runs per QUERY ROW
    * on a rank-sorted collected array of `shortlist` unit vectors, so
    * it is bounded by the shortlist size, never the corpus; a UDF is
    * the right tool at that altitude (per-query, not per-corpus-row).
    * Rows-only for the driver (greedy recursion is not SQL-
    * expressible); VectorOpsSpec pins the loop against hand-verified
    * picks and the diversity property on clustered vectors. */
  def mmrRerank(embeddings: DataFrame, queries: DataFrame, k: Int = 10,
                shortlist: Int = 30, lambda: Double = 0.7): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val short = cosineTopK(embeddings, queries, shortlist)
    // fetch-by-id for the shortlist members only (the PQ-rerank
    // pattern): broadcast the bounded id set so the corpus streams
    // through a broadcast join with no shuffle, and normalization
    // runs on the matched (queries x shortlist) rows, never
    // corpus-wide — cosineTopK already did the corpus-sized work
    val ids = short.select(col("vec_id")).distinct()
    val su = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(broadcast(ids), "vec_id")
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), transform(col("v"), x => x / col("n")).as("u"))
    val cands = short.join(su, "vec_id")
    val mmr = udf { (cs: Seq[org.apache.spark.sql.Row]) =>
      mmrGreedy(cs.map(r => (r.getLong(1), r.getDouble(2),
        r.getSeq[Double](3))), k, lambda)
    }
    cands.groupBy(col("query_id"))
      .agg(sort_array(collect_list(
        struct(col("rank"), col("vec_id"), col("cos"), col("u")))).as("cs"))
      .select(col("query_id"), explode(mmr(col("cs"))).as("p"))
      .select(col("query_id"), col("p.position"), col("p.vec_id"),
        col("p.relevance"), col("p.mmr_score"))
      .orderBy(col("query_id"), col("position"))
  }

  /** Seeded Gaussian random projection (Johnson–Lindenstrauss):
    * project `inDim`-dimensional embeddings to `outDim` via a fixed
    * N(0, 1/outDim) matrix — the cheap, data-independent
    * dimensionality reduction beside [[pcaProject]] (which needs a
    * covariance pass; JL needs none and its distortion bound is
    * distribution-free). The matrix is seeded and driver-built
    * (outDim × inDim doubles — KBs), shipped as literal arrays inside
    * the dot expressions, so every executor sees bit-identical
    * planes and the output is layout-independent; per-row work is
    * outDim codegen'd dots, zero shuffles. Output coordinates are
    * UNROUNDED (downstream ops round-then-rank per the contract). */
  def randomProject(embeddings: DataFrame, outDim: Int, inDim: Int,
                    seed: Long = 42L): DataFrame = {
    require(outDim >= 1 && inDim >= 1)
    val rnd = new scala.util.Random(seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val planes = Seq.fill(outDim)(Array.fill(inDim)(rnd.nextGaussian() * scale))
    embeddings.select(col("vec_id"),
      array(planes.map(p => dot(asDouble(col("embedding")),
        array(p.toIndexedSeq.map(lit): _*))): _*).as("embedding"))
  }

  /** Fixed random hyperplanes (seeded — identical across executors and
    * runs). */
  private def hyperplanes(bits: Int, dim: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane (SimHash-for-vectors) signature: bit j is the
    * sign of ⟨v, h_j⟩. Vectors with small angle share signatures with
    * high probability. */
  def lshSignature(v: Column, bits: Int, dim: Int): Column =
    hyperplanes(bits, dim).zipWithIndex.map { case (h, j) =>
      when(dot(v, array(h.toIndexedSeq.map(lit): _*)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: candidates share the query's LSH bucket; the
    * per-bucket join replaces the corpus × query cross join. Recall
    * trades off with `bits` (more bits → smaller buckets). */
  def annTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 8, dim: Int = 64): DataFrame = {
    val corpus = prepared(embeddings)
      .withColumn("sig", lshSignature(col("v"), bits, dim))
    val qs = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
      .withColumn("qsig", lshSignature(col("qv"), bits, dim))
    val scored = corpus
      .join(broadcast(qs),
        col("sig") === col("qsig") && col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("n") * col("qn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .select(col("query_id"), col("vec_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic Lloyd's k-means over a driver-local sample: the
    * coarse-quantizer training step of IVF. Init takes k evenly-spaced
    * points of the (id-sorted) sample; empty cells keep their previous
    * center. Pure local arithmetic — identical centers on any cluster
    * layout, no per-iteration Spark jobs. */
  private def localKMeans(points: Array[Array[Double]], k: Int,
                          iters: Int): Array[Array[Double]] = {
    val n = points.length
    val m = math.min(k, n)
    // stride by the actual center count m, not k: dividing by k when
    // n < k would pick duplicate points, and duplicate centers freeze
    // forever (ties resolve to the lower cell, the dup never gets rows)
    var centers = Array.tabulate(m)(i => points((i.toLong * n / m).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(centers.length)(new Array[Double](points(0).length))
      val counts = new Array[Long](centers.length)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var i = 0
        while (i < centers.length) {
          var d = 0.0; var j = 0
          val c = centers(i)
          while (j < p.length) { val t = p(j) - c(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        counts(best) += 1
        val s = sums(best); var j = 0
        while (j < p.length) { s(j) += p(j); j += 1 }
      }
      centers = centers.indices.map { i =>
        if (counts(i) == 0) centers(i)
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    centers
  }

  /** Quantizer encode — all three call shapes (coarse cell, IVF
    * multi-assignment, PQ codes) through ONE column: per subspace
    * (widths from the codebook shapes, laid end-to-end), the
    * `nAssign` nearest center indices by ‖v‖² − 2⟨v,cᵢ⟩ + ‖cᵢ‖² (the
    * ‖v‖² term dropped), ties to the lower index. The native
    * [[graft.functions.PqEncode]] — one codegen'd pass per row, no
    * UDF, no ML vector conversion. */
  private def pqEncode(v: Column, books: Array[Array[Array[Double]]],
                       nAssign: Int): Column =
    call_function("graft_pq_encode", v,
      typedLit(books.map(_.map(_.toSeq).toSeq).toSeq), lit(nAssign))

  /** IVF-style approximate top-k: a coarse quantizer partitions the
    * corpus into cells; each query probes its `nProbe` nearest cells
    * and scores only those candidates. The 100 TB shape: the quantizer
    * trains driver-side on a bounded deterministic sample (every m-th
    * vec_id — layout-independent, unlike `sample()`), cell assignment
    * is one embarrassingly-parallel codegen'd pass, and the probe join
    * is keyed by cell — candidate volume scales with
    * corpus/nCells · nProbe, not with the corpus. */
  /** Bounded, layout-independent training sample in ONE corpus pass:
    * take the maxTrain smallest rows by (hash(id), id). The hash
    * order is a uniform pseudo-random draw regardless of id patterns
    * (all-even ids, offset strides), the id tiebreak makes the order
    * total, and orderBy+limit plans TakeOrderedAndProject —
    * per-partition heaps + driver merge, never a full sort and never
    * a separate count() scan (the previous modulo-sample shape read
    * the corpus twice). Deterministic on any cluster layout. */
  private def trainSample(corpus: DataFrame, maxTrain: Int): Array[Array[Double]] =
    corpus.select(col("vec_id"), col("v"))
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000000007L)), col("vec_id"))
      .limit(maxTrain)
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)

  /** Derived default cell count when the caller passes `nCells <= 0`:
    * ≈ √n clamped to [16, 65536] — the standard IVF sizing (cells and
    * expected cell population both grow as √n, so probe cost and
    * per-cell scan cost stay balanced as the corpus scales; 16 keeps
    * tiny corpora from degenerating to 1-row cells, 65536 caps the
    * centroid broadcast at a few MB). Costs one count() over the
    * (column-pruned) corpus projection — only on the auto path, and
    * only at BUILD time; explicit `nCells` skips it. Without this, a
    * user taking defaults at 100 TB would get 16-key shuffles and
    * multi-TB cell partitions (VERDICT r8 #3). */
  private def autoCells(corpus: DataFrame, nCells: Int): Int =
    if (nCells > 0) nCells
    else math.min(65536L, math.max(16L,
      math.round(math.sqrt(corpus.count().toDouble)))).toInt

  /** Collect at most `limit + 1` prepared query rows in ONE
    * limit-pushdown job: Some(rows) when the set fits the driver fast
    * path, None when the batch is large and must stay distributed.
    * (A separate count-then-collect would evaluate the query-side
    * lineage twice.)
    *
    * DETERMINISM CONTRACT: the `queries` plan must be deterministic
    * (no sample()/limit-over-unordered upstream). The collect here and
    * the distributed path's re-evaluation are separate jobs over the
    * same lineage; a nondeterministic plan could flip the small/large
    * branch decision or probe different rows than it scores. The
    * index-maintenance paths stage their inputs durably for the same
    * reason; a probe is read-only, so the contract is documentation,
    * not a checkpoint (ADVICE r8). */
  private def smallQueryRows(qs: DataFrame,
                             limit: Int): Option[Array[org.apache.spark.sql.Row]] = {
    if (limit <= 0) return None
    val rows = qs.limit(limit + 1).collect()
    if (rows.length <= limit) Some(rows) else None
  }

  /** nProbe nearest coarse cells per center, BIT-IDENTICAL to the
    * expression path's ranking: the same −2⟨q,c⟩ + ‖c‖² IEEE sequence
    * [[graft.functions.PqEncode]] evaluates (a full ‖q−c‖² would round
    * differently in the last ulp and could order a near-tie across
    * the two paths differently), stable ascending sort → lower cell
    * id wins ties, matching the struct ordering of `array_sort`. */
  private def nearestCells(qv: Array[Double], centers: Array[Array[Double]],
                           c2: Array[Double], nProbe: Int): Seq[Int] =
    centers.indices.map { i =>
      val c = centers(i)
      var dot = 0.0; var j = 0
      while (j < qv.length) { dot += qv(j) * c(j); j += 1 }
      (i, dot * -2.0 + c2(i))
    }.sortBy(_._2).take(nProbe).map(_._1)

  /** Squared center norms, computed exactly as the expression path's
    * literal constants. */
  private def centerNorms2(centers: Array[Array[Double]]): Array[Double] =
    centers.map(c => c.map(x => x * x).sum)

  /** Driver-side probe rows for a SMALL query set. */
  private def driverProbes(qRows: Array[org.apache.spark.sql.Row],
                           centers: Array[Array[Double]],
                           nProbe: Int): Array[(Long, Int, scala.collection.Seq[Double], Double)] = {
    val c2 = centerNorms2(centers)
    qRows.flatMap { r =>
      val qv = r.getAs[scala.collection.Seq[Double]]("qv").toArray
      nearestCells(qv, centers, c2, nProbe)
        .map(cell => (r.getAs[Long]("query_id"), cell,
          r.getAs[scala.collection.Seq[Double]]("qv"), r.getAs[Double]("qn")))
    }
  }

  /** `nCells <= 0` (the default) auto-sizes to ≈√n ([[autoCells]]). */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 0, nProbe: Int = 4,
              maxTrain: Int = 4096, driverProbeLimit: Int = 1024): DataFrame = {
    val corpus = prepared(embeddings)
    val trainRows = trainSample(corpus, maxTrain)
    if (trainRows.isEmpty) {
      // empty corpus: no cells to build — return the empty result shape
      val spark0 = embeddings.sparkSession
      import spark0.implicits._
      return spark0.emptyDataset[(Long, Long, Double, Int)]
        .toDF("query_id", "vec_id", "cos", "rank")
        .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
    }
    val centers = localKMeans(trainRows, autoCells(corpus, nCells), iters = 5)
    val celled = corpus.withColumn("cell",
      element_at(pqEncode(col("v"), Array(centers), 1), 1))
    cellProbeTopK(embeddings.sparkSession, celled, centers, queries, k,
      nProbe, driverProbeLimit)
  }

  /** The shared probe/score/rank tail of [[ivfTopK]] (freshly-trained
    * cells) and [[storedIndexTopK]] (parquet-stored cells): ONE copy of
    * the bit-identity-critical two-path probe assignment. A query set
    * small enough to sit on the driver collects there and BROADCASTS
    * (the corpus never shuffles); anything bigger stays distributed —
    * the nProbe nearest cells come from the SAME quantizer-encode
    * expression the corpus pass uses (nAssign = nProbe), so a
    * 100k-query batch never serializes through the driver. The
    * cell-keyed join then shuffles on nCells keys; size nCells to the
    * corpus (≥ thousands at scale) and AQE's skew split handles hot
    * cells. */
  private def cellProbeTopK(spark: SparkSession, celled: DataFrame,
                            centers: Array[Array[Double]],
                            queries: DataFrame, k: Int, nProbe: Int,
                            driverProbeLimit: Int): DataFrame = {
    import spark.implicits._
    val nP = math.min(nProbe, centers.length)
    val qs = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
    val probed = smallQueryRows(qs, driverProbeLimit) match {
      case Some(qRows) =>
        broadcast(spark.createDataset(
            driverProbes(qRows, centers, nP).toSeq)
          .toDF("query_id", "qcell", "qv", "qn"))
      case None =>
        qs.withColumn("qcell",
          explode(pqEncode(col("qv"), Array(centers), nP)))
          .select(col("query_id"), col("qcell"), col("qv"), col("qn"))
    }
    val scored = celled.join(probed,
      celled("cell") === probed("qcell") && col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(dot(col("v"), col("qv")) / (col("n") * col("qn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .select(col("query_id"), col("vec_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Distributed Lloyd's k-means refinement — the missing middle
    * between the bounded-sample quantizer training ([[localKMeans]],
    * O(sample)) and the corpus: initial centers come from the driver
    * sample, then `iters` FULL-CORPUS rounds refine them, and a final
    * pass reports per-cell statistics under the refined centers.
    *
    * Each round is one job with only bounded driver state:
    *   - assignment is the same codegen'd quantizer-encode expression
    *     every IVF path uses (no UDF, bit-identical tie handling);
    *   - the sufficient statistics (count, Σv, Σ‖v‖² per cell) arrive
    *     as posexploded (cell, pos) DECIMAL sums — map-side combine
    *     ships ≤ nCells·dim rows per partition, and the driver
    *     collects nCells·dim values, the same order of magnitude as
    *     the center broadcast it sends back out;
    *   - DECIMAL accumulation makes every round EXACT and therefore
    *     layout-independent: double sums would let the partitioning
    *     leak into centroid bits and flip boundary assignments (the
    *     q93 discipline applied to learning).
    * Empty cells keep their previous center (the [[localKMeans]]
    * contract). Lloyd's monotonically decreases the total within-cell
    * sum of squares; VectorOpsSpec pins non-increase per round, layout
    * independence, and parity with a local reference.
    *
    * Returns one row per non-empty cell: (cell, n_rows, rss,
    * mean_dist) with rss = Σ‖v−c‖² recovered exactly from the sums as
    * Σ‖v‖² − 2⟨Σv,c⟩ + n‖c‖². */
  def kmeansRefine(embeddings: DataFrame, nCells: Int = 0, iters: Int = 5,
                   maxTrain: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = prepared(embeddings).select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val trainRows = trainSample(corpus, maxTrain)
      if (trainRows.isEmpty)
        return spark.emptyDataset[(Int, Long, Double, Double)]
          .toDF("cell", "n_rows", "rss", "mean_dist")
      val k = autoCells(corpus, nCells)
      var centers = localKMeans(trainRows, k, iters = 5)
      val dim = trainRows(0).length

      // one full-corpus pass: per-cell (count, Σx per dim, ΣΣx²) via
      // the momentStats accumulator shape — per-partition fixed-point
      // sums of [[quantize12]]-quantized terms (exact ⇒ layout-
      // independent), one partial row per (partition, non-empty cell),
      // driver merge exact. Assignment runs the SAME −2⟨v,c⟩+‖c‖²
      // IEEE sequence as [[nearestCells]]/the quantizer expression,
      // strict-< ties to the lower cell — bit-identical to the probe
      // side. No explode, no shuffle; per-row cost is the k·d
      // distance arithmetic Lloyd's inherently needs.
      def cellStats(cs: Array[Array[Double]]): Map[Int, (Long, Array[Double], Double)] = {
        val c2 = centerNorms2(cs)
        val bc = spark.sparkContext.broadcast((cs, c2))
        val partials = corpus.select(col("v")).as[Seq[Double]]
          .mapPartitions { it =>
            val (cen, cn2) = bc.value
            val kk = cen.length
            val counts = new Array[Long](kk)
            val sumL = Array.ofDim[Long](kk, dim)
            val sumB = Array.fill(kk, dim)(java.math.BigDecimal.ZERO)
            val sxxL = new Array[Long](kk)
            val sxxB = Array.fill(kk)(java.math.BigDecimal.ZERO)
            var since = 0
            def spill(): Unit = {
              var c = 0
              while (c < kk) {
                var j = 0
                while (j < dim) {
                  if (sumL(c)(j) != 0L) {
                    sumB(c)(j) = sumB(c)(j)
                      .add(java.math.BigDecimal.valueOf(sumL(c)(j), 12))
                    sumL(c)(j) = 0L
                  }
                  j += 1
                }
                if (sxxL(c) != 0L) {
                  sxxB(c) = sxxB(c)
                    .add(java.math.BigDecimal.valueOf(sxxL(c), 12))
                  sxxL(c) = 0L
                }
                c += 1
              }
              since = 0
            }
            it.foreach { v =>
              val a = v.toArray
              var best = 0; var bestD = Double.MaxValue
              var i = 0
              while (i < kk) {
                val c = cen(i)
                var dot = 0.0; var j = 0
                while (j < dim) { dot += a(j) * c(j); j += 1 }
                val d = dot * -2.0 + cn2(i)
                if (d < bestD) { bestD = d; best = i }
                i += 1
              }
              counts(best) += 1L
              var j = 0
              while (j < dim) {
                sumL(best)(j) += quantize12(a(j))
                sxxL(best) += quantize12(a(j) * a(j))
                j += 1
              }
              since += 1
              if (since == 4096) spill()
            }
            spill()
            (0 until kk).iterator.filter(counts(_) > 0L).map(c =>
              (c, counts(c), sumB(c).map(_.toString).toSeq, sxxB(c).toString))
          }
          // reduce BY CELL in the cluster, never a flat driver
          // collect: the per-(partition, cell) partials number
          // O(partitions × cells) at scale, while the driver only ever
          // needs the k merged rows. BigDecimal addition is
          // associative/commutative, so the keyed partial+final
          // reduction is exactly the old sequential fold (review r12).
          .groupByKey(_._1)
          .reduceGroups { (a, b) =>
            (a._1, a._2 + b._2,
              a._3.zip(b._3).map { case (x, y) =>
                new java.math.BigDecimal(x)
                  .add(new java.math.BigDecimal(y)).toString },
              new java.math.BigDecimal(a._4)
                .add(new java.math.BigDecimal(b._4)).toString)
          }
          .map(_._2)
          .collect()
        partials.iterator.map { case (cell, cnt, ss, xx) =>
          cell -> ((cnt,
            ss.iterator.map(s => new java.math.BigDecimal(s).doubleValue)
              .toArray,
            new java.math.BigDecimal(xx).doubleValue))
        }.toMap
      }

      for (_ <- 0 until iters) {
        val stats = cellStats(centers)
        centers = centers.indices.map { i =>
          stats.get(i) match {
            case Some((n, sx, _)) => sx.map(_ / n)
            case None => centers(i)
          }
        }.toArray
      }
      // report under the FINAL centers
      val fin = cellStats(centers)
      val rows = fin.toSeq.sortBy(_._1).map { case (cell, (n, sx, sxx)) =>
        val c = centers(cell)
        var dot = 0.0; var c2 = 0.0; var j = 0
        while (j < dim) { dot += sx(j) * c(j); c2 += c(j) * c(j); j += 1 }
        val rss = math.max(0.0, sxx - 2.0 * dot + n * c2)
        (cell, n, math.rint(rss * 10000) / 10000,
          math.rint(math.sqrt(rss / n) * 10000) / 10000)
      }
      spark.createDataset(rows).toDF("cell", "n_rows", "rss", "mean_dist")
    } finally corpus.unpersist(blocking = false)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — pure
    * driver-side double arithmetic, deterministic (fixed sweep order,
    * fixed convergence test), O(d³) for the d×d covariance where d is
    * the embedding width (64 here, ≤ a few thousand in practice) —
    * never corpus-scale. Returns (eigenvalues, eigenvectors as rows),
    * unsorted. */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-22) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) off += a(p)(q) * a(p)(q)
      if (off > 1e-22) {
        for (p <- 0 until d; q <- p + 1 until d) if (a(p)(q) != 0.0) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) match {
            case 0.0 => 1.0
            case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          }
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (j <- 0 until d) {
            val apj = a(p)(j); val aqj = a(q)(j)
            a(p)(j) = c * apj - s * aqj
            a(q)(j) = s * apj + c * aqj
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d, d)((j, i) => v(i)(j)))
  }

  /** Fixed-point quantization of one moment term: 12 decimal places,
    * half-up toward +∞ (`Math.round` of the 1e12-scaled double).
    * Quantizing every term BEFORE any summation is what makes the
    * moment sums exact integer arithmetic and therefore
    * layout-independent — the same guarantee the decimal(30,12) casts
    * give elsewhere, at a fraction of the cost. */
  private[ops] def quantize12(x: Double): Long = math.round(x * 1e12)

  /** Exact covariance sufficient statistics in ONE corpus pass: n, the
    * per-dim sums Σxᵢ and the upper-triangle second moments Σxᵢxⱼ.
    * This is the MLlib Gramian shape (RowMatrix
    * .computeGramianMatrix's treeAggregate, re-expressed on Dataset):
    * each partition accumulates all d(d+3)/2 entries locally — terms
    * quantized to fixed-point 1e-12 ([[quantize12]]) so the
    * accumulation is exact integer math, long accumulators spilling
    * into BigDecimal every 4096 rows (bounded-magnitude contract:
    * |term| < 2e3, generous for unit-scale embeddings) — and emits
    * ONE partial row; the driver merges ≤ numPartitions partials
    * exactly. No explode, no shuffle, no per-element row
    * materialization: the per-row cost is the d²/2 multiplies the
    * Gram matrix inherently needs. Exact partials of exactly-
    * quantized terms sum associatively ⇒ bit-identical on any
    * partitioning. */
  private def momentStats(corpus: DataFrame, dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nEntries = dim + dim * (dim + 1) / 2
    val partials = corpus.select(col("v")).as[Seq[Double]]
      .mapPartitions { it =>
        val accL = new Array[Long](nEntries)
        val accB = Array.fill(nEntries)(java.math.BigDecimal.ZERO)
        var sinceSpill = 0
        var count = 0L
        def spill(): Unit = {
          var k = 0
          while (k < nEntries) {
            if (accL(k) != 0L) {
              accB(k) = accB(k).add(java.math.BigDecimal.valueOf(accL(k), 12))
              accL(k) = 0L
            }
            k += 1
          }
          sinceSpill = 0
        }
        it.foreach { v =>
          val a = v.toArray
          var k = 0
          var i = 0
          while (i < dim) { accL(k) += quantize12(a(i)); k += 1; i += 1 }
          i = 0
          while (i < dim) {
            val ai = a(i)
            var j = i
            while (j < dim) { accL(k) += quantize12(ai * a(j)); k += 1; j += 1 }
            i += 1
          }
          count += 1L
          sinceSpill += 1
          if (sinceSpill == 4096) spill()
        }
        spill()
        if (count == 0L) Iterator.empty
        else Iterator.single((count, accB.map(_.toString).toSeq))
      }
    // TREE-reduce the per-partition partials (depth 2): a flat
    // collect ships partitions × (dim + dim(dim+1)/2) decimal strings
    // through the driver — tens of GB at the 100 TB partition counts
    // this one-pass moment accumulation exists for. BigDecimal
    // addition is associative/commutative, so any reduction tree
    // yields the exact same sums (review r12). The zero-count empty
    // sentinel keeps treeAggregate total on empty corpora.
    def mergeP(a: (Long, Seq[String]),
               b: (Long, Seq[String])): (Long, Seq[String]) =
      if (a._1 == 0L) b
      else if (b._1 == 0L) a
      else (a._1 + b._1,
        a._2.zip(b._2).map { case (x, y) =>
          new java.math.BigDecimal(x).add(new java.math.BigDecimal(y))
            .toString })
    val (n, mergedStrs) = partials.rdd.treeAggregate(
      (0L, Seq.empty[String]))(mergeP, mergeP, depth = 2)
    val merged =
      if (n == 0L) Array.fill(nEntries)(java.math.BigDecimal.ZERO)
      else mergedStrs.iterator.map(new java.math.BigDecimal(_)).toArray
    val sums = new Array[Double](dim)
    val prods = Array.ofDim[Double](dim, dim)
    var k = 0
    var i = 0
    while (i < dim) { sums(i) = merged(k).doubleValue; k += 1; i += 1 }
    i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val s = merged(k).doubleValue
        prods(i)(j) = s; prods(j)(i) = s; k += 1; j += 1
      }
      i += 1
    }
    (n, sums, prods)
  }

  /** PCA basis from the exact one-pass moments: population covariance
    * C = E[xxᵀ] − μμᵀ, Jacobi eigensolve on the driver, components
    * sorted by eigenvalue descending (index tiebreak) with a
    * deterministic sign convention (the largest-|coordinate| entry is
    * made positive; earliest index wins magnitude ties). Returns
    * (n, mean, all d eigenvalues desc, top-k component rows). */
  def pcaBasis(embeddings: DataFrame, k: Int,
               dim: Int = 64): (Long, Array[Double], Array[Double], Array[Array[Double]]) = {
    val corpus = prepared(embeddings).select(col("vec_id"), col("v"))
    val (n, sums, prods) = momentStats(corpus, dim)
    require(n > 0, "pcaBasis on an empty corpus")
    val mean = sums.map(_ / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      prods(i)(j) / n - mean(i) * mean(j))
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => (-evals(i), i))
    val topk = order.take(k).map { i =>
      val e = evecs(i)
      var best = 0
      for (j <- 1 until dim)
        if (math.abs(e(j)) > math.abs(e(best))) best = j
      if (e(best) < 0) e.map(x => -x) else e.clone()
    }.toArray
    (n, mean, order.map(evals).toArray, topk)
  }

  /** Project every vector onto the top-k principal components — the
    * embedding-compression / visualization pass. The basis is O(k·d)
    * literals broadcast inside the plan; the projection is one
    * codegen'd pass of k dot products per row (⟨v,e⟩ − ⟨μ,e⟩, the
    * centered form with the constant folded driver-side), rounded to
    * 4 for cross-layout stability. Rows-only by nature (the eigen
    * recursion is not SQL-expressible); VectorOpsSpec pins the
    * eigen-residual ‖Ce − λe‖, orthonormality, explained-variance
    * ordering and layout independence. */
  def pcaProject(embeddings: DataFrame, k: Int, dim: Int = 64): DataFrame = {
    val (_, mean, _, basis) = pcaBasis(embeddings, k, dim)
    val corpus = prepared(embeddings).select(col("vec_id"), col("v"))
    val pcs = basis.zipWithIndex.map { case (e, j) =>
      val shift = e.zip(mean).map { case (ei, mi) => ei * mi }.sum
      round(dot(col("v"), array(e.toIndexedSeq.map(lit): _*)) - lit(shift), 4)
        .as(s"pc${j + 1}")
    }
    corpus.select(col("vec_id") +: pcs.toIndexedSeq: _*)
      .orderBy(col("vec_id"))
  }

  /** IVF+PQ approximate top-k (the FAISS-style index pipeline):
    * 1. the coarse quantizer prunes each query to its nProbe nearest
    *    cells (candidates ∝ corpus/nCells · nProbe, as in [[ivfTopK]]);
    * 2. per-subspace product-quantization codes turn candidate scoring
    *    into `subs` table lookups (asymmetric distance computation)
    *    instead of a full dim-width dot product — at 100 TB the codes
    *    are the only per-row state the scoring pass touches, 8 bytes
    *    of ints versus 512 bytes of raw floats per vector;
    * 3. the `rerank` best ADC candidates per query are re-scored with
    *    the EXACT cosine, so reported scores are exact and only RECALL
    *    is approximate.
    * Training is driver-side Lloyd's over one bounded
    * layout-independent sample (coarse centers + `subs` codebooks —
    * O(sample), constant in corpus size); encoding is one codegen'd
    * expression-argmin pass per subspace; the ADC sum is an
    * element_at lookup chain — no UDF anywhere. Rows-only by nature
    * (index-specific shortlists); VectorOpsSpec pins recall vs the
    * exact path and exactness of the reported scores. */
  def pqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
             nCells: Int = 0, nProbe: Int = 4,
             subs: Int = 8, codebookSize: Int = 16, rerank: Int = 64,
             maxTrain: Int = 4096, driverProbeLimit: Int = 1024): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = prepared(embeddings)
    val trainRows = trainSample(corpus, maxTrain)
    if (trainRows.isEmpty) {
      return spark.emptyDataset[(Long, Long, Double, Int)]
        .toDF("query_id", "vec_id", "cos", "rank")
    }
    val dim = trainRows(0).length
    require(dim % subs == 0, s"dim $dim not divisible into $subs subspaces")
    val w_ = dim / subs
    val coarse = localKMeans(trainRows, autoCells(corpus, nCells), iters = 5)
    val books: Array[Array[Array[Double]]] = Array.tabulate(subs) { s =>
      localKMeans(trainRows.map(_.slice(s * w_, (s + 1) * w_)),
        codebookSize, iters = 5)
    }
    // encode: coarse cell + one expression-argmin per subspace
    val coded = corpus
      .withColumn("cell", element_at(pqEncode(col("v"), Array(coarse), 1), 1))
      .withColumn("codes", pqEncode(col("v"), books, 1))
    val probeDf = pqProbeDf(spark, queries, coarse, books, subs,
      codebookSize, w_, nProbe, driverProbeLimit)
    // v rides the coded rows, so the rerank needs no fetch
    exactRerank(adcShortlist(coded, probeDf, subs, codebookSize, rerank), k)
  }

  /** Exact-cosine rerank tail shared by [[pqTopK]] and
    * [[storedPqIndexTopK]] — ONE copy of the driver-contract-critical
    * round-to-4 / vec_id-tiebreak / rank ≤ k rendering. Expects
    * (query_id, vec_id, v, n, qv, qn) on every shortlist row. */
  private def exactRerank(shortlist: DataFrame, k: Int): DataFrame = {
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .withColumn("cos",
        round(dot(col("v"), col("qv")) / (col("n") * col("qn")), 4))
      .select(col("query_id"), col("vec_id"), col("cos"))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** PQ probe rows (query_id, qcell, tbl, qv, qn): probe cells plus
    * the flattened per-subspace ADC table of partial dots ⟨q_s,
    * center⟩ — driver-built + broadcast for a contract-small query
    * set, computed as COLUMNS (the same quantizer-encode expression
    * plus subs·codebookSize width-w dot products per row) for a large
    * batch so probing never serializes through the driver. ONE copy
    * serves [[pqTopK]] (freshly trained) and [[storedPqIndexTopK]]
    * (books read back from the index). */
  private def pqProbeDf(spark: SparkSession, queries: DataFrame,
                        coarse: Array[Array[Double]],
                        books: Array[Array[Array[Double]]],
                        subs: Int, codebookSize: Int, w_ : Int,
                        nProbe: Int, driverProbeLimit: Int): DataFrame = {
    import spark.implicits._
    val nP = math.min(nProbe, coarse.length)
    val qs = prepared(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
    smallQueryRows(qs, driverProbeLimit) match {
      case Some(qRows) =>
        val coarse2 = centerNorms2(coarse)
        val probes = qRows.flatMap { r =>
          val qv = r.getAs[scala.collection.Seq[Double]]("qv").toArray
          val table = Array.tabulate(subs * codebookSize) { i =>
            val s = i / codebookSize
            val book = books(s)
            val c = i % codebookSize
            // tiny corpora train fewer than codebookSize centers; codes
            // never reference the missing slots, so any filler works
            if (c >= book.length) 0.0
            else {
              val cen = book(c)
              var d = 0.0; var j = 0
              while (j < w_) { d += qv(s * w_ + j) * cen(j); j += 1 }
              d
            }
          }
          nearestCells(qv, coarse, coarse2, nP).map { cell =>
            (r.getAs[Long]("query_id"), cell, table.toSeq, qv.toSeq,
              r.getAs[Double]("qn"))
          }
        }
        broadcast(spark.createDataset(probes.toSeq)
          .toDF("query_id", "qcell", "tbl", "qv", "qn"))
      case None =>
        // ⟨q_s, center_c⟩ laid out with codebookSize stride to match the
        // ADC lookup arithmetic; missing slots in under-trained books
        // get the same 0.0 filler as the driver path
        val tblCol = array((for {
          s <- 0 until subs; c <- 0 until codebookSize
        } yield {
          if (c >= books(s).length) lit(0.0)
          else dot(slice(col("qv"), s * w_ + 1, w_),
            array(books(s)(c).toIndexedSeq.map(lit): _*))
        }): _*)
        qs.withColumn("tbl", tblCol)
          .withColumn("qcell",
            explode(pqEncode(col("qv"), Array(coarse), nP)))
          .select(col("query_id"), col("qcell"), col("tbl"), col("qv"), col("qn"))
    }
  }

  /** ADC shortlist shared by [[pqTopK]] and [[storedPqIndexTopK]]:
    * approx ⟨q,x⟩ = Σ_s tbl[s·B + code_s] — `subs` lookups per
    * candidate. Divide by the candidate norm (on the coded rows) so
    * the shortlist is ranked by approximate COSINE, matching the final
    * metric — an unnormalized inner product biases the shortlist
    * toward large-norm vectors and silently costs recall (ADVICE r5).
    * The query norm is constant within a partition, so it can't
    * change the order and is left out. A zero-norm vector would make
    * the quotient NaN — which sorts FIRST under desc and would steal
    * a rerank slot in every query's shortlist — so it degrades to
    * null instead (desc default NULLS LAST: ranked dead last, and
    * its exact cosine is NaN-filtered by the final threshold anyway).
    * Returns the `rerank` best candidates per query with every column
    * of `coded` plus (query_id, qv, qn). */
  private def adcShortlist(coded: DataFrame, probeDf: DataFrame,
                           subs: Int, codebookSize: Int,
                           rerank: Int): DataFrame = {
    val adc = (0 until subs).map { s =>
      element_at(col("tbl"),
        (lit(s * codebookSize) + element_at(col("codes"), s + 1) + lit(1)).cast("int"))
    }.reduce(_ + _) / when(col("n") > 0, col("n"))
    val shortW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    coded.join(probeDf,
        coded("cell") === probeDf("qcell") && col("query_id") =!= col("vec_id"))
      .withColumn("adc", adc)
      .withColumn("srank", row_number().over(shortW))
      .where(col("srank") <= rerank)
  }

  /** Per-label centroid of the embedding column, one row per (label,
    * dimension): positional explode + a partial+final average — the
    * keyed-aggregation shape (labels × dims keys, map-side combine),
    * never a per-label collect. Elements are decimal-cast before the
    * average (exact, associative — identical under any partitioning)
    * and the mean is rounded to 4 and exported as double, per the
    * cross-engine convention. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).cast("bigint").as("pos"))
      .agg(
        round(avg(col("col").cast("double").cast("decimal(18,8)")), 4)
          .cast("double").as("mean_val"),
        count(lit(1)).as("n_vectors"))

  /** Distance-to-label-centroid outlier screen — the embedding-side
    * mislabel/noise detector a curation pipeline runs after labeling:
    * each vector's Euclidean distance to ITS label's centroid is
    * z-scored against that label's distance distribution, and vectors
    * beyond `zMin` surface for review. Fully oracled: the squared-
    * distance TERMS are rounded to 8 decimals and decimal-summed per
    * vector (associative ⇒ layout-independent, and a plain SQL sum —
    * an index-ordered double fold would tie the result to summation
    * order), distances rounded to 4 before the moment sums, μ/σ
    * evaluated in the same double expression shape on both engines.
    *
    * Scale: centroid aggregate and per-vector term sum are two keyed
    * shuffles of scalar rows; centroids and per-label moments are
    * |labels|-sized broadcasts. */
  def centroidOutliers(embeddings: DataFrame, zMin: Double = 1.5): DataFrame = {
    val cent = labelCentroids(embeddings)
      .select(col("label"), col("pos"), col("mean_val"))
    val terms = embeddings
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"),
        (col("pos") + 1).cast("bigint").as("pos"),
        col("col").cast("double").as("x"))
      .join(broadcast(cent), Seq("label", "pos"))
      .select(col("vec_id"), col("label"),
        round((col("x") - col("mean_val")) * (col("x") - col("mean_val")), 8)
          .cast("decimal(18,8)").as("t"))
    val dists = terms.groupBy(col("vec_id"), col("label"))
      .agg(round(sqrt(sum(col("t")).cast("double")), 4).as("dist"))
    val stats = dists.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("dist").cast("decimal(18,4)")).cast("double").as("s1"),
        sum(round(col("dist") * col("dist"), 8).cast("decimal(28,8)"))
          .cast("double").as("s2"))
    val mu = col("s1") / col("n")
    val sigma = sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
    dists.join(broadcast(stats), "label")
      .where(sigma > 0)
      .withColumn("z", round((col("dist") - mu) / sigma, 4))
      .where(col("z") >= zMin)
      .select(col("vec_id"), col("label").cast("bigint").as("label"),
        col("dist"), col("z"))
      .orderBy(col("label"), col("vec_id"))
  }

  /** Recall@k of the LSH-bucketed ANN against the exact brute-force
    * top-k — the self-evaluation every approximate index needs before
    * it replaces the exact path at scale. Left join exact → approx
    * per (query, neighbor); recall = hits / n_exact. `n_exact` is the
    * actual exact-side neighbor count (≤ k when the corpus is small),
    * reported separately from the requested `k` so the denominator is
    * explicit rather than silently shrinking under the k label
    * (ADVICE r3). */
  def annRecall(embeddings: DataFrame, queries: DataFrame, k: Int,
                bits: Int = 8, dim: Int = 64): DataFrame = {
    val exact = cosineTopK(embeddings, queries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = annTopK(embeddings, queries, k, bits, dim)
      .select(col("query_id").as("qa"), col("vec_id").as("va"))
    exact.join(approx,
        col("query_id") === col("qa") && col("vec_id") === col("va"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("va")).as("n_hits"),
        count(lit(1)).as("n_exact"),
        round(count(col("va")).cast("double") / count(lit(1)), 4).as("recall"))
      .withColumn("k", lit(k).cast("bigint"))
      .select(col("query_id"), col("k"), col("n_exact"), col("n_hits"),
        col("recall"))
      .orderBy(col("query_id"))
  }

  /** Recall of brute-force top-k run in the [[randomProject]]ed space
    * against exact top-k in the original space — the JL twin of
    * [[annRecall]]: measures how much neighbor structure survives the
    * `inDim → outDim` squeeze before committing a corpus re-encode.
    * Same harness shape: two bounded top-k frames, one keyed join,
    * per-query counts. */
  def jlRecall(embeddings: DataFrame, queries: DataFrame, k: Int,
               outDim: Int, inDim: Int, seed: Long = 42L): DataFrame = {
    val exact = cosineTopK(embeddings, queries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = cosineTopK(randomProject(embeddings, outDim, inDim, seed),
        randomProject(queries, outDim, inDim, seed), k)
      .select(col("query_id").as("qa"), col("vec_id").as("va"))
    exact.join(approx,
        col("query_id") === col("qa") && col("vec_id") === col("va"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("va")).as("n_hits"),
        count(lit(1)).as("n_exact"),
        round(count(col("va")).cast("double") / count(lit(1)), 4).as("recall"))
      .withColumn("k", lit(k).cast("bigint"))
      .withColumn("out_dim", lit(outDim).cast("bigint"))
      .select(col("query_id"), col("k"), col("out_dim"), col("n_exact"),
        col("n_hits"), col("recall"))
      .orderBy(col("query_id"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity
    * threshold. Exact all-pairs within label blocks (the corpus ships
    * a cluster label; real pipelines block on a coarse quantizer cell
    * the same way) — never an unblocked cross join. */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double): DataFrame = {
    val p = prepared(embeddings).join(
      embeddings.select(col("vec_id"), col("label")), "vec_id")
    val a = p.select(col("vec_id").as("vec_a"), col("label"),
      col("v").as("va"), col("n").as("na"))
    val b = p.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
      col("v").as("vb"), col("n").as("nb"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  /** Embedding near-dup with IVF-cell blocking — the production form
    * of [[embeddingNearDup]], which blocks on a PRE-EXISTING label
    * column; here the blocking key is learned: a coarse quantizer
    * trained on a bounded layout-independent sample defines the
    * cells, every vector is assigned to its `nAssign` nearest cells
    * (multi-assignment: a pair straddling one cell boundary still
    * collides in a shared cell unless it straddles all `nAssign`),
    * and candidate pairs are enumerated WITHIN cells only. Candidate
    * volume scales with nAssign²·corpus²/nCells, never corpus² — the
    * 100 TB shape; recall is tunable via nAssign and equals 1.0 when
    * nAssign == nCells (spec-pinned).
    *
    * Candidate-then-verify staging (same shape as the text near-dup
    * paths): the cell self-join and the per-shared-cell dedup run
    * over (cell, id) PAIRS OF LONGS only — the 64-dim vectors join
    * back per UNIQUE candidate pair afterwards, so neither the
    * multi-cell collisions nor the distinct ever shuffle vector
    * payloads (the fused form moved ~2 GB of arrays through the
    * dedup exchange at sf0.1). */
  def embeddingNearDupIvf(embeddings: DataFrame, threshold: Double,
                          nCells: Int = 0, nAssign: Int = 4,
                          maxTrain: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = prepared(embeddings)
    val trainRows = trainSample(corpus, maxTrain)
    if (trainRows.isEmpty) {
      return spark.emptyDataset[(Long, Long, Double)]
        .toDF("vec_a", "vec_b", "cos")
    }
    val centers = localKMeans(trainRows, autoCells(corpus, nCells), iters = 5)
    // (vec_id, cell) only — a few longs per row. Cached because it
    // feeds BOTH sides of the self-join: without it the
    // nCells × dim distance expression (the dominant per-row work)
    // would run twice over the corpus (same "compute once, reuse
    // everywhere" convention as the MinHash band rows). persist, not
    // localCheckpoint: the lineage (scan + encode) is recomputable,
    // so a lost block re-encodes its partition instead of failing
    // the query on executor loss.
    val celled = corpus.select(col("vec_id"),
      explode(pqEncode(col("v"), Array(centers), nAssign)).as("cell"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = celled.select(col("cell"), col("vec_id").as("vec_a"))
      .join(celled.select(col("cell").as("cell_b"), col("vec_id").as("vec_b")),
        col("cell") === col("cell_b") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    pairs
      .join(corpus.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("n").as("na")), "vec_a")
      .join(corpus.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("n").as("nb")), "vec_b")
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  /** Persist an IVF index for [[incrementalNearDupIvf]]: the coarse
    * centroids (tiny — nCells rows) plus the cell-assigned corpus
    * (vector, norm, nearest cell), written as parquet PARTITIONED BY
    * cell so an incremental probe scans only the cells a batch
    * assigns to. This is the build-once artifact a nightly ingest
    * amortizes: the corpus is encoded exactly once here, and every
    * later batch runs against the stored files without retraining the
    * quantizer or rereading corpus raw text — the vector twin of the
    * text side's batch-vs-corpus [[TextOps.incrementalDedup]]. */
  /** `nCells <= 0` (the default) auto-sizes to ≈√n ([[autoCells]]).
    * Stored rows carry a `gen` generation marker (0 = built by this
    * call, 1 = appended later) so [[indexDrift]] can compare the
    * trained population against post-hoc appends. */
  def buildIvfIndex(embeddings: DataFrame, indexDir: String,
                    nCells: Int = 0, maxTrain: Int = 4096): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = prepared(embeddings)
    val trainRows = trainSample(corpus, maxTrain)
    require(trainRows.nonEmpty, "cannot build an IVF index on an empty corpus")
    val centers = localKMeans(trainRows, autoCells(corpus, nCells), iters = 5)
    // a rebuild into an existing dir must not inherit a crashed
    // delete's marker — but the crashed delete must be ROLLED FORWARD
    // (emptied-cell dirs removed), not merely forgotten: a blind
    // marker wipe opens a window (before our own marker lands) where
    // a crash resurrects acknowledged-deleted rows with nothing left
    // to protect readers (review r12). A lingering rebuild marker
    // means the LAST crash was a rebuild (it wiped _maintenance
    // first) — this rerun IS its heal, wipe and proceed.
    if (pathExists(spark, rebuildPendingPath(indexDir)))
      deleteDir(spark, s"$indexDir/_maintenance")
    else
      completePendingRemoves(spark, indexDir)
    // rebuild-in-flight marker BEFORE the first overwrite: the two
    // overwrites below are only individually atomic, and a crash
    // between them leaves fresh centroids quantizing the OLD corpus
    // partitioning — readers fail fast on the marker instead of
    // serving silently wrong neighbors; rerunning the build clears it
    Fs.touch(spark, rebuildPendingPath(indexDir))
    spark.createDataset(centers.toIndexedSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "center")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    corpus.withColumn("gen", lit(0))
      .withColumn("cell",
        element_at(pqEncode(col("v"), Array(centers), 1), 1))
      .write.mode("overwrite")
      // STATIC pinned: under a session-wide dynamic default this
      // rebuild would keep old cell dirs empty under the NEW
      // centroids — stale rows encoded under the old quantizer
      // served alongside the new index (review r12)
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell")
      .parquet(s"$indexDir/corpus")
    deleteDir(spark, rebuildPendingPath(indexDir))
  }

  /** Batch-vs-corpus embedding near-dup under a STORED quantizer: the
    * incremental form of [[embeddingNearDupIvf]]. Batch vectors
    * cell-assign under the index's centroids (read back as literals —
    * nCells·dim doubles, never retrained) with `nAssign`-way
    * multi-assignment; candidates are batch rows joined to stored
    * corpus rows in the probed cells. Because each stored vector lives
    * in exactly ONE cell, a (batch, corpus) pair can collide in at
    * most one probe — no dedup exchange at all, one cell-keyed join
    * end to end, batch ⋈ corpus only (never corpus ⋈ corpus, never a
    * re-encode). nAssign == nCells probes every cell: recall 1
    * (spec-pinned against the brute-force cross product). */
  def incrementalNearDupIvf(spark: SparkSession, indexDir: String,
                            batch: DataFrame, threshold: Double,
                            nAssign: Int = 4): DataFrame = {
    val centers = storedCenters(spark, indexDir)
    val stored = readCorpus(spark, indexDir)
      .select(col("vec_id").as("corpus_id"), col("cell"),
        col("v").as("cv"), col("n").as("cn"))
    val probes = prepared(batch)
      .select(col("vec_id").as("batch_id"), col("v").as("bv"), col("n").as("bn"))
      .withColumn("qcell", explode(pqEncode(col("bv"),
        Array(centers), math.min(nAssign, centers.length))))
    probes.join(stored, probes("qcell") === stored("cell"))
      .withColumn("cos", dot(col("bv"), col("cv")) / (col("bn") * col("cn")))
      .where(col("cos") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("cos"), 4).as("cos"))
  }

  /** Centroids of a stored index, cell-ordered — the quantizer every
    * incremental operation reuses verbatim. */
  private def storedCenters(spark: SparkSession,
                            indexDir: String): Array[Array[Double]] = {
    requireNoInterruptedRebuild(spark, indexDir)
    spark.read.parquet(s"$indexDir/centroids")
      .orderBy(col("cell")).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("center").toArray)
  }

  /** APPEND a batch to a stored IVF index: encode the new vectors
    * under the STORED centroids (never retrained — the append is what
    * completes q112's nightly cycle: flag near-dups against the index,
    * then grow the index by the novel rows) and write them into the
    * same cell-partitioned layout. Dynamic overwrite replaces only the
    * cell partitions the batch touches; untouched cells keep their
    * files byte-identical, so the write cost is proportional to the
    * BATCH, not the index. Readers see the union: append-then-probe
    * equals probe-of-rebuilt-corpus under the same quantizer
    * (spec-pinned). Centroids drift from the true cell means as the
    * corpus grows — the standard IVF trade — so a rebuild cadence
    * (weekly, say) pairs with nightly appends.
    *
    * ID CONTRACT: vec_id is immutable/content-addressed, as in every
    * append-only ANN store. A byte-identical replay of a batch is a
    * no-op (the anti-join in [[appendStaged]] — retry safety for
    * foreachBatch), but re-ingesting a CHANGED embedding under an
    * existing id is undefined: same-cell updates are dropped,
    * cross-cell ones would store the id twice. Updates go through
    * [[deleteFromIvfIndex]] + append (an upsert), exactly like
    * FAISS-style stores pair remove_ids with add. Raw layout only —
    * a codes-only (PQ) index appends via [[appendToIvfPqIndex]]
    * (fail-fast checked, not an AnalysisException deep in the plan). */
  def appendToIvfIndex(spark: SparkSession, indexDir: String,
                       batch: DataFrame): Unit = {
    require(!isPqLayout(spark, indexDir),
      s"$indexDir is a codes-only IVF+PQ index (it has a meta/ dir); " +
        "raw-vector append does not apply — use appendToIvfPqIndex")
    val centers = storedCenters(spark, indexDir)
    val coded = prepared(batch).withColumn("cell",
      element_at(pqEncode(col("v"), Array(centers), 1), 1))
      .select(col("vec_id"), col("v"), col("n"), col("cell"))
    appendStaged(spark, indexDir, coded)
  }

  /** APPEND a batch to a codes-only IVF+PQ index — the lifecycle twin
    * of [[appendToIvfIndex]] for [[buildIvfPqIndex]] stores, closing
    * the delete/append asymmetry (VERDICT r8 #2): the batch encodes
    * under the STORED coarse centroids and codebooks (never
    * retrained), lands as codes-only rows in the same cell-partitioned
    * layout, and inherits the full append contract — dynamic overwrite
    * of touched cells only, idempotent replay, immutable ids,
    * durable staging. Append under stored (aging) codebooks is the
    * standard FAISS trade: code error grows with distribution drift —
    * [[indexDrift]] is the rebuild signal (it reads codes-only stores
    * directly via the PQ-reconstruction distance). */
  def appendToIvfPqIndex(spark: SparkSession, indexDir: String,
                         batch: DataFrame): Unit = {
    require(isPqLayout(spark, indexDir),
      s"$indexDir is a raw-vector IVF index (no meta/ dir); " +
        "use appendToIvfIndex")
    val meta = spark.read.parquet(s"$indexDir/meta").collect()(0)
    val subs = meta.getAs[Int]("subs")
    val dim = meta.getAs[Int]("dim")
    val coarse = storedCenters(spark, indexDir)
    val books = storedBooks(spark, indexDir, subs)
    val coded = prepared(batch)
      .withColumn("cell", element_at(pqEncode(col("v"), Array(coarse), 1), 1))
      .withColumn("codes", pqEncode(col("v"), books, 1))
      .select(col("vec_id"), col("codes"), col("n"), col("cell"))
    require(dim % subs == 0, s"stored meta corrupt: dim $dim, subs $subs")
    appendStaged(spark, indexDir, coded)
  }

  /** A codes-only (PQ) store is distinguished by its meta/ dir — the
    * layout check both append forms fail fast on. */
  private def isPqLayout(spark: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/meta")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Write `df` to `path` and read it back: a DURABLE materialization
    * barrier. The index-maintenance paths used localCheckpoint here
    * (executor-memory, single-replica) — fine on local[32], but on a
    * real cluster an executor loss mid-overwrite killed the JOB with
    * the only copy of the carried index rows (truncated lineage is
    * unrecoverable) while their durable files were being replaced
    * (VERDICT r8 #1, the one weak mark). Parquet staging under the
    * index root costs one extra write+read of the (batch-proportional)
    * staged rows and survives any task/executor retry. */
  private def stageRead(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit =
    Fs.delete(spark, dir)

  private def pathExists(spark: SparkSession, dir: String): Boolean =
    Fs.exists(spark, dir)

  /** Delete's crash-window marker (VERDICT r9 #3): the cell ids a
    * [[deleteFromIvfIndex]] will leave WHOLLY EMPTY, written durably
    * BEFORE the survivor overwrite and removed only after the emptied
    * cell directories are gone. A crash anywhere in between leaves the
    * marker behind, and then (a) every corpus READER filters the
    * marked cells out ([[readCorpus]]) — their rows are by definition
    * all in the acknowledged delete's id set, so serving them would be
    * resurrection — and (b) every MAINTENANCE entry first completes
    * the removal ([[completePendingRemoves]]): remove the listed dirs
    * (idempotent — some may already be gone), then drop the marker.
    * Nested under a `_`-prefixed parent (the `_staging/ids`
    * convention): invisible to Spark's data-file listing of the index
    * root, while the explicit leaf path reads back cleanly (an
    * underscore LEAF would trip the hidden-path filter's warning). */
  private def pendingRemovesPath(indexDir: String): String =
    s"$indexDir/_maintenance/pending_removes"

  /** Marker present from just before a REBUILD's centroid overwrite
    * until just after its corpus overwrite commits. A rebuild into an
    * existing dir replaces BOTH stores, and only the second overwrite
    * is atomic with respect to itself — a crash between them leaves
    * fresh centroids quantizing the OLD corpus partitioning, which
    * serves silently wrong neighbors. Readers fail FAST on the
    * marker ("interrupted rebuild, rerun buildIvfIndex") instead;
    * rerunning the build clears it (review r11). */
  private def rebuildPendingPath(indexDir: String): String =
    s"$indexDir/_maintenance/rebuild_pending"

  private def requireNoInterruptedRebuild(spark: SparkSession,
                                          indexDir: String): Unit =
    if (pathExists(spark, rebuildPendingPath(indexDir)))
      throw new IllegalStateException(
        s"$indexDir: a rebuild was interrupted mid-overwrite (marker " +
          s"${rebuildPendingPath(indexDir)} present) — centroids and " +
          "corpus may disagree; rerun buildIvfIndex/buildIvfPqIndex " +
          "over the full snapshot to converge")

  private def pendingRemovedCells(spark: SparkSession,
                                  indexDir: String): Array[Int] = {
    val p = pendingRemovesPath(indexDir)
    if (!pathExists(spark, p)) Array.empty
    // EXPLICIT schema (the InvertedIndex.postingsSchema rule): a crash
    // DURING the marker write leaves a fileless directory (_temporary
    // only); schema inference would throw on it forever — bricking
    // every reader — where an empty frame means "no pending removals"
    // and the next maintenance call simply clears the husk
    else
      try spark.read.schema("cell INT").parquet(p)
        .collect().map(_.getInt(0))
      catch {
        // maintenance retired the marker between the exists() probe
        // and this read (the readMarker TOCTOU class, r14): the
        // removals were fully applied, so "no pending removals" is
        // the consistent answer — a lock-free reader must never die
        // on a racing roll-forward. Matched by error CONDITION, not
        // message text (ADVICE r14): a reworded/localized message
        // would either re-expose the race or over-match an unrelated
        // analysis failure as "no pending removals"
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          Array.empty[Int]
        case _: java.io.FileNotFoundException => Array.empty[Int]
      }
  }

  /** Roll a crashed delete FORWARD — the WHOLE delete, not just its
    * emptied-cell half: a delete stages its survivors durably before
    * the marker, so if the marker is still up and the staged
    * survivors are readable, the survivor overwrite is REDONE from
    * them first (a crash between the marker write and the survivor
    * overwrite would otherwise leave partially-touched cells serving
    * acknowledged-deleted rows forever once the marker dropped —
    * review r12), then the emptied-cell dirs and the marker retire,
    * then the staging. Safe to call at any time (no-op without a
    * marker); every maintenance entry point calls it first so a
    * crashed delete can never interleave its leftover state with new
    * writes. */
  private def completePendingRemoves(spark: SparkSession,
                                     indexDir: String): Unit = {
    // an interrupted REBUILD is not completable by roll-forward —
    // refuse before touching anything (only a rebuild rerun heals
    // it); with that guard passed, no rebuild_pending sibling can
    // exist, so removing the parent wholesale is safe
    requireNoInterruptedRebuild(spark, indexDir)
    if (!pathExists(spark, s"$indexDir/_maintenance")) return
    val cells = pendingRemovedCells(spark, indexDir)
    if (cells.nonEmpty) {
      // a READABLE marker ⟹ the delete got past its marker write, and
      // its staging was not yet retired (staging deletes strictly
      // after the marker), so a readable staged-survivor set is THIS
      // delete's — redo its dynamic overwrite (idempotent: identical
      // content per cell) before the dir removals. An all-emptied
      // delete staged a FILELESS carried dir; reading it throws —
      // that simply means no survivor rewrite was owed. A marker HUSK
      // (crash during the marker write itself) means nothing after
      // staging ever ran — the corpus is pre-delete intact, so only
      // the debris clears below.
      val carriedPath = s"$indexDir/_staging/carried"
      if (pathExists(spark, carriedPath)) {
        // scope the fileless-dir catch to the READ alone (parquet
        // schema resolution is eager, so a fileless carried — the
        // all-emptied delete — throws here): a failure in the redo
        // WRITE must propagate, or the emptied-dir/marker retirement
        // below would discard the redo log after a failed redo
        val carriedDf =
          try Some(spark.read.parquet(carriedPath))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        carriedDf.foreach(_
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell")
          .parquet(s"$indexDir/corpus"))
      }
      for (c <- cells) deleteDir(spark, s"$indexDir/corpus/cell=$c")
    }
    deleteDir(spark, s"$indexDir/_maintenance")
    deleteDir(spark, s"$indexDir/_staging")
  }

  /** The one corpus-read helper every SERVING path goes through:
    * filters out cells named by a pending-removes marker (a crashed
    * delete's acknowledged-but-not-yet-removed cells). The filter is a
    * static NOT IN on the partition column — pruned at planning, zero
    * cost without a marker (the common case reads one tiny file-system
    * existence probe). Read-only paths filter rather than complete:
    * search must not need write permission on the index. */
  private def readCorpus(spark: SparkSession, indexDir: String): DataFrame = {
    requireNoInterruptedRebuild(spark, indexDir)
    val corpus = spark.read.parquet(s"$indexDir/corpus")
    val pend = pendingRemovedCells(spark, indexDir)
    if (pend.isEmpty) corpus
    else corpus.where(!col("cell").isin(pend.map(Int.box).toSeq: _*))
  }

  /** Layout-agnostic staged append core shared by [[appendToIvfIndex]]
    * and [[appendToIvfPqIndex]]: `coded` is the encoded batch carrying
    * whatever row schema the target index stores, plus `cell`.
    *
    * Union existing rows of ONLY the touched cells with the new rows,
    * then dynamically overwrite those partitions: cheaper than a full
    * rewrite, atomic per partition, layout-stable for q112 probes.
    * Touched cells collect to the driver (≤ nCells ints) so the
    * survivor scan prunes STATICALLY via isin on the partition column
    * — a semi-join would depend on dynamic pruning kicking in. Both
    * the encoded batch and the carried rows stage as parquet under
    * `$indexDir/_staging` ([[stageRead]]): the overwrite reads only
    * durable files (Spark refuses to overwrite a path its own plan
    * still reads, and executor loss mid-write just retries tasks),
    * and a nondeterministic batch plan is evaluated exactly once.
    * The staging dir is removed on every exit; a crash can leave it
    * behind, but `_`-prefixed dirs are invisible to Spark's file
    * listing, so a stale one never pollutes an index read and the
    * next maintenance call overwrites it.
    *
    * Idempotence: an id already stored sits in the SAME cell (same
    * quantizer, deterministic assignment), so the anti-join against
    * the carried rows suffices to make a replayed append a no-op —
    * the retry-safety a streaming foreachBatch ingest needs. Fresh
    * rows are stamped `gen = 1` (appended) for [[indexDrift]];
    * carried rows keep their generation. */
  private def appendStaged(spark: SparkSession, indexDir: String,
                           coded: DataFrame): Unit = {
    // roll a crashed delete forward before touching the corpus: a
    // leftover marker's cells must not receive new rows while their
    // old (deleted) rows still sit in the directory
    completePendingRemoves(spark, indexDir)
    val staging = s"$indexDir/_staging"
    try {
      // the touched-cell set rides the staging WRITE via observe
      // (r18, guide §1.2 — the r17 InvertedIndex pattern): it used to
      // be a separate distinct+collect job over the staged files,
      // pure per-action overhead on a batch-sized frame
      val obs = org.apache.spark.sql.Observation()
      coded.observe(obs, collect_set(col("cell")).as("cells"))
        .write.mode("overwrite").parquet(s"$staging/batch")
      val batch = spark.read.parquet(s"$staging/batch")
      val touched = Observed.ints(obs.get("cells"), "cells").toArray
      if (touched.isEmpty) return // empty batch: schedule no write at all
      val existing = spark.read.parquet(s"$indexDir/corpus")
      val carried = stageRead(
        existing.where(col("cell").isin(touched.map(Int.box).toSeq: _*)),
        s"$staging/carried")
      val fresh = batch
        .join(carried.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .withColumn("gen", lit(1))
      carried.unionByName(fresh)
        .select(carried.columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(s"$indexDir/corpus")
    } finally deleteDir(spark, staging)
  }

  /** Per-subspace codebooks of a stored PQ index, (sub, code)-ordered. */
  private def storedBooks(spark: SparkSession, indexDir: String,
                          subs: Int): Array[Array[Array[Double]]] = {
    val bookRows = spark.read.parquet(s"$indexDir/books")
      .orderBy(col("sub"), col("code")).collect()
    Array.tabulate(subs) { s =>
      bookRows.filter(_.getAs[Int]("sub") == s)
        .map(_.getAs[scala.collection.Seq[Double]]("center").toArray)
    }
  }

  /** Persist an IVF+PQ index: coarse centroids, per-subspace
    * codebooks, a meta row (subs/codebookSize/dim — the constants the
    * ADC stride depends on), and the corpus as CODES ONLY,
    * cell-partitioned. This is the storage form that matters at
    * 100 TB: [[buildIvfIndex]] keeps 8·dim bytes of raw doubles per
    * vector; here a row is `subs` small ints plus a norm (~50× less
    * for dim 64 / subs 8), and the raw vectors stay in the source
    * table, fetched BY ID only for the final exact rerank of
    * shortlisted candidates — the FAISS file-index split (codes in
    * the index, originals in the store) expressed as parquet +
    * a keyed join. */
  /** `nCells <= 0` (the default) auto-sizes to ≈√n ([[autoCells]]). */
  def buildIvfPqIndex(embeddings: DataFrame, indexDir: String,
                      nCells: Int = 0, subs: Int = 8,
                      codebookSize: Int = 16,
                      maxTrain: Int = 4096): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = prepared(embeddings)
    val trainRows = trainSample(corpus, maxTrain)
    require(trainRows.nonEmpty, "cannot build an IVF+PQ index on an empty corpus")
    val dim = trainRows(0).length
    require(dim % subs == 0, s"dim $dim not divisible into $subs subspaces")
    val w_ = dim / subs
    val coarse = localKMeans(trainRows, autoCells(corpus, nCells), iters = 5)
    val books = Array.tabulate(subs) { s =>
      localKMeans(trainRows.map(_.slice(s * w_, (s + 1) * w_)),
        codebookSize, iters = 5)
    }
    // same stale-marker hygiene + rebuild-in-flight marker as
    // buildIvfIndex (FOUR overwrites here — the window is wider):
    // roll a crashed delete forward, wipe only after a crashed REBUILD
    if (pathExists(spark, rebuildPendingPath(indexDir)))
      deleteDir(spark, s"$indexDir/_maintenance")
    else
      completePendingRemoves(spark, indexDir)
    Fs.touch(spark, rebuildPendingPath(indexDir))
    spark.createDataset(Seq((subs, codebookSize, dim)))
      .toDF("subs", "codebook_size", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    spark.createDataset(coarse.toIndexedSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    spark.createDataset(for {
        (book, s) <- books.toIndexedSeq.zipWithIndex
        (cen, c) <- book.toIndexedSeq.zipWithIndex
      } yield (s, c, cen.toSeq))
      .toDF("sub", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/books")
    corpus
      .withColumn("cell", element_at(pqEncode(col("v"), Array(coarse), 1), 1))
      .withColumn("codes", pqEncode(col("v"), books, 1))
      .select(col("vec_id"), col("codes"), col("n"), lit(0).as("gen"), col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static") // the buildIvfIndex rule
      .partitionBy("cell")
      .parquet(s"$indexDir/corpus")
    deleteDir(spark, rebuildPendingPath(indexDir))
  }

  /** Approximate cosine top-k against a STORED IVF+PQ index: probe
    * cells and ADC tables come from the stored quantizer/codebooks
    * (two-path, bit-identical to [[pqTopK]]'s), the codes-only corpus
    * scan prunes to probed cells, and the `rerank` best ADC candidates
    * per query fetch their raw vectors from `embeddings` BY ID for the
    * exact cosine — reported scores are exact, only recall is
    * approximate, and the serving path never scans raw vectors. */
  def storedPqIndexTopK(spark: SparkSession, indexDir: String,
                        embeddings: DataFrame, queries: DataFrame, k: Int,
                        nProbe: Int = 4, rerank: Int = 64,
                        driverProbeLimit: Int = 1024): DataFrame = {
    val meta = spark.read.parquet(s"$indexDir/meta").collect()(0)
    val subs = meta.getAs[Int]("subs")
    val codebookSize = meta.getAs[Int]("codebook_size")
    val w_ = meta.getAs[Int]("dim") / subs
    val coarse = storedCenters(spark, indexDir)
    val books = storedBooks(spark, indexDir, subs)
    val coded = readCorpus(spark, indexDir)
    val probeDf = pqProbeDf(spark, queries, coarse, books, subs,
      codebookSize, w_, nProbe, driverProbeLimit)
    val shortlist = adcShortlist(coded, probeDf, subs, codebookSize, rerank)
    // id → raw vector fetch for the exact rerank: the shortlist (tiny:
    // rerank rows per query) broadcasts against the source table, so
    // the only raw-vector work is one scan streaming past the
    // broadcast — no norm recomputation (the stored n is bit-identical
    // to prepared()'s, computed by the same expression at build time)
    // and dot products only for shortlisted rows. A serving deployment
    // fronts this fetch with a key-value store; in-warehouse, the
    // broadcast hash join is the honest equivalent.
    val raw = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val fetched = raw.join(
      broadcast(shortlist.select(col("query_id"), col("vec_id"),
        col("n"), col("qv"), col("qn"))),
      Seq("vec_id"))
    exactRerank(fetched, k)
  }

  /** DELETE ids from a stored IVF index — the missing half of update
    * support: delete + the layout's append ([[appendToIvfIndex]] raw,
    * [[appendToIvfPqIndex]] codes-only) is an upsert, closing the
    * immutable-id contract's escape hatch without a full rebuild.
    * Touched cells (those actually holding a deleted id) rewrite via
    * the same dynamic partition overwrite as append — cost ∝ the cells
    * the deleted ids live in, not the index. A cell emptied entirely
    * is NOT rewritten by a dynamic overwrite (no rows carry its key),
    * so its directory is removed explicitly — without that, the
    * "deleted" rows would silently survive.
    *
    * CRASH SAFETY: the survivor overwrite and the emptied-cell dir
    * removal are two filesystem operations, but the window between
    * them is closed by the `_pending_removes` marker: the to-be-
    * emptied cell ids are written durably BEFORE the overwrite,
    * readers filter marked cells out, every maintenance entry rolls
    * the removal forward, and the marker is dropped only after the
    * dirs are gone (partially-emptied cells were always safe — their
    * overwrite is atomic per partition). IvfIndexSpec simulates the
    * crash and pins search correctness + idempotent completion. */
  def deleteFromIvfIndex(spark: SparkSession, indexDir: String,
                         ids: DataFrame): Unit = {
    completePendingRemoves(spark, indexDir) // finish any crashed delete first
    val staging = s"$indexDir/_staging"
    // NO blanket finally-cleanup of staging: the staged survivors ARE
    // the redo log completePendingRemoves rewrites from when a marked
    // delete crashes or its job fails — staging must outlive the
    // marker (review r12); it is deleted on the success path and on
    // the explicit pre-marker exits, and a marked failure leaves it
    // for the roll-forward
    val existing = spark.read.parquet(s"$indexDir/corpus")
      // materialize the id set ONCE, durably: a nondeterministic ids
      // plan (limit/sample) evaluated twice could rewrite one id's cell
      // while anti-joining a different id set — a silent partial delete
      val idSet = stageRead(ids.select(col("vec_id")).distinct(),
        s"$staging/ids")
      val touched = existing.join(idSet, Seq("vec_id"), "left_semi")
        .select(col("cell")).distinct().collect().map(_.getInt(0))
      if (touched.isEmpty) { // nothing stored under those ids
        deleteDir(spark, staging)
        return
      }
      val allCells = existing.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet
      // survivors of the touched cells — a STATIC isin on the partition
      // column (guaranteed pruning; a broadcast semi-join would depend
      // on dynamic pruning kicking in), staged durably before the
      // overwrite ([[stageRead]] — same fault-tolerance rationale as
      // append). Written as-is: the schema comes from the index itself,
      // so the same function serves the raw-vector and the codes-only
      // (PQ) layouts.
      val carried = stageRead(
        existing.where(col("cell").isin(touched.map(Int.box).toSeq: _*))
          .join(idSet, Seq("vec_id"), "left_anti"),
        s"$staging/carried")
      val carriedEmpty = carried.isEmpty
      if (carriedEmpty && touched.toSet == allCells) {
        deleteDir(spark, staging) // pre-marker exit: staging is debris
        throw new VectorOps.WouldEmptyIndexException
      }
      // the cells this delete will empty entirely are known BEFORE
      // the overwrite (carried is durably staged) — write the
      // _pending_removes marker FIRST, so a crash anywhere between
      // the survivor overwrite and the directory removals can no
      // longer resurrect their rows: readers filter marked cells
      // ([[readCorpus]]), maintenance rolls them forward
      // ([[completePendingRemoves]]).
      val survivorCells = carried.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSet
      val emptied = touched.filterNot(survivorCells.contains)
      if (emptied.nonEmpty)
        spark.createDataFrame(emptied.toSeq.map(Tuple1(_))).toDF("cell")
          .coalesce(1).write.mode("overwrite")
          .parquet(pendingRemovesPath(indexDir))
      if (!carriedEmpty)
        carried
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell")
          .parquet(s"$indexDir/corpus")
      // a cell emptied entirely is NOT rewritten by a dynamic overwrite
      // (no surviving row carries its key) — remove its directory,
      // then retire the marker (removal-before-marker-drop: the
      // marker outlives every state in which the dirs might remain)
      for (c <- emptied) deleteDir(spark, s"$indexDir/corpus/cell=$c")
      if (emptied.nonEmpty)
        deleteDir(spark, s"$indexDir/_maintenance")
      deleteDir(spark, staging) // marker retired first, staging last
  }

  /** Embedding snapshot diff — [[graft.ops.TextOps.snapshotDiff]]'s
    * vector twin (the change audit between two embedding-table
    * snapshots: which vectors need re-indexing). One full outer join
    * on vec_id comparing the embeddings element-wise in DOUBLE
    * (Spark's array equality — both sides cast, so a float vs double
    * storage difference never reads as a change):
    * added / removed / changed / unchanged. One co-partitioned join;
    * with both snapshots bucketed by vec_id on disk, zero shuffles. */
  def vectorSnapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def side(df: DataFrame, s: String) =
      df.select(col("vec_id"),
        col("embedding").cast("array<double>").as(s"e_$s"))
    side(oldSnap, "old").join(side(newSnap, "new"), Seq("vec_id"), "full_outer")
      .withColumn("status",
        when(col("e_old").isNull, "added")
          .when(col("e_new").isNull, "removed")
          .when(col("e_old") =!= col("e_new"), "changed")
          .otherwise("unchanged"))
      .select(col("vec_id"), col("status"))
  }

  /** Diff-driven maintenance of a stored raw-layout IVF index — the
    * vector twin of q204's inverted-index path (VERDICT r9 #4 closed
    * on both stores): given the index built over the OLD snapshot and
    * the [[vectorSnapshotDiff]] against the NEW one, delete
    * removed ∪ changed ids, then append added ∪ changed new versions
    * — an upsert per the delete+append contract, cost ∝ diff (touched
    * cells only), the corpus never re-encodes. DELETE FIRST: append's
    * immutable-id anti-join would silently drop a changed id still
    * present. After this call the stored content equals a fresh build
    * over the new snapshot UNDER THE OLD QUANTIZER (centroids are
    * deliberately not retrained — [[indexDrift]] is the retrain
    * signal); IvfIndexSpec pins content equality and search parity.
    * No-op statuses ('unchanged') never touch the store. */
  def maintainIvfIndex(spark: SparkSession, indexDir: String,
                       newSnap: DataFrame, diff: DataFrame): Unit = {
    val dead = diff.where(col("status").isin("removed", "changed"))
      .select(col("vec_id"))
    // deleteFromIvfIndex is a no-op for unmatched ids, so the gate is
    // only to skip the maintenance scan entirely on an all-add diff
    if (!dead.isEmpty) {
      try deleteFromIvfIndex(spark, indexDir, dead)
      catch {
        case _: WouldEmptyIndexException =>
          // a diff marking EVERY stored id removed/changed (a full
          // re-embedding) is a legitimate upsert, not an error: the
          // delete's refuse-to-empty guard protects interactive
          // callers from bricking an index, but here the new content
          // is in hand — so rebuild over the new snapshot (same cell
          // count; fresh centroids are CORRECT here: with zero
          // surviving rows there is no old population whose
          // assignments the old quantizer must keep serving).
          // deleteFromIvfIndex throws BEFORE any mutation (marker,
          // overwrite). The rebuild itself replaces centroids THEN
          // corpus — its rebuild_pending marker makes a crash between
          // the two fail every reader fast instead of serving new
          // centroids over the old corpus (review r11). Recovery is a
          // DIRECT buildIvfIndex/buildIvfPqIndex rerun (which clears
          // the marker); maintenance entry points refuse under it.
          val nCells = storedCenters(spark, indexDir).length
          buildIvfIndex(newSnap, indexDir, nCells)
          return
      }
    }
    val upserts = newSnap.join(
      diff.where(col("status").isin("added", "changed"))
        .select(col("vec_id")), Seq("vec_id"))
    if (!upserts.isEmpty) appendToIvfIndex(spark, indexDir, upserts)
  }

  /** Cell-file compaction for stored IVF indexes (both layouts — the
    * schema rides the index files), the vector twin of
    * [[InvertedIndex.compactSegments]]: every append rewrites the
    * touched cells as (carried ∪ fresh) through however many write
    * tasks hold that cell's rows, so a nightly-append store
    * accumulates task-count small files per hot cell — at 100 TB the
    * scan cost of a probe becomes file-open-bound, not byte-bound.
    * This rewrites each over-fragmented cell into exactly one parquet
    * file (one hash-partitioned task per needy cell), leaving
    * already-compact cells' files BYTE-UNTOUCHED (they are not read,
    * not rewritten — immutability the spec pins by mtime). Content is
    * preserved verbatim (gen markers included), so search results are
    * identical before and after. Durable `_staging` + dynamic
    * partition overwrite, and a crashed delete's pending-removes
    * marker is rolled forward FIRST — a marked cell must not be
    * compacted back to life. Idempotent: a second call finds nothing
    * over the threshold and returns without scheduling a job. */
  def compactCells(spark: SparkSession, indexDir: String,
                   maxFilesPerCell: Int = 1): Unit = {
    require(maxFilesPerCell >= 1, "maxFilesPerCell must be >= 1")
    completePendingRemoves(spark, indexDir)
    val corpusDir = s"$indexDir/corpus"
    val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(corpusPath)) return
    // one namenode listing decides the work set: cells whose data-file
    // count exceeds the bound (hidden/_SUCCESS entries don't count)
    val needy = fs.listStatus(corpusPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .flatMap { st =>
        val files = fs.listStatus(st.getPath).count { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        if (files > maxFilesPerCell)
          Some(st.getPath.getName.stripPrefix("cell=").toInt)
        else None
      }
    if (needy.isEmpty) return
    val staging = s"$indexDir/_staging"
    try {
      // stage the needy cells' rows durably, then overwrite those
      // partitions from the staged copy (the appendStaged rationale:
      // Spark refuses to overwrite a path its plan still reads, and
      // the staged files survive any task retry)
      val carried = stageRead(
        spark.read.parquet(corpusDir)
          .where(col("cell").isin(needy.map(Int.box): _*)),
        s"$staging/compact")
      // one output task per needy cell → exactly one file per cell
      // (hash collisions just mean a task writes two cells' files)
      carried.repartition(needy.size, col("cell"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(corpusDir)
    } finally deleteDir(spark, staging)
  }

  /** Centroid-drift audit of a stored raw-layout IVF index — the
    * rebuild trigger appends accumulate toward: centroids are trained
    * once at build time, every append assigns under them verbatim, so
    * as the ingested distribution drifts the appended rows sit farther
    * from their centers than the built rows do. Per cell: counts and
    * mean Euclidean distance-to-centroid for built (`gen = 0`) vs
    * appended (`gen > 0`) rows, plus their ratio — `drift_ratio` ≈ 1
    * means appends still match the trained distribution; sustained
    * ratios well above 1 (or cells dominated by appended rows) say
    * re-train ([[buildIvfIndex]]) rather than keep appending. One
    * scan of the stored index + a broadcast of the (tiny) centroid
    * table — no join against the source corpus, so the audit is
    * cheap enough to run after every ingest. Rows-only (k-means
    * cells); IvfIndexSpec pins the ratio on a synthetically drifted
    * batch.
    *
    * CODES-ONLY (PQ) stores — the layout a 100 TB deployment actually
    * runs for footprint — get the same report with no raw vectors at
    * all: each row's vector is PQ-RECONSTRUCTED from its stored codes
    * (x̂ = concat_s book_s[code_s], the ADC decode) and measured
    * against its coarse centroid. ‖x̂ − c‖ = ‖x − c‖ up to the bounded
    * per-row quantization error, and that error term is IDENTICAL in
    * distribution for built and appended rows encoded under the same
    * frozen codebooks — so the built/appended RATIO keeps its meaning,
    * and out-of-distribution appends additionally inflate it through
    * their larger code error. Cost shape is unchanged: one scan of
    * the (tiny) code rows + a broadcast of centroids; the codebooks
    * fold into the distance expression as literals (subs ×
    * codebookSize × w doubles — KBs). */
  def indexDrift(spark: SparkSession, indexDir: String): DataFrame = {
    val corpus = readCorpus(spark, indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val dist =
      if (isPqLayout(spark, indexDir)) {
        val meta = spark.read.parquet(s"$indexDir/meta").collect()(0)
        val subs = meta.getAs[Int]("subs")
        val codebookSize = meta.getAs[Int]("codebook_size")
        val w_ = meta.getAs[Int]("dim") / subs
        val books = storedBooks(spark, indexDir, subs)
        // (sub, code)-major flat literal of every codebook entry;
        // under-trained slots (codes never reference them) fill with
        // 0.0, same convention as pqProbeDf
        val flat = array((for {
          s <- 0 until subs; c <- 0 until codebookSize; j <- 0 until w_
        } yield lit(
          if (c < books(s).length) books(s)(c)(j) else 0.0)): _*)
        // Σ_s ‖book_s[code_s] − center[s·w .. s·w+w)‖² — slice into
        // the flat book by the stored code (codes are 0-based), all
        // inside one codegen'd expression per row
        val d2 = (0 until subs).map { s =>
          val start = ((lit(s * codebookSize) +
            element_at(col("codes"), s + 1)) * w_ + 1).cast("int")
          aggregate(
            zip_with(slice(flat, start, lit(w_)),
              slice(col("center"), lit(s * w_ + 1), lit(w_)),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x)
        }.reduce(_ + _)
        sqrt(d2)
      } else {
        require(corpus.columns.contains("v"),
          s"indexDrift: $indexDir has neither raw vectors nor a PQ " +
            "meta/ dir — not an IVF index layout this audit knows")
        sqrt(aggregate(
          zip_with(col("v"), col("center"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      }
    corpus.join(broadcast(cents), "cell")
      .withColumn("dist", dist)
      .groupBy(col("cell").cast("bigint").as("cell"))
      .agg(
        sum(when(col("gen") === 0, 1L).otherwise(0L)).as("n_built"),
        sum(when(col("gen") > 0, 1L).otherwise(0L)).as("n_appended"),
        round(avg(when(col("gen") === 0, col("dist"))), 4).as("mean_dist_built"),
        round(avg(when(col("gen") > 0, col("dist"))), 4).as("mean_dist_appended"))
      .withColumn("drift_ratio",
        round(col("mean_dist_appended") / col("mean_dist_built"), 4))
      .orderBy(col("cell"))
  }

  /** Approximate cosine top-k against a STORED index: the search-time
    * form of [[ivfTopK]] with no training step at all — probe cells
    * come from the stored quantizer (driver fast path under
    * `driverProbeLimit`, expression path above it, bit-identical), and
    * the cell-partitioned corpus scan prunes to the probed cells. The
    * serving shape: build/append maintain the index offline, queries
    * pay corpus/nCells · nProbe per query and never touch raw
    * un-indexed vectors. */
  def storedIndexTopK(spark: SparkSession, indexDir: String,
                      queries: DataFrame, k: Int, nProbe: Int = 4,
                      driverProbeLimit: Int = 1024): DataFrame =
    cellProbeTopK(spark, readCorpus(spark, indexDir),
      storedCenters(spark, indexDir), queries, k, nProbe, driverProbeLimit)

  /** Cluster-balanced diversity sample: k-means cells from a bounded
    * layout-independent sample partition the corpus by topic, and a
    * deterministic per-cell quota (md5-of-id rank, id tiebreak — the
    * same layout-independent rank as [[graft.ops.TextOps.stratifiedSample]])
    * keeps the draw TOPIC-balanced instead of frequency-weighted — the
    * SemDeDup-adjacent subsampling shape (Abbas et al. 2023) a
    * training run uses to stop head topics from drowning the tail.
    *
    * One projection (cell assignment is the codegen'd argmin pass, no
    * vector ever shuffles) + one window shuffle on the cell key —
    * holds at 100 TB: per-cell quota selection is a bounded heap per
    * partition after the hash exchange, never a global sort. */
  def diversitySample(embeddings: DataFrame, perCell: Int,
                      nCells: Int = 0, maxTrain: Int = 4096): DataFrame = {
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    cellAssignments(embeddings, nCells, maxTrain)
      .withColumn("sample_rank", row_number().over(w).cast("bigint"))
      .where(col("sample_rank") <= perCell)
  }

  /** Deterministic quantizer assignment of every corpus vector — the
    * k-means cells [[diversitySample]] balances over, exposed so the
    * audit side (q106) can recompute per-cell POPULATIONS without
    * paying the sample's per-cell ranking window (a full-corpus
    * row_number that the population count immediately discards).
    * Empty corpus → empty (vec_id, cell) frame. */
  def cellAssignments(embeddings: DataFrame, nCells: Int = 0,
                      maxTrain: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = prepared(embeddings)
    val trainRows = trainSample(corpus, maxTrain)
    if (trainRows.isEmpty) {
      return spark.emptyDataset[(Long, Long)].toDF("vec_id", "cell")
    }
    val centers = localKMeans(trainRows, autoCells(corpus, nCells), iters = 5)
    corpus.select(col("vec_id"),
      element_at(pqEncode(col("v"), Array(centers), 1), 1)
        .cast("bigint").as("cell"))
  }

  /** Per-dimension int8 symmetric quantization audit — the embedding
    * compression a 100 TB vector store runs before switching the ANN
    * index to int8. For each dimension: scale = max|v| / 127, q =
    * clamp(round(v / scale)), and the reconstruction error q·scale − v
    * aggregated exactly (each |err| is decimal-cast before summing, so
    * partial+final aggregation is bit-identical to any sequential
    * oracle). Two passes over the exploded elements on the SAME pos
    * key (max-abs, then error agg) — the scale table is dim-sized, so
    * its join back is a broadcast. All per-element arithmetic is the
    * identical IEEE sequence on any engine (one divide, one round, one
    * multiply, one subtract). */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val elems = embeddings
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast("bigint").as("pos"),
        col("col").cast("double").as("v"))
    val scales = elems.groupBy(col("pos"))
      .agg(max(abs(col("v"))).as("max_abs"))
      // an all-zero dimension has no scale (÷0 → Inf would poison
      // round); it carries no information to quantize — drop it
      .where(col("max_abs") > 0)
      .withColumn("scale", col("max_abs") / 127.0d)
    val q = round(col("v") / col("scale"), 0)
    val qc = least(greatest(q, lit(-127.0d)), lit(127.0d))
    val err = qc * col("scale") - col("v")
    elems.join(broadcast(scales), "pos")
      .withColumn("clipped", (q < -127.0d || q > 127.0d))
      .withColumn("abs_err", abs(err).cast("decimal(20,12)"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_values"),
        sum(when(col("clipped"), 1L).otherwise(0L)).as("n_clipped"),
        round(max(col("max_abs")), 4).cast("double").as("max_abs"),
        round(sum(col("abs_err")), 6).cast("double").as("sum_abs_err"),
        round(max(col("abs_err")), 6).cast("double").as("max_abs_err"))
      .orderBy(col("pos"))
  }

  /** Thrown by [[deleteFromIvfIndex]] when the id set covers every
    * stored vector (the delete would leave an unreadable file-less
    * index). A TYPED condition, not a message to pattern-match:
    * [[maintainIvfIndex]] catches it to run its full-replacement
    * rebuild; interactive callers get the actionable message.
    * Subclasses IllegalArgumentException so existing refuse-to-empty
    * contracts (and their spec pins) are unchanged. */
  final class WouldEmptyIndexException extends IllegalArgumentException(
    "deleteFromIvfIndex would remove every stored vector, leaving an " +
      "unreadable file-less index; drop the directory and rebuild with " +
      "buildIvfIndex/buildIvfPqIndex instead — or, when the replacement " +
      "content is in hand, use maintainIvfIndex (its full-replacement " +
      "fallback rebuilds over the new snapshot)")
}
