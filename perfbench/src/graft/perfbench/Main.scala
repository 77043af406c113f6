package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{GraftExtensions, SparkEntry}
import graft.cli.CliSession
import graft.infer.{InferSchema, InferSchemaCountAgg, JsonInfer, Materialize}
import graft.shred.Shredder
import graft.sources.{JsonCompact, JsonMeta, PerfbenchProbe}
import graft.types.{HStruct, HType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, sum, xxhash64}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM: builds the session, then runs one workload's
  * phases closed-loop (each operation starts after the previous one
  * ends) and prints every metric bare, one per line:
  *
  *   metric <workload> <name> <value> <unit>
  *
  * Phases (json rounds and table lifecycles alternate):
  *   1. json   — the FindJsonSchema path (files → InferSchemaCountAgg →
  *               rendered DDL + flat listing) and the ShredJson walk
  *               (Shredder.shred, closed on a count) over the corpus;
  *               traced runs also time writeShreddedRows;
  *   2. table  — the corpus as a graftjson table: cold load, warm
  *               reload, a read set, an append through the format and
  *               an incremental reload, compaction and a meta save;
  *   3. slice  — traced runs only: queries from SparkEntry.queries over
  *               generated star-schema tables (`--sf`); this phase never
  *               touches JSON inference.
  *
  * `--trace 1` adds the slice, spans around each layer call, engine /
  * file-system / codegen counts at the same boundaries, single-thread
  * layer probes, and the tracing overhead.
  *
  * The JVM prints READY once the session is set up; the caller times
  * the cold set-up from launch to that line. `--setup-only 1` stops
  * there: it builds the session, warms it up, prints READY and exits.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0
  *        Main --workload W --data DIR --work DIR --seconds S --trace 1 --sf DIR
  *        Main --setup-only 1 --work DIR
  */
object Main {

  /** One query per group: plain relational, compute-dense, and a store
    * lifecycle (its commits are the `ops` layer). */
  val Slice: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "queries", "q52_neardup_minhash" -> "queries",
    "q128_cdc_merge" -> "ops")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work"))
    val cpus = Runtime.getRuntime.availableProcessors
    val trace = a.get("trace").contains("1")
    val spark = setUp(cpus, work, trace)
    println("READY")
    System.out.flush()
    try if (!a.contains("setup-only"))
      new Run(spark, a("workload"), Paths.get(a("data")), a.getOrElse("sf", ""), work, a("seconds").toDouble,
        trace).run()
    finally spark.stop()
  }

  def setUp(cpus: Int, work: Path, trace: Boolean): SparkSession = {
    val spark = buildSession(cpus, work, trace)
    warmUp(spark, cpus)
    spark
  }

  /** The session as graft.Bench builds it. A traced run swaps in the
    * same local file system with operation counters. */
  def buildSession(cpus: Int, work: Path, trace: Boolean): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl",
        if (trace) classOf[CountingLocalFileSystem].getName else "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed warm-up: one trivial job, so the scheduler and the executor
    * threads are up. Part of set-up, never of a timed operation. */
  def warmUp(spark: SparkSession, cpus: Int): Unit =
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def render(schema: HType): String =
    (schema match {
      case s: HStruct => HType.renderDDL(s)
      case other => other.toString
    }) + InferSchema.render(schema, "flat")
}

final class Run(spark: SparkSession, workload: String, data: Path, sf: String,
                work: Path, seconds: Double, trace: Boolean) {
  import Main._

  private val tr = new Tracer(trace)
  private val listener = new EngineListener
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var attempted = 0L
  private var failed = 0L
  private val man: JsonNode = new ObjectMapper().readTree(data.resolve("manifest.json").toFile)
  private val baseFiles = man.get("files").elements().asScala
    .map(f => data.resolve("base").resolve(f.get("name").asText()).toString).toSeq
  private val inputMB = man.get("input_bytes").asLong / 1e6
  private val shredFiles = baseFiles.take(man.get("shred_files").asInt)
  private val tab = man.get("table")
  private val tableFiles = baseFiles.take(tab.get("files").asInt)
  private val devNull = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
  /** Windows of the benchmark's own work (reference fold, untraced
    * passes, probes, read-backs, table set-up and teardown): the engine
    * metrics leave out these windows and the tasks launched in them. */
  private val harnessWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Runs the benchmark's own work `f`: no spans, and outside the
    * engine metrics. */
  private def harness[T](f: => T): T = {
    val was = tr.enabled
    tr.enabled = false
    val w0 = tr.now()
    try f finally { harnessWindows += ((w0, tr.now())); tr.enabled = was }
  }

  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** One checked operation: counts toward `attempted`, and a mismatch
    * toward `failed`. */
  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; println(s"check FAIL $name $detail") }
  }

  /** The workload. After the first inference pass, json rounds and
    * table lifecycles alternate until `seconds` have passed, at least 3
    * of each (9 passes each of inference and shred, so the median sits
    * past the JIT warm-up). Alternating spreads each metric's samples
    * over the whole run, so a stretch of slow host sways every metric
    * a little instead of one a lot. The traced run then runs the
    * slice: a first pass and 2 cleared-cache rounds. */
  def run(): Unit = {
    if (trace) spark.sparkContext.addSparkListener(listener)
    hostContext()
    Files.createDirectories(work)
    val t0 = tr.now()
    val start = System.nanoTime()
    def phase(name: String, seconds: Double, minRounds: Int)(first: => Unit)(round: Int => Unit)(
        finish: => Unit): Unit = {
      val p0 = System.nanoTime()
      first
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i < minRounds || System.nanoTime() < end) { round(i); i += 1 }
      finish
      val own = Tracer.unionLength(harnessWindows.toSeq.filter(_._1 >= t0 + (p0 - start))) / 1e9
      println(s"phase $name ${(System.nanoTime() - p0) / 1e9} rounds=$i harness_s=$own")
    }
    phase("json+table", seconds, 3)(json.first())(i => { json.round(); table.round(i) }) {
      json.finish(); table.finish()
    }
    if (trace) phase("slice", 0, 2)(slice.first())(_ => slice.round())(slice.finish())
    if (trace) engineMetrics(t0, tr.now())
    put("mem_peak_mb", vmHwmMB(), "MB")
    metrics.foreach { case (k, (v, u)) => println(s"metric $workload $k $v $u") }
    println(s"ops $attempted $failed")
  }

  // ---------------------------------------------------------------- json
  private def readDocs(files: Seq[String]) =
    tr.span("cli.read_docs")(CliSession.readDocs(spark, files, whole = false, announceTo = devNull))

  /** FindJsonSchema's path: read, aggregate, render. */
  private def inferPass(): (String, Long) = tr.span("cli.find_json_schema") {
    val docs = readDocs(baseFiles)
    val (schema, n) = tr.span("infer.aggregate")(docs.select(new InferSchemaCountAgg().toColumn).head())
    (tr.span("types.render")(render(schema)), n)
  }

  /** ShredJson's walk over the corpus: every (path, value) leaf row. */
  private def shredPass(): Long = tr.span("shred.pass") {
    val docs = readDocs(baseFiles)
    tr.span("shred.shred")(Shredder.shred(docs).count())
  }

  /** Every line of the corpus, decompressed. */
  private def corpusLines(): Seq[String] = baseFiles.flatMap { f =>
    val in0 = Files.newInputStream(Paths.get(f))
    val in = if (f.endsWith(".gz")) new java.util.zip.GZIPInputStream(in0, 1 << 16) else in0
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, UTF_8), 1 << 16)
    try br.lines().iterator().asScala.toVector finally br.close()
  }

  private object json {
    private lazy val lines = corpusLines()
    private val validDocs = man.get("valid_docs").asLong
    private val totalLeaves = man.get("leaves").elements().asScala.map(_.asLong).sum
    private var expected = ""
    private val inferS, untracedS, shredS = mutable.ArrayBuffer.empty[Double]

    /** The first inference pass after set-up, timed before anything else
      * in this JVM has run the inference code. */
    def first(): Unit = {
      val ((text, n), s) = secondsOf(inferPass())
      expected = harness(render(JsonInfer.inferAll(lines).canonical))
      check("infer.schema_matches_sequential_fold", text == expected, "distributed render differs")
      check("infer.doc_count", n == validDocs, s"$n docs, generator wrote $validDocs")
      put("infer_first_s", s, "s")
    }

    def round(): Unit = for (_ <- 0 until 3) {
      val ((text, n), s) = secondsOf(inferPass())
      check("infer.pass", text == expected && n == validDocs, s"pass differs ($n docs)")
      inferS += s
      if (trace) untracedS += untraced(secondsOf(inferPass())._2)
      val (leaves, s2) = secondsOf(shredPass())
      check("shred.pass", leaves == totalLeaves, s"$leaves leaves, generator wrote $totalLeaves")
      shredS += s2
    }

    def finish(): Unit = {
      put("infer_mb_per_s", inputMB / median(inferS.toSeq), "MB/s")
      put("shred_mb_per_s", inputMB / median(shredS.toSeq), "MB/s")
      checkLeaves("shred.leaves_per_path", "leaves", harness {
        import spark.implicits._
        Shredder.shred(readDocs(baseFiles)).groupBy("_1").count().as[(String, Long)].collect().toMap
      })
      if (trace) {
        put("trace.overhead_s", median(inferS.toSeq) - median(untracedS.toSeq), "s")
        put("trace.overhead_ratio", median(inferS.toSeq) / median(untracedS.toSeq) - 1, "ratio")
        harness(layerProbes(lines))
        // ShredJson's write: one directory per path, over the first file(s)
        val out = work.resolve("shred").toString
        val (_, writeS) = secondsOf(tr.span("shred.write")(
          Shredder.writeShreddedRows(Shredder.shred(readDocs(shredFiles)), out)))
        put("shred.write_s", writeS, "s")
        checkLeaves("shred.written_leaves_per_path", "write_leaves", harness(
          spark.read.text(out).groupBy("path").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap))
      }
    }
  }

  /** Runs `f` as harness work with the engine listener off too: the
    * untraced passes the tracing overhead is measured against. The bus
    * is drained on both sides, so no event of a traced job is lost and
    * none of `f`'s reaches the listener. */
  private def untraced[T](f: => T): T = harness {
    drainListenerBus()
    spark.sparkContext.removeSparkListener(listener)
    try f finally { drainListenerBus(); spark.sparkContext.addSparkListener(listener) }
  }

  private def checkLeaves(name: String, key: String, got: Map[String, Long]): Unit = {
    val want = man.get(key).fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    check(name, got == want, s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} paths differ")
  }

  /** Single-thread probes over the first few MB of the corpus. */
  private def layerProbes(all: Seq[String]): Unit = {
    var bytes = 0L
    val lines = all.takeWhile { l => bytes += l.length + 1; bytes < 4000000L }
    val mb = lines.map(_.length + 1L).sum / 1e6
    def perMB(name: String)(f: => Unit): Unit =
      put(name, mb / median((0 until 3).map(_ => secondsOf(f)._2)), "MB/s")
    val factory = new com.fasterxml.jackson.core.JsonFactory()
    perMB("infer.tokenwalk_mb_per_s") {
      lines.foreach { l =>
        val p = factory.createParser(l)
        try while (p.nextToken() != null) {}
        catch { case _: com.fasterxml.jackson.core.JacksonException => }
        finally p.close()
      }
    }
    perMB("infer.infer_doc_mb_per_s")(lines.foreach(JsonInfer.inferDoc))
    perMB("infer.fold_mb_per_s")(JsonInfer.inferAll(lines))
    perMB("shred.flatten_mb_per_s")(lines.foreach(l => Shredder.flatten(l)))
    val trees = lines.map(JsonInfer.inferDoc)
    val mergeS = median((0 until 3).map(_ => secondsOf(trees.foldLeft(null: HType)(HType.merge))._2))
    put("types.merge_ns_per_doc", mergeS * 1e9 / trees.size, "ns")
    val schema = JsonInfer.inferAll(all)
    val renderS = median((0 until 5).map(_ => secondsOf(render(schema.canonical))._2))
    put("types.canonical_render_ms", renderS * 1e3, "ms")
    val buf = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(buf)
    oos.writeObject(schema); oos.close()
    put("infer.agg_buffer_bytes", buf.size.toDouble, "bytes")
    put("infer.schema_paths", InferSchema.render(schema.canonical, "flat").count(_ == '\n').toDouble, "count")
    put("shred.leaves", man.get("leaves").elements().asScala.map(_.asLong).sum.toDouble, "count")
    put("shred.paths", man.get("leaves").size.toDouble, "count")
  }

  // --------------------------------------------------------------- table
  private def load(dir: String, refresh: Boolean): DataFrame =
    spark.read.format("graftjson").option("zonemaps", "true")
      .option("refresh", refresh.toString).load(dir)

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private object table {
    private val lines = tab.get("lines").asLong
    private val app = man.get("append")
    /** A lifecycle loads the table cold this many times, runs the read
      * set this many times, and appends the batch this many times, each
      * append followed by a reload: more samples of table_load_s,
      * table_scan_s and table_write_s per lifecycle. */
    private val coldLoads = 3
    private val readSets = 2
    private val appends = 2
    private val allLines = lines + appends * app.get("lines").asLong
    private val prunedCol = tab.get("pruned_col").asText
    private val prunedSum = tab.get("pruned_sum").asLong
    private val filterSql = tab.get("filter_sql").asText
    private val filterCount = tab.get("filter_count").asLong
    private lazy val batch = load(data.resolve("append").toString, refresh = false)
    private val loadS, planColdS, planWarmS, scanS, writeS, appendS, compactS, saveS, walked, hitRatio,
      zoneSkips, rowsPerS, storedRatio = mutable.ArrayBuffer.empty[Double]
    private val fs = mutable.ArrayBuffer.empty[FsOps]
    private var fullChecksum: Option[Long] = None

    /** One lifecycle in a fresh directory holding links to the table files. */
    def round(pass: Int): Unit = {
      val dirP = work.resolve(s"table-$pass")
      val dir = dirP.toString
      harness {
        Files.createDirectories(dirP)
        tableFiles.foreach(f => Files.createLink(dirP.resolve(Paths.get(f).getFileName), Paths.get(f)))
      }
      val b = batch
      val fs0 = FsOps.now()
      tr.span("sources.lifecycle") {
        for (_ <- 0 until coldLoads) {
          val t0 = System.nanoTime()
          val cold = tr.span("sources.load_cold")(load(dir, refresh = true))
          planColdS += (System.nanoTime() - t0) / 1e9
          val n = tr.span("sources.count")(cold.count())
          loadS += (System.nanoTime() - t0) / 1e9
          check("sources.cold_count", n == lines, s"$n rows, generator wrote $lines lines")
        }

        val (t, warmS) = secondsOf(tr.span("sources.load_warm")(load(dir, refresh = false)))
        planWarmS += warmS
        for (_ <- 0 until readSets) {
          val (full, fullS) = secondsOf(tr.span("sources.scan_full")(
            t.select(bit_xor(xxhash64(t.columns.map(c => col(s"`$c`")): _*))).head().getLong(0)))
          check("sources.full_checksum", fullChecksum.forall(_ == full), "checksum changed between reads")
          fullChecksum = Some(full)
          rowsPerS += lines / fullS
          val (pruned, prunedS) = secondsOf(tr.span("sources.scan_pruned")(
            t.select(sum(col(prunedCol))).head().get(0).asInstanceOf[Number].longValue))
          check("sources.pruned_sum", pruned == prunedSum, s"$pruned vs $prunedSum")
          val skip0 = PerfbenchProbe.zoneSkippedFiles
          val (hits, filterS) = secondsOf(tr.span("sources.scan_filter")(t.where(filterSql).count()))
          check("sources.filter_count", hits == filterCount, s"$hits vs $filterCount")
          zoneSkips += (PerfbenchProbe.zoneSkippedFiles - skip0).toDouble
          scanS += fullS + prunedS + filterS
        }

        for (k <- 1 to appends) {
          val w0 = System.nanoTime()
          tr.span("sources.append")(b.write.format("graftjson").mode("append").save(dir))
          appendS += (System.nanoTime() - w0) / 1e9
          val walked0 = PerfbenchProbe.filesWalked
          val n2 = tr.span("sources.load_incremental")(load(dir, refresh = false)).count()
          writeS += (System.nanoTime() - w0) / 1e9
          val want = lines + k * app.get("lines").asLong
          check("sources.append_count", n2 == want, s"$n2 rows after append $k, want $want")
          val files = Files.list(dirP).iterator().asScala.count { p =>
            val name = p.getFileName.toString
            Files.isRegularFile(p) && !name.startsWith("_") && !name.startsWith(".")
          }
          val w = (PerfbenchProbe.filesWalked - walked0).toDouble
          walked += w
          hitRatio += 1 - w / files
        }

        compactS += secondsOf(tr.span("sources.compact")(JsonCompact.compact(spark, dir)))._2
        saveS += secondsOf(tr.span("sources.meta_save")(JsonMeta.save(spark, dir)))._2
      }
      fs += FsOps.now() - fs0
      harness {
        storedRatio += dirBytes(dirP).toDouble / (tab.get("bytes").asLong + appends * app.get("bytes").asLong)
        if (pass == 0) {
          val r = load(dir, refresh = false).select(sum(col(prunedCol))).head()
          val after = load(dir, refresh = false).count()
          check("sources.compacted_table", after == allLines &&
            r.get(0).asInstanceOf[Number].longValue == prunedSum + appends * app.get("pruned_sum").asLong,
            s"$after rows after compaction")
        }
        graft.TempRoots.deleteRecursively(dirP)
      }
    }

    def finish(): Unit = {
      put("table_load_s", median(loadS.toSeq), "s")
      put("table_scan_s", median(scanS.toSeq), "s")
      put("table_write_s", median(writeS.toSeq), "s")
      if (trace) {
        put("sources.plan_cold_s", median(planColdS.toSeq), "s")
        put("sources.plan_warm_s", median(planWarmS.toSeq), "s")
        put("sources.files_walked", median(walked.toSeq), "count")
        put("sources.plan_cache_hit_ratio", median(hitRatio.toSeq), "ratio")
        put("sources.scan_rows_per_s", median(rowsPerS.toSeq), "rows/s")
        put("sources.zone_skips", median(zoneSkips.toSeq), "count")
        put("sources.append_commit_s", median(appendS.toSeq), "s")
        put("sources.compact_s", median(compactS.toSeq), "s")
        put("sources.meta_save_s", median(saveS.toSeq), "s")
        put("sources.fs_read_ops", median(fs.map(_.reads.toDouble).toSeq), "count")
        put("sources.fs_write_ops", median(fs.map(_.writes.toDouble).toSeq), "count")
        put("sources.fs_bytes_read", median(fs.map(_.bytesRead.toDouble).toSeq), "bytes")
        put("sources.fs_bytes_written", median(fs.map(_.bytesWritten.toDouble).toSeq), "bytes")
        put("sources.bytes_stored_ratio", median(storedRatio.toSeq), "ratio")
        harness {
          val docs = CliSession.readDocs(spark, tableFiles, whole = false, announceTo = devNull)
          val (schema, _) = docs.select(new InferSchemaCountAgg().toColumn).head()
          val matS = median((0 until 3).map(_ => secondsOf(Materialize.materialize(docs, schema).count())._2))
          put("infer.materialize_rows_per_s", lines / matS, "rows/s")
        }
      }
    }
  }

  // --------------------------------------------------------------- slice
  private def usedStorageMB(): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum / 1048576.0

  /** Drop every cache a pass left, so the next pass starts cleared. */
  private def teardown(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    var waited = 0
    while (usedStorageMB() > residualMB && waited < 1000) {
      if (waited == 200) System.gc()
      Thread.sleep(50); waited += 50
    }
    // storage that survived the wait and a GC is not reclaimable: later
    // teardowns wait only for what lies above it (graft.Bench does the same)
    residualMB = math.max(residualMB, usedStorageMB())
  }
  private var residualMB = 0.0

  /** One query pass, closed on `collect()`: (rows, seconds,
    * build/plan/exec split when tracing). */
  private def queryPass(name: String, layer: String): (Array[Row], Double, Seq[Double]) = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val split = mutable.ArrayBuffer.empty[Double]
    val rows = tr.span(s"$layer.$name") {
      if (!trace) fn(spark, sf).collect()
      else {
        val (df, b) = secondsOf(tr.span(s"$layer.build")(fn(spark, sf)))
        val (_, p) = secondsOf(tr.span(s"$layer.plan")(df.queryExecution.executedPlan))
        val (r, e) = secondsOf(tr.span(s"$layer.exec")(df.collect()))
        split ++= Seq(b, p, e)
        r
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    harness(teardown())
    (rows, s, split.toSeq)
  }

  /** Order-insensitive digest of a result. */
  private def digest(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode

  private def codegenMs(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum.toDouble

  private object slice {
    private val firstRows = mutable.Map.empty[String, Array[Row]]
    private val firstS = mutable.LinkedHashMap.empty[String, Double]
    private val warm = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    private val splits = mutable.ArrayBuffer.empty[Seq[Double]]
    private val opsFs = mutable.ArrayBuffer.empty[FsOps]
    private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    private var codegen = 0.0

    /** A pass with its codegen time and its time window (for job counts). */
    private def pass(name: String, layer: String) = {
      val c0 = codegenMs()
      val w0 = tr.now()
      val r = queryPass(name, layer)
      windows += ((w0, tr.now())); codegen += codegenMs() - c0
      r
    }

    def first(): Unit = for ((name, layer) <- Slice) {
      val (r, s, _) = pass(name, layer)
      firstRows(name) = r; firstS(name) = s
      check(s"queries.$name.rows", r.nonEmpty, "no rows")
    }

    def round(): Unit = {
      var split = Seq(0.0, 0.0, 0.0)
      var fsRound = FsOps.zero
      for ((name, layer) <- Slice) {
        val fs0 = FsOps.now()
        val (r, s, sp) = pass(name, layer)
        if (layer == "ops") fsRound = fsRound + (FsOps.now() - fs0)
        check(s"queries.$name.result", digest(r) == digest(firstRows(name)),
          s"${r.length} rows differ from the first pass (${firstRows(name).length} rows)")
        warm.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
        if (sp.nonEmpty) split = split.zip(sp).map { case (x, y) => x + y }
      }
      splits += split; opsFs += fsRound
    }

    def finish(): Unit = {
      put("slice_first_s", firstS.values.sum, "s")
      put("slice_warm_s", Slice.map { case (n, _) => median(warm(n).toSeq) }.sum, "s")
      if (trace) {
        for ((name, _) <- Slice) {
          put(s"queries.$name.first_s", firstS(name), "s")
          put(s"queries.$name.warm_s", median(warm(name).toSeq), "s")
        }
        put("queries.build_s", median(splits.map(_(0)).toSeq), "s")
        put("queries.plan_s", median(splits.map(_(1)).toSeq), "s")
        put("queries.exec_s", median(splits.map(_(2)).toSeq), "s")
        put("queries.codegen_compile_ms", codegen, "ms")
        drainListenerBus()
        put("queries.jobs", listener.synchronized(listener.jobs.count { case (js, _) =>
          windows.exists { case (a, b) => js >= a && js <= b } }).toDouble, "count")
        put("ops.fs_write_ops", median(opsFs.map(_.writes.toDouble).toSeq), "count")
        put("ops.fs_read_ops", median(opsFs.map(_.reads.toDouble).toSeq), "count")
        put("queries.storage_residual_mb", usedStorageMB(), "MB")
      }
      // the first pass's rows and the oracle SQL, for the DuckDB
      // comparison made after this JVM exits
      harness(writeResults())
    }

    private def writeResults(): Unit = {
      val mapper = new ObjectMapper()
      val out = mapper.createObjectNode()
      for ((name, _) <- Slice) {
        val q = out.putObject(name)
        q.put("sql", SparkEntry.oracleSql(name))
        val r = firstRows(name)
        val cols = q.putArray("columns")
        if (r.nonEmpty) r.head.schema.fieldNames.foreach(cols.add)
        val rows = q.putArray("rows")
        r.foreach(row => rows.add(mapper.valueToTree[JsonNode](
          row.toSeq.map(_.asInstanceOf[AnyRef]).asJava)))
      }
      Files.write(work.resolve("slice_results.json"), mapper.writeValueAsBytes(out))
    }
  }

  private def drainListenerBus(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  // -------------------------------------------------------------- engine
  /** Engine metrics over the workload's own operations, [t0, t1] minus
    * the harness windows; jobs and tasks that started in a harness
    * window are left out. */
  private def engineMetrics(t0: Long, t1: Long): Unit = {
    drainListenerBus()
    val l = listener
    def inHarness(t: Long) = harnessWindows.exists { case (a, b) => t >= a && t <= b }
    l.synchronized {
      val jobs = l.jobs.toSeq.filterNot(j => inHarness(j._1))
      val tasks = l.tasks.toSeq.filterNot(t => inHarness(t.launchNs))
      put("spark.executor_run_s", tasks.map(_.runMs).sum / 1e3, "s")
      put("spark.executor_cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s")
      put("spark.gc_s", tasks.map(_.gcMs).sum / 1e3, "s")
      put("spark.tasks", tasks.size.toDouble, "count")
      put("spark.task_p50_ms", median(tasks.map(_.durationMs.toDouble)), "ms")
      put("spark.task_max_ms", tasks.map(_.durationMs).max.toDouble, "ms")
      put("spark.shuffle_write_bytes", tasks.map(_.shuffleBytes).sum.toDouble, "bytes")
      put("spark.result_bytes", tasks.map(_.resultBytes).sum.toDouble, "bytes")
      def clip(iv: Seq[(Long, Long)]) = iv.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      val harnessNs = Tracer.unionLength(clip(harnessWindows.toSeq))
      val wall = (t1 - t0 - harnessNs) / 1e9
      val covered = Tracer.unionLength(clip(harnessWindows.toSeq ++ jobs))
      put("spark.driver_gap_s", (t1 - t0 - covered) / 1e9, "s")
      put("spark.delivered_width", tasks.map(_.runMs).sum / 1e3 / wall, "ratio")
      tr.selfTimes(jobs).foreach { case (layer, s) => put(s"$layer.self_s", s, "s") }
    }
    tr.write(work.resolve("trace.jsonl"))
  }

  // ---------------------------------------------------------------- host
  /** Host context, printed beside the metrics and never one of them:
    * CPUs, heap, and the CPU the host delivers to N threads of fixed
    * work (Σ thread CPU / wall). */
  private def hostContext(): Unit = {
    val n = Runtime.getRuntime.availableProcessors
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val cpu = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val threads = (0 until n).map { _ =>
      new Thread(() => {
        val c0 = bean.getCurrentThreadCpuTime
        var acc = 0L
        var i = 0
        while (i < 50000000) { acc = acc * 6364136223846793005L + i; i += 1 }
        if (acc == 42) print("")
        cpu.addAndGet(bean.getCurrentThreadCpuTime - c0)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val heapMB = Runtime.getRuntime.maxMemory / 1048576
    println(f"""host {"nproc":$n,"heap_mb":$heapMB,"delivered_cpu":${cpu.get / 1e9 / wall}%.3f}""")
  }

  private def vmHwmMB(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
