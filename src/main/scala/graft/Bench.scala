package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.node.{DecimalNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The timing harness. `runMain graft.Bench [prefixes]` times the
  * SparkEntry queries against SPARK_GRAFT_SF_DIR (all of them, or those
  * whose names start with one of the comma-separated prefixes, as in
  * graft.Verify), then runs one probe ladder per replica factor K in
  * SPARK_GRAFT_SFK (comma list, default 10; 0 runs none), and prints one
  * JSON summary line. A run over every query also writes
  * bench_full.json and bench_summary.json; each ladder merges its rows
  * into its own per-K board ([[board]]).
  * A small untimed warmup absorbs JVM/codegen/session start-up so
  * per-query numbers measure the plans, not the first-query tax.
  */
object Bench {
  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRec(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Deletes a scratch table directory and the graph built over it. */
  private def dropScratch(dir: String): Unit =
    (pipeline.GraphQueries.release(dir).toSeq :+ dir).foreach { d =>
      try deleteRec(Paths.get(d)) catch { case _: Throwable => () }
    }

  // ------------------------------------------------------------- JSON
  // Boards are read back and merged, so they go through a real parser;
  // exact decimals keep an untouched row's text ("78.30") as it was.
  private val M = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)

  /** A JSON value: seconds and ratios (Double) print with 2 decimals. */
  private def js(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case d: Double => DecimalNode.valueOf(java.math.BigDecimal.valueOf(d)
      .setScale(2, java.math.RoundingMode.HALF_UP))
    case l: Long => M.getNodeFactory.numberNode(l)
    case i: Int => M.getNodeFactory.numberNode(i)
    case s: String => M.getNodeFactory.textNode(s)
    case xs: Iterable[_] => val a = M.createArrayNode(); xs.foreach(x => a.add(js(x))); a
  }

  /** An object of the given fields in order; a `None` field is left out. */
  private def obj(fields: (String, Any)*): ObjectNode = {
    val o = M.createObjectNode()
    fields.foreach {
      case (_, None) => ()
      case (k, Some(v)) => o.set[JsonNode](k, js(v))
      case (k, v) => o.set[JsonNode](k, js(v))
    }
    o
  }

  /** JSON text with objects expanded one field per line down to depth
    * `expand` and compact below: the boards' one-row-per-line layout.
    */
  private def render(n: JsonNode, expand: Int, indent: String = ""): String =
    if (expand <= 0 || !n.isObject || n.isEmpty) M.writeValueAsString(n)
    else n.properties.asScala.toSeq.map { e =>
      s"$indent  ${M.writeValueAsString(e.getKey)}: " +
        render(e.getValue, expand - 1, indent + "  ")
    }.mkString("{\n", ",\n", s"\n$indent}")

  private def short(name: String): String = name.takeWhile(_ != '_')

  // ------------------------------------------------------------ layout
  /** Range layout of the map-heavy tables (text/vector corpus, events):
    * for them the map side (tokenize, shingle, hash, dot products, jsonb
    * parsing) dominates, so they are split `n` ways — measured ~2.5x on
    * the corpus-heavy ops. Range-partitioning + sorting on the id KEEPS
    * clustering: bounded ops (doc_id < k, user-bounded event queries)
    * prune whole files via row-group min/max. Other tables pass through.
    */
  private def layout(df: DataFrame, t: String, n: Int): DataFrame =
    rangeKeys.get(t).fold(df)(ks =>
      df.repartitionByRange(n, col(ks.head)).sortWithinPartitions(ks.map(col): _*))

  // events: streaming reads stay a single AvailableNow micro-batch
  // (< 1000 files), so no cross-batch watermark hazard
  private val rangeKeys = Map("documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"), "events" -> Seq("user_id", "ts"))

  // SPARK_GRAFT_SCALE_CORPUS=1 opts the text/vector corpus INTO the Kx
  // replica (key-shifted copies, so every doc gains K-1 exact duplicates
  // — the dup-heavy corpus shape) for probes of the dedup/LM/packing
  // family. Off, the corpus rides along unscaled.
  private def scaleCorpus: Boolean = sys.env.get("SPARK_GRAFT_SCALE_CORPUS").contains("1")

  /** Builds a Kx key-shifted replica of sfDir into a caller-created
    * `dir`: dims stay 1x, facts get consistently shifted entity keys,
    * events keep their users and grow K-fold per user. The caller creates
    * the directory FIRST and owns its deletion — so a mid-build failure
    * (the replica is ~Kx the input on disk) can never leak a partial copy
    * outside the caller's cleanup.
    *
    * LAYOUT PARITY: the suite runs on the re-laid copy ([[layout]], the
    * same `nSplit`); the replica must match, or text/vector probes on
    * UNSCALED data read one fat file and report a phantom 3-5x "scale"
    * ratio that is really lost scan parallelism (measured: p29 5.4x, p61
    * 5.1x on identical bytes).
    */
  def makeReplica(spark: SparkSession, sfDir: String, dir: String,
      k: Int, nSplit: Int): Unit = {
    def ld(t: String) = relational.Tables.load(spark, sfDir, t)
    def span(t: String, c: String): Long =
      ld(t).agg(max(col(c))).head.getLong(0) + 1L
    // SPARK_GRAFT_REPLICA_TABLES (comma list): restrict the Kx
    // treatment to the named tables; everything else copies at 1x with
    // the same layout. A corpus-family third-decade probe (K = 1000,
    // documents/embeddings only) must not pay the ~35-minute / ~17 GB
    // 1000x TPC-H build it never reads.
    val onlyTables = sys.env.get("SPARK_GRAFT_REPLICA_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    lazy val cK = span("customer", "c_custkey")
    lazy val oK = span("orders", "o_orderkey")
    lazy val sK = span("supplier", "s_suppkey")
    lazy val pK = span("part", "p_partkey")
    lazy val eK = span("events", "event_id")
    lazy val dK = span("documents", "doc_id")
    lazy val vK = span("embeddings", "vec_id")
    lazy val evSpan = ld("events").agg((max(col("ts")).cast("long") -
      min(col("ts")).cast("long")) + 3600L).head.getLong(0)
    def shift(d: DataFrame, i: Int, cs: (String, Long)*): DataFrame =
      cs.foldLeft(d) { case (acc, (c, n)) => acc.withColumn(c, col(c) + lit(i * n)) }
    val shifts: Map[String, (DataFrame, Int) => DataFrame] = Map(
      "customer" -> ((d, i) => shift(d, i, "c_custkey" -> cK)),
      "orders" -> ((d, i) => shift(d, i, "o_orderkey" -> oK, "o_custkey" -> cK)),
      "lineitem" -> ((d, i) =>
        shift(d, i, "l_orderkey" -> oK, "l_suppkey" -> sK, "l_partkey" -> pK)),
      "supplier" -> ((d, i) => shift(d, i, "s_suppkey" -> sK)),
      "part" -> ((d, i) => shift(d, i, "p_partkey" -> pK)),
      "events" -> ((d, i) => shift(d, i, "event_id" -> eK)
        .withColumn("ts", col("ts") + expr(s"INTERVAL '${i * evSpan}' SECOND"))),
      "documents" -> ((d, i) => shift(d, i, "doc_id" -> dK)),
      "embeddings" -> ((d, i) => shift(d, i, "vec_id" -> vK)))
    def scaled(t: String): Boolean = shifts.contains(t) &&
      onlyTables.forall(_.contains(t)) &&
      (scaleCorpus || !Seq("documents", "embeddings").contains(t))
    // a table's copies append in waves of <= 100: a single K-way
    // left-deep unionAll is fine at K = 10/100, but at K = 1000 the
    // depth-1000 plan tree taxes analysis
    relational.Tables.all.foreach { t =>
      val copies = if (scaled(t)) k else 1
      (0 until copies).grouped(100).zipWithIndex.foreach { case (g, gi) =>
        val wave = g.map(i => if (copies == 1) ld(t) else shifts(t)(ld(t), i))
        layout(wave.reduce(_ unionAll _), t, nSplit)
          .write.mode(if (gi == 0) "overwrite" else "append")
          .parquet(s"$dir/$t.parquet")
      }
    }
  }

  // ------------------------------------------------------------ timing
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** One run of a query: wall seconds, the GC time it was charged
    * (when a number balloons, gc_ms says whether the plan got slower or
    * the JVM charged collection tax to an innocent query) and its
    * failure. A failed run times as -1.
    */
  private[graft] final case class Run(wall: Double, gcMs: Long, err: Option[Throwable]) {
    def sec: Double = if (err.isEmpty) wall else -1.0
    def errText: Option[String] = err.map(e =>
      (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(160))
  }

  /** Times `fn(spark, dir).count()`. Post-query hygiene: drop cached
    * blocks AND the query's own localCheckpoint RDDs. clearCache() only
    * covers DataFrame-level caches; localCheckpoint persists raw RDD
    * blocks that survive until the RDD object is GC'd, so 241 queries x 3
    * passes in one JVM accumulated storage until later queries paid
    * eviction + GC tax (measured: p114 2.6s -> 22.1s in-run). The
    * diff-unpersist is safe because no query reuses another query's
    * checkpoint — cross-query state lives in parquet; RDDs persisted
    * before the query (the one-time graph fixture) are left alone.
    */
  private[graft] def runQuery(spark: SparkSession, name: String, dir: String): Run = {
    val fn = SparkEntry.queries(name)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val err = try { fn(spark, dir).count(); None }
      catch { case e: Throwable => Some(e) }
    val run = Run((System.nanoTime() - t0) / 1e9, gcMillis() - gc0, err)
    try spark.sharedState.cacheManager.clearCache()
    catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
    catch { case _: Throwable => () }
    run
  }

  /** Between passes: a forced GC lets ContextCleaner reclaim shuffle
    * files and broadcast blocks of dead plans, so the next pass starts
    * from the same JVM state (the variance killer).
    */
  private def settle(): Unit = { System.gc(); Thread.sleep(200) }

  // ------------------------------------------------------------ ladder
  /** The board file and section key of the Kx ladder over `sfDir`,
    * named by the replica's scale: the scale in sfDir's name (`sf<s>`,
    * else the default sf0.1) times K — bench_sf1.json / "sf1_probe_10x"
    * for K = 10 over sf0.1, bench_sf0.02.json / "sf0.02_probe_2x" for
    * K = 2 over sf0.01. A corpus-scaled replica probes a DIFFERENT
    * workload shape (every doc duplicated K times), so its rows get their
    * own board.
    */
  private[graft] def board(sfDir: String, k: Int): (String, String) = {
    val base = "^sf([0-9]+(?:\\.[0-9]+)?)$".r
      .findFirstMatchIn(Paths.get(sfDir).getFileName.toString)
      .fold(BigDecimal("0.1"))(m => BigDecimal(m.group(1)))
    val sf = (base * k).bigDecimal.stripTrailingZeros.toPlainString
    val corpus = if (scaleCorpus) "_corpus" else ""
    (s"bench_sf$sf$corpus.json", s"sf${sf}_probe_${k}x$corpus")
  }

  /** Merges `rows` into section `key` of the board at `path`: rows
    * measured now replace theirs, every other row and field stays, so
    * a run over a few names never drops the rest of the board. A board
    * that exists but does not parse as one (a hand edit, a truncated
    * write) is never rewritten — that would silently drop the committed
    * rows; this run's board goes to `<path>.unmerged` to merge by hand.
    */
  private def mergeBoard(path: Path, key: String,
      rows: Seq[(String, JsonNode)]): Unit = {
    val old: Option[ObjectNode] =
      if (!Files.exists(path)) Some(obj("note" -> ""))
      else try M.readTree(path.toFile) match {
        case o: ObjectNode if o.path(key).isObject || !o.has(key) => Some(o)
        case _ => None
      } catch { case _: java.io.IOException => None }
    val out = old.getOrElse(obj("note" -> ""))
    val section = out.path(key) match {
      case s: ObjectNode => s
      case _ => out.putObject(key)
    }
    rows.foreach { case (n, r) => section.set[JsonNode](n, r) }
    val target = if (old.isDefined) path else Paths.get(s"$path.unmerged")
    Files.writeString(target, render(out, 2) + "\n")
    if (old.isEmpty) System.err.println(s"[bench] $path does not parse as a " +
      s"board — NOT rewriting it; this run's rows are in $target, merge by hand")
  }

  /** A ladder's outcome: its rows and their summary node. */
  private[graft] final case class Ladder(k: Int, rows: Seq[(String, ObjectNode)],
      summary: ObjectNode)

  /** The known heavy hitters run FIRST in every ladder: a deadline
    * expiry must cut the cheap tail, not the signal.
    */
  private val heavies = Seq(
    "s05_stream_interval_join", "s09_stream_outer_join",
    "p107_adamic_adar", "p110_metapath_walk", "p114_aa_degree_capped",
    "p75_copurchase", "p57_closeness", "g41_foaf_pattern",
    "g29_sql_exists_correlated")

  /** The probe ladder at replica factor `k`: scale validation of `names`
    * on a Kx key-shifted replica of `sfDir` ([[makeReplica]]). A design
    * that scales ~linearly lands at <= ~K times its `den` (the suite's
    * steady time); superlinear growth flags a plan that would not
    * survive 100 TB. Rows merge into the per-K board under `outDir`.
    *
    * Protocol, the same for every K: an untimed warm pass, two
    * time-decorrelated timed passes (min is the estimator), and up to
    * two isolated retries for a probe whose ratio is still above 8x.
    * Derived from K: the phase deadline (1800 s at 10x,
    * scaled by K/10), shuffle partitions (max(current, 256·K/100)) and,
    * for K >= 100, DISK_ONLY pair state (`graft.state.disk`).
    */
  private[graft] def ladder(spark: SparkSession, sfDir: String, k: Int,
      names: Seq[String], den: Map[String, Double], outDir: String,
      nSplit: Int): Ladder = {
    val tag = s"[ladder ${k}x]"
    // the tail is SHUFFLED (fixed seed — runs stay comparable):
    // alphabetical order clusters each family into one contiguous
    // wall-clock window, so a single contended window on a noisy host
    // flags a whole family at once (measured: 21 "breaches", all
    // q-family, all in one stretch, contradicted by the steady passes).
    val order = heavies.filter(names.contains) ++ new scala.util.Random(42L)
      .shuffle(names.filterNot(heavies.contains).sorted)
    val warm = new scala.collection.mutable.LinkedHashMap[String, Run]()
    val runs = new scala.collection.mutable.LinkedHashMap[String, Vector[Run]]()
    def best(n: String): Double = {
      val ok = runs.getOrElse(n, Vector.empty).filter(_.err.isEmpty).map(_.wall)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def denOf(n: String): Option[Double] = den.get(n).filter(_ > 0.005)
    def ratio(n: String): Option[Double] =
      denOf(n).filter(_ => best(n) > 0).map(best(n) / _)
    var error: Option[String] = None
    var dir: Path = null
    try {
      dir = Files.createTempDirectory(s"graft_ladder_${k}x")
      makeReplica(spark, sfDir, dir.toString, k, nSplit)
      // the probe log must PROVE the replica's scale (an unscaled table
      // would silently publish a flat ratio)
      for (t <- Seq("lineitem", "events", "documents")) {
        val n = spark.read.parquet(s"$dir/$t.parquet").count()
        val base = spark.read.parquet(s"$sfDir/$t.parquet").count()
        System.err.println(s"$tag replica $t rows = $n (base $base)")
      }
      // the Kx graph bulk load is one-time ETL, untimed, and its
      // persisted label tables compete with the probes' execution
      // memory — built only when a g-probe needs it
      if (order.exists(_.startsWith("g")))
        try pipeline.GraphQueries.session(spark, dir.toString)
        catch { case _: Throwable => () }
      val deadline = System.nanoTime() + 1800L * k / 10 * 1000000000L
      def live: Boolean = System.nanoTime() < deadline
      def probe(n: String): Unit = {
        val r = runQuery(spark, n, dir.toString)
        runs(n) = runs.getOrElse(n, Vector.empty) :+ r
        System.err.println(f"$tag $n: ${r.sec}%.2f s")
      }
      // Kx data on the suite's partition count puts ~K times the
      // per-partition state into each task (the first 100x attempt died
      // on 2 GB execution-page requests): more, smaller tasks — the SAME
      // knob a real 100 TB deployment turns; AQE coalesces light stages.
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(prevShuffle.toInt, 256 * k / 100).toLong)
      // frontier pair-states go DISK_ONLY from 100x (see
      // GraphAnalytics.forcedDisk — MEMORY_AND_DISK starves the unified
      // pool at 100x even under an 80 GB heap)
      val setDisk = k >= 100 && !sys.props.contains("graft.state.disk")
      if (setDisk) System.setProperty("graft.state.disk", "1")
      try {
        // the UNTIMED warm pass: the first post-build pass pays
        // replica-write page-cache eviction, first-read I/O and codegen
        // (measured: p114 763 s warm vs 111 s min at 100x); write queries
        // pay one-time fixture creation (measured: g30 9.6x first, 2x
        // steady). Its seconds ride on the row, never in the minimum.
        for (n <- order if live) {
          warm(n) = runQuery(spark, n, dir.toString)
          System.err.println(f"$tag $n warm (untimed): ${warm(n).wall}%.2f s")
        }
        // only probes whose warm pass ran: a deadline-cut probe must not
        // sneak in a cold first timed sample
        for (_ <- 1 to 2) {
          settle()
          for (n <- order if live && warm.contains(n)) probe(n)
        }
        // a real superlinear plan reproduces under isolation; a
        // contended window does not
        for (n <- order if runs.contains(n)) {
          var retries = 0
          while (retries < 2 && live && ratio(n).exists(_ > 8.0)) {
            settle(); probe(n); retries += 1
          }
        }
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        if (setDisk) System.clearProperty("graft.state.disk")
      }
    } catch {
      // a broken ladder must be distinguishable from a disabled one
      case e: Throwable =>
        error = Some((e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage)).take(200))
    } finally {
      // the replica is ~K times the input on disk — never leak it
      if (dir != null) dropScratch(dir.toString)
    }
    // a probe whose warm pass ran but whose every timed pass was
    // deadline-cut still publishes its warm evidence
    val rows = order.filter(warm.contains).map { n =>
      val rs = runs.getOrElse(n, Vector.empty)
      val failed = rs.isEmpty && warm(n).err.nonEmpty || rs.nonEmpty && best(n) < 0
      val err = if (failed) (warm(n) +: rs).flatMap(_.errText).lastOption else None
      n -> (if (rs.isEmpty)
        obj("warm" -> warm(n).wall, "err" -> err, "protocol" -> "warm-only")
      else obj("sec" -> best(n), "ratio" -> ratio(n), "den" -> denOf(n),
        "warm" -> warm(n).wall, "runs" -> rs.map(_.sec), "gc_ms" -> rs.map(_.gcMs),
        "err" -> err, "protocol" -> s"min${rs.length}-warm"))
    }
    val (file, key) = board(sfDir, k)
    if (rows.nonEmpty)
      try mergeBoard(Paths.get(outDir, file), key, rows)
      catch { case e: Throwable => System.err.println(s"$tag board merge failed: $e") }
    val ratios = order.flatMap(n => ratio(n).map(n -> _)).sortBy(-_._2)
    val failed = rows.collect { case (n, r) if r.has("err") =>
      short(n) -> r.get("err").asText.takeWhile(_ != ':') }
    val dropped = order.filterNot(warm.contains).map(short)
    Ladder(k, rows, obj("board" -> file,
      "probes" -> runs.size, "max_ratio" -> ratios.headOption.map(_._2),
      "top" -> obj(ratios.take(12).map { case (n, r) => short(n) -> r }: _*),
      "failed" -> obj(failed: _*),
      // rows per protocol: a min-of-two estimator that fell to one
      // sample (deadline) shows here without reading the board
      "protocols" -> obj(rows.groupBy(_._2.path("protocol").asText).toSeq
        .sortBy { case (p, rs) => (-rs.size, p) }.map { case (p, rs) => p -> rs.size }: _*),
      "dropped" -> (if (dropped.isEmpty) None else Some(dropped)),
      "error" -> error))
  }

  // -------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.queries.keys.filter(Verify.only(args.headOption)).toSeq.sorted
    val whole = args.isEmpty
    val factors = sys.env.getOrElse("SPARK_GRAFT_SFK", "10").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toInt).filter(_ > 0)
    // round-close hygiene gate: every board run provably executes
    // tools/hygiene.py (reports == live suites, fresh vs last src
    // commit, all green) and carries the outcome into the summary, so a
    // stale-evidence board can't pass silently. Non-fatal: the bench
    // still measures, but a violation is loud in the JSON and on stderr.
    val hygiene: String = try {
      val pb = new ProcessBuilder("python3", "tools/hygiene.py")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val hOut = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      val last = hOut.linesIterator.toSeq.lastOption.getOrElse("").trim
      System.err.println(s"[bench] hygiene gate rc=$rc: $last")
      if (rc == 0) "OK" else last
    } catch { case e: Throwable => s"unavailable: ${e.getClass.getSimpleName}" }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    // GraftSession carries the static production confs (codegen class
    // cache sized for a >100-plan workload and a bounded SQL status
    // store); the bench tightens the status-store windows further on top
    // (headless, measurement JVM).
    val spark = api.GraftSession.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Even with the UI off, the app status store retains the last
      // 1000 jobs/stages; 245 queries x 3 passes -> old-gen bloat ->
      // GC tax on the allocation-heavy queries late in the run.
      .config("spark.sql.ui.retainedExecutions", "24")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the per-query checkpoint unpersist is deliberate — the RDDs are
    // dead — so the per-RDD "lineage truncated" WARN is noise
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    // warmup: shuffle, window, higher-order-fn and jsonb codegen paths,
    // plus a first scan of every input table (file listing + footer +
    // page-cache fill are one-time costs, not per-plan costs)
    try {
      spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().count()
      spark.range(100).selectExpr("id % 5 AS k", "id AS v")
        .selectExpr("rank() OVER (PARTITION BY k ORDER BY v) AS r").count()
      spark.range(10).selectExpr(
        "aggregate(array(1.0d, 2.0d), 0.0d, (a, x) -> a + x) AS s").count()
      spark.range(10).selectExpr("'{\"k\": 1}' AS p")
        .select(graft.expr.J.getKey(col("p"), "k")).count()
    } catch { case _: Throwable => () }
    // One-time data layout (the COPY/bulk-load analog): the driver's
    // testdata is one row-group per table, so every scan is a single
    // partition and all pre-shuffle work single-threaded. The map-heavy
    // tables get [[layout]]; the relational/graph tables are compacted
    // to one file: their plans are shuffle-bound, and extra input splits
    // only add task overhead at this scale (iterative graph loops
    // multiply it per round). Paid once here, like any ETL.
    val nSplit = math.min(cpus.toInt, 16)
    val benchDir = try {
      val relaid = Files.createTempDirectory("graft_bench_layout").toString
      relational.Tables.all.foreach { t =>
        val df = relational.Tables.load(spark, sfDir, t)
        val out = if (rangeKeys.contains(t)) layout(df, t, nSplit) else df.coalesce(1)
        out.write.mode("overwrite").parquet(s"$relaid/$t.parquet")
      }
      relaid
    } catch { case _: Throwable => sfDir }
    // graph bulk load is one-time ETL, not query cost: build it here so
    // gNN timings measure the Cypher plans
    try pipeline.GraphQueries.session(spark, benchDir)
    catch { case _: Throwable => () }
    // Per-pass JVM health snapshot: the gc_ms columns clear the heap, so
    // a pass that balloons with gc≈0 needs the OTHER exhaustion axes on
    // record — JIT code cache (hot loops go interpreted when it
    // saturates), metaspace/class count (generated-class churn), storage
    // blocks (a checkpoint leak would show here).
    def jvmSnap(): ObjectNode = {
      import java.lang.management.{ManagementFactory => mx}
      val pools = mx.getMemoryPoolMXBeans.asScala
      def mb(f: java.lang.management.MemoryPoolMXBean => Boolean): Long =
        pools.filter(f).map(_.getUsage.getUsed).sum / (1024 * 1024)
      val storage = try {
        val st = org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus
        st.map(s => s.maxMem - s.memRemaining).sum / (1024 * 1024)
      } catch { case _: Throwable => -1L }
      obj("code_cache_mb" -> mb(_.getName.startsWith("CodeHeap")),
        "metaspace_mb" -> mb(_.getName.contains("Metaspace")),
        "heap_mb" -> mx.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024 * 1024),
        "classes" -> mx.getClassLoadingMXBean.getLoadedClassCount,
        "storage_mb" -> storage, "gc_total_ms" -> gcMillis())
    }
    val jvmMarks = obj()
    // per-query attribution for steady2 variance: any pass-2 query > 3x
    // its pass-1 time gets an immediate post-query snapshot (per-pass
    // snapshots could not attribute q28 5.1s / p112 8.9s pass-2 spikes
    // at gc=0), so the next cross-environment disagreement names its
    // axis in-run.
    val steady2Outliers = obj()
    def pass(mark: String, baseline: Map[String, Double] = Map.empty): Seq[(String, Run)] = {
      val out = names.map { n =>
        val r = runQuery(spark, n, benchDir)
        baseline.get(n).foreach { b =>
          if (b > 0 && r.sec > 3 * b && r.sec > 1.0)
            steady2Outliers.set[JsonNode](n, obj("steady1" -> b,
              "steady2" -> r.sec, "gc_ms" -> r.gcMs, "snap" -> jvmSnap()))
        }
        n -> r
      }
      settle()
      jvmMarks.set[JsonNode](mark, jvmSnap())
      out
    }
    // Three passes per query: the first (cold) compiles the plan's
    // generated code — a one-time cost per plan shape, not engine
    // throughput; steady-state is the min of the two post-codegen runs
    // (one run is hostage to GC/host noise; min-of-n is the standard
    // estimator). Every total is reported.
    jvmMarks.set[JsonNode]("before_cold", jvmSnap())
    val cold = pass("after_cold")
    val s1 = pass("after_steady1")
    val s2 = pass("after_steady2", s1.map { case (n, r) => n -> r.sec }.toMap)
    val results = s1.zip(s2).map { case ((n, a), (_, b)) =>
      n -> (if (a.sec > 0 && b.sec > 0) math.min(a.sec, b.sec) else math.max(a.sec, b.sec))
    }
    // a query fails when both steady runs fail
    val failed = names.indices.collect { case i if results(i)._2 < 0 =>
      short(names(i)) -> s2(i)._2.err.get.getClass.getSimpleName }
    // The summary goes to stdout AND to a file the harness can read
    // directly (a stdout scrape must never be the only copy), written
    // TWICE: right after the suite passes, with the ladders pending — a
    // complete, parseable board on disk before the long ladders start —
    // and again with the ladders. A filtered run writes neither file:
    // it must not clobber the whole suite's board.
    def writeBoards(ladders: Seq[Ladder], partial: Option[String]): String = {
      val full = obj("sf" -> sfDir,
        "queries" -> obj(names.indices.map { i =>
          names(i) -> obj("cold" -> cold(i)._2.sec, "steady1" -> s1(i)._2.sec,
            "steady2" -> s2(i)._2.sec, "min" -> results(i)._2,
            "gc1_ms" -> s1(i)._2.gcMs, "gc2_ms" -> s2(i)._2.gcMs)
        }: _*),
        "ladders" -> obj(ladders.map(l => l.k.toString -> l.summary): _*),
        "steady2_outliers" -> steady2Outliers, "jvm" -> jvmMarks,
        "failed" -> obj(failed: _*), "partial" -> partial)
      val fams = results.groupBy(_._1.head.toString).toSeq.sortBy(_._1)
        .map { case (fam, rs) => fam -> rs.map(_._2).sum }
      // value = steady-state total (min over runs); cold_total_sec = the
      // first run, which pays one-time codegen/planning per plan shape
      val summary = obj("metric" -> "total", "value" -> results.map(_._2).sum,
        "unit" -> "sec",
        "queries" -> obj(results.sortBy(-_._2).map { case (n, v) => short(n) -> v }: _*),
        "families" -> obj(fams: _*), "n_queries" -> results.length,
        "cold_total_sec" -> cold.map(_._2.sec).sum, "failed" -> obj(failed: _*),
        "ladders" -> obj(ladders.map(l => l.k.toString -> l.summary): _*),
        "partial" -> partial, "hygiene" -> hygiene, "sf" -> sfDir,
        "full" -> (if (whole) Some("bench_full.json") else None))
      val line = M.writeValueAsString(summary)
      if (whole) try {
        Files.writeString(Paths.get("bench_full.json"), render(full, 2) + "\n")
        Files.writeString(Paths.get("bench_summary.json"), line + "\n")
      } catch { case e: Throwable => System.err.println(s"[bench] board write failed: $e") }
      line
    }
    writeBoards(Nil, Some("suite passes complete; ladders pending"))
    val ladders = factors.map { k =>
      val l = ladder(spark, sfDir, k, names, results.toMap, ".", nSplit)
      jvmMarks.set[JsonNode](s"after_ladder_${k}x", jvmSnap())
      l
    }
    val summary = writeBoards(ladders, None)
    // the re-laid-out table copy is bench-local scratch — reclaim it
    if (benchDir != sfDir) dropScratch(benchDir)
    // Shutdown ORDER matters for the stdout parse: a
    // RejectedExecutionException storm from executor pools tearing down
    // at JVM exit once pushed the summary out of a bounded tail capture.
    // Stop Spark FIRST (awaits context shutdown), let straggler pool
    // threads drain, and only then print the summary — the last thing
    // this process writes.
    try spark.stop() catch { case _: Throwable => () }
    try { System.gc(); Thread.sleep(800) } catch { case _: Throwable => () }
    println(summary)
    System.out.flush()
  }
}
