package graphbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.api.CypherSession
import graft.cypher.{Builder, Parser}
import graft.jsonb._

/** One benchmark run: set up, warm up, drive one workload in a closed
  * loop for the requested seconds, check every result, print metrics.
  *
  *   graphbench.Main --workload read_mix --seed 1 --seconds 10 --trace 0
  *     --work <scratch dir> --data <raw table cache> --out <diagnostics dir>
  *
  * The last stdout line is the result object. `--trace 1` runs the
  * same ops again layer by layer (see [[Layers]]) and reports per-layer
  * metrics instead of the end-to-end ones.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, out: String, sf: Double)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("work"), need("data"), need("out"),
      m.getOrElse("sf", "0.1").toDouble)
    require(Workloads.names.contains(a.workload), s"unknown workload '${a.workload}'")
    a
  }

  /** What a run reports. The settled heap is measured by the caller,
    * once nothing of the run (results, ops) is reachable any more.
    */
  final case class Outcome(summary: Map[String, Any], correct: Boolean, attempted: Int,
      failed: Int, metrics: Seq[(String, Double, String)], withHeap: Boolean)

  def main(argv: Array[String]): Unit = {
    val code = try {
      val o = run(parse(argv))
      val heap = if (!o.withHeap) Nil else {
        // Spark frees cached blocks of collected plans asynchronously
        // (ContextCleaner): collect, give the cleaner time, collect again
        (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
        Seq(("heap_mb", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6, "MB"))
      }
      println(Json(o.summary))
      println(Json(Map("correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> (o.metrics ++ heap).map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graphbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bound the status store, so the heap does not grow with the op count
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The raw tables of scale factor `sf` under `cache`, generated once
    * (they depend only on `sf`) and renamed into place when complete.
    */
  def rawTables(spark: SparkSession, cache: String, sf: Double, work: String): String = {
    val dir = Paths.get(cache, s"sf$sf")
    if (!Files.exists(dir)) {
      val tmp = s"$work/raw-sf$sf"
      Data.generate(spark, tmp, sf)
      Files.createDirectories(dir.getParent)
      try Files.move(Paths.get(tmp), dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => () } // a concurrent run won
    }
    dir.toString
  }

  def rmTree(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => rmTree(c.getPath)))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** One executed op. `rows` is null when the op threw. */
  final case class Rec(op: Op, nanos: Long, rows: Array[Row], stats: Map[String, Long],
      error: Option[String], layers: Map[String, Double] = Map.empty)

  def toJ(v: Any): JValue = v match {
    case s: String => JStr(s)
    case b: Boolean => JBool(b)
    case i: Int => JNum(java.math.BigDecimal.valueOf(i.toLong))
    case l: Long => JNum(java.math.BigDecimal.valueOf(l))
    case d: Double => JNum(new java.math.BigDecimal(d.toString))
    case other => throw new IllegalArgumentException(s"unsupported parameter $other")
  }

  /** What one statement left behind. */
  final case class Done(rows: Array[Row], stats: Map[String, Long], layers: Map[String, Double])

  /** Runs an op: its statement, then its read-back if it has one. The
    * clock spans submitting the first statement to holding the last row
    * of the last one.
    */
  abstract class Exec {
    protected def statement(op: Op): Done
    def apply(op: Op): Rec = {
      val t0 = System.nanoTime
      try {
        val w = statement(op)
        val r = op.readBack.map(statement)
        val nanos = System.nanoTime - t0
        val layers = r.fold(w.layers)(rb => (w.layers.keySet ++ rb.layers.keySet).map { k =>
          k -> (w.layers.getOrElse(k, 0.0) + rb.layers.getOrElse(k, 0.0))
        }.toMap)
        Rec(op, nanos, r.getOrElse(w).rows, w.stats, None, layers)
      } catch {
        case e: Exception => Rec(op, System.nanoTime - t0, null, Map.empty, Some(e.toString))
      }
    }
  }

  /** The closed-loop client: runs ops through the public calls only. */
  final class Client(spark: SparkSession, s: CypherSession) extends Exec {
    protected def statement(op: Op): Done = {
      val df = op.stmt match {
        case Cypher(t, p) => s.cypher(t, p)
        case HybridSql(t) => s.sql(t)
        case Analytics(_, f) => f(spark)
      }
      val rows = op.shape(df).collect()
      Done(rows, if (op.expect.isInstanceOf[Stats]) s.lastWriteStats else Map.empty, Map.empty)
    }
  }

  /** Runs the same ops layer by layer from outside the engine:
    * `Parser.parse`, `new Builder(...).run(ast)` (or the hybrid SQL /
    * `GraphAnalytics` call), forcing `executedPlan`, materializing.
    */
  final class Layers(spark: SparkSession, s: CypherSession, log: JobLog, graphDir: String) extends Exec {
    protected def statement(op: Op): Done = try {
      val write = op.expect.isInstanceOf[Stats]
      val before = if (write) Trace.snapshot(graphDir) else Map.empty[String, (Long, Long)]
      val gc0 = Trace.gcMs()
      var marks = Vector((System.currentTimeMillis, System.nanoTime)) // (wall ms, nanos) per boundary
      def mark(): Unit = marks :+= ((System.currentTimeMillis, System.nanoTime))
      var builder: Builder = null
      val ast = op.stmt match { case Cypher(t, _) => Parser.parse(t); case _ => null }
      mark()
      val df: DataFrame = op.stmt match {
        case Cypher(_, p) =>
          builder = new Builder(spark, s.catalog, s.graphPath, p.map { case (k, v) => k -> toJ(v) },
            name => spark.table(name))
          builder.run(ast)
        case HybridSql(t) => s.sql(t)
        case Analytics(_, f) => f(spark)
      }
      mark()
      val out = op.shape(df)
      val qe = out.queryExecution
      qe.executedPlan
      mark()
      val rows = out.collect()
      mark()
      val gc = Trace.gcMs() - gc0
      Trace.drain(spark)
      def ms(i: Int): Double = (marks(i + 1)._2 - marks(i)._2) / 1e6
      val b = log.phase(marks(1)._1, marks(2)._1)
      val e = log.phase(marks(3)._1, marks(4)._1 + 1)
      val tracker = qe.tracker.phases
      def cat(k: String): Double = tracker.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val stats = if (builder == null) Map.empty[String, Long] else Map(
        "insertedvertices" -> builder.insertedVertices, "insertededges" -> builder.insertedEdges,
        "updatedproperties" -> builder.updatedProperties,
        "deletedvertices" -> builder.deletedVertices, "deletededges" -> builder.deletedEdges)
      val layers = Map(
        "parser.ms" -> ms(0), "builder.ms" -> ms(1), "builder.jobs" -> b.jobs.toDouble,
        "builder.task_ms" -> b.taskMs.toDouble,
        "builder.driver_ms" -> math.max(0.0, ms(1) - b.busyMs),
        "catalyst.analysis_ms" -> cat("analysis"), "catalyst.optimize_ms" -> cat("optimization"),
        "catalyst.plan_ms" -> cat("planning"), "catalyst.force_ms" -> ms(2),
        "exec.ms" -> ms(3), "exec.jobs" -> e.jobs.toDouble, "exec.tasks" -> e.tasks.toDouble,
        "exec.task_ms" -> e.taskMs.toDouble, "exec.input_bytes" -> e.inputBytes.toDouble,
        "exec.input_files" -> Trace.filesRead(qe.executedPlan).toDouble,
        "exec.shuffle_write_bytes" -> e.shuffleWriteBytes.toDouble,
        "exec.spill_bytes" -> e.spillBytes.toDouble,
        "jvm.gc_ms" -> gc.toDouble)
      val catalog = if (!write) Map.empty else {
        val d = Trace.diff(before, Trace.snapshot(graphDir))
        val changed = stats.values.sum
        Map("catalog.bytes_written" -> d.bytesWritten.toDouble,
          "catalog.files_written" -> d.filesWritten.toDouble,
          "catalog.files_removed" -> d.filesRemoved.toDouble) ++
          (if (changed > 0) Map("catalog.bytes_per_changed_row" -> d.bytesWritten.toDouble / changed)
           else Map.empty)
      }
      Done(rows, stats, layers ++ catalog)
    } finally log.clear()
  }

  def run(a: Args): Outcome = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = session(a.work, cores)
    val sessionS = (System.currentTimeMillis - jvmStart) / 1000.0
    val raw = rawTables(spark, a.data, a.sf, a.work)
    Data.register(spark, raw)

    // set-up: the bulk load, a warm-up round on that graph, then the
    // load again on a warm JVM (set-up time takes the median load). The
    // second graph is the one measured.
    def load(i: Int): (String, CypherSession, Double) = {
      val dir = s"${a.work}/graph$i"
      val t0 = System.nanoTime
      val s = Graph.load(spark, raw, dir, Workloads.graphParts(a.workload))
      (dir, s, (System.nanoTime - t0) / 1e9)
    }
    val first = load(1)
    val ctx = Workloads.Ctx(Data.sizes(a.sf),
      first._2.catalog.label(Graph.name, "customer").get.labid)
    val rounds = mutable.Map[Int, Seq[Op]]()
    def ops(r: Int): Seq[Op] = rounds.getOrElseUpdate(r, Workloads.roundOps(a.workload, a.seed, r, ctx))

    val w0 = System.nanoTime
    val warm = ops(0).map(new Client(spark, first._2)(_))
    val warmS = (System.nanoTime - w0) / 1e9
    warm.foreach(r => System.err.println(f"graphbench: warm-up ${r.op.template}%-24s ${r.nanos / 1e6}%9.1f ms"))
    val loads = Seq(first, load(2))
    rmTree(first._1)
    val (graphDir, s, _) = loads.last
    val loadS = median(loads.map(_._3))
    System.err.println(s"graphbench: loads ${loads.map(l => f"${l._3}%.2f").mkString(" ")} s")
    val setupS = sessionS + loadS + warmS
    val client = new Client(spark, s)

    /** Closed loop over whole rounds from `from` on, at least one, until
      * `seconds` have passed: every window runs each template equally often.
      * Returns (records, window seconds, next round).
      */
    def window(exec: Op => Rec, from: Int): (Seq[Rec], Double, Int) = {
      val recs = mutable.ArrayBuffer[Rec]()
      val t0 = System.nanoTime
      var r = from
      while (r == from || System.nanoTime - t0 < a.seconds * 1e9) { recs ++= ops(r).map(exec); r += 1 }
      (recs.toSeq, (System.nanoTime - t0) / 1e9, r)
    }

    val (timed, windowS, next) = window(client(_), 1)
    val log = new JobLog
    val traced = if (!a.trace) None else {
      spark.sparkContext.addSparkListener(log)
      Some(window(new Layers(spark, s, log, graphDir)(_), next))
    }

    // checks, after every clock has stopped. Warm-up results are only
    // checked where that is free (parameter-implied rows, write stats):
    // the window runs the same templates against their oracles.
    val timedAll = timed ++ traced.map(_._1).getOrElse(Nil)
    val wanted = Check.expectations(spark, timedAll.filter(_.error.isEmpty).map(_.op))
    def failures(rs: Seq[Rec]): Seq[(Rec, String)] = rs.flatMap { rec =>
      val why = rec.error.orElse(
        if (!wanted.contains(rec.op.text) &&
            (rec.op.expect.isInstanceOf[Oracle] || rec.op.expect.isInstanceOf[Reference])) None
        else Check.verify(rec.op, Check.rows(rec.rows), rec.stats, wanted))
      why.map(rec -> _)
    }
    val timedFailed = failures(timedAll)
    val otherFailed = failures(warm)

    val storeMb = Trace.bytes(graphDir) / 1e6
    val liveFiles = Trace.liveFiles(graphDir)
    val lat = timed.map(_.nanos / 1e6)
    val layerRecs = traced.map(_._1.map(r => r.op.template -> r.layers)).getOrElse(Nil)
    val failedTemplates = (timedFailed ++ otherFailed).groupBy(_._1.op.template).toSeq.sortBy(_._1)
      .map { case (t, fs) => t -> fs.map(f => s"round ${f._1.op.round}: ${f._2}").distinct }

    val metrics: Seq[(String, Double, String)] = if (!a.trace) Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", timed.size / windowS, "ops/s"),
      // the median only: a run has too few ops (5 to 14) for any higher
      // percentile to have ten samples beyond it
      ("latency_p50_ms", median(lat), "ms"),
      ("store_mb", storeMb, "MB"))
    else {
      val (trRecs, trS, _) = traced.get
      def mean(k: String): Double = {
        val xs = layerRecs.flatMap(_._2.get(k))
        if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      val perOp = Seq("parser.ms", "builder.ms", "builder.jobs", "builder.task_ms", "builder.driver_ms",
        "catalyst.analysis_ms", "catalyst.optimize_ms", "catalyst.plan_ms", "catalyst.force_ms",
        "exec.ms", "exec.jobs",
        "exec.tasks", "exec.task_ms", "exec.input_bytes", "exec.input_files",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "catalog.bytes_written",
        "catalog.files_written", "catalog.files_removed", "catalog.bytes_per_changed_row", "jvm.gc_ms")
      val unit = (k: String) =>
        if (k.endsWith("ms")) "ms" else if (k.contains("bytes")) "bytes" else "count"
      writeTemplates(a, trRecs)
      perOp.map(k => (k, mean(k), unit(k))) ++ Seq(
        ("builder.jobs_max", layerRecs.flatMap(_._2.get("builder.jobs")).maxOption.getOrElse(0.0), "count"),
        ("catalog.live_files", liveFiles.toDouble, "count"),
        ("catalog.ingest_ms", loadS * 1000, "ms"),
        // untraced over traced ops_per_s: the cost of tracing itself
        ("trace.overhead", (timed.size / windowS) / (trRecs.size / trS), "ratio"))
    }

    val attempted = timedAll.size
    Outcome(Map("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "ops_timed" -> timed.size, "window_s" -> windowS,
        "round_s" -> timed.groupBy(_.op.round).toSeq.sortBy(_._1).map(_._2.map(_.nanos / 1e9).sum),
        "template_ms" -> timed.groupBy(_.op.template).map { case (t, rs) => t -> median(rs.map(_.nanos / 1e6)) },
        "setup_parts_s" -> Map("session" -> sessionS, "load_median" -> loadS, "warmup" -> warmS),
        "failed_frac" -> timedFailed.size.toDouble / attempted,
        "failures_outside_window" -> otherFailed.size,
        "failed_templates" -> failedTemplates.toMap),
      timedFailed.isEmpty && otherFailed.isEmpty, attempted, timedFailed.size, metrics, !a.trace)
  }

  /** Per-template diagnostics of a traced run (not metrics). */
  private def writeTemplates(a: Args, recs: Seq[Rec]): Unit = {
    val byT = recs.groupBy(_.op.template).toSeq.sortBy(_._1).map { case (t, rs) =>
      val ls = rs.map(_.layers)
      def avg(k: String) = { val xs = ls.flatMap(_.get(k)); if (xs.isEmpty) 0.0 else xs.sum / xs.size }
      t -> Map(
        "ops" -> rs.size,
        "latency_p50_ms" -> median(rs.map(_.nanos / 1e6)),
        "builder.ms" -> avg("builder.ms"), "builder.jobs" -> avg("builder.jobs"),
        "builder.jobs_max" -> ls.flatMap(_.get("builder.jobs")).maxOption.getOrElse(0.0),
        "catalyst.force_ms" -> avg("catalyst.force_ms"),
        "exec.ms" -> avg("exec.ms"), "exec.jobs" -> avg("exec.jobs"),
        "failed" -> rs.count(_.error.nonEmpty))
    }
    Files.createDirectories(Paths.get(a.out))
    Files.writeString(Paths.get(a.out, s"${a.workload}-seed${a.seed}-templates.json"),
      Json(Map("workload" -> a.workload, "seed" -> a.seed, "templates" -> byT.toMap)) + "\n")
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => apply(k.toString) + ": " + apply(x) }
      .sortBy(identity).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
