package graft

import org.apache.spark.sql.SparkSession

/** Profiling entry point at sf0.1 — not part of the library surface.
  * `runMain graft.Dev <mode or query> ...`:
  *  - `<query> [explain]`: warm run, then steady min of 3 (+ plan);
  *  - `cypher <statement> [explain]`: the same for one Cypher statement;
  *  - `jobs <query>`: per-job wall-time attribution and a driver stack
  *    histogram;
  *  - `confab <confA> <confB> <queries>`: interleaved conf A/B in one JVM;
  *  - `sf10 <queries> [explain]`: isolated reruns on a reusable 100x
  *    replica.
  * Cores follow `SPARK_GRAFT_CPUS` (default: available processors, at
  * most 16), as in Verify.
  */
object Dev {
  /** `k=v;k=v` conf pairs (keys and values trimmed; `-` = none) —
    * `;` because values such as extraJavaOptions lists contain commas.
    */
  private def confPairs(spec: String): Seq[(String, String)] =
    if (spec == "-") Nil
    else spec.split(";").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
    }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 16).toString)
    val spark = api.GraftSession.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // mirror the bench's one-time relayout (multi-file corpus tables)
    // into a FIXED dir so Dev timings match bench conditions; reused
    // across invocations. SPARK_GRAFT_DEV_RAW=1 opts back to the raw dir.
    val d = if (sys.env.get("SPARK_GRAFT_DEV_RAW").contains("1"))
      "/root/testdata/sf0.1"
    else {
      import org.apache.spark.sql.functions.col
      val src = "/root/testdata/sf0.1"
      val relaid = "/tmp/graft_dev_layout"
      // reuse gates on the _SUCCESS marker written AFTER the full loop
      // (r14 ADVICE): a crash partway through the relayout must not be
      // silently reused as a complete layout by every later invocation
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$relaid/_SUCCESS"))) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(relaid))
        relational.Tables.all.foreach { t =>
          val df = relational.Tables.load(spark, src, t)
          val out = t match {
            case "documents" =>
              df.repartitionByRange(16, col("doc_id"))
                .sortWithinPartitions("doc_id")
            case "embeddings" =>
              df.repartitionByRange(16, col("vec_id"))
                .sortWithinPartitions("vec_id")
            case "events" =>
              df.repartitionByRange(16, col("user_id"))
                .sortWithinPartitions("user_id", "ts")
            case _ => df.coalesce(1)
          }
          out.write.mode("overwrite").parquet(s"$relaid/$t.parquet")
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$relaid/_SUCCESS"), "")
      }
      relaid
    }
    val name = args(0)
    if (name == "sf10") {
      // isolated sf10 probe: args(1) = comma-separated query names;
      // builds (or reuses) a FIXED-path 100x replica so iterating on
      // one probe doesn't re-pay the build. No graph fixture unless a
      // g-query is probed.
      def t[A](lbl: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $lbl: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      val dir = "/tmp/graft_sf10_fixed"
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/lineitem.parquet"))) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        t("replica build")(Bench.makeReplica(spark, d, dir, 100))
      } else println("  (reusing existing replica)")
      val names = args(1).split(",").toSeq
      if (names.exists(_.startsWith("g")))
        t("graph fixture")(pipeline.GraphQueries.session(spark, dir))
      spark.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SF10_SHUFFLE", "256"))
      // measurement-only conf overrides for this probe window, e.g.
      // SPARK_GRAFT_DEV_CONF="spark.sql.adaptive.enabled=false; ..."
      sys.env.get("SPARK_GRAFT_DEV_CONF").foreach(confPairs(_).foreach {
        case (k, v) => spark.conf.set(k, v) })
      System.setProperty("graft.state.disk", "1")
      for (round <- 1 to 2; n <- names) {
        // Bench.runQuery's hygiene: drop the run's own checkpoint
        // blocks between runs or run 2 starts with run 1's pair-state
        // still pinning the unified pool
        val before = spark.sparkContext.getPersistentRDDs.keySet
        t(s"$n (round $round)")(SparkEntry.queries(n)(spark, dir).count())
        try spark.sharedState.cacheManager.clearCache()
        catch { case _: Throwable => () }
        try spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => before.contains(id) }
          .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
        catch { case _: Throwable => () }
        System.gc()
      }
      if (args.length > 2 && args(2) == "explain") names.foreach { n =>
        println(s"=== $n ===")
        SparkEntry.queries(n)(spark, dir).explain("formatted")
      }
      spark.stop(); return
    }
    if (name == "cypher") {
      // time one Cypher statement (steady min-of-3) + optional explain
      val s = pipeline.GraphQueries.session(spark, d)
      val stmt = args(1)
      s.cypher(stmt).count() // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); s.cypher(stmt).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"CYPHER min ${ts.min}%.2f s  runs ${ts.map(t => f"$t%.2f").mkString(" ")}")
      if (args.length > 2 && args(2) == "explain")
        s.cypher(stmt).explain("formatted")
      spark.stop(); return
    }
    if (name == "confab") {
      // interleaved conf A/B in ONE JVM (the only protocol that
      // survives +-40% host noise): args(1)=confA "k=v;..." ("-"=none),
      // args(2)=confB, args(3)=comma-separated queries. min-of-5 each,
      // alternating.
      def applyConf(spec: String): Unit =
        confPairs(spec).foreach { case (k, v) => spark.conf.set(k, v) }
      def clearConf(spec: String): Unit =
        confPairs(spec).foreach { case (k, _) => spark.conf.unset(k) }
      val (ca, cb) = (args(1), args(2))
      val names = args(3).split(",").toSeq
      names.foreach { n =>
        val fn = SparkEntry.queries(n)
        applyConf(ca); fn(spark, d).count(); clearConf(ca)
        applyConf(cb); fn(spark, d).count(); clearConf(cb) // warm both
        val ta = scala.collection.mutable.ArrayBuffer[Double]()
        val tb = scala.collection.mutable.ArrayBuffer[Double]()
        for (_ <- 1 to 5) {
          applyConf(ca)
          var t0 = System.nanoTime(); fn(spark, d).count()
          ta += (System.nanoTime() - t0) / 1e9
          clearConf(ca); applyConf(cb)
          t0 = System.nanoTime(); fn(spark, d).count()
          tb += (System.nanoTime() - t0) / 1e9
          clearConf(cb)
        }
        println(f"  $n A[$ca] min ${ta.min}%.2f runs ${ta.map(t => f"$t%.2f").mkString(" ")}")
        println(f"  $n B[$cb] min ${tb.min}%.2f runs ${tb.map(t => f"$t%.2f").mkString(" ")}")
      }
      spark.stop(); return
    }
    if (name == "jobs") {
      // per-job wall-time attribution for one query: args(1) = query.
      // Shows whether a loop-shaped operator spends its seconds in
      // compute or in per-round job overhead (N tiny jobs x fixed tax).
      val qn = args(1)
      val fn = SparkEntry.queries(qn)
      fn(spark, d).count() // warm (fixture build + codegen)
      fn(spark, d).count()
      case class J(id: Int, t0: Long, var t1: Long = -1L,
        var tasks: Int = 0, var desc: String = "", var graft: String = "")
      val jobs = new scala.collection.mutable.LinkedHashMap[Int, J]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val j = J(e.jobId, e.time)
          j.tasks = e.stageInfos.map(_.numTasks).sum
          j.desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("") + " | " +
            e.stageInfos.map(si => si.name.take(40)).mkString(";").take(120)
          // first graft.* frame of each stage's submission stack — the
          // operator-level attribution the truncated stage name loses
          j.graft = e.stageInfos.map(_.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("Dev"))
              .map(_.trim.stripPrefix("at ").take(60)).getOrElse("?"))
            .mkString(" ; ").take(200)
          jobs.synchronized { jobs(e.jobId) = j }
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      }
      spark.sparkContext.addSparkListener(listener)
      // sample the MAIN thread's stack every 20 ms for a poor-man's
      // driver profile: histogram of the deepest graft/spark frame
      val mainThread = Thread.currentThread()
      val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = mainThread.getStackTrace
          val key = {
            val interesting = st.find(f =>
              f.getClassName.startsWith("graft.") ||
              f.getClassName.contains("catalyst.analysis") ||
              f.getClassName.contains("catalyst.optimizer") ||
              f.getClassName.contains("QueryExecution") ||
              f.getClassName.contains("RuleExecutor") ||
              f.getClassName.contains("CodeGenerator") ||
              f.getClassName.contains("adaptive"))
            val top5 = st.take(30).map(f =>
              f.getClassName.split("\\.").last + "." + f.getMethodName)
            interesting.map(f => f.getClassName.split("\\.").last + "." +
              f.getMethodName + ":" + f.getLineNumber)
              .getOrElse(top5.headOption.getOrElse("?"))
          }
          hist.merge(key, 1, (x, y) => x + y)
          Thread.sleep(20)
        }
      })
      sampler.setDaemon(true); sampler.start()
      val t0 = System.nanoTime()
      val df = fn(spark, d)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis+optimize+planning
      val tPlan = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      df.count()
      val tExec = (System.nanoTime() - t2) / 1e9
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"build $tBuild%.2f s (incl. any statements run inside " +
        f"the query fn), plan $tPlan%.2f s, exec $tExec%.2f s")
      sampling = false
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      println("driver stack histogram (20 ms samples, top 25):")
      hist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
        println(f"  $n%4d  $k")
      }
      val js = jobs.values.toSeq
      val jsum = js.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3
      println(f"WALL $wall%.2f s, ${js.length} jobs, job-time sum $jsum%.2f s")
      js.foreach { j =>
        println(f"  job ${j.id}%4d  ${math.max(0L, j.t1 - j.t0) / 1e3}%6.2f s  " +
          f"${j.tasks}%5d tasks  ${j.desc.take(70)}")
        if (j.t1 - j.t0 >= 150) println(f"       graft: ${j.graft}")
      }
      spark.stop(); return
    }
    val fn = SparkEntry.queries(name)
    // warm
    fn(spark, d).count()
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, d).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"STEADY min ${ts.min}%.2f s  runs ${ts.map(t => f"$t%.2f").mkString(" ")}")
    if (args.length > 1 && args(1) == "explain") fn(spark, d).explain("formatted")
    spark.stop()
  }
}
