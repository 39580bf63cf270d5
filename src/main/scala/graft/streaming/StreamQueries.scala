package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.api.CypherSession
import graft.expr.{J, JsonbNormalize}
import graft.graph.{GraphCatalog, GraphId}
import graft.relational.Tables

/** Structured Streaming surface pushed through the SAME DuckDB oracle
  * gate as the batch operators: the events table replays as a
  * file-source stream (Trigger.AvailableNow), results land in a memory
  * sink, and the returned DataFrame hash-compares against plain batch
  * SQL over the same rows. This is the strongest form of batch/stream
  * parity — not "the spec asserts equality", but the external oracle
  * checking the streaming output itself.
  *
  * Scale notes: the same plans run unchanged against an unbounded
  * source — the watermark bounds window state, and the stream-static
  * join resolves the broadcast dim per micro-batch.
  */
object StreamQueries {

  type Q = (SparkSession, String) => DataFrame

  private val runSeq = new AtomicInteger(0)

  /** events as a file-source stream (schema from the batch loader,
    * including the nanos->micros downcast).
    */
  private def eventStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // glob form: the file-stream source requires a directory or glob
    val raw = s.readStream.schema(
      s.read.parquet(s"$d/events.parquet").schema)
      .parquet(s"$d/events.parque[t]")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // micros-without-UTC-adjustment layout; session tz is UTC so
        // the cast changes the type, not the instant (watermarks need
        // TIMESTAMP, not NTZ)
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** State-partition count derived from the SOURCE DATA VOLUME, not
    * the core count: ⌊input bytes / 64 MB⌋ + 2 shuffle partitions —
    * i.e. state-store instances per stateful operator — capped at 200
    * (so 2 below 64 MB, 12 at 640 MB). A RocksDB store instance has a
    * fixed open/commit/changelog-upload cost that dominates tiny states
    * (bench scale: events is ~2 MB, so 8 fixed stores were pure
    * overhead), while at 100 TB the same rule yields hundreds of
    * parallel stores.
    *
    * No discount for operators that keep several stores per partition
    * (stream-stream joins hold four): an earlier r15 form divided the
    * target by that store count, which only changes the answer ABOVE
    * the floor — i.e. only at scale, exactly where it serialized the
    * state-heaviest operator in the suite (100x probe: the interval
    * join at 2 partitions ran 90.8 s min vs 38.3 s on the r12-history
    * row at 4 — the per-partition fixed cost the divisor saved is
    * noise next to the lost parallelism once state outgrows one task).
    */
  private val srcBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[streaming] def statePartitions(d: String, table: String): Int = {
    val bytes = srcBytes.computeIfAbsent(s"$d/$table", { _ =>
      try {
        val p = java.nio.file.Paths.get(d, s"$table.parquet")
        val st = java.nio.file.Files.walk(p)
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum
        finally st.close()
      } catch { case _: Throwable => 0L }
    })
    math.min(200L, bytes / (64L << 20) + 2L).toInt
  }

  /** Run a streaming DataFrame to completion (AvailableNow) into a
    * fresh memory sink and return its contents.
    */
  private def runToSink(s: SparkSession, streamed: DataFrame,
      mode: String = "append", partitions: Int = 8): DataFrame = {
    val sink = s"graft_stream_sink_${runSeq.incrementAndGet()}"
    // RocksDB state store: the default in-memory/HDFS-backed provider
    // holds every key in executor heap — the limiter for unbounded
    // streams at scale. RocksDB spills state to local disk with
    // changelog checkpointing, the standard production choice; at
    // bench cardinality the overhead is negligible, and the oracle
    // gate re-proves every stateful query's output on this provider.
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing (the production-recommended RocksDB mode
    // since Spark 3.4): commits upload the per-batch changelog instead
    // of a full state snapshot — measured 0.5-1.4 s per stateful query
    // at bench cardinality (s10 3.5 -> 2.1 s) and the win grows with
    // state size; snapshots still happen in the background for replay.
    s.conf.set("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled", "true")
    // a state store instance exists per shuffle partition: callers
    // derive the count from SOURCE DATA VOLUME via statePartitions()
    // (each run uses a fresh temp checkpoint, so the pinned partition
    // count does not leak between runs).
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      streamed.writeStream
        .format("memory").queryName(sink)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    // copy the (small, aggregated) sink contents out and drop the
    // temp view — repeated runs in one JVM must not accumulate sinks
    val out = s.table(sink)
    val rows = java.util.Arrays.asList(out.collect(): _*)
    val local = s.createDataFrame(rows, out.schema)
    s.catalog.dropTempView(sink)
    local
  }

  val queries: Map[String, Q] = Map(
    // Watermarked tumbling-window aggregation (§2.10): append mode
    // emits a window only once the watermark closes it, so the query
    // restricts to windows the end-of-stream watermark passes (events
    // after Jan 28 advance the watermark beyond every included
    // window's end).
    "s01_stream_tumbling" -> { (s, d) =>
      val windows = EventStreams.tumblingCounts(
        eventStream(s, d).where(col("user_id") < 100), "1 day", "1 hour")
      runToSink(s, windows, partitions = statePartitions(d, "events"))
        .select(col("w_start").cast("date").as("day"), col("event_type"),
          col("n"), round(col("total").cast("double"), 2).as("total"))
        .where(col("day") < lit("2024-01-28").cast("date"))
        .orderBy("day", "event_type")
    },

    // Streaming SESSION windows against a pure-SQL gap-islands oracle:
    // session_window's merge rule (events closer than the gap coalesce;
    // window end = last event + gap) must reproduce the batch
    // lag-and-running-sum sessionization exactly — including the
    // boundary (a gap of exactly 5 minutes starts a NEW session, since
    // window ends are exclusive). Append mode emits a session once the
    // watermark passes its end; the end-of-stream watermark closes
    // everything before the Jan-29 cut.
    "s03_stream_session" -> { (s, d) =>
      val sess = EventStreams.sessionWindows(
        eventStream(s, d).where(col("user_id") < 40), "5 minutes", "1 hour")
      runToSink(s, sess, partitions = statePartitions(d, "events"))
        .where(col("s_end") < lit("2024-01-29").cast("timestamp"))
        .select(col("user_id"), unix_micros(col("s_start")).as("start_us"),
          col("n_events"),
          round(col("session_value").cast("double"), 2).as("sval"))
        .orderBy("user_id", "start_us")
    },

    // Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark
    // — state for a key is reclaimed once the watermark passes it):
    // first occurrence per (user, event_type) survives. AvailableNow
    // ingests the replay as one micro-batch, so the dedup is total and
    // the batch count(DISTINCT) oracle applies exactly.
    "s04_stream_dedup" -> { (s, d) =>
      val deduped = eventStream(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      runToSink(s, deduped, partitions = statePartitions(d, "events"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    },

    // Sliding windows (§2.10): each event lands in windowLen/slide
    // overlapping windows (4 here) — the oracle replicates the
    // assignment rule exactly (epoch-aligned 6h grid, 4 offsets).
    // Append mode emits a window once the watermark passes its end;
    // the Jan-27 start cut keeps only closed windows.
    "s07_stream_sliding" -> { (s, d) =>
      val act = EventStreams.slidingUserActivity(
        eventStream(s, d).where(col("user_id") < 60),
        "1 day", "6 hours", "1 hour")
      runToSink(s, act, partitions = statePartitions(d, "events"))
        .where(col("w_start") < lit("2024-01-27").cast("timestamp"))
        .select(unix_micros(col("w_start")).as("start_us"),
          col("user_id"), col("n_events"))
        .orderBy("start_us", "user_id")
    },

    // Watermark-bounded stream-stream interval join (§2.10, the click-
    // attribution shape): clicks match views of the same user within
    // 10 minutes after the view — the time bound in the join condition
    // is what lets the engine evict both sides' state. AvailableNow
    // ingests the replay as one micro-batch, so the inner join is
    // total and the batch self-join oracle applies exactly.
    "s05_stream_interval_join" -> { (s, d) =>
      val views = eventStream(s, d)
        .where(col("user_id") < 50 && col("event_type") === "view")
      val clicks = eventStream(s, d)
        .where(col("user_id") < 50 && col("event_type") === "click")
      val joined = EventStreams.intervalJoin(views, clicks,
        watermark = "1 hour", within = "10 minutes")
      runToSink(s, joined,
          partitions = statePartitions(d, "events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("imp_id").as("n_views"),
          countDistinct("click_id").as("n_clicks"))
        .orderBy("user_id")
    },

    // Left-outer stream-stream interval join: unmatched views emit
    // null-extended rows once the watermark passes their window end —
    // the oracle replicates Spark's eviction rule exactly (the final
    // global watermark is min(max event time per input) - delay; a
    // view emits unmatched iff its window closed strictly below it),
    // so withheld-tail rows are absent on BOTH sides of the compare.
    "s10_stream_chained_agg" -> { (s, d) =>
      // Two stateful window aggregations chained in ONE append-mode
      // query: hourly per-type counts cascade into 6-hour blocks (sum
      // + max + hour count) — the outer operator's state holds one row
      // per (hour, type), never raw events. Both sides cut at Jan 28
      // so emitted-vs-withheld tail windows can't differ; 6-hour
      // blocks are epoch-aligned in both engines.
      val res = EventStreams.chainedWindowAgg(
        eventStream(s, d), "1 hour", "6 hours", "1 hour")
      runToSink(s, res, partitions = statePartitions(d, "events"))
        .select(expr("unix_micros(w_start) div 1000000").as("w_start_s"),
          col("event_type"), col("n_events"), col("max_inner"), col("n_inner"))
        .where(col("w_start_s") < 1706400000L)
        .orderBy("w_start_s", "event_type")
    },

    // Streaming sketch maintenance: the HLL register table as a
    // running COMPLETE-mode aggregate — registers only ever grow
    // (max is monotone), so the streaming state (one row per bucket,
    // ≤ m rows total regardless of stream length) is the sketch
    // itself; after the AvailableNow replay the final state must
    // equal the batch sketch bit-for-bit, which is the additive-merge
    // property the batch path relies on, proven through the gate.
    "s11_stream_hll" -> { (s, d) =>
      val keyed = eventStream(s, d)
        .select(concat(lit("user_"), col("user_id")).as("k"))
      val regs = graft.pipeline.Sketches.hllRegisters(keyed, "k", 64)
      runToSink(s, regs, mode = "complete",
        partitions = statePartitions(d, "events")).orderBy("bucket")
    },

    // Streaming top-k: ORDER BY + LIMIT inside a streaming query are
    // legal ONLY in complete mode (append can't retract an earlier
    // emission when a new leader appears) — the planner nuance this
    // query pins down. Deterministic tiebreak on the key, decimal sum.
    "s12_stream_topk" -> { (s, d) =>
      val ranked = eventStream(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,4)")).as("total"))
        .orderBy(col("n").desc, col("event_type"))
        .limit(3)
      runToSink(s, ranked, mode = "complete",
        partitions = statePartitions(d, "events"))
        .select(col("event_type"), col("n"),
          round(col("total").cast("double"), 2).as("total"))
        .orderBy("event_type")
    },

    "s09_stream_outer_join" -> { (s, d) =>
      val views = eventStream(s, d)
        .where(col("user_id") < 50 && col("event_type") === "view")
      val clicks = eventStream(s, d)
        .where(col("user_id") < 50 && col("event_type") === "click")
      val joined = EventStreams.intervalJoinOuter(views, clicks,
        watermark = "1 hour", within = "10 minutes")
      runToSink(s, joined,
          partitions = statePartitions(d, "events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("click_id")).as("n_matched"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
        .orderBy("user_id")
    },

    // Custom keyed state (mapGroupsWithState, §2.10 North-star): the
    // explicit-state running per-user totals. Update mode emits the
    // state once per key per BATCH, so the sink holds one row per
    // (key, batch it appeared in); the final total per key is the max
    // (running counts are monotone). Aggregating the read-back keeps
    // the oracle valid even if the replay splits into multiple
    // micro-batches (e.g. a multi-file events layout).
    "s06_stream_stateful_totals" -> { (s, d) =>
      val sp = s
      import sp.implicits._
      val ev = eventStream(s, d)
        .where(col("user_id") < 100)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      val totals = EventStreams.runningUserTotals(ev)
      runToSink(s, totals.toDF(), mode = "update",
        partitions = statePartitions(d, "events"))
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"))
        .orderBy("user_id")
    },

    // Stream-static broadcast enrichment into a streaming global
    // aggregate: the static weight dim joins each micro-batch
    // (stateless, dim re-resolved per batch), decimal partial sums
    // combine map-side within batches and across batches in the
    // aggregation state; complete mode emits the final totals.
    "s02_stream_enrich" -> { (s, d) =>
      import s.implicits._
      val dim = Seq(("click", 1), ("view", 2), ("purchase", 10),
        ("signup", 5), ("error", 0)).toDF("etype", "weight")
      val agg = eventStream(s, d)
        .join(broadcast(dim), col("event_type") === col("etype"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,4)") * col("weight"))
            .as("wsum"))
      runToSink(s, agg, mode = "complete",
        partitions = statePartitions(d, "events"))
        .select(col("event_type"), col("n"),
          round(col("wsum").cast("double"), 2).as("weighted"))
        .orderBy("event_type")
    },

    // Streaming GRAPH ingestion (§2.10 × §2.9 — the COPY-analog bulk
    // sink fed by a stream): dimension vertices (users, event types)
    // load once from the static side; the event stream then appends
    // one :did edge per event through foreachBatch into the graph
    // catalog — the lakehouse shape for continuous graph building
    // (stream facts, static dims). Edge ids derive from event_id, so
    // every micro-batch split produces the same edge set; the
    // read-back is a full Cypher pattern aggregate over the ingested
    // graph, hash-checked against plain SQL over the same rows.
    "s08_stream_graph_ingest" -> { (s, d) =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_stream_graph").toString
      val cy = new CypherSession(s, new GraphCatalog(s, root))
      cy.createGraph("sg")
      cy.createVLabel("suser"); cy.createVLabel("etype")
      cy.createELabel("did")
      def base(l: String): Column =
        lit(GraphId.pack(cy.catalog.label(cy.graphPath, l).get.labid, 0L))
      def props(cols: (String, Column)*): Column =
        JsonbNormalize.normalize(to_json(struct(
          cols.map { case (n, c) => c.as(n) }: _*)))
      val uBase = base("suser"); val tBase = base("etype")
      val eBase = base("did")
      val events = Tables.load(s, d, "events").where(col("user_id") < 50)
      val typesDf = events.select("event_type").distinct()
        .withColumn("tix",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("event_type")).cast("long"))
        .localCheckpoint(true)
      cy.catalog.append("sg", "suser", events.select("user_id").distinct()
        .select((uBase + col("user_id")).cast("long").as("id"),
          props("uid" -> col("user_id")).as("properties")))
      cy.catalog.append("sg", "etype", typesDf
        .select((tBase + col("tix")).cast("long").as("id"),
          props("name" -> col("event_type")).as("properties")))
      val q = eventStream(s, d).where(col("user_id") < 50)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          cy.catalog.append("sg", "did", batch
            .join(broadcast(typesDf), "event_type")
            .select((eBase + col("event_id")).cast("long").as("id"),
              (uBase + col("user_id")).cast("long").as("start"),
              (tBase + col("tix")).cast("long").as("end"),
              props("v" -> col("value")).as("properties")))
        }
        .option("checkpointLocation", s"$root/chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      cy.cypher(
        """MATCH (u:suser)-[:did]->(t:etype)
          |RETURN u.uid AS user_id, t.name AS event_type,
          |       count(*) AS n""".stripMargin)
        .select(J.toLong(col("user_id")).as("user_id"),
          J.asText(col("event_type")).as("event_type"),
          J.toLong(col("n")).as("n"))
        .orderBy("user_id", "event_type")
    },

    // Streaming CDC materialization (q71's streaming twin): each
    // micro-batch folds into a keyed snapshot via foreachBatch — one
    // row per user, latest (ts, event_id) wins — so state is bounded
    // by KEY CARDINALITY regardless of stream length, and the merge
    // (argmax by the total order (ts, event_id)) is associative and
    // commutative: ANY micro-batch split of the replay yields the
    // same final snapshot, which is exactly what the batch argmax
    // oracle asserts.
    "s13_stream_upsert" -> { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stream_upsert").toString
      def lastPerKey(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("m.ts").as("ts"),
          col("m.event_id").as("event_id"), col("m.value").as("value"))
      val snap = new java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.DataFrame](null)
      val q = eventStream(s, d).where(col("user_id") < 100)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val delta = lastPerKey(batch.toDF())
          val merged = Option(snap.get()) match {
            case None      => delta
            case Some(cur) => lastPerKey(cur.unionByName(delta))
          }
          snap.set(merged.localCheckpoint(true))
        }
        .option("checkpointLocation", s"$dir/chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      snap.get()
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
        .orderBy("user_id")
    },

    // Streaming sketch-blocked dedup: documents stream in, each doc's
    // map-side SimHash prefix (top 16 bits — the p04 banding piece)
    // is its blocking bucket, and keyed state remembers the MINIMUM
    // doc id seen so far per bucket: a doc flags duplicate-candidate
    // iff its bucket holds a smaller id from an earlier batch or its
    // own batch (within a batch the min rule is order-independent).
    // State is one long per occupied bucket (≤ 2^16 entries) —
    // bounded FOREVER, no watermark needed, because min is monotone.
    // Like any incremental deduper, flags follow arrival order across
    // batches (an already-kept doc is never retracted); the
    // AvailableNow replay delivers the corpus as ONE batch, so the
    // oracle's global-min rule applies exactly (it rebuilds the same
    // md5-derived signatures in SQL).
    "s14_stream_sketch_dedup" -> { (s, d) =>
      val sp = s
      import sp.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .parquet(s"$d/documents.parque[t]")
        .where(col("doc_id") < 200)
        .select(col("doc_id"), col("source"),
          graft.pipeline.Dedup.simhashMapSide(col("text")).as("sig"))
        .select(col("doc_id"), col("source"),
          shiftrightunsigned(col("sig"), 48).as("bucket"))
        .as[(Long, String, Long)]
      val flagged = docs.groupByKey(_._3)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
          (_: Long, rows: Iterator[(Long, String, Long)],
           state: GroupState[Long]) =>
            val batch = rows.toSeq
            val prior = if (state.exists) state.get else Long.MaxValue
            val minAll = math.min(prior, batch.map(_._1).min)
            state.update(minAll)
            batch.map { case (id, src, _) =>
              (id, src, id != minAll)
            }.iterator
        }.toDF("doc_id", "source", "is_dup")
      runToSink(s, flagged, partitions = statePartitions(d, "documents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .orderBy("source")
    }
  )

  val oracleSql: Map[String, String] = Map(
    "s01_stream_tumbling" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE), 2) AS total
        |FROM events
        |WHERE user_id < 100 AND date_trunc('day', ts) < TIMESTAMP '2024-01-28'
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "s03_stream_session" ->
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 40),
        |m AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END
        |    AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value, sum(brk) OVER
        |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
        |    AS sid FROM m),
        |g AS (SELECT user_id, sid, min(ts) AS st,
        |  max(ts) + INTERVAL 5 MINUTE AS en, count(*) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE), 2) AS sval
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, epoch_us(st) AS start_us, n_events, sval
        |FROM g WHERE en < TIMESTAMP '2024-01-29'
        |ORDER BY user_id, start_us""".stripMargin,
    "s04_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s07_stream_sliding" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events
        |  WHERE user_id < 60),
        |k AS (SELECT unnest(generate_series(0, 3)) AS k),
        |w AS (SELECT user_id,
        |    (tus // 21600000000) * 21600000000 - k * 21600000000 AS start_us
        |  FROM e, k)
        |SELECT start_us, user_id, count(*) AS n_events
        |FROM w WHERE start_us < epoch_us(TIMESTAMP '2024-01-27')
        |GROUP BY 1, 2 ORDER BY start_us, user_id""".stripMargin,
    "s05_stream_interval_join" ->
      """WITH v AS (SELECT event_id AS imp_id, user_id, ts AS imp_ts
        |  FROM events WHERE user_id < 50 AND event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE user_id < 50 AND event_type = 'click')
        |SELECT v.user_id AS user_id, count(*) AS n_pairs,
        |  count(DISTINCT imp_id) AS n_views,
        |  count(DISTINCT click_id) AS n_clicks
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND click_ts >= imp_ts
        |  AND click_ts <= imp_ts + INTERVAL 10 MINUTE
        |GROUP BY v.user_id ORDER BY 1""".stripMargin,
    "s14_stream_sketch_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
        |  FROM documents WHERE doc_id < 200),
        |h AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS c
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) g
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN c > 0 THEN (1::UBIGINT << b)
        |           ELSE 0::UBIGINT END) AS sh
        |  FROM bits GROUP BY doc_id),
        |bk AS (SELECT s.doc_id, d.source, (sh >> 48) AS bucket
        |  FROM sig s JOIN documents d USING (doc_id)),
        |m AS (SELECT bucket, min(doc_id) AS mn FROM bk GROUP BY bucket)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> mn THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dups
        |FROM bk JOIN m USING (bucket)
        |GROUP BY source ORDER BY source""".stripMargin,
    "s13_stream_upsert" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id < 100)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "s12_stream_topk" ->
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS total
        |FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type LIMIT 3""".stripMargin,
    "s11_stream_hll" ->
      """WITH h AS (SELECT CAST(('0x' || substr(md5('user_' || user_id ||
        |    '#hll'), 1, 8))::UBIGINT AS BIGINT) AS hv FROM events),
        |br AS (SELECT hv % 64 AS bucket, hv // 64 AS rem FROM h),
        |rk AS (SELECT bucket, CASE WHEN rem = 0 THEN 27
        |    ELSE 27 - length(bin(rem)) END AS rank FROM br)
        |SELECT bucket, CAST(max(rank) AS BIGINT) AS maxrank
        |FROM rk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "s10_stream_chained_agg" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |o AS (SELECT (epoch_us(hr) // 1000000 // 21600) * 21600
        |      AS w_start_s, event_type,
        |    sum(n) AS n_events, max(n) AS max_inner, count(*) AS n_inner
        |  FROM h GROUP BY 1, 2)
        |SELECT w_start_s, event_type, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(max_inner AS BIGINT) AS max_inner,
        |  CAST(n_inner AS BIGINT) AS n_inner
        |FROM o WHERE w_start_s < 1706400000
        |ORDER BY w_start_s, event_type""".stripMargin,
    "s09_stream_outer_join" ->
      """WITH v AS (SELECT event_id AS imp_id, user_id, ts AS imp_ts
        |  FROM events WHERE user_id < 50 AND event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE user_id < 50 AND event_type = 'click'),
        |wm AS (SELECT least((SELECT max(imp_ts) FROM v),
        |  (SELECT max(click_ts) FROM c)) - INTERVAL 1 HOUR AS w),
        |m AS (SELECT v.user_id, v.imp_id, c.click_id
        |  FROM v JOIN c ON v.user_id = c.user_id
        |    AND c.click_ts >= v.imp_ts
        |    AND c.click_ts <= v.imp_ts + INTERVAL 10 MINUTE),
        |u AS (SELECT v.user_id, v.imp_id FROM v, wm
        |  WHERE v.imp_ts + INTERVAL 10 MINUTE < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM c
        |      WHERE c.user_id = v.user_id
        |        AND c.click_ts >= v.imp_ts
        |        AND c.click_ts <= v.imp_ts + INTERVAL 10 MINUTE)),
        |allr AS (SELECT user_id, click_id FROM m
        |  UNION ALL SELECT user_id, NULL AS click_id FROM u)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(click_id) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unmatched
        |FROM allr GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s06_stream_stateful_totals" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events WHERE user_id < 100
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s02_stream_enrich" ->
      """WITH dim(etype, weight) AS (VALUES ('click', 1), ('view', 2),
        |  ('purchase', 10), ('signup', 5), ('error', 0))
        |SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,4)) * weight) AS DOUBLE), 2)
        |    AS weighted
        |FROM events JOIN dim ON event_type = etype
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s08_stream_graph_ingest" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events WHERE user_id < 50
        |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin
  )
}
