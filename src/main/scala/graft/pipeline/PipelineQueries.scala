package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.relational.Tables

/** Training-data pipeline operators over documents/embeddings —
  * dedup, similarity search, text analysis, multimodal plumbing —
  * each with a DuckDB oracle where SQL can express the same logic
  * (hash-based sketches are deterministic but engine-specific ->
  * rows-only checks, verified in ScalaTest instead).
  *
  * Pair-producing (O(n^2)) queries restrict to a doc_id prefix: the
  * brute-force forms are verification baselines; the LSH forms are the
  * scale path.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame
  import Tables.load

  /** Gram join keys hash to 64 bits BEFORE every shuffle (8-byte
    * exchange keys, never n-word strings). At test scale the
    * string-keyed oracle proves zero collisions outright; at the
    * third decade (10^11–10^12 distinct grams) birthday collisions
    * are statistically certain — expected pairs ≈ n²/2^65, i.e.
    * ~10^3 at 10^11 grams and ~10^5 at 10^12 — each one slightly
    * overcounting a coverage/frequency/LM count (bounded, never a
    * crash or a dropped row). For exactness-critical runs set
    * `spark.graft.gramHash.bits=128`: the key widens to a struct of
    * two independently-salted xxhash64 values (expected collision
    * pairs ≈ n²/2^129 — negligible at any physical corpus). Both
    * modes gate the same oracle at test scale (GramHash128Spec).
    */
  private val GramSalt = -7046029254386353131L // golden-ratio odd const
  private def gram128(s: SparkSession): Boolean =
    s.conf.get("spark.graft.gramHash.bits", "64").trim == "128"
  private def gramKey(s: SparkSession, cols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column =
    if (gram128(s))
      struct(xxhash64(cols: _*).as("h0"),
        xxhash64((lit(GramSalt) +: cols): _*).as("h1"))
    else xxhash64(cols: _*)
  // the SQL-lambda form for keys built inside expr() strings
  private def gramKeySql(s: SparkSession, args: String): String =
    if (gram128(s))
      s"named_struct('h0', xxhash64($args), 'h1', xxhash64(${GramSalt}L, $args))"
    else s"xxhash64($args)"


  /** Shared single-keyed degree-capped Adamic-Adar plan (p114, and
    * p107's guard-fallback twin): count window over the part
    * partition, cap filter BEFORE collect_list (no group materializes
    * more than cap = 28 customers — hub-safe), map-side ordered-pair
    * explosion (≤ C(28,2) = 378 pairs per part), one (ca, cb)
    * aggregation. Replaces the r11 6-exchange self-join shape that
    * measured 148-424 s at the 100x probe; same rows, same oracle.
    * Terms follow the repo's float-ordering discipline: 1/ln(dp)
    * rounds to 6 digits, scales to exact long micro-units, sums as
    * integers, and only the final display value returns to double.
    */
  private def cappedAdamicAdar(cp: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wdp = org.apache.spark.sql.expressions.Window.partitionBy("p")
    val grouped = cp
      .withColumn("dp", count(lit(1)).over(wdp))
      .where(col("dp") >= 2 && col("dp") <= 28)
      .groupBy("p")
      .agg(sort_array(collect_list(col("c"))).as("cs"),
        round(round(lit(1.0) / log(first(col("dp"))), 6) * 1e6, 0)
          .cast("long").as("term"))
    val cs = col("cs")
    val pairs = grouped.select(col("term"),
      explode(flatten(transform(sequence(lit(1), size(cs) - 1), i =>
        transform(slice(cs, i + 1, size(cs) - i),
          c2 => struct(element_at(cs, i).as("ca"), c2.as("cb"))))))
        .as("pr"))
      .select(col("pr.ca").as("ca"), col("pr.cb").as("cb"), col("term"))
    pairs.groupBy("ca", "cb")
      .agg(round(sum(col("term")).cast("double") / 1e6, 6).as("aa"),
        count(lit(1)).as("n_common"))
      .orderBy(col("aa").desc, col("ca"), col("cb"))
      .limit(25)
  }

  val queries: Map[String, Q] = Map(
    // ---- dedup -------------------------------------------------------
    "p01_dedup_exact" -> { (s, d) =>
      Dedup.exact(load(s, d, "documents"), "doc_id", "text")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },

    "p02_dedup_jaccard" -> { (s, d) =>
      Dedup.jaccardPairs(load(s, d, "documents").where(col("doc_id") < 200),
        "doc_id", "text", 0.9)
        .orderBy("da", "db")
    },

    "p03_dedup_minhash_lsh" -> { (s, d) =>
      // ORACLE-GATED against the exact-Jaccard pair set (p02's oracle):
      // LSH candidates are verified with exact Jaccard, so output ⊆
      // exact pairs, and at 8 bands × 4 rows the miss probability at
      // J >= 0.9 is <= (1-0.9^4)^8 ≈ 2e-4 per pair — on this corpus
      // recall is exactly 1 (planted near-dups sit on the S-curve's
      // high plateau), which the gate now asserts every round.
      Dedup.minhashLsh(load(s, d, "documents").where(col("doc_id") < 200),
        "doc_id", "text", shingleK = 1, numPerm = 32, rowsPerBand = 4,
        threshold = 0.9)
        .orderBy("da", "db")
    },

    "p04_dedup_simhash" -> { (s, d) =>
      // ORACLE-GATED end to end: the md5-derived token hash is
      // recomputable in SQL, so DuckDB rebuilds the exact 64-bit
      // simhash per doc and brute-forces all pairs at hamming <= 3 —
      // the distance bound where 16-bit × 4 banding is COMPLETE by
      // pigeonhole (≤3 differing bits can't touch all 4 pieces), so
      // the banded Spark plan must produce exactly that set.
      Dedup.simhashPairs(load(s, d, "documents").where(col("doc_id") < 200),
        "doc_id", "text", maxDist = 3)
        .orderBy("da", "db")
    },

    "p14_dedup_clusters" -> { (s, d) =>
      // near-dup pairs -> connected components -> keep min-id per
      // cluster; exact-Jaccard pairs make the whole chain (incl. the
      // min-label-propagation components) oracle-checkable in SQL
      val docs = load(s, d, "documents").where(col("doc_id") < 200)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
      Dedup.keepRepresentatives(docs, "doc_id", pairs)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },

    "p25_dedup_keep_best" -> { (s, d) =>
      // quality-aware dedup: within each near-dup cluster keep the
      // longest document (id tiebreak) — keepRepresentatives' min-id
      // policy swapped for an arbitrary score
      val docs = load(s, d, "documents").where(col("doc_id") < 200)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
      Dedup.keepBest(docs, "doc_id", pairs, length(col("text")))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    },

    // ---- similarity search ------------------------------------------
    "p05_ann_bruteforce" -> { (s, d) =>
      val vecs = load(s, d, "embeddings")
      Similarity.bruteForceTopK(vecs.where(col("vec_id") < 20), vecs, 3)
        .orderBy("qid", "rank")
    },

    "p06_embedding_neardup" -> { (s, d) =>
      Similarity.cosineNearDupPairs(load(s, d, "embeddings")
        .where(col("vec_id") < 300), 0.45)
        .orderBy("da", "db")
    },

    "p07_ann_lsh" -> { (s, d) =>
      // ORACLE-GATED: the hyperplane matrix is a driver-side constant,
      // so the oracle SQL embeds the SAME matrix as literals and
      // recomputes every signature bit-identically (left-to-right
      // double accumulation on both engines) — buckets, candidates and
      // ranks are then fully checked, not just counted.
      Similarity.lshTopK(load(s, d, "embeddings"), dim = 64, numPlanes = 8, k = 3)
        .where(col("qid") < 50)
        .orderBy("qid", "rank")
    },

    "p44_kcore" -> { (s, d) =>
      // k-core peeling with a visible cascade: orders hang off their
      // customer (degree 1 — peel at k=2), customers then drop to
      // degree 1 (their nation edge) and peel next round, the
      // same-region nation cliques (degree 4) survive. The oracle
      // states the fixpoint: exactly the nations, each keeping its
      // in-core clique degree.
      val n = load(s, d, "nation")
        .select(col("n_nationkey").as("k"), col("n_regionkey").as("rk"))
      val cliq = n.as("x").join(n.as("y"), col("x.rk") === col("y.rk") &&
          col("x.k") < col("y.k"))
        .select((col("x.k") + lit(1000000L)).as("u"),
          (col("y.k") + lit(1000000L)).as("v"))
      val custNat = load(s, d, "customer")
        .select(col("c_custkey").as("u"),
          (col("c_nationkey") + lit(1000000L)).as("v"))
      val ordCust = load(s, d, "orders")
        .select((col("o_orderkey") + lit(2000000L)).as("u"),
          col("o_custkey").as("v"))
      GraphAnalytics.kCore(cliq.unionAll(custNat).unionAll(ordCust), k = 2)
        .select((col("id") - lit(1000000L)).cast("long").as("nationkey"),
          col("deg").cast("long").as("deg"))
        .orderBy("nationkey")
    },

    "p46_label_prop" -> { (s, d) =>
      // Sync label propagation over same-region nation cliques with
      // customers hanging off their nation: round 1 every neighbor
      // label is distinct (the all-tie case -> min label wins: nations
      // adopt the region's min nationkey), later rounds have real
      // majorities (attached customers mass-vote their nation's
      // label). 4 rounds reaches the region-community fixpoint; the
      // oracle recomputes every round exactly (unrolled CTEs).
      val n = load(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_regionkey").as("rk"))
      val cliq = n.as("x").join(n.as("y"), col("x.rk") === col("y.rk") &&
          col("x.k") < col("y.k"))
        .select(col("x.k").as("u"), col("y.k").as("v"))
      val custNat = load(s, d, "customer")
        .select((col("c_custkey") + lit(1000000L)).as("u"),
          col("c_nationkey").cast("long").as("v"))
      GraphAnalytics.labelPropagation(cliq.unionAll(custNat), iters = 4)
        .select(col("id").cast("long").as("id"),
          col("label").cast("long").as("label"))
        .orderBy("id")
    },

    "p43_neardup_lsh" -> { (s, d) =>
      // LSH-bucketed near-dup — the scale twin of p06's all-pairs
      // baseline: same threshold + id window, candidates from
      // multi-table signature agreement instead of the O(n²) product.
      // ORACLE-GATED with the literal plane matrix (candidates AND the
      // threshold filter fully recomputed in SQL).
      Similarity.cosineNearDupPairsLsh(
          load(s, d, "embeddings").where(col("vec_id") < 300),
          threshold = 0.45, dim = 64, numPlanes = 3, numTables = 4)
        .orderBy("da", "db")
    },

    "p42_ann_lsh_multi" -> { (s, d) =>
      // OR-amplified multi-table LSH (4 tables × 8 planes) — the
      // recall fix for p07's single table. ORACLE-GATED the same way:
      // all 32 plane rows are driver constants the oracle re-embeds as
      // literals, so per-table signatures, the unioned candidate set,
      // and the exact-cosine ranks are all checked bit-for-bit.
      Similarity.lshTopKMulti(load(s, d, "embeddings"),
          dim = 64, numPlanes = 8, numTables = 4, k = 3)
        .where(col("qid") < 50)
        .orderBy("qid", "rank")
    },

    "p13_ann_ivf" -> { (s, d) =>
      // ORACLE-GATED at nProbe = nList: probing every cell makes IVF
      // exhaustive by construction, so the output must equal the
      // brute-force top-k — a DuckDB-expressible oracle that exercises
      // the full quantize/assign/probe/rank machinery. The
      // sub-exhaustive recall/cost dial (nProbe < nList) is asserted
      // separately in PipelineSpec.
      Similarity.ivfTopK(load(s, d, "embeddings"), k = 3, nList = 16, nProbe = 16)
        .where(col("qid") < 50)
        .orderBy("qid", "rank")
    },

    "p45_ann_pq" -> { (s, d) =>
      // Product-quantization ADC scan (8 subspaces × 16 centroids over
      // dim 64). ORACLE-GATED with the deterministic codebook
      // (pqCodebook is a driver-side constant like the LSH planes, so
      // the oracle re-embeds it as literals and recomputes codes,
      // lookup tables and ranks bit-for-bit); the TRAINED-codebook
      // path shares this exact encode/ADC machinery and is
      // cross-checked in PipelineSpec.
      val vecs = load(s, d, "embeddings")
      Similarity.pqTopK(vecs.where(col("vec_id") < 50), vecs,
          Similarity.pqCodebook(dim = 64, numSub = 8, k = 16), k = 3)
        .orderBy("qid", "rank")
    },

    "p17_quantize_int8" -> { (s, d) =>
      // int8 scalar quantization: code sums are integer-exact, so the
      // whole compression step is oracle-checkable
      load(s, d, "embeddings")
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("q"),
          round(array_min(col("embedding")).cast("double"), 6).as("qmin"),
          round(array_max(col("embedding")).cast("double"), 6).as("qmax"))
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("code_sum"),
          col("qmin"), col("qmax"))
        .where(col("vec_id") < 400)
        .orderBy("vec_id")
    },

    // ---- text analysis ----------------------------------------------
    "p08_token_stats" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    "p09_quality_score" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"),
          round(TextOps.stopwordRatio(col("text")), 6).as("sw_ratio"),
          round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"))
        .orderBy("doc_id")
    },

    "p10_langid" -> { (s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))
        .groupBy("pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang")
    },

    "p11_fingerprint" -> { (s, d) =>
      load(s, d, "documents")
        .select(TextOps.vocabFingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("fp"))
    },

    "p15_stratified_sample" -> { (s, d) =>
      // per-stratum deterministic sampling: different keep-rates per
      // source (the training-data mixing-ratio primitive); key-modulo
      // keeps it cross-engine reproducible (cf. q30)
      val rate = map(lit("src0"), lit(7), lit("src1"), lit(3),
        lit("src2"), lit(5), lit("src3"), lit(9), lit("src4"), lit(4))
      load(s, d, "documents")
        .where(pmod(col("doc_id"), lit(10)) <
          coalesce(element_at(rate, col("source")), lit(2)))
        .groupBy("source").agg(count(lit(1)).as("n_sampled"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy("source")
    },

    "p16_ngram_topk" -> { (s, d) =>
      // top-3 word bigrams per source by frequency (doc_id tiebreak on
      // the bigram text) — n-gram counting at corpus scale is one
      // shuffle (explode -> partial/final count) + a per-group top-k
      // materialize the token array once, then pair adjacent tokens by
      // zipping two slices — linear per doc (an element_at(split(...))
      // lambda would re-split the text per index: O(len^2))
      val ws = col("__ws")
      val withWords = load(s, d, "documents")
        .select(col("source"), split(lower(col("text")), "\\s+").as("__ws"))
        .where(size(ws) >= 2)
      val bigrams = zip_with(
        slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat_ws(" ", a, b))
      val counts = withWords
        .select(col("source"), explode(bigrams).as("bigram"))
        .groupBy("source", "bigram").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n").desc, col("bigram"))
      counts.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select("source", "rank", "bigram", "n")
        .orderBy("source", "rank")
    },

    "p18_sequence_packing" -> { (s, d) =>
      // pack documents into fixed token budgets (pretraining batch
      // prep): deterministic greedy fill in doc_id order — bin =
      // exclusive-prefix-sum / budget; one window pass, then per-bin
      // stats. At corpus scale the same shape runs per shard
      // (partitionBy on a shard key) instead of one global order.
      val budget = 4096
      val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      load(s, d, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("toks"))
        .withColumn("__prior", coalesce(sum("toks").over(w), lit(0L)))
        .withColumn("bin", (col("__prior") / budget).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("toks").cast("long").as("n_toks"))
        .orderBy("bin")
    },

    "p19_tfidf" -> { (s, d) =>
      // top-3 TF-IDF terms per document (corpus = the doc_id<50 slice):
      // ranking happens on the ROUNDED score so cross-engine ulp
      // differences in ln() can't flip the order
      TextOps.tfidfTopK(load(s, d, "documents").where(col("doc_id") < 50),
        "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    },

    "p47_zipf_rarity" -> { (s, d) =>
      // Zipf-rank rarity scoring — the float-free unigram-LM
      // perplexity proxy: vocabulary ranks by frequency (the only
      // global sort touches vocab, not corpus), per-doc mean/max rank
      // + hapax count in exact integer arithmetic
      TextOps.zipfRarity(load(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    "p20_mixture_epochs" -> { (s, d) =>
      // dataset mixture weighting by epoch replication (the pretraining
      // "see source X twice per epoch" primitive): per-source repeat
      // factors expand via explode(sequence) — a narrow map-side op, no
      // shuffle until the final stats
      val rep = map(lit("src0"), lit(2), lit("src2"), lit(3), lit("src4"), lit(2))
      load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1),
            coalesce(element_at(rep, col("source")), lit(1)))).as("epoch"))
        .groupBy("source", "epoch")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").cast("long").as("id_sum"))
        .orderBy("source", "epoch")
    },

    "p21_redact" -> { (s, d) =>
      // blocklist redaction (the PII-scrub shape: count pattern hits,
      // measure post-redaction length) — pure map-side regex work; the
      // pattern stays in the RE2/Java-regex common subset so the oracle
      // agrees
      val pat = "(customer|query|spark)"
      load(s, d, "documents")
        .select(col("source"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("hits"),
          length(regexp_replace(col("text"), pat, "<X>")).as("rlen"))
        .groupBy("source")
        .agg(sum("hits").cast("long").as("n_hits"),
          sum(when(col("hits") > 0, 1).otherwise(0)).cast("long").as("n_docs_hit"),
          sum("rlen").cast("long").as("redacted_len"))
        .orderBy("source")
    },

    "p22_decontam" -> { (s, d) =>
      // benchmark decontamination: flag training docs (doc_id<400)
      // sharing any word 5-gram with the eval slice (a FIXED 100-doc
      // benchmark, doc_id in [400, 500) — benchmark size must not grow
      // with the corpus). The eval-gram set broadcasts; the corpus
      // streams through the semi-join — the standard "hash the
      // benchmark, stream the corpus" shape.
      val docs = load(s, d, "documents")
      val train = docs.where(col("doc_id") < 400)
      val eval_ = docs.where(col("doc_id") >= 400 && col("doc_id") < 500)
      TextOps.contaminated(train, eval_, 5, "doc_id", "text")
        .join(train.select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
        .orderBy("source")
    },

    "p23_rolling_features" -> { (s, d) =>
      // feature engineering: per-user daily value sums on a gap-filled
      // day grid, then a trailing 3-day rolling sum — the dense grid
      // makes the ROWS frame equal a true 3-calendar-day window.
      // Decimal space end-to-end (order-independent partial sums).
      val ev = load(s, d, "events").where(col("user_id") < 30)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(28,4)").as("v"))
      val daily = ev.groupBy("user_id", "day").agg(sum("v").as("dv"))
      val days = ev.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val grid = ev.select("user_id").distinct()
        .crossJoin(broadcast(days))
        .join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("dv"), lit(0).cast("decimal(28,4)")).as("dv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day").rowsBetween(-2, 0)
      grid.select(col("user_id"), col("day"),
          round(sum("dv").over(w), 2).cast("double").as("roll3"))
        .orderBy("user_id", "day")
    },

    "p24_pagerank" -> { (s, d) =>
      // GraphX static PageRank (Pregel — the scale path for iterative
      // graph analytics) over the customer->nation->region DAG.
      // ORACLE-GATED: on a depth-2 DAG with unit out-degrees the fixed
      // point is reached by iteration 3, so the converged ranks have a
      // closed form (0.15 damped propagation up the two levels), and
      // GraphX's final rank-sum normalization (ranks scaled to sum to
      // |V|) is one uniform factor — both exactly expressible in SQL.
      val cust = load(s, d, "customer")
        .select(col("c_custkey").as("start"),
          (col("c_nationkey") + lit(1000000L)).as("end"))
      val nat = load(s, d, "nation")
        .select((col("n_nationkey") + lit(1000000L)).as("start"),
          (col("n_regionkey") + lit(2000000L)).as("end"))
      GraphAnalytics.pageRank(cust.unionAll(nat), numIter = 10)
        .where(col("id") >= 1000000L)
        .select(
          when(col("id") >= 2000000L, lit("region")).otherwise(lit("nation"))
            .as("kind"),
          when(col("id") >= 2000000L, col("id") - 2000000L)
            .otherwise(col("id") - 1000000L).cast("long").as("key"),
          round(col("rank"), 6).as("rank"))
        .orderBy("kind", "key")
    },

    "p41_triangle_count" -> { (s, d) =>
      // distributed triangle counting (degree-ordered wedge join,
      // GraphAnalytics.triangleCount) on the same-region nation clique
      // graph — deterministic triangles; the oracle recomputes the
      // identical id-ordered triple join in SQL
      val n = load(s, d, "nation")
        .select(col("n_nationkey").as("k"), col("n_regionkey").as("rk"))
      val pairs = n.as("x").join(n.as("y"), col("x.rk") === col("y.rk") &&
          col("x.k") < col("y.k"))
        .select(col("x.k").as("u"), col("y.k").as("v"))
      GraphAnalytics.triangleCount(pairs)
        .select(col("id").cast("long").as("id"),
          col("n_tri").cast("long").as("n_tri"))
        .orderBy("id")
    },

    "p27_chunking" -> { (s, d) =>
      // overlapping token windows (chunk 64, stride 48) — the
      // RAG/pretraining chunking primitive; pure array slices over one
      // materialized token array, map-side only
      val ws = col("__ws")
      load(s, d, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), split(col("text"), "\\s+").as("__ws"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), floor((size(ws) - 1) / 48.0).cast("long")),
            i => slice(ws, (i * 48 + 1).cast("int"), lit(64)))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("n_toks"),
          element_at(col("col"), 1).as("head_tok"))
        .orderBy("doc_id", "chunk_idx")
    },

    "p28_repetition" -> { (s, d) =>
      // repetition quality signals (the Gopher-paper repetition
      // filters, arXiv:2112.11446 §A1.1): fraction of tokens that are
      // repeats of an earlier word, and the most-frequent-bigram share
      // of all bigrams — high values flag degenerate repetitive docs.
      // Map-side tokenization + one (doc, bigram) count aggregation.
      val w = col("__w")
      val base = load(s, d, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("__w"))
        .where(size(w) >= 2)
        .select(col("doc_id"), size(w).as("n_words"),
          round(lit(1.0) - size(array_distinct(w)).cast("double") / size(w), 6)
            .as("dup_word_frac"),
          explode(zip_with(slice(w, lit(1), size(w) - 1),
            slice(w, lit(2), size(w) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bg"))
      base.groupBy("doc_id", "n_words", "dup_word_frac", "bg")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n_words", "dup_word_frac")
        .agg(round(max(col("c")).cast("double") / sum(col("c")), 6)
          .as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    "p29_boilerplate" -> { (s, d) =>
      // corpus-level boilerplate detection (the C4 "span occurring more
      // than once in the corpus" pass, word-5-gram unit since this
      // corpus has no newlines): grams present in >= 2 distinct docs
      // are boilerplate; report how many docs/grams per source carry
      // any. Scale shape: grams hash to 64 bits BEFORE the shuffle
      // (longs through the exchange, never 40-byte strings), and the
      // corpus-frequency count is a window over the same hash partition
      // — one pass over the gram relation, no self-join, no branch
      // recomputation. No pairwise scan anywhere.
      val docs = load(s, d, "documents")
      val grams = docs.select(col("doc_id"), col("source"),
          explode(array_distinct(Dedup.shingles(lower(col("text")), 5))).as("g"))
        .select(col("doc_id"), col("source"), gramKey(s, col("g")).as("gh"))
      val wg = org.apache.spark.sql.expressions.Window.partitionBy("gh")
      grams.withColumn("nd", count(lit(1)).over(wg))
        .where(col("nd") >= 2)
        .groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs_bp"),
          countDistinct("gh").as("n_grams_bp"))
        .orderBy("source")
    },

    "p30_c4_filter" -> { (s, d) =>
      // C4-style heuristic quality gate (arXiv:1910.10683 §2.2 rules
      // adapted to this corpus): word count >= 50, mean word length in
      // [3, 10], at least one common stopword — kept counts plus the
      // per-rule failure breakdown per source. Pure map-side predicates
      // into one aggregation.
      val ws = split(col("text"), "\\s+")
      val meanLen = length(regexp_replace(col("text"), "\\s+", ""))
        .cast("double") / size(ws)
      load(s, d, "documents")
        .select(col("source"),
          (size(ws) >= 50).as("len_ok"),
          (meanLen >= 3.0 && meanLen <= 10.0).as("wlen_ok"),
          arrays_overlap(ws, array(lit("the"), lit("a"), lit("of"),
            lit("and"), lit("to"))).as("stop_ok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("len_ok") && col("wlen_ok") && col("stop_ok"), 1)
            .otherwise(0)).cast("long").as("n_kept"),
          sum(when(!col("len_ok"), 1).otherwise(0)).cast("long").as("n_short"),
          sum(when(!col("wlen_ok"), 1).otherwise(0)).cast("long").as("n_wlen"),
          sum(when(!col("stop_ok"), 1).otherwise(0)).cast("long").as("n_nostop"))
        .orderBy("source")
    },

    // tokenizer-vocabulary construction: corpus word frequencies plus
    // the cumulative coverage share ("how much of the corpus do the
    // top-k words cover" — the vocab-size curve every BPE/WordPiece
    // build starts from). One explode->count shuffle; the coverage
    // window runs over the top-30 slice only, so the corpus itself
    // never sorts globally.
    "p31_vocab_coverage" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val counts = load(s, d, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).cast("double").as("tot"))
      val byFreq = W.orderBy(col("n").desc, col("w"))
      counts.orderBy(col("n").desc, col("w")).limit(30)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(byFreq))
        .withColumn("cum_share",
          round(sum(col("n")).over(byFreq.rowsBetween(
            W.unboundedPreceding, W.currentRow)).cast("double") / col("tot"), 6))
        .select(col("rank"), col("w"), col("n"), col("cum_share"))
        .orderBy("rank")
    },

    // C4-style cross-corpus line dedup (arXiv:1910.10683 §2.2's
    // "discard duplicate spans" pass at line granularity; 10-word
    // pseudo-lines since this corpus has no newlines). Keep-first-
    // occurrence: a line instance survives iff it is the globally
    // first (doc_id, line_idx) occurrence of its content. One window
    // over the line-hash partition decides — no self-join, and only
    // 8-byte hashes go through the exchange, never line text.
    "p32_line_dedup" -> { (s, d) =>
      val ws = col("__ws")
      val lines = load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          split(lower(col("text")), "\\s+").as("__ws"))
        .select(col("doc_id"), col("source"),
          posexplode(transform(
            sequence(lit(0), floor((size(ws) - 1) / 10.0).cast("long")),
            i => concat_ws(" ", slice(ws, (i * 10 + 1).cast("int"), lit(10))))))
        .select(col("doc_id"), col("source"), col("pos").as("line_idx"),
          gramKey(s, col("col")).as("lh"),
          size(split(col("col"), " ")).as("n_toks"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lh").orderBy("doc_id", "line_idx")
      lines.withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("rn") > 1, 1).otherwise(0)).cast("long").as("n_removed"),
          sum(when(col("rn") === 1, col("n_toks"))).cast("long").as("toks_kept"))
        .orderBy("source")
    },

    // Benchmark decontamination in embedding space (semantic variant
    // of p22's n-gram form): label 9 plays the held-out eval set; any
    // other vector whose max cosine against it clears 0.4 is flagged.
    // The eval side broadcasts (eval sets are small by construction);
    // the corpus side streams through the broadcast loop with no
    // shuffle, and norms are computed once per row before the pair
    // loop, not once per pair.
    "p33_embed_decontam" -> { (s, d) =>
      val vecs = load(s, d, "embeddings")
      val evals = vecs.where(col("label") === 9)
        .select(col("embedding").as("ve"),
          Similarity.norm(col("embedding")).as("ne"))
      val cands = vecs.where(col("label") =!= 9)
        .select(col("vec_id"), col("label"), col("embedding").as("vc"),
          Similarity.norm(col("embedding")).as("nc"))
      cands.join(broadcast(evals))
        .withColumn("cos",
          Similarity.dot(col("vc"), col("ve")) / (col("nc") * col("ne")))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(col("cos")).as("mc"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("mc") >= 0.4, 1).otherwise(0)).cast("long")
            .as("n_contam"),
          round(max(col("mc")).cast("decimal(28,8)"), 6).cast("double")
            .as("max_cos"))
        .orderBy("label")
    },

    // Multilingual temperature sampling (XLM-R, arXiv:1911.02116
    // §3.1): resampling weights p_l ∝ share_l^(1/T) with T=3 upsample
    // low-resource languages. Pure aggregate math over per-language
    // counts (a 5-row relation) — the expensive part at 100 TB is the
    // count, which is one map-side-combined aggregation.
    "p34_temperature_mix" -> { (s, d) =>
      val counts = load(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).cast("double").as("tot"))
      val withQ = counts.crossJoin(broadcast(tot))
        .withColumn("q", pow(col("n").cast("double") / col("tot"), 1.0 / 3))
      val z = withQ.agg(sum(col("q")).as("z"))
      withQ.crossJoin(broadcast(z))
        .select(col("lang"), col("n"),
          round((col("q") / col("z")).cast("decimal(28,8)"), 6).cast("double")
            .as("weight"),
          round(col("q") / col("z") * col("tot")).cast("long").as("exp_docs"))
        .orderBy("lang")
    },

    // Length-percentile trimming: per source, drop docs outside the
    // [p05, p95] token-count band. Exact ordered-set bounds use the
    // same min-at-cume_dist formulation as q58, so the oracle pins the
    // boundary semantics. Each source partition trims independently —
    // no global sort at any width.
    "p35_length_trim" -> { (s, d) =>
      val toks = load(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), "\\s+")).as("nt"))
      val wcd = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("nt")
      val bounds = toks.withColumn("cd", cume_dist().over(wcd))
        .groupBy("source")
        .agg(min(when(col("cd") >= 0.05, col("nt"))).as("lo"),
          min(when(col("cd") >= 0.95, col("nt"))).as("hi"))
      toks.join(broadcast(bounds), "source")
        .groupBy("source", "lo", "hi")
        .agg(sum(when(col("nt").between(col("lo"), col("hi")), 1)
            .otherwise(0)).cast("long").as("n_kept"),
          sum(when(!col("nt").between(col("lo"), col("hi")), 1)
            .otherwise(0)).cast("long").as("n_dropped"))
        .select("source", "lo", "hi", "n_kept", "n_dropped")
        .orderBy("source")
    },

    // ---- multimodal plumbing ----------------------------------------
    "p26_frame_sample" -> { (s, d) =>
      // video-path plumbing: binary content -> fixed 64-byte "frames",
      // every 3rd sampled (generator shape: one row in, many out)
      val media = Multimodal.asMediaTable(
        load(s, d, "documents").where(col("doc_id") < 100), "doc_id", "text")
      Multimodal.frameSample(media, frameBytes = 64, every = 3)
        .orderBy("doc_id", "frame_idx")
    },

    "p12_multimodal_decode" -> { (s, d) =>
      val media = Multimodal.asMediaTable(load(s, d, "documents"), "doc_id", "text")
      val decoded = Multimodal.decode(media)
      Multimodal.resize(decoded, 128)
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(element_at(col("features"), 1).cast("double"), 2).as("f0"))
        .orderBy("doc_id")
    },

    // ---- batch/corpus management ------------------------------------
    "p48_wav_audio" -> { (s, d) =>
      // REAL multimodal codec round-trip: deterministic integer
      // sawtooth waveforms encode through a real RIFF/WAVE PCM16
      // writer into binary blobs, then a chunk-walking WAV parser
      // decodes them back (partition-batch shape both ways); every
      // output stat comes OUT of the parsed container and is exact
      // integer arithmetic the oracle recomputes from the closed-form
      // generator
      val ev = load(s, d, "events").where(col("event_id") < 200)
      Multimodal.wavStats(Multimodal.synthWavTable(ev, nSamples = 256))
        .orderBy("event_id")
    },

    "p50_bmp_image" -> { (s, d) =>
      // REAL multimodal image codec round-trip: deterministic integer
      // gradient pixels encode through a real BMP 24bpp writer
      // (bottom-up BGR rows, 4-byte padding — w=5..10 exercises pads
      // of 1..3 bytes) and a header-validating parser decodes them
      // back; width/height come from the parsed header, sums from the
      // de-padded pixel array, and wsum position-weights each pixel so
      // a row-order or channel-order bug cannot cancel out
      val docs = load(s, d, "documents").where(col("doc_id") < 200)
      Multimodal.bmpStats(Multimodal.synthBmpTable(docs)).orderBy("doc_id")
    },

    "p51_y4m_video" -> { (s, d) =>
      // REAL multimodal video codec: deterministic integer clips
      // encode through a real YUV4MPEG2 writer (ASCII header + FRAME
      // markers + raw C444 planes) and a header-parsing frame walker
      // samples every 2nd frame — one clip in, many frame rows out
      // (the generator/UDTF batch shape); per-plane sums and the
      // position-weighted checksum all come out of the parsed planes
      val ev = load(s, d, "events").where(col("event_id") < 200)
      Multimodal.y4mFrameSample(Multimodal.synthY4mTable(ev), every = 2)
        .orderBy("event_id", "frame_idx")
    },

    "p52_hits" -> { (s, d) =>
      // HITS hubs/authorities over the customer->nation->region
      // two-layer digraph, 2 fixed iterations, UNNORMALIZED so every
      // score is an exact integer the oracle unrolls round by round;
      // id namespaces offset so customer/nation/region keys can't
      // collide. Rankings equal normalized HITS (per-round scaling is
      // a positive scalar).
      val cust = load(s, d, "customer")
        .select((col("c_custkey") + 100000).as("src"),
          (col("c_nationkey") + 1000).as("dst"))
      val nat = load(s, d, "nation")
        .select((col("n_nationkey") + 1000).as("src"),
          col("n_regionkey").as("dst"))
      GraphAnalytics.hits(cust.unionAll(nat), iters = 2).orderBy("id")
    },

    "p53_heavy_hitters" -> { (s, d) =>
      // Count-min sketch heavy hitters: the d×w counter table is built
      // in one map-side-combinable pass (shuffle carries ≤ d·w rows no
      // matter the key cardinality — the 100-TB property), estimates
      // broadcast the sketch; w=64 on this vocabulary forces real
      // bucket collisions so the CM overestimate path is exercised,
      // and the md5 bucket hash lets the oracle rebuild the exact
      // sketch in SQL — est and n_exact both hash-gated
      val toks = load(s, d, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      val sk = Sketches.countMinBuild(toks, "w", depth = 4, width = 64)
      val est = Sketches.countMinEstimate(sk, toks, "w", depth = 4, width = 64)
      val exact = toks.groupBy("w").agg(count(lit(1)).as("n_exact"))
      est.join(exact, "w").where(col("est") >= 300)
        .select(col("w").as("token"), col("est"), col("n_exact"))
        .orderBy("token")
    },

    "p54_bloom_filter" -> { (s, d) =>
      // Bloom-filter membership pruning: build over 2/3 of customer
      // names (k=3 hashes into m=4096 bits), probe customers ∪
      // suppliers; the set-bit table is ≤ m rows and broadcasts, so
      // the probe side never shuffles — output is the candidate-member
      // set INCLUDING the filter's deterministic false positives,
      // which the oracle reproduces bit-for-bit from the same hashes
      val c = load(s, d, "customer").select(col("c_custkey"), col("c_name"))
      val build = c.where(col("c_custkey") % 3 =!= 0)
        .select(col("c_name").as("k"))
      val probe = c.select(col("c_name").as("k"))
        .unionAll(load(s, d, "supplier").select(col("s_name").as("k")))
      val bits = Sketches.bloomBuild(build, "k", numBits = 4096, numHashes = 3)
      val pass = Sketches.bloomProbe(bits, probe, "k", numBits = 4096, numHashes = 3)
      pass.join(build.distinct().withColumn("in_build", lit(1L)), Seq("k"), "left")
        .select(col("k").as("name"),
          coalesce(col("in_build"), lit(0L)).as("in_build"))
        .orderBy("name")
    },

    "p55_hll_registers" -> { (s, d) =>
      // HyperLogLog through the hash-exact gate: the 64-register table
      // (bucket = low 6 hash bits, register = max leading-zero rank of
      // the high 26) is pure integer arithmetic both engines compute
      // identically — the sketch is verified bit-for-bit, the float
      // estimate derived from it is error-bound-tested in PipelineSpec.
      // One map-side-combinable aggregation; shuffle ≤ 64 rows/shard.
      Sketches.hllRegisters(load(s, d, "customer")
        .select(col("c_name").as("k")), "k", numBuckets = 64)
        .orderBy("bucket")
    },

    "p56_span_corruption" -> { (s, d) =>
      // T5-style span-corruption objective prep: deterministic mask
      // spans (first 3 tokens of every 15) replace with one sentinel
      // each in the input; targets list sentinel + masked tokens.
      // Pure array transforms over one materialized token array —
      // map-side only, NO shuffle: the objective-prep pass at 100 TB
      // is embarrassingly parallel and this plan keeps it that way
      val ws = col("__ws")
      val sentinel = (i: org.apache.spark.sql.Column) => concat(lit("<extra_id_"),
        ((i - (i % 15)) / 15).cast("int").cast("string"), lit(">"))
      load(s, d, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), split(col("text"), "\\s+").as("__ws"))
        .select(col("doc_id"), size(ws).as("n_tokens"),
          size(filter(sequence(lit(0), size(ws) - 1),
            i => i % 15 < 3)).as("n_masked"),
          array_join(filter(transform(sequence(lit(0), size(ws) - 1), i =>
            when(i % 15 === 0, sentinel(i))
              .when(i % 15 >= 3, element_at(ws, (i + 1).cast("int")))),
            x => x.isNotNull), " ").as("input_text"),
          array_join(filter(transform(sequence(lit(0), size(ws) - 1), i =>
            when(i % 15 === 0, concat(sentinel(i), lit(" "),
                element_at(ws, (i + 1).cast("int"))))
              .when(i % 15 < 3, element_at(ws, (i + 1).cast("int")))),
            x => x.isNotNull), " ").as("target_text"))
        .orderBy("doc_id")
    },

    "p57_closeness" -> { (s, d) =>
      // Closeness centrality via MULTI-SOURCE BFS: every vertex is a
      // source in the same frontier, so one (frontier ⋈ edges) round
      // expands all sources' level-k sets at once — diameter joins
      // total, not V of them; (n_reach, sum_dist) stays integer so
      // the oracle (recursive-CTE BFS) gates it exactly, callers
      // divide for the float centrality at the end. EXACT form: its
      // (sources x reach-set) pair state grows quadratically on hub
      // graphs (sf10 probe: memory-dead at 100x) — p117 is the sampled
      // 100-TB form.
      val sup = load(s, d, "supplier")
        .select((col("s_suppkey") + 200000).as("u"),
          (col("s_nationkey") + 1000).as("v"))
      val nat = load(s, d, "nation")
        .select((col("n_nationkey") + 1000).as("u"),
          col("n_regionkey").as("v"))
      GraphAnalytics.closeness(sup.unionAll(nat), maxDepth = 4).orderBy("id")
    },

    // Sampled closeness (Eppstein-Wang style): BFS from the id % 17
    // == 0 vertex sample only, estimate every vertex's closeness from
    // sampled-source distances — O((V/17)·E) and 1/17th the pair
    // state, the documented crossover once the exact p57 form's
    // quadratic (sources x reach-set) state stops fitting (its sf10
    // probe died; this form's probe survives). Same integer-exact
    // (n_src, sum_dist) oracle discipline.
    "p117_closeness_sampled" -> { (s, d) =>
      val sup = load(s, d, "supplier")
        .select((col("s_suppkey") + 200000).as("u"),
          (col("s_nationkey") + 1000).as("v"))
      val nat = load(s, d, "nation")
        .select((col("n_nationkey") + 1000).as("u"),
          col("n_regionkey").as("v"))
      GraphAnalytics.closenessSampled(sup.unionAll(nat), maxDepth = 4,
        mod = 17).orderBy("id")
    },

    // Fixed-source-COUNT sampled closeness — the 100-TB default form.
    // p117's fixed RATE (mod = 17) grows sources ∝ V, so work is still
    // ∝ V·E/17 (its sf10 probe ran ~linear·V, ~90x). Fixing the COUNT
    // (mod = max(1, V/16) from one vertex-count aggregate) pins ~16 BFS
    // sources at every scale: work ∝ 16·E, strictly linear in data —
    // only the estimator's variance changes with V, and Eppstein-Wang
    // error bounds depend on the sample COUNT anyway. The oracle
    // derives the same mod from the same count, so results stay exact.
    "p118_closeness_fixed_count" -> { (s, d) =>
      val sup = load(s, d, "supplier")
        .select((col("s_suppkey") + 200000).as("u"),
          (col("s_nationkey") + 1000).as("v"))
      val nat = load(s, d, "nation")
        .select((col("n_nationkey") + 1000).as("u"),
          col("n_regionkey").as("v"))
      GraphAnalytics.closenessSampledK(sup.unionAll(nat), maxDepth = 4,
        k = 16).orderBy("id")
    },

    "p58_stress" -> { (s, d) =>
      // Stress centrality (integer betweenness-family): shortest-path
      // COUNTS ride the multi-source BFS frontier (per-level sigma
      // sums before the visited anti-join — Brandes' forward pass),
      // then one self-join counts s⇝t shortest paths through each v
      // via sigma_sv·sigma_vt gated on d(s,v)+d(v,t)=d(s,t). The
      // customer→{nation, region} diamond gives real sigma > 1 (two
      // 2-hop routes between same-nation-and-region customers), which
      // the walk-counting recursive-CTE oracle reproduces exactly
      val cust = load(s, d, "customer").where(col("c_custkey") < 200)
      val nat = load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val cn = cust.select((col("c_custkey") + 100000).as("u"),
        (col("c_nationkey") + 1000).as("v"))
      val cr = cust.join(broadcast(nat),
          cust("c_nationkey") === nat("n_nationkey"))
        .select((col("c_custkey") + 100000).as("u"),
          col("n_regionkey").as("v"))
      GraphAnalytics.stressCentrality(cn.unionAll(cr), maxDepth = 4).orderBy("id")
    },

    // Sampled-pair stress centrality — the shipped scale twin the p58
    // guard names. Sources restricted to s % 5 == 0 (deterministic, so
    // the walk-counting oracle reproduces it exactly); the second join
    // leg is the SAME sampled sigma table flipped (undirected sigma
    // symmetry), so no full-source closure exists anywhere in the
    // plan: work ∝ (V/5)·E for the forward pass and the self-join
    // shrinks ~25×. A 5× larger customer slice than p58 still runs
    // cheaper than the exact form.
    "p119_stress_sampled" -> { (s, d) =>
      val cust = load(s, d, "customer").where(col("c_custkey") < 1000)
      val nat = load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val cn = cust.select((col("c_custkey") + 100000).as("u"),
        (col("c_nationkey") + 1000).as("v"))
      val cr = cust.join(broadcast(nat),
          cust("c_nationkey") === nat("n_nationkey"))
        .select((col("c_custkey") + 100000).as("u"),
          col("n_regionkey").as("v"))
      GraphAnalytics.stressCentralitySampled(cn.unionAll(cr),
        maxDepth = 4, mod = 5).orderBy("id")
    },

    // Fixed-source-COUNT sampled stress — the strictly-linear 100-TB
    // member of the stress family, on the UNBOUNDED supplier graph
    // (the p57/p117/p118 fixture, which grows with the data unlike
    // p58/p119's bounded customer slice): mod = max(1, V/16) from one
    // vertex-count aggregate pins ~16 BFS sources at every scale, so
    // the forward pass is ∝ 16·E and the sigma self-join is a
    // constant-size table join. The oracle derives the same mod from
    // the same count in SQL, so results gate exactly.
    "p120_stress_fixed_count" -> { (s, d) =>
      val sup = load(s, d, "supplier")
        .select((col("s_suppkey") + 200000).as("u"),
          (col("s_nationkey") + 1000).as("v"))
      val nat = load(s, d, "nation")
        .select((col("n_nationkey") + 1000).as("u"),
          col("n_regionkey").as("v"))
      GraphAnalytics.stressCentralitySampledK(sup.unionAll(nat),
        maxDepth = 4, k = 16).orderBy("id")
    },

    "p121_lm_perplexity" -> { (s, d) =>
      // CCNet-style n-gram LM perplexity filter (Wenzek et al. 2019
      // arXiv:1911.00359 §4.3; the RedPajama/CCNet quality signal):
      // train an add-1-smoothed word-BIGRAM LM on the reference slice
      // (lang = 'en' here — the seat wikipedia holds in CCNet), score
      // EVERY document by its average bigram negative log-prob
      // (cross-entropy ≈ ln(perplexity)), and gate on the rounded
      // score. Shape at 100 TB: the model is two corpus-bounded count
      // tables keyed on the bigram/history (map-side combinable); the
      // scoring pass is one shuffle join of doc bigrams against them
      // — the DSIR/p69 join shape with an LM instead of importance
      // weights. Floats: each term is ln of the same rational on both
      // engines; the per-doc average rounds to 6 before the threshold
      // compare and the micro-unit sum (the repo's float discipline).
      val docs = load(s, d, "documents")
      val ws = docs.select(col("doc_id"), col("lang"), col("source"),
          split(lower(col("text")), "\\s+").as("ws"))
        .where(size(col("ws")) >= 2)
      // words/bigrams hash to 64-bit BEFORE the shuffle (p112's
      // pattern: the model tables and the scoring join carry 8-byte
      // keys, not 5-50-byte strings — measured 125 s → well under the
      // bar at the 100x corpus probe; the string-keyed DuckDB oracle
      // re-derives identical counts, proving zero collisions)
      val bg = ws.select(col("doc_id"), col("lang"), col("source"),
          explode(expr(
            "transform(sequence(0, size(ws) - 2), i -> " +
              s"struct(${gramKeySql(s, "ws[i]")} AS h1, " +
              s"${gramKeySql(s, "ws[i + 1]")} AS h2, " +
              s"${gramKeySql(s, "ws[i], ws[i + 1]")} AS h12))")).as("b"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("b.h1").as("h1"), col("b.h2").as("h2"), col("b.h12").as("h12"))
      // NO checkpoint: the branches (two model tables, vocab, scored
      // side) each recompute the scan+split+hash lineage — a few
      // seconds per pass at the 100x corpus — where r11's eager
      // localCheckpoint MATERIALIZED the full 100x bigram relation
      // first (measured: 228 s cold, 62 s second run, 7.6 s only once
      // the blocks were hot — the p124 defect class). Recompute is
      // deterministic (pure column arithmetic, order-free aggregates),
      // and the 'en' model branches push the lang filter into the scan.
      val ref = bg.where(col("lang") === "en")
      val cbg = ref.groupBy("h12").agg(count(lit(1)).as("cbg"))
      val cu = ref.groupBy("h1").agg(count(lit(1)).as("cu"))
      val vocab = ref.select(col("h1"))
        .unionAll(ref.select(col("h2").as("h1")))
        .agg(countDistinct("h1").as("v"))
      val sc = bg
        .join(cbg, Seq("h12"), "left").na.fill(0L, Seq("cbg"))
        .join(cu, Seq("h1"), "left").na.fill(0L, Seq("cu"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id", "source")
        .agg(round(avg(-log((col("cbg") + 1).cast("double") /
          (col("cu") + col("v")))), 6).as("ce"))
      sc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ce") <= 3.4, 1L).otherwise(0L)).as("n_kept"),
          sum(round(col("ce") * 1e6, 0).cast("long")).as("ce_sum_micro"),
          round(min(col("ce")), 6).as("ce_min"))
        .orderBy("source")
    },

    "p122_seq_packing" -> { (s, d) =>
      // Sequence packing (concat-then-chunk — the GPT-style training
      // prep that concatenates documents per shard and slices fixed
      // C-token windows): each doc's start/end bin comes off a running
      // token cumsum, so the report carries the packing's real
      // bookkeeping — sequences produced per shard (= ceil(tokens/C))
      // and docs that STRADDLE a boundary (the attention-mask /
      // document-leakage accounting). Shape at 100 TB: the window is
      // per (source, shard) — shards bound every partition's order
      // dependence, the standard distributed packing compromise — and
      // everything else is integer map/agg.
      val C = 128
      val t = load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          expr("doc_id DIV 128").as("shard"),
          TextOps.tokenCount(col("text")).cast("long").as("nt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "shard").orderBy("doc_id")
      val packed = t.withColumn("cum", sum("nt").over(w))
        .withColumn("sbin", expr(s"(cum - nt) DIV $C"))
        .withColumn("ebin", expr(s"(cum - 1) DIV $C"))
        .localCheckpoint(true) // two rollups share the window pass
      val a = packed.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum(when(col("ebin") > col("sbin"), 1L).otherwise(0L))
            .as("n_split_docs"))
      val b = packed.groupBy("source", "shard")
        .agg((max("ebin") + 1).as("nseq"))
        .groupBy("source").agg(sum("nseq").as("n_seqs"))
      a.join(b, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_seqs"), col("n_split_docs"))
        .orderBy("source")
    },

    "p123_mix_sample" -> { (s, d) =>
      // Deterministic mixture subsampling to target language shares
      // (the data-mixing step of corpus curation — e.g. The Pile /
      // Llama recipes fix per-source sampling proportions): per-language
      // accept rate in ppm = share × budget / available (integer
      // arithmetic, capped at 1), gate = md5(doc_id)-derived uniform —
      // the same salted-hash gate as the leakage-safe split (p81), so
      // the sample is reproducible row-for-row on any engine and
      // stable under re-partitioning. Shape at 100 TB: one bounded
      // rate table broadcast against a pure map-side gate; no shuffle
      // before the rollup.
      import s.implicits._
      val shares = Seq(("en", 40), ("de", 20), ("es", 20),
        ("fr", 10), ("zh", 10)).toDF("l", "share_pct")
      val docs = load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("nt"))
      val tot = docs.agg((count(lit(1)) / 2).cast("long").as("t"))
      val rates = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
        .join(broadcast(shares), col("lang") === col("l"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("nl"),
          least(lit(1000000L),
            expr("(share_pct * t * 10000) DIV nl")).as("rate_ppm"))
      docs
        .withColumn("hv", expr(
          "pmod(cast(conv(substr(md5(concat(cast(doc_id AS STRING), " +
            "'#mix')), 1, 8), 16, 10) AS BIGINT), 1000000)"))
        .join(broadcast(rates), "lang")
        .groupBy("lang")
        .agg(max(col("nl")).as("n_docs"),
          max(col("rate_ppm")).as("rate_ppm"),
          sum(when(col("hv") < col("rate_ppm"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("hv") < col("rate_ppm"), col("nt")).otherwise(0L))
            .as("tok_kept"))
        .orderBy("lang")
    },

    "p124_gram_coverage_dedup" -> { (s, d) =>
      // Exact n-gram COVERAGE dedup (the doc-level form of Lee et al.
      // 2022's ExactSubstr, arXiv:2107.06499: a doc mostly made of
      // 5-gram spans already present in LOWER-id docs is a duplicate
      // even when no single pair is a containment — the gap p87's
      // pairwise containment can't see). Shape at 100 TB: one
      // inverted 5-gram posting table (min doc per gram — map-side
      // combinable), one join back on the gram key; no pairwise
      // anything. Drop rule (coverage > 1/2) is integer arithmetic,
      // id-deterministic on both engines.
      val ws = load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          split(lower(col("text")), "\\s+").as("ws"))
        .where(size(col("ws")) >= 5)
      // the gram never materializes as a string: the 5 words hash to
      // one 64-bit key in the projection (p112's pre-shuffle hash
      // pattern; bench_sf10_corpus.json carries the 100x-corpus
      // samples of THIS build — the string-keyed oracle re-derives
      // identical counts, proving zero collisions at test scale; see
      // COVERAGE.md "gram-hash collision budget" for the third-decade
      // collision analysis and the 128-bit exactness mode).
      // In-doc gram dedup is array_distinct BEFORE the explode (per-row,
      // zero shuffle), and min-doc-per-gram is a window over the gram
      // partition (p29/p61's pattern) — ONE full-data exchange total,
      // replacing r11's distinct + eager checkpoint + groupBy + join
      // back (three exchanges and a full materialization)
      val grams = ws.select(col("doc_id"), col("source"),
          explode(expr(
            "array_distinct(transform(sequence(0, size(ws) - 5), i -> " +
              s"${gramKeySql(s, "ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]")}))"))
            .as("gram"))
      val wg = org.apache.spark.sql.expressions.Window.partitionBy("gram")
      grams.withColumn("mdoc", min("doc_id").over(wg))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("mdoc") < col("doc_id"), 1L).otherwise(0L))
            .as("n_cov"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_cov") * 2 > col("n_grams"), 1L).otherwise(0L))
            .as("n_dropped"),
          sum("n_cov").as("cov_grams"),
          sum("n_grams").as("tot_grams"))
        .orderBy("source")
    },

    "p59_exact_quantiles" -> { (s, d) =>
      // EXACT distributed quantiles with NO global sort: histogram
      // pass (map-side combinable, coordinator sees only bucket
      // counts) locates each quantile's bucket + local rank, a second
      // pass re-scans just those buckets. Rank = ceil(q·n) — the
      // percentile_disc convention — so the values gate bit-for-bit
      // where sketch quantiles could only be tolerance-tested
      Sketches.exactQuantiles(load(s, d, "documents"), "n_chars",
        Seq(0.5, 0.9, 0.99), bucketWidth = 64).orderBy("label")
    },

    "p60_clustering_coeff" -> { (s, d) =>
      // Local clustering coefficient as the exact integer pair
      // (n_tri, n_wedge) — numerator and denominator gate separately,
      // the float ratio is a trailing division. The customer→nation→
      // region graph WITH nation–region edges closes one triangle per
      // customer (c,n,r), so nations accumulate n_tri = their customer
      // count — real non-trivial coefficients on every vertex class
      val cust = load(s, d, "customer")
      val nat = load(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val cn = cust.select((col("c_custkey") + 100000).as("u"),
        (col("c_nationkey") + 1000).as("v"))
      val cr = cust.join(broadcast(nat),
          cust("c_nationkey") === nat("n_nationkey"))
        .select((col("c_custkey") + 100000).as("u"),
          col("n_regionkey").as("v"))
      val nr = nat.select((col("n_nationkey") + 1000).as("u"),
        col("n_regionkey").as("v"))
      GraphAnalytics.clusteringCoefficient(cn.unionAll(cr).unionAll(nr))
        .orderBy("id")
    },

    "p61_repeated_spans" -> { (s, d) =>
      // Repeated-span extraction (the ExactSubstr-dedup trim list):
      // 5-gram positions whose gram occurs ≥ 2 times in the corpus
      // merge into maximal per-doc token spans via gap-islands over
      // the position sequence. Scale shape: grams hash to 64 bits
      // BEFORE the shuffle, corpus frequency is a window over the
      // hash partition (one pass, no self-join), islands are per-doc
      // windows — nothing pairwise anywhere
      val W = org.apache.spark.sql.expressions.Window
      val toks = load(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ws"))
        .where(size(col("ws")) >= 5)
      val grams = toks.select(col("doc_id"),
          posexplode(Dedup.shingles(concat_ws(" ", col("ws")), 5)))
        .select(col("doc_id"), col("pos"), gramKey(s, col("col")).as("gh"))
      val rep = grams
        .withColumn("cf", count(lit(1)).over(W.partitionBy("gh")))
        .where(col("cf") >= 2)
      val wd = W.partitionBy("doc_id").orderBy("pos")
      val isl = rep
        .withColumn("brk", when(lag("pos", 1).over(wd).isNull ||
          col("pos") - lag("pos", 1).over(wd) > 1, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(
          wd.rowsBetween(W.unboundedPreceding, W.currentRow)))
      isl.groupBy("doc_id", "sid")
        .agg(min("pos").cast("long").as("span_start"),
          (max("pos") + 4).cast("long").as("span_end"),
          count(lit(1)).as("n_grams"))
        .select("doc_id", "span_start", "span_end", "n_grams")
        .orderBy("doc_id", "span_start")
    },

    "p62_profile" -> { (s, d) =>
      // ANALYZE-style column profiler: one pass over the table emits
      // the stats a planner/quality gate wants (null counts, exact
      // distinct, length and value ranges) as a tidy (column, metric,
      // value) relation. The multi-countDistinct agg plans as one
      // Expand — acceptable for a profiling pass that runs once per
      // ingest batch; everything stays integer so the gate is exact
      val docs = load(s, d, "documents")
      val a = docs.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1).otherwise(0)).cast("long").as("text_nulls"),
        countDistinct(col("text")).as("text_distinct"),
        min(length(col("text"))).cast("long").as("text_min_len"),
        max(length(col("text"))).cast("long").as("text_max_len"),
        countDistinct(col("lang")).as("lang_distinct"),
        countDistinct(col("source")).as("source_distinct"),
        min(col("n_chars")).as("n_chars_min"),
        max(col("n_chars")).as("n_chars_max"),
        min(col("doc_id")).as("doc_id_min"),
        max(col("doc_id")).as("doc_id_max"))
      a.select(expr(
        """stack(11,
          |'*', 'n_rows', n_rows,
          |'text', 'n_nulls', text_nulls,
          |'text', 'n_distinct', text_distinct,
          |'text', 'min_len', text_min_len,
          |'text', 'max_len', text_max_len,
          |'lang', 'n_distinct', lang_distinct,
          |'source', 'n_distinct', source_distinct,
          |'n_chars', 'min', n_chars_min,
          |'n_chars', 'max', n_chars_max,
          |'doc_id', 'min', doc_id_min,
          |'doc_id', 'max', doc_id_max) AS (col_name, metric, value)"""
          .stripMargin))
        .orderBy("col_name", "metric")
    },

    "p63_largest_remainder" -> { (s, d) =>
      // Exact sample-budget apportionment (largest-remainder/Hamilton
      // method): allocate N=1000 slots across sources proportionally
      // with NO floating point — base = floor(n·N/total), the leftover
      // slots go to the largest remainders (n·N mod total), source
      // tiebreak. The integer arithmetic makes quota allocation
      // reproducible across engines and runs — what a sampling
      // coordinator needs before drawing per-source samples
      val W = org.apache.spark.sql.expressions.Window
      val n = lit(1000L)
      val counts = load(s, d, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum("n_docs").cast("long").as("t"))
      val q = counts.crossJoin(broadcast(tot))
        .withColumn("base", (col("n_docs") * n - pmod(col("n_docs") * n, col("t"))) / col("t"))
        .withColumn("base", col("base").cast("long"))
        .withColumn("rem", pmod(col("n_docs") * n, col("t")))
      val leftW = W.orderBy(col("rem").desc, col("source"))
      val totalBase = q.agg(sum("base").cast("long").as("tb"))
      q.crossJoin(broadcast(totalBase))
        .withColumn("rk", row_number().over(leftW))
        .withColumn("alloc",
          col("base") + when(col("rk") <= n - col("tb"), 1L).otherwise(0L))
        .select(col("source"), col("n_docs"), col("alloc"))
        .orderBy("source")
    },

    "p64_walks" -> { (s, d) =>
      // Deterministic node2vec-style walks over the customer↔nation↔
      // region graph: the next hop minimizes an md5-derived hash of
      // (source, step, current, neighbor) — pseudo-random but
      // bit-reproducible, so the walk corpus gates exactly (the oracle
      // unrolls all 4 steps with a rank-1 window per step)
      val cust = load(s, d, "customer").where(col("c_custkey") < 100)
      val cn = cust.select((col("c_custkey") + 100000).as("u"),
        (col("c_nationkey") + 1000).as("v"))
      val nr = load(s, d, "nation")
        .select((col("n_nationkey") + 1000).as("u"),
          col("n_regionkey").as("v"))
      val src = cust.select((col("c_custkey") + 100000).as("s"))
      GraphAnalytics.deterministicWalks(cn.unionAll(nr), src, steps = 4)
        .orderBy("s", "step")
    },

    "p65_overlap_matrix" -> { (s, d) =>
      // Cross-source contamination matrix: how many distinct 8-word
      // PREFIX digests each source pair shares — the dedup diagnostic
      // that tells you which ingest feeds copy from each other (prefix
      // digest, not full text: near-dup families share openings long
      // before they share bytes). Digests-only shuffles (md5 through
      // the exchange, never text); the self-join runs on the deduped
      // (source, digest) relation, bounded by sources-per-digest
      val dg = load(s, d, "documents")
        .select(col("source"), md5(concat_ws(" ",
          slice(split(lower(col("text")), "\\s+"), 1, 8))).as("h"))
        .distinct()
      val x = dg.select(col("source").as("src_a"), col("h"))
      val y = dg.select(col("source").as("src_b"), col("h"))
      x.join(y, "h").where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(countDistinct("h").as("n_shared"))
        .orderBy("src_a", "src_b")
    },

    "p66_cooccurrence" -> { (s, d) =>
      // Skip-gram co-occurrence counts (the word2vec/GloVe corpus
      // primitive): directional (center, context) pairs at offsets 1
      // and 2, generated map-side by array transforms over one
      // materialized token array — the only shuffle is the final
      // count aggregation on the pair keys, which partial-aggregates;
      // at 100 TB this is the canonical map-side-combine workload
      val ws = col("__ws")
      def pairsAt(k: Int) =
        load(s, d, "documents")
          .select(split(lower(col("text")), "\\s+").as("__ws"))
          .where(size(ws) > k)
          .select(explode(transform(sequence(lit(1), size(ws) - k), i =>
            struct(element_at(ws, i).as("wa"),
              element_at(ws, (i + k).cast("int")).as("wb")))).as("p"))
          .select(col("p.wa"), col("p.wb"))
      pairsAt(1).unionAll(pairsAt(2))
        .groupBy("wa", "wb").agg(count(lit(1)).as("n_pairs"))
        .orderBy("wa", "wb")
    },

    "p67_bm25" -> { (s, d) =>
      // BM25 top-k retrieval — the sparse lexical retrieval primitive
      // for corpus mining / RAG-style training-data selection. The
      // query set broadcasts and the posting build is pruned by the
      // query vocabulary BEFORE any shuffle (corpus cost ∝ matching
      // postings, not corpus size); ranking on the rounded score with
      // a doc-id tiebreak keeps cross-engine ln() ulps from flipping
      // order.
      val sp = s
      import sp.implicits._
      val queries = Seq((0L, "spark join window"),
        (1L, "slow fast table value")).toDF("qid", "qtext")
      TextOps.bm25TopK(load(s, d, "documents"), "doc_id", "text",
          queries, "qid", "qtext", k = 10)
        .orderBy("qid", "rank")
    },

    "p68_pmi" -> { (s, d) =>
      // PMI-scored collocations over the adjacent-pair corpus (the
      // phrase-mining / word2vec-preprocessing primitive): pmi =
      // ln(c_ab·N / (c_a·c_b)) with marginals drawn from the same
      // pair table, count floor 5, top-20 by the ROUNDED score with a
      // pair tiebreak. One pair-count shuffle; the marginals are
      // vocabulary-sized aggregates of it (Catalyst broadcasts them
      // while they fit) and N is a broadcast scalar.
      val ws = col("__ws")
      val pairs = load(s, d, "documents")
        .select(split(lower(col("text")), "\\s+").as("__ws"))
        .where(size(ws) > 1)
        .select(explode(transform(sequence(lit(1), size(ws) - 1), i =>
          struct(element_at(ws, i).as("wa"),
            element_at(ws, (i + 1).cast("int")).as("wb")))).as("p"))
        .select(col("p.wa"), col("p.wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("n_ab"))
      val ca = pairs.groupBy("wa").agg(sum("n_ab").as("n_a"))
      val cb = pairs.groupBy("wb").agg(sum("n_ab").as("n_b"))
      val tot = pairs.agg(sum("n_ab").as("n_tot"))
      pairs.join(ca, "wa").join(cb, "wb").crossJoin(broadcast(tot))
        .where(col("n_ab") >= 5)
        .withColumn("pmi", round(log(
          (col("n_ab") * col("n_tot")).cast("double") /
            (col("n_a") * col("n_b"))), 6))
        .orderBy(col("pmi").desc, col("wa"), col("wb"))
        .limit(20)
        .select(col("wa"), col("wb"), col("n_ab"), col("pmi"))
    },

    "p69_dsir" -> { (s, d) =>
      // DSIR-style importance weighting (Xie et al. 2023, data
      // selection via importance resampling, unigram form): score each
      // raw document by its per-token log-likelihood ratio under a
      // Laplace-smoothed target language model (target = src0 docs)
      // vs the raw-corpus model, then keep the top-20. One token
      // shuffle builds BOTH models (conditional sums in the same
      // aggregate); the scoring pass re-joins tokens against the
      // vocabulary-sized ratio table (broadcast while it fits) and
      // combines map-side. Rounded score + doc-id tiebreak keeps the
      // selection engine-portable.
      val toks = load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      val lm = toks.groupBy("w").agg(
        count(lit(1)).as("c_r"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c_t"))
      val consts = lm.agg(sum("c_r").as("n_r"), sum("c_t").as("n_t"),
        count(lit(1)).as("v"))
      val scored = toks.join(lm, "w").crossJoin(broadcast(consts))
        .withColumn("llr", log(
          ((col("c_t") + 1L) * (col("n_r") + col("v"))).cast("double") /
            ((col("c_r") + 1L) * (col("n_t") + col("v")))))
        .groupBy("doc_id")
        .agg(first(col("source")).as("source"),
          count(lit(1)).as("n_toks"),
          round(sum("llr") / count(lit(1)), 6).as("score"))
      scored.orderBy(col("score").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("source"), col("n_toks"), col("score"))
    },

    "p70_bpe_merges" -> { (s, d) =>
      // Word-level BPE-style merge mining (the tokenizer-training
      // loop): each round counts adjacent token pairs corpus-wide,
      // takes the most frequent pair (count desc, pair asc tiebreak)
      // as the round's merge, and applies it with a literal replace
      // over a '|'-delimited token string — left-to-right
      // non-overlapping, the same rule in both engines, so the merge
      // table reproduces exactly. The merge table IS the model
      // artifact: one bounded scalar (the winning pair) reaches the
      // driver per round, like quantizer training; the corpus passes
      // stay distributed and map-side.
      def pairCounts(df: DataFrame) = df
        .select(split(col("t"), "\\|").as("ws"))
        .where(size(col("ws")) > 1)
        .select(explode(transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("wa"),
            element_at(col("ws"), (i + 1).cast("int")).as("wb")))).as("p"))
        .select(col("p.wa"), col("p.wb"))
        .where(length(col("wa")) > 0 && length(col("wb")) > 0)
        .groupBy("wa", "wb").agg(count(lit(1)).as("n_pairs"))
      var txt = load(s, d, "documents").select(
        concat(lit("|"),
          regexp_replace(lower(col("text")), "\\s+", "|"), lit("|")).as("t"))
      val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      for (r <- 1 to 3) {
        val w = pairCounts(txt)
          .orderBy(col("n_pairs").desc, col("wa"), col("wb"))
          .limit(1).collect()(0)
        val (wa, wb, n) = (w.getString(0), w.getString(1), w.getLong(2))
        merges += ((r, wa, wb, n))
        txt = txt.select(call_function("replace", col("t"),
          lit(s"|$wa|$wb|"), lit(s"|$wa+$wb|")).as("t"))
      }
      val sp = s
      import sp.implicits._
      merges.toSeq.toDF("round", "wa", "wb", "n_pairs")
    },

    "p71_mad_filter" -> { (s, d) =>
      // MAD robust outlier gate (median absolute deviation — the
      // length-outlier filter that, unlike mean±kσ, a few giant docs
      // can't drag): med and mad come from the two-pass exact
      // selection machinery (p59 — the coordinator sees bucket
      // histograms only, never values), the gate |x − med| > 3·mad is
      // all integer arithmetic, and the per-source rollup partial-
      // aggregates map-side.
      val docs = load(s, d, "documents")
      def medianOf(df: DataFrame, c: String): Long =
        Sketches.exactQuantiles(df, c, Seq(0.5), 64).collect()(0).getLong(1)
      val m = medianOf(docs, "n_chars")
      val mad = medianOf(docs.select(abs(col("n_chars") - m).as("dev")), "dev")
      docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(abs(col("n_chars") - m) > 3 * mad, 1L).otherwise(0L))
            .as("n_outliers"))
        .withColumn("med", lit(m))
        .withColumn("mad", lit(mad))
        .orderBy("source")
    },

    "p72_drift" -> { (s, d) =>
      // Per-source distribution drift (grouped Kolmogorov–Smirnov):
      // bucket doc lengths, evaluate each source's CDF against the
      // corpus CDF on the dense source×bucket grid, and report the
      // max gap. The KS numerator |cs·N − ca·ns| stays INTEGER (one
      // division at the end), so the statistic is engine-exact up to
      // the final rounding. All windows run over the bucket grid
      // (buckets × sources — bounded), never over rows.
      import org.apache.spark.sql.expressions.Window
      val docs = load(s, d, "documents")
      val sb = docs
        .select(col("source"), floor(col("n_chars") / lit(100.0)).cast("long").as("b"))
        .groupBy("source", "b").agg(count(lit(1)).as("c"))
      val filled = sb.select("source").distinct()
        .crossJoin(sb.select("b").distinct())
        .join(sb, Seq("source", "b"), "left")
        .na.fill(0L, Seq("c"))
      val cum = filled.withColumn("cs",
        sum("c").over(Window.partitionBy("source").orderBy("b")))
      val totS = filled.groupBy("source").agg(sum("c").as("ns"))
      val allB = filled.groupBy("b").agg(sum("c").as("cb"))
        .withColumn("ca", sum("cb").over(Window.orderBy("b")))
      val tot = docs.agg(count(lit(1)).as("n_all"))
      cum.join(allB.select("b", "ca"), "b")
        .join(totS, "source").crossJoin(broadcast(tot))
        .withColumn("num", abs(col("cs") * col("n_all") - col("ca") * col("ns")))
        .groupBy("source")
        .agg(first("ns").as("n_docs"),
          round(max("num").cast("double") /
            (first("ns") * first("n_all")), 6).as("drift"))
        .orderBy("source")
    },

    "p73_scc" -> { (s, d) =>
      // Strongly connected components by mutual reachability over a
      // DIRECTED graph: each region's nations form a directed ring
      // (one SCC per region) and customers point into their nation
      // (DAG part → singleton SCCs). One multi-source directed
      // closure + a self-join against its swap; scc id = component
      // minimum. Reported as the component size histogram.
      import org.apache.spark.sql.expressions.Window
      val nr = load(s, d, "nation").select(
        col("n_nationkey").cast("long").as("k"), col("n_regionkey").as("r"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("r").orderBy("k")))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("r")))
      val ring = nr.alias("a").join(nr.alias("b"),
          col("a.r") === col("b.r") &&
            col("b.rn") === pmod(col("a.rn"), col("a.cnt")) + 1)
        .select((col("a.k") + 100L).as("u"), (col("b.k") + 100L).as("v"))
      val ce = load(s, d, "customer").where(col("c_custkey") < 50)
        .select((col("c_custkey") + 10000L).as("u"),
          (col("c_nationkey") + 100L).as("v"))
      GraphAnalytics.stronglyConnected(ring.unionAll(ce), maxDepth = 8)
        .groupBy("scc").agg(count(lit(1)).as("n_members"))
        .orderBy("scc")
    },

    "p74_preference_pairs" -> { (s, d) =>
      // DPO/RLHF preference-pair construction: per source, pair the
      // i-th best document (quality desc, id tiebreak) with the i-th
      // worst (quality asc, id), keep pairs with a quality gap ≥ 0.3.
      // The quality score is p09's engine-exact formula; both rank
      // windows sort only within sources and the join key is
      // (source, i) — pairs-only shuffles.
      import org.apache.spark.sql.expressions.Window
      val q = load(s, d, "documents").select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("q"))
      val top = q.select(col("source"), col("doc_id").as("chosen_id"),
          col("q").as("q_c"))
        .withColumn("i", row_number().over(Window.partitionBy("source")
          .orderBy(col("q_c").desc, col("chosen_id"))))
        .where(col("i") <= 3)
      val bot = q.select(col("source"), col("doc_id").as("rejected_id"),
          col("q").as("q_r"))
        .withColumn("i", row_number().over(Window.partitionBy("source")
          .orderBy(col("q_r").asc, col("rejected_id"))))
        .where(col("i") <= 3)
      top.join(bot, Seq("source", "i"))
        .withColumn("gap", round(col("q_c") - col("q_r"), 2))
        .where(col("gap") >= 0.3)
        .select(col("source"), col("i").as("pair_rank"),
          col("chosen_id"), col("rejected_id"), col("gap"))
        .orderBy("source", "pair_rank")
    },

    "p75_copurchase" -> { (s, d) =>
      // Bipartite projection (co-purchase graph): parts co-ordered by
      // the same customer, weight = customer count — the recsys
      // item-item co-occurrence primitive. The self-join is keyed on
      // the customer, so its blow-up is bounded per key by basket
      // size (the standard co-occurrence bound; at web scale you cap
      // the basket); the id-ordered pair halves the output, and the
      // pair count partial-aggregates.
      val cp = load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(load(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(true) // both wedge sides share the one shuffle
      // loud pre-flight: the exact co-occurrence join emits
      // Σ deg·(deg−1)/2 pairs — quadratic per basket — and dies at the
      // 100× probe (measured 1.31e9 wedges); fail fast naming the
      // capped twin instead of exhausting memory mid-join
      def wedge(adj: org.apache.spark.sql.DataFrame) =
        adj.alias("x").join(adj.alias("y"),
            col("x.c") === col("y.c") && col("x.p") < col("y.p"))
          .groupBy(col("x.p").as("pa"), col("y.p").as("pb"))
          .agg(count(lit(1)).as("n_cust"))
          .orderBy(col("n_cust").desc, col("pa"), col("pb"))
          .limit(20)
      ScaleGuard.guardWedges(cp, "c",
        what = "the exact co-purchase self-join (p75 shape)",
        twin = "the degree-capped wedge (p114 shape: filter middle " +
          "vertices to deg <= cap before the join)")
      wedge(cp)
    },

    "p76_markov_transitions" -> { (s, d) =>
      // First-order Markov transition matrix over per-user event
      // sequences (the behavior-modeling / next-event-prediction
      // primitive): lead() within (user ORDER BY ts, event_id), one
      // pair-count shuffle, row-normalized probabilities with the
      // per-state total from a bounded (|states|²) window.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = load(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      val tot = Window.partitionBy("cur")
      tr.withColumn("prob",
          round(col("n").cast("double") / sum("n").over(tot), 6))
        .orderBy("cur", "nxt")
        .select(col("cur"), col("nxt"), col("n"), col("prob"))
    },

    "p77_retention" -> { (s, d) =>
      // Retention-cohort triangle: users bucket into their first-seen
      // day, activity re-counts at each day offset ≤ 7 — the
      // engagement dashboard primitive. Two aggregations ((user, day)
      // distinct, then cohort min) and one count-distinct rollup;
      // everything keys on user or (cohort, offset).
      val days = load(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val cohort = days.groupBy("user_id").agg(min("day").as("cohort"))
      days.join(cohort, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort")).cast("long"))
        .where(col("day_offset") <= 7)
        .groupBy("cohort", "day_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort", "day_offset")
    },

    "p78_ppjoin" -> { (s, d) =>
      // EXACT set-similarity join by prefix filtering (AllPairs/
      // PPJoin): recall 1.0 by the prefix theorem — the oracle is the
      // very same brute-force Jaccard SQL p02 gates against, so the
      // candidate-pruned join must reproduce the all-pairs output
      // bit-for-bit. The rational threshold (9/10) keeps prefix
      // lengths and the verify filter in integer arithmetic.
      Dedup.ppjoinPairs(load(s, d, "documents").where(col("doc_id") < 200),
          "doc_id", "text", 9, 10)
        .orderBy("da", "db")
    },

    "p104_kmeans" -> { (s, d) =>
      // DISTRIBUTED k-means, fully oracle-gated: deterministic seeds
      // (vectors 0–3), two Lloyd iterations, assignment by argmin on
      // the ROUNDED squared distance with a centroid tiebreak (the
      // repo's float-argmin discipline), centroid update as
      // (cid, dim) keyed means — vectors never shuffle whole, only
      // (id, dim, value) triples; each iteration is one join + two
      // map-side-combinable aggregations. The oracle unrolls both
      // iterations as CTEs.
      val (cent, assigned) = kmeans200(s, d)
      val sizes = assigned.groupBy("cid")
        .agg(count(lit(1)).as("n_members"))
      cent.where(col("dim") === 0).join(sizes, "cid")
        .select(col("cid"), col("n_members"), round(col("c"), 6).as("c0"))
        .orderBy("cid")
    },

    "p111_semdedup" -> { (s, d) =>
      // SemDeDup (cluster-sharded semantic dedup): the all-pairs
      // cosine pass that is hopeless on the full corpus runs WITHIN
      // k-means cells only — pairs shrink from |corpus|^2 to
      // sum(|cell|^2), the published recipe for embedding-space dedup
      // at the 100-TB scale. Clusters are p104's deterministic Lloyd
      // assignment (same seeds, same rounded-argmin tiebreak, so the
      // structure under test is oracle-identical); within a cell a
      // member drops when a LOWER-id member sits at cos >= 0.35 —
      // an id-deterministic keep rule both engines replay exactly.
      val (_, assigned) = kmeans200(s, d)
      val emb = load(s, d, "embeddings").where(col("vec_id") < 200)
        .join(assigned, "vec_id")
        .select(col("vec_id"), col("cid"), col("embedding"),
          Similarity.norm(col("embedding")).as("__n"))
        .localCheckpoint(true) // pair join probes + member census
      val a = emb.select(col("cid"), col("vec_id").as("da"),
        col("embedding").as("va"), col("__n").as("__na"))
      val b = emb.select(col("cid"), col("vec_id").as("db"),
        col("embedding").as("vb"), col("__n").as("__nb"))
      val dropped = a.join(b, Seq("cid")).where(col("da") < col("db"))
        .withColumn("cos", round(Similarity.dot(col("va"), col("vb")) /
          (col("__na") * col("__nb")), 6))
        .where(col("cos") >= 0.35)
        .select(col("cid"), col("db").as("vec_id")).distinct()
      emb.join(dropped.withColumn("__drop", lit(1)),
          Seq("cid", "vec_id"), "left")
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("__drop").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("__drop").isNull, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("cid")
    },

    "p112_shared_ngram_spans" -> { (s, d) =>
      // Exact shared-13-gram pair detection — the substring-plagiarism
      // signal sketches can't give exactly: MinHash estimates whole-doc
      // Jaccard, this counts the shared long spans that mark copied
      // passages (the Lee et al. substring-dedup shape, bounded to
      // gram granularity). Inverted index on the gram: docs sharing a
      // gram pair up per posting, count distinct shared grams per
      // pair. Grams hash to 64 bits BEFORE the shuffle (p32's
      // discipline — the oracle joins gram STRINGS; equal counts prove
      // the hash carried no collisions), so the exchange moves 8-byte
      // keys, never 13-word text. Posting-list fan-out is per-gram
      // bounded — the deg table of rare grams; at web scale the cap
      // drops stop-gram postings the way p107 caps hub parts.
      val grams = load(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
        .where(size(col("w")) >= 13)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("w")) - 13),
          i => gramKey(s, array_join(slice(col("w"), i + 1, lit(13)), " "))))
          .as("h"))
        .distinct()
      val pairs = grams.alias("x")
        .join(grams.alias("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .agg(count(lit(1)).as("n_shared"))
      pairs.where(col("n_shared") >= 5)
        .orderBy(col("n_shared").desc, col("da"), col("db"))
        .limit(30)
    },

    "p113_knn_graph" -> { (s, d) =>
      // Exact k-NN graph + reciprocity census — the construction
      // primitive under graph-based ANN (HNSW neighborhoods) and
      // graph-propagated semantic dedup: reciprocal edges mark stable
      // mutual neighborhoods, the usual pruning criterion. Brute-force
      // pair scoring is the bounded verification baseline (the LSH/IVF
      // kernels are the candidate source at scale); the reciprocity
      // join carries id pairs only, and the per-label mean re-sums the
      // ROUNDED cosines as exact decimals (one double division at the
      // end — the cross-engine discipline).
      val e = load(s, d, "embeddings").where(col("vec_id") < 300)
      val q = e.select(col("vec_id"), col("embedding"))
      val knn = Similarity.bruteForceTopK(q, q, 3)
        .join(e.select(col("vec_id").as("qid"), col("label")), "qid")
        .localCheckpoint(true) // reciprocity self-join + census share it
      val recip = knn.select(col("qid").as("rq"), col("cid").as("rc"))
        .alias("a")
        .join(knn.select(col("qid").as("rc"), col("cid").as("rq")).alias("b"),
          Seq("rq", "rc"))
        .select(col("rq").as("qid"), col("rc").as("cid"))
        .withColumn("__recip", lit(1))
      knn.join(recip, Seq("qid", "cid"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("__recip").isNotNull, 1L).otherwise(0L))
            .as("n_reciprocal"),
          round(sum(col("cos").cast("decimal(10,6)")).cast("double") /
            count(lit(1)), 6).as("mean_cos"))
        .orderBy("label")
    },

    "p105_auc" -> { (s, d) =>
      // Exact ROC-AUC (Mann–Whitney with average-rank tie handling)
      // of a quality score against a binary relevance label, per
      // source — the classifier-calibration gate every model-filtered
      // corpus needs. The 100-TB shape: rows collapse to the bounded
      // (source, score) histogram FIRST (one map-side-combinable
      // count shuffle); the rank window then runs over histogram
      // buckets, never rows. Concordance is accumulated as an exact
      // INTEGER (2·np·nn_below + np·nn counts concordant pairs twice
      // and ties once), so the only float op is the final division.
      val sc = load(s, d, "documents")
        .select(col("source"),
          (col("lang") === "en").cast("long").as("pos"),
          floor(col("n_chars") / 50).as("score"))
      val hist = sc.groupBy("source", "score")
        .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("score")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val cum = hist.withColumn("nn_below",
        coalesce(sum(col("nn")).over(w), lit(0L)))
      cum.groupBy("source")
        .agg(sum(col("np") * 2 * col("nn_below") + col("np") * col("nn")).as("c2"),
          sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
        .select(col("source"), col("n_pos"), col("n_neg"),
          when(col("n_pos") * col("n_neg") === 0, lit(null))
            .otherwise(round(col("c2").cast("double") /
              (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
        .orderBy("source")
    },

    "p106_bitext_margin" -> { (s, d) =>
      // Margin-based bitext mining (the ratio-margin criterion):
      // cross-lingual pair candidates score cos(a,b) normalized by
      // the mean of each side's top-k neighborhood — absolute-cosine
      // thresholds fail because "hubs" score high against everything;
      // the margin divides that hubness out. Sides = label parity
      // (stand-in for two languages). Bounded pair join here is the
      // verification baseline; at scale the candidate pairs come from
      // the ANN kernels (LSH/IVF) and the SAME margin math re-scores
      // them — the normalizers are per-vector aggregates of each
      // side's top-k lists, one extra ids-only shuffle. Scores round
      // to 6 before every compare (rank + threshold), id tiebreaks.
      val e = load(s, d, "embeddings").where(col("vec_id") < 200)
      val a = e.where(col("label") % 2 === 0)
        .select(col("vec_id").as("aid"), col("embedding").as("av"),
          Similarity.norm(col("embedding")).as("__an"))
      val b = e.where(col("label") % 2 === 1)
        .select(col("vec_id").as("bid"), col("embedding").as("bv"),
          Similarity.norm(col("embedding")).as("__bn"))
      val pairs = a.join(b)
        .withColumn("cos", round(Similarity.dot(col("av"), col("bv")) /
          (col("__an") * col("__bn")), 6))
        .select("aid", "bid", "cos")
        .localCheckpoint(true) // three consumers below share one scan
      // top-k neighborhood mass as an EXACT decimal sum (not a
      // rounded double mean — HALF_UP vs binary rounding flips the
      // 6th digit across engines); margin = cos/((ma/k + mb/k)/2)
      // = 2k·cos/(ma+mb), one double division from exact inputs
      val wa = org.apache.spark.sql.expressions.Window
        .partitionBy("aid").orderBy(col("cos").desc, col("bid"))
      val ka = pairs.withColumn("rk", row_number().over(wa))
        .where(col("rk") <= 4)
        .groupBy("aid")
        .agg(sum(col("cos").cast("decimal(10,6)")).as("ma"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("bid").orderBy(col("cos").desc, col("aid"))
      val kb = pairs.withColumn("rk", row_number().over(wb))
        .where(col("rk") <= 4)
        .groupBy("bid")
        .agg(sum(col("cos").cast("decimal(10,6)")).as("mb"))
      val scored = pairs.join(ka, "aid").join(kb, "bid")
        .withColumn("margin", round(col("cos") * 8.0 /
          (col("ma") + col("mb")).cast("double"), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("aid").orderBy(col("margin").desc, col("bid"))
      scored.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1 && col("margin") >= 1.05)
        .select(col("aid"), col("bid"), col("margin"))
        .orderBy("aid")
    },

    "p107_adamic_adar" -> { (s, d) =>
      // Adamic–Adar link prediction over the customer–part bipartite
      // graph (p75's projection, scored): AA(u,v) = Σ 1/ln(deg p)
      // over parts p both customers ordered — rare parts vote
      // loudest. Wedge join keys on the part, so fan-out is bounded
      // per part by its degree (at web scale heavy hub parts get
      // capped or salted — the deg table this computes is exactly the
      // cap's input); only (customer, customer) id pairs ride the
      // pair shuffle. A wedge needs deg ≥ 2, so ln(deg) ≥ ln 2 — no
      // division hazard. Rounded before the rank compare, id
      // tiebreaks (the repo's float-ordering discipline).
      val cp = load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(load(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(true) // three consumers (deg + both wedge sides)
      // each 1/ln(dp) term rounds to 6 digits, scales to an exact LONG
      // (micro-units), and sums as integers (not a raw double sum,
      // whose accumulation order differs between engines and can flip
      // the 6th digit the rank then keys on) — the repo's
      // float-ordering discipline in its cheapest form: long sums
      // codegen partial-aggregate, unlike a decimal UDAF. The second
      // round() kills the binary error of *1e6 before the cast.
      // The term is a pure function of dp, so it's computed ONCE per
      // part here (P rounds) instead of once per wedge row (W ≫ P
      // rounds — round() on doubles allocates a BigDecimal per call),
      // and rides the x side of the self-join below, which also
      // removes the third join (wedges ⋈ deg) entirely.
      val deg = cp.groupBy("p").agg(count(lit(1)).as("dp"))
        .withColumn("term", round(round(lit(1.0) / log(col("dp")), 6) * 1e6, 0)
          .cast("long"))
        .localCheckpoint(true) // two consumers: the guard est + cpT join
      // loud pre-flight (same measured 100× hazard as p75): the exact
      // wedge join through uncapped part middles is quadratic per hub.
      // Σ dp·(dp−1)/2 comes off the degree table just built — no second
      // scan of cp for the estimate
      def aaRank(xSide: org.apache.spark.sql.DataFrame,
          ySide: org.apache.spark.sql.DataFrame) =
        xSide.alias("x")
          .join(ySide.alias("y"),
            col("x.p") === col("y.p") && col("x.c") < col("y.c"))
          .select(col("x.c").as("ca"), col("y.c").as("cb"),
            col("x.term").as("term"))
          .groupBy("ca", "cb")
          .agg(round(sum(col("term")).cast("double") / 1e6, 6).as("aa"),
            count(lit(1)).as("n_common"))
          .orderBy(col("aa").desc, col("ca"), col("cb"))
          .limit(25)
      ScaleGuard.check(s, deg
        .agg(coalesce(sum(expr("dp * (dp - 1) DIV 2")), lit(0L)).as("_w"))
        .first().getLong(0),
        what = "the exact Adamic-Adar wedge join (p107 shape)",
        twin = "the degree-capped form p114_aa_degree_capped (same " +
          "query with middle deg capped)")
      // same key as the self-join
      aaRank(cp.join(deg.select("p", "term"), "p"), cp)
    },

    "p114_aa_degree_capped" -> { (s, d) =>
      // Degree-capped Adamic–Adar — p107's 100-TB form made explicit.
      // The wedge join's fan-out is quadratic per middle vertex, so at
      // web scale hub middles (a part half the corpus ordered, a token
      // every document contains) dominate cost while contributing the
      // LEAST signal (AA weights 1/ln(deg) — hubs vote quietest).
      // Capping the middle degree (here deg ∈ [2, 28]) bounds every
      // wedge group to cap² pairs BEFORE the join — the standard
      // link-prediction hub filter, and the difference between a plan
      // that survives 100× and one that doesn't: the cap turns the
      // worst-case quadratic into a constant per middle. The cap is
      // part of the operator's spec, so results stay exact and
      // oracle-gated (same long-scaled micro-unit sums as p107).
      // r13 plan: ONE keyed exchange generates every wedge map-side.
      // The r11 shape (eager localCheckpoint of the ~48M-row 100x
      // adjacency + deg agg + capped join + self-join = 6 exchanges
      // with a pool-pinning cached relation) measured 148-424 s at the
      // 100x probe with 29 s GC; here the per-part degree comes from a
      // count window over the p partition, the cap filters BEFORE any
      // per-part array materializes (hub-safe: no group ever collects
      // more than cap = 28 customers), the groupBy(p) reuses the
      // window's hash partitioning (no extra exchange), and the ≤
      // C(28,2) = 378 ordered pairs per part explode map-side — the
      // only remaining full-data shuffles are the distinct, the window,
      // and the (ca, cb) aggregation. Same rows out, same oracle.
      cappedAdamicAdar(load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(load(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct())
    },

    "p115_repetition_filter" -> { (s, d) =>
      // Gopher-style repetition quality filter (Rae et al. 2021 §A1.1:
      // documents dominated by repeated fragments are low-quality and
      // poison LM training): per doc, the duplicate-WORD fraction
      // (1 − distinct/total) and the top-2-gram fraction (share of
      // tokens inside the single most frequent bigram) gate the doc.
      // Shape at 100 TB: everything is per-document map-side until the
      // per-(doc, gram) count — keyed on doc_id, so the shuffle is
      // corpus-bounded and partial-aggregates; the report is one tiny
      // per-source rollup of exact integer sums (one final rounded
      // division, the repo's float discipline).
      val docs = load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val base = docs
        .withColumn("w", filter(split(col("text"), "\\s+"),
          x => x =!= lit("")))
        .withColumn("nw", size(col("w")))
        .withColumn("nd", size(array_distinct(col("w"))))
      val grams = base.where(col("nw") >= 2).select(col("doc_id"),
        explode(expr("transform(sequence(1, nw - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("g"))
      val gmax = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("m2"))
      val scored = base.join(gmax, Seq("doc_id"), "left")
        .withColumn("m2", coalesce(col("m2"), lit(0L)))
        .withColumn("dup_frac",
          round((col("nw") - col("nd")).cast("double") / col("nw"), 6))
        .withColumn("top2_frac",
          round(lit(2.0) * col("m2") / col("nw"), 6))
      scored.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("dup_frac") <= 0.55 && col("top2_frac") <= 0.12, 1L)
            .otherwise(0L)).as("n_kept"),
          sum(col("nw")).as("sum_words"),
          sum(col("nw") - col("nd")).as("sum_dup"))
        .withColumn("dup_rate",
          round(col("sum_dup").cast("double") / col("sum_words"), 6))
        .orderBy("source")
    },

    "p116_jsonpath_curation" -> { (s, d) =>
      // Metadata-rule curation via the SQL/JSON path engine (§2.8
      // jsonpath): document metadata travels as one JSON column and
      // the keep policy is a conjunction of jsonpath rules with a
      // shared vars object — the shape a crawl-curation config takes
      // (rules are DATA, shipped without redeploying the pipeline).
      // Each rule is one codegen'd static call per row (no UDF, path
      // compiled once per executor via the parse cache); the filter is
      // purely map-side — the only shuffle is the per-(source, lang)
      // rollup.
      import graft.expr.J
      val docs = load(s, d, "documents")
        .withColumn("meta", to_json(struct(col("lang"), col("source"),
          col("n_chars"))))
      val rules = Seq(
        """$ ? (@.lang == "en" || @.lang == "de")""",
        """$ ? (@.n_chars >= $min && @.n_chars < $max)""",
        """$ ? (@.source starts with "src")""")
      val vars = """{"min": 120, "max": 400}"""
      rules.foldLeft(docs)((df, r) =>
          df.where(J.pathExists(col("meta"), r, vars)))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source", "lang")
    },

    "p110_metapath_walk" -> { (s, d) =>
      // Deterministic metapath random walks (metapath2vec corpus
      // generation): walkers alternate customer→part→customer hops
      // over the purchase bipartite graph, picking neighbor
      // idx = (walk·1103515245 + step·12345) mod deg — a pure-integer
      // LCG both engines evaluate exactly, so the corpus is
      // reproducible anywhere. The scale shape is FRONTIER-FIRST:
      // adjacency is built once (the one O(E) shuffle), then each hop
      // broadcast-semi-joins it down to the current frontier's nodes
      // BEFORE any per-key indexing, so the row_number/degree window
      // runs over ≈ Σ(frontier degree) rows — O(walkers·deg) per hop,
      // never O(E). Nothing full-graph is ever sorted or windowed;
      // walker state is (walk, step, node) ids only. The per-key
      // neighbor set and degree of a frontier node are identical to a
      // full-graph index, so the LCG pick (and the output corpus) is
      // byte-identical to the global-index formulation.
      val cp = load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(load(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(true) // probed map-side by all four hops
      def pick(step: Int): org.apache.spark.sql.Column =
        pmod(col("walk") * 1103515245L + lit(step) * 12345L, col("deg"))
      // step 0: walkers start at customers 1..50 that have purchases.
      // (r14 note: pinning the ≤50-row frontier as a driver-side
      // LocalRelation instead of a localCheckpoint was measured 3x
      // SLOWER — the checkpointed-RDD shape keeps each hop's probe on
      // cached blocks and AQE's broadcast path; reverted.)
      var cur = cp.where(col("c") <= 50).select(col("c")).distinct()
        .select(col("c").as("walk"), col("c").as("cur"))
        .localCheckpoint(true)
      val hops = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (step <- 0 until 4) {
        val (src, dst) = if (step % 2 == 0) ("c", "p") else ("p", "c")
        // frontier slice: ≤ |walkers| distinct nodes, broadcast into a
        // map-side semi-join against the checkpointed adjacency — the
        // only shuffle below is the window over the tiny slice
        val fn = broadcast(cur.select(col("cur").as(src)).distinct())
        val adj = cp.join(fn, src)
        val wk = org.apache.spark.sql.expressions.Window.partitionBy(src)
        val idx = adj.select(col(src).as("nn"), col(dst),
          (row_number().over(wk.orderBy(dst)) - 1).as("aidx"),
          count(lit(1)).over(wk).as("deg"))
        cur = cur.join(idx, col("nn") === col("cur"))
          .where(col("aidx") === pick(step))
          .select(col("walk"), col(dst).as("cur"))
          // eager pin of ≤|walkers| rows: keeps each hop's frontier
          // probe from replaying the prior hops' lineage
          .localCheckpoint(true)
        hops += cur.select(col("walk"), lit(step + 1).as("step"),
          lit(if (step % 2 == 0) "part" else "cust").as("kind"),
          col("cur").as("node"))
      }
      hops.reduce(_ unionAll _).orderBy("walk", "step")
    },

    "p103_nb_langid" -> { (s, d) =>
      // Naive-Bayes language ID trained ON the corpus's own labels
      // and applied back, with the CONFUSION MATRIX through the gate
      // — the supervised teach-and-apply loop (upgrades p10's marker
      // heuristic). Laplace-smoothed per-language unigram likelihoods
      // + log prior; prediction = argmax on the ROUNDED posterior
      // with a language tiebreak (min_by over (−score, lang) — the
      // same rule the oracle's rank window applies). The scoring grid
      // is tokens × |languages| (bounded ×5); model tables are
      // vocabulary-sized.
      val docs = load(s, d, "documents")
      val toks = docs.select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      val langs = docs.groupBy(col("lang").as("l"))
        .agg(count(lit(1)).as("ndl"))
      val tot = docs.agg(count(lit(1)).as("n_all"))
      val cw = toks.groupBy(col("lang").as("l"), col("w"))
        .agg(count(lit(1)).as("cw"))
      val ct = cw.groupBy("l").agg(sum("cw").as("ctot"))
      val vocab = toks.agg(countDistinct("w").as("v"))
      // NOTE (r14): two restructures were measured and REVERTED — (a)
      // pre-aggregating tokens to (doc, word) counts before the lang
      // cross join, (b) the inner-join-on-hits + per-(doc,lang)
      // constant-term algebra. Both added shuffles that cost more than
      // the occurrence rows they saved at this corpus' repetition
      // factor (1.3 s -> 1.5 s / 2.0 s): the original shape is ONE
      // partial-aggregated shuffle fed map-side through broadcast
      // joins, which is already the §2.3 ideal here.
      val ll = toks.crossJoin(broadcast(langs.select("l")))
        .join(cw, Seq("l", "w"), "left").na.fill(0L, Seq("cw"))
        .join(ct, "l").crossJoin(broadcast(vocab))
        .groupBy("doc_id", "lang", "l")
        .agg(sum(log((col("cw") + 1).cast("double") /
          (col("ctot") + col("v")))).as("ll"))
      val scored = ll.join(langs, "l").crossJoin(broadcast(tot))
        .withColumn("score", round(col("ll") +
          log(col("ndl").cast("double") / col("n_all")), 6))
      scored.groupBy("doc_id", "lang")
        .agg(min_by(col("l"), struct((col("score") * -1).as("ns"),
          col("l"))).as("pred"))
        .groupBy(col("lang").as("true_lang"), col("pred").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    },

    "p101_fertility" -> { (s, d) =>
      // Tokenizer fertility by language (subword units per whitespace
      // word — the metric that exposes which languages a tokenizer
      // taxes): integer token sums per lang, one final ratio. Narrow
      // map pass + bounded rollup.
      load(s, d, "documents")
        .select(col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("nw"),
          TextOps.subwordCount(col("text")).cast("long").as("ns"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nw").as("n_words"), sum("ns").as("n_subwords"),
          round(sum("ns").cast("double") / sum("nw"), 6).as("fertility"))
        .orderBy("lang")
    },

    "p102_corr" -> { (s, d) =>
      // Length↔quality correlation per source, computed EXACTLY:
      // Pearson r from integer co-moments (quality is a 2-decimal
      // score, so ×100 is an exact integer; n_chars already is) —
      // n·Σxy − Σx·Σy over the exact integer sums, one float sqrt at
      // the very end. Engine-portable where a streaming co-moment
      // formula would drift; the sums partial-aggregate map-side.
      val q = load(s, d, "documents").select(col("source"),
        col("n_chars").as("x"),
        // ×100 then round-to-integer: the 2-decimal score's double
        // form sits ~1e-15 off the exact centi value, so a bare long
        // cast would truncate 29.999… to 29 — round first (both
        // engines land far from any .5 boundary)
        round(TextOps.qualityScore(col("text")) * 100, 0).cast("long").as("y"))
      q.groupBy("source").agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("r", round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            // each variance co-moment is < 2^52 (exact in double);
            // their PRODUCT would overflow long, so the cast happens
            // per factor before the multiply — identical in the oracle
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6))
        .select(col("source"), col("n"), col("r"))
        .orderBy("source")
    },

    "p99_normalize" -> { (s, d) =>
      // Canonical text-normalization pre-pass audit (the step every
      // corpus runs before hashing — and why p01's digests
      // lowercase): control-char strip + lowercase + whitespace
      // collapse + trim, reported as change counts and char deltas
      // per source. Pure regexp in the RE2/Java common subset — a
      // narrow map pass, no shuffle before the rollup.
      val docs = load(s, d, "documents")
      val nt = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[\\x00-\\x1f]", ""),
        "\\s+", " "))
      docs.select(col("source"), col("text"), nt.as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nt") =!= col("text"), 1L).otherwise(0L))
            .as("n_changed"),
          sum((length(col("text")) - length(col("nt"))).cast("long"))
            .as("chars_removed"))
        .orderBy("source")
    },

    "p100_ref_integrity" -> { (s, d) =>
      // Referential-integrity census (lakehouse ingest QA): orphan
      // counts per relationship via anti-join probes plus a coverage
      // probe (customers with no orders — naturally non-zero). Each
      // probe is one keyed anti-join; counts partial-aggregate.
      val li = load(s, d, "lineitem")
      val o = load(s, d, "orders")
      val c = load(s, d, "customer")
      val a = li.join(o.select("o_orderkey"),
          li("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("lineitem_orphans").as("probe"), col("n_rows"))
      val b = o.join(c.select("c_custkey"),
          o("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("orders_orphans").as("probe"), col("n_rows"))
      val cc = c.join(o.select("o_custkey"),
          c("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit("customers_no_orders").as("probe"), col("n_rows"))
      a.unionByName(b).unionByName(cc).orderBy("probe")
    },

    "p96_sim_histogram" -> { (s, d) =>
      // Pairwise-similarity histogram over the bounded audit slice —
      // the threshold-tuning diagnostic behind every dedup dial
      // (where does corpus mass sit on the Jaccard axis?). The
      // bucket floor runs on the RAW double ratio: both engines
      // divide the same integer counts, so the floor is engine-exact
      // even at bucket boundaries.
      val withSets = load(s, d, "documents").where(col("doc_id") < 200)
        .select(col("doc_id").as("id"), Dedup.wordSet(col("text")).as("ws"))
      val a = withSets.select(col("id").as("da"), col("ws").as("wa"))
      val b = withSets.select(col("id").as("db"), col("ws").as("wb"))
      a.join(b, col("da") < col("db"))
        .withColumn("jac",
          size(array_intersect(col("wa"), col("wb"))).cast("double") /
            size(array_union(col("wa"), col("wb"))))
        .select(floor(col("jac") * 10).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket")
    },

    "p97_contam_sweep" -> { (s, d) =>
      // Contamination sensitivity sweep: the p22 gate at n-gram sizes
      // 4, 6 and 8 in one result — short grams over-flag, long grams
      // miss; the sweep is how the size gets picked. Each n is one
      // broadcast semi-join against the fixed 100-doc benchmark.
      val docs = load(s, d, "documents")
      val train = docs.where(col("doc_id") < 400)
      val eval_ = docs.where(col("doc_id") >= 400 && col("doc_id") < 500)
      Seq(4, 6, 8).map { n =>
        TextOps.contaminated(train, eval_, n, "doc_id", "text")
          .agg(count(lit(1)).as("n_contaminated"))
          .select(lit(n).as("n"), col("n_contaminated"))
      }.reduce(_ unionByName _).orderBy("n")
    },

    "p98_oov" -> { (s, d) =>
      // Out-of-vocabulary quality signal (OCR-noise / gibberish
      // detector): dictionary = top-10 corpus words (count desc, word
      // tiebreak — deterministic at the boundary), per-doc OOV
      // fraction, per-source mean + high-OOV count. The dictionary is
      // broadcast-sized by construction; scoring combines map-side.
      val toks = load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      val dict = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(10).select("w")
      toks.join(broadcast(dict).withColumn("in_d", lit(1)), Seq("w"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("nt"),
          sum(when(col("in_d").isNull, 1L).otherwise(0L)).as("noov"))
        .withColumn("rate", col("noov").cast("double") / col("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("rate"), 6).as("mean_oov"),
          sum(when(col("rate") > 0.5, 1L).otherwise(0L)).as("n_high_oov"))
        .orderBy("source")
    },

    "p94_exact_k_sample" -> { (s, d) =>
      // Exactly-k-per-group deterministic sample: rank by a keyed md5
      // draw (engine-reproducible "randomness") and keep k = 7 per
      // source — via the custom bounded-heap TopKPerKey operator (its
      // second oracle-gated consumer): k rows per key per map task
      // reach the exchange and nothing is sorted but the heaps. The
      // oracle is the declarative row_number form over the same hash.
      val docs = load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          md5(concat(lit("smp#"), col("doc_id"))).as("h"))
      graft.plans.TopK.topKPerKey(docs, Seq("source"),
          Seq(("h", true), ("doc_id", true)), 7)
        .select(col("source"), col("doc_id"), col("h"))
        .orderBy("source", "doc_id")
    },

    "p95_temperature_sweep" -> { (s, d) =>
      // Mixture-weight table across a temperature sweep in ONE pass
      // (the data-mixing-law tuning table): per-source token shares
      // re-weight by share^(1/T) for T ∈ {1, 2, 4} and renormalize.
      // The corpus pays one per-source aggregate; the sweep explodes
      // over the BOUNDED source table and normalizes with a
      // per-temperature window over it.
      import org.apache.spark.sql.expressions.Window
      val base = load(s, d, "documents").groupBy("source")
        .agg(sum("n_chars").as("n"))
      val tot = base.agg(sum("n").as("t"))
      base.crossJoin(broadcast(tot))
        .withColumn("share", col("n").cast("double") / col("t"))
        .withColumn("T", explode(array(lit(1), lit(2), lit(4))))
        .withColumn("w", pow(col("share"), lit(1.0) / col("T")))
        .withColumn("weight",
          round(col("w") / sum("w").over(Window.partitionBy("T")), 6))
        .select(col("T"), col("source"), col("weight"))
        .orderBy("T", "source")
    },

    "p93_transitivity" -> { (s, d) =>
      // Near-dup relation cohesion audit: open vs closed wedges in
      // the exact-Jaccard pair graph — tells you whether the
      // threshold behaves like an equivalence (safe to collapse into
      // clusters, p14) or chains (collapse over-merges). Wedges key
      // on the shared middle vertex; the closing edge is one left
      // join against the id-ordered pair set.
      val docs = load(s, d, "documents").where(col("doc_id") < 200)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
        .select("da", "db")
      val sym = pairs.unionAll(
        pairs.select(col("db").as("da"), col("da").as("db")))
      val wedges = sym.select(col("da").as("x"), col("db").as("m"))
        .join(sym.select(col("da").as("m"), col("db").as("y")), "m")
        .where(col("x") < col("y"))
      wedges.join(pairs.select(col("da").as("x"), col("db").as("y"))
          .withColumn("cl", lit(1)), Seq("x", "y"), "left")
        .agg(count(lit(1)).as("n_wedges"),
          sum(when(col("cl").isNotNull, 1L).otherwise(0L)).as("n_closed"))
        .withColumn("n_open", col("n_wedges") - col("n_closed"))
    },

    "p92_snapshot_diff" -> { (s, d) =>
      // Dataset version diff — the reproducibility/dataset-card
      // primitive: two snapshots compare by content digest in one
      // full-outer join on the id, classifying every document as
      // added / removed / changed / unchanged. Digests (16 bytes)
      // shuffle, never text. Snapshot B simulates a release: drops
      // ids < 100, adds none, rewrites every 10th text.
      val docs = load(s, d, "documents").where(col("doc_id") < 500)
      val a = docs.where(col("doc_id") < 400)
        .select(col("doc_id"), md5(col("text")).as("ha"))
      val b = docs.where(col("doc_id") >= 100)
        .select(col("doc_id"), md5(
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("hb"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("ha").isNull, "added")
            .when(col("hb").isNull, "removed")
            .when(col("ha") === col("hb"), "unchanged")
            .otherwise("changed"))
        .groupBy("status").agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    },

    "p90_k_anonymity" -> { (s, d) =>
      // k-anonymity audit over quasi-identifiers (lang, source,
      // length bucket): groups smaller than k = 5 re-identify — the
      // privacy gate a dataset release runs. One grouped count + a
      // per-source rollup, all integer.
      val docs = load(s, d, "documents")
        .select(col("source"), col("lang"),
          floor(col("n_chars") / lit(500.0)).cast("long").as("lb"))
      docs.groupBy("source", "lang", "lb").agg(count(lit(1)).as("gs"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("gs") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("gs") < 5, col("gs")).otherwise(0L)).as("n_risky_docs"),
          min("gs").as("min_group"))
        .orderBy("source")
    },

    "p91_bounded_contribution" -> { (s, d) =>
      // Bounded-contribution aggregation (the differential-privacy
      // prep step): each user's contribution to a per-type count is
      // CLIPPED at 5 before summation, bounding the sensitivity any
      // noise calibration needs. Per-(user, type) partial counts
      // combine map-side; the clip is a map over that bounded table.
      load(s, d, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(sum("c").as("n_true"),
          sum(least(col("c"), lit(5L))).as("n_bounded"),
          count(lit(1)).as("n_users"))
        .orderBy("event_type")
    },

    "p89_jl_projection" -> { (s, d) =>
      // Johnson–Lindenstrauss-style random projection (64 → 16 dims):
      // the projection matrix is the SAME deterministic driver-side
      // constant family the LSH planes use, embedded as literals, so
      // the oracle recomputes every projected coordinate bit-for-bit
      // (left-to-right double sums both engines). Reported per pair:
      // original squared distance (dot identity — codegen'd
      // FloatVecDot, no HOF boxing) and the projected/original ratio,
      // the distortion a dimensionality-reduced dedup/ANN stage must
      // budget for. Projection is one map-side pass; pair work is the
      // bounded verification slice.
      val mat = Similarity.lshPlaneMatrix(64, 16)
      val e = load(s, d, "embeddings").where(col("vec_id") < 40)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val proj = e.select(Seq(col("vec_id"), col("v")) ++
        (0 until 16).map(j =>
          Similarity.dot(col("v"), typedlit(mat(j))).as(s"p$j")): _*)
      val a = proj.select(Seq(col("vec_id").as("da"), col("v").as("va")) ++
        (0 until 16).map(j => col(s"p$j").as(s"pa$j")): _*)
      val b = proj.select(Seq(col("vec_id").as("db"), col("v").as("vb")) ++
        (0 until 16).map(j => col(s"p$j").as(s"pb$j")): _*)
      val orig = Similarity.dot(col("va"), col("va")) +
        Similarity.dot(col("vb"), col("vb")) -
        lit(2.0) * Similarity.dot(col("va"), col("vb"))
      val projD2 = (0 until 16).map(j =>
        (col(s"pa$j") - col(s"pb$j")) * (col(s"pa$j") - col(s"pb$j")))
        .reduce(_ + _)
      a.join(b, col("da") < col("db"))
        .withColumn("orig_d2", orig)
        .withColumn("ratio", projD2 / col("orig_d2"))
        .select(col("da"), col("db"), round(col("orig_d2"), 6).as("orig_d2"),
          round(col("ratio"), 6).as("ratio"))
        .orderBy("da", "db")
    },

    "p88_centroids" -> { (s, d) =>
      // Per-class embedding centroid + dispersion (cluster-health /
      // probe-quality metric): the mean vector materializes as
      // (label, dim) keyed partial sums via posexplode — a
      // vector-typed column never shuffles — and each member's cosine
      // to its centroid re-joins on the same (label, dim) keys. All
      // arithmetic in double from the first cast so the oracle's
      // dim-wise recomputation matches at the rounding.
      val e = load(s, d, "embeddings").where(col("vec_id") < 300)
      val dims = e.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "v0")))
        .withColumn("v", col("v0").cast("double"))
      val cent = dims.groupBy("label", "dim").agg(avg("v").as("c"))
      dims.join(cent, Seq("label", "dim"))
        .groupBy("vec_id", "label")
        .agg(sum(col("v") * col("c")).as("dot"),
          sum(col("v") * col("v")).as("n2"),
          sum(col("c") * col("c")).as("c2"))
        .withColumn("cos", col("dot") / sqrt(col("n2") * col("c2")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("cos"), 6).as("mean_cos"))
        .orderBy("label")
    },

    "p86_tokenizer_apply" -> { (s, d) =>
      // Tokenizer APPLICATION — the other half of p70's training loop:
      // the mined merge list applies to text in rank order (each merge
      // a literal replace over the '|'-delimited token string, the
      // same left-to-right rule), then the segmented corpus reports
      // its token counts per source. Train once (3 driver scalars),
      // apply map-side everywhere — the tokenizer-as-artifact shape.
      def pairCounts(df: DataFrame) = df
        .select(split(col("t"), "\\|").as("ws"))
        .where(size(col("ws")) > 1)
        .select(explode(transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("wa"),
            element_at(col("ws"), (i + 1).cast("int")).as("wb")))).as("p"))
        .select(col("p.wa"), col("p.wb"))
        .where(length(col("wa")) > 0 && length(col("wb")) > 0)
        .groupBy("wa", "wb").agg(count(lit(1)).as("n_pairs"))
      def delim(df: DataFrame) = df.select(col("source"),
        concat(lit("|"),
          regexp_replace(lower(col("text")), "\\s+", "|"), lit("|")).as("t"))
      // train on the doc_id<100 slice, apply to the WHOLE corpus
      var train = delim(load(s, d, "documents").where(col("doc_id") < 100))
      val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
      for (_ <- 1 to 3) {
        val w = pairCounts(train)
          .orderBy(col("n_pairs").desc, col("wa"), col("wb"))
          .limit(1).collect()(0)
        merges += ((w.getString(0), w.getString(1)))
        train = train.select(col("source"), call_function("replace", col("t"),
          lit(s"|${w.getString(0)}|${w.getString(1)}|"),
          lit(s"|${w.getString(0)}+${w.getString(1)}|")).as("t"))
      }
      val applied = merges.foldLeft(delim(load(s, d, "documents"))) {
        case (df, (wa, wb)) =>
          df.select(col("source"), call_function("replace", col("t"),
            lit(s"|$wa|$wb|"), lit(s"|$wa+$wb|")).as("t"))
      }
      applied
        .select(col("source"), (size(split(col("t"), "\\|")) - 2).as("n_toks"),
          size(filter(split(col("t"), "\\|"), x => x.contains("+"))).as("n_merged"))
        .groupBy("source")
        .agg(sum("n_toks").as("n_tokens"),
          sum("n_merged").cast("long").as("n_merged_tokens"))
        .orderBy("source")
    },

    "p87_containment" -> { (s, d) =>
      // One-sided CONTAINMENT dedup (quote/subset detection): score
      // |A∩B| / |A| — near-1 when the SHORTER doc is mostly inside the
      // longer one even though symmetric Jaccard stays low; the
      // training-data "document quotes another" contamination shape.
      // Same bounded all-pairs verification slice as p02; the LSH/
      // prefix machinery is the scale path for the candidate step.
      val docs = load(s, d, "documents").where(col("doc_id") < 200)
      val withSets = docs.select(col("doc_id").as("__id"),
        Dedup.wordSet(col("text")).as("__ws"))
      val a = withSets.select(col("__id").as("da"), col("__ws").as("wa"))
      val b = withSets.select(col("__id").as("db"), col("__ws").as("wb"))
      a.join(b, col("da") =!= col("db"))
        .withColumn("cont",
          size(array_intersect(col("wa"), col("wb"))).cast("double") /
            size(col("wa")))
        .where(col("cont") >= 0.98 && size(col("wa")) < size(col("wb")))
        .select(col("da"), col("db"), round(col("cont"), 6).as("containment"))
        .orderBy("da", "db")
    },

    "p83_ivm" -> { (s, d) =>
      // Incremental view maintenance: a (count, sum) aggregate view
      // absorbs a delta of inserts AND deletes by signed merge —
      // count/sum/avg are self-maintainable, so the view updates from
      // the DELTA's size, never a recompute of the 100-TB base. The
      // oracle recomputes from the final state directly, proving the
      // delta algebra: base ⊕ (+inserts) ⊕ (−deletes) ≡ full rebuild.
      val orders = load(s, d, "orders")
      val base = orders.where(col("o_orderkey") < 10000)
      val inserts = orders
        .where(col("o_orderkey") >= 10000 && col("o_orderkey") < 20000)
      val deletes = base.where(col("o_orderkey") % 13 === 0)
      def signedAgg(df: DataFrame, sign: Int) = df
        .groupBy("o_orderpriority")
        .agg((count(lit(1)) * sign).as("dn"),
          (sum(col("o_totalprice").cast("decimal(28,4)")) * sign).as("dsum"))
      signedAgg(base, 1)
        .unionByName(signedAgg(inserts, 1))
        .unionByName(signedAgg(deletes, -1))
        .groupBy("o_orderpriority")
        .agg(sum("dn").as("n_orders"),
          round(sum("dsum").cast("decimal(38,4)"), 2).cast("double").as("total"))
        .where(col("n_orders") > 0)
        .orderBy("o_orderpriority")
    },

    "p84_scd2" -> { (s, d) =>
      // Slowly-changing-dimension (type 2) build: per-user event-type
      // timelines collapse into validity intervals [valid_from,
      // valid_to) via gap-islands — lag detects the change, a running
      // sum numbers the island, the island aggregates to one row.
      // Windows partition by user (never global); the warehouse
      // dimension-build primitive.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = load(s, d, "events").where(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("chg",
          when(lag("event_type", 1).over(w).isNull ||
            lag("event_type", 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("island", sum("chg").over(w))
      val isl = ev.groupBy("user_id", "island")
        .agg(first("event_type").as("state"),
          min(struct(col("ts"), col("event_id"))).getField("ts").as("valid_from"),
          count(lit(1)).as("n_events"))
      val w2 = Window.partitionBy("user_id").orderBy("island")
      isl.withColumn("valid_to", lead("valid_from", 1).over(w2))
        .select(col("user_id"), col("island"), col("state"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"),
          col("n_events"))
        .orderBy("user_id", "island")
    },

    "p85_entropy" -> { (s, d) =>
      // Token-distribution entropy per source (corpus diversity
      // metric): H = ln(T) − Σ c·ln(c) / T over integer counts — one
      // (source, token) count shuffle, then a per-source rollup; the
      // float appears only in the last expression, rounded.
      val toks = load(s, d, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          round(log(sum("c")) -
            sum(col("c") * log("c")) / sum("c"), 6).as("entropy"))
        .orderBy("source")
    },

    "p82_fuzzy_join" -> { (s, d) =>
      // Exact fuzzy self-join (entity resolution): part names within
      // Levenshtein distance ≤ 2, candidates from the SymSpell-style
      // deletion-neighborhood join (complete by construction — two
      // strings within 2 edits always share a ≤2-deletion variant),
      // verified with the real edit distance. The oracle brute-forces
      // all pairs, so the blocked join must reproduce it exactly.
      Dedup.editDistancePairs(
          load(s, d, "part").where(col("p_partkey") < 400),
          "p_partkey", "p_name")
        .orderBy("da", "db")
    },

    "p81_leakage_split" -> { (s, d) =>
      // Leakage-safe train/eval split: near-dup CLUSTERS are the split
      // unit, so no eval document has a training near-duplicate — the
      // contamination path a per-document split leaves open. Cluster
      // labels come from the p14 component machinery; the assignment
      // hashes the cluster REPRESENTATIVE (md5, 80/20), so every
      // engine reproduces the split and a cluster can never straddle
      // it (the split is a function of the cluster).
      val docs = load(s, d, "documents").where(col("doc_id") < 200)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
      val cl = Dedup.clusters(pairs)
      docs.join(cl, docs("doc_id") === cl("id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("comp"), col("doc_id")).as("cluster"))
        .withColumn("split",
          when(conv(substring(md5(concat(lit("split#"), col("cluster"))),
              1, 8), 16, 10).cast("long") % 10 < 8, lit("train"))
            .otherwise(lit("eval")))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster").as("n_clusters"))
        .orderBy("source", "split")
    },

    "p79_water_filling" -> { (s, d) =>
      // Exact integer water-filling: spend a global token budget (60%
      // of the corpus) across sources, capping heavy sources at the
      // common water level so light sources keep everything — the
      // mixture-balancing primitive (the allocation DoReMi/temperature
      // mixes need once weights become integer sample counts). The
      // water level comes from the monotone prefix test (pre_i +
      // (cnt−i)·n_i ≤ B is prefix-closed on the n-sorted source
      // table); slack spreads one unit each to the largest capped
      // sources. All windows run over the per-source table (bounded
      // by source cardinality) and every quantity is integer, so the
      // allocation reproduces bit-for-bit.
      import org.apache.spark.sql.expressions.Window
      val tok = load(s, d, "documents").groupBy("source")
        .agg(sum("n_chars").as("n"))
      val bud = tok.agg(floor(sum("n") * 3 / lit(5.0)).cast("long").as("bud"))
      val cnts = tok.agg(count(lit(1)).as("cnt"), max("n").as("nmax"))
      val w = Window.orderBy(col("n"), col("source"))
      val withOk = tok.crossJoin(broadcast(bud)).crossJoin(broadcast(cnts))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("pre", sum("n").over(w))
        .withColumn("ok",
          col("pre") + (col("cnt") - col("i")) * col("n") <= col("bud"))
      val sel = withOk.agg(
        coalesce(max(when(col("ok"), col("i"))), lit(0L)).as("jmax"),
        coalesce(max(when(col("ok"), col("pre"))), lit(0L)).as("prefix"))
      val capped = withOk.crossJoin(broadcast(sel))
        .withColumn("cap",
          when(col("jmax") === col("cnt"), col("nmax"))
            .otherwise(floor((col("bud") - col("prefix")).cast("double") /
              (col("cnt") - col("jmax"))).cast("long")))
        .withColumn("alloc0", least(col("n"), col("cap")))
      val baseSum = capped.agg(sum("alloc0").as("base_sum"))
      val lw = Window.orderBy(col("n").desc, col("source"))
      capped.crossJoin(broadcast(baseSum))
        .withColumn("leftover", col("bud") - col("base_sum"))
        .withColumn("r", row_number().over(lw).cast("long"))
        .withColumn("alloc", col("alloc0") +
          when(col("n") > col("cap") && col("r") <= col("leftover"), 1L)
            .otherwise(0L))
        .select(col("source"), col("n").as("n_tokens"), col("alloc"))
        .orderBy("source")
    },

    "p80_bigram_surprise" -> { (s, d) =>
      // Add-one-smoothed bigram LM scoring — the n-gram upgrade of
      // p69's unigram model (fluency-aware quality/novelty signal):
      // P(b|a) = (c2+1)/(c1+V), per-doc mean negative log-prob. One
      // pair-count shuffle + one unigram shuffle build the model;
      // scoring re-joins doc bigrams against the count tables
      // (vocabulary-sized, broadcast while they fit) and combines
      // map-side.
      val ws = col("__ws")
      val base = load(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("__ws"))
        .where(size(ws) > 1)
      val bg = base.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(ws) - 1), i =>
            struct(element_at(ws, i).as("wa"),
              element_at(ws, (i + 1).cast("int")).as("wb")))).as("p"))
        .select(col("doc_id"), col("p.wa"), col("p.wb"))
      val c2 = bg.groupBy("wa", "wb").agg(count(lit(1)).as("c2"))
      val uni = load(s, d, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      val c1 = uni.groupBy("w").agg(count(lit(1)).as("c1"))
      val v = uni.agg(countDistinct("w").as("v"))
      bg.join(c2, Seq("wa", "wb"))
        .join(c1.withColumnRenamed("w", "wa"), "wa")
        .crossJoin(broadcast(v))
        .withColumn("nlp", log(
          (col("c1") + col("v")).cast("double") / (col("c2") + 1L)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum("nlp") / count(lit(1)), 6).as("surprise"))
        .orderBy("doc_id")
    },

    "p49_ann_ivfpq" -> { (s, d) =>
      // Composed IVF×PQ — the billion-vector index shape: subspace-0
      // codes double as coarse cells, queries probe their 4 nearest
      // cells (of 16) and ADC-score only those cells' codes. Fully
      // ORACLE-GATED (deterministic codebook = cells, probes, codes
      // and scores all recomputable from SQL literals); the
      // nProbe-exhaustive == pqTopK identity is asserted in
      // PipelineSpec.
      val vecs = load(s, d, "embeddings")
      Similarity.ivfPqTopK(vecs.where(col("vec_id") < 50), vecs,
          Similarity.pqCodebook(dim = 64, numSub = 8, k = 16),
          k = 3, nProbe = 4)
        .orderBy("qid", "rank")
    },

    "p36_length_buckets" -> { (s, d) =>
      // token-length quartile bucketing per source (the batch-shape
      // primitive for length-grouped training batches): ntile over a
      // total order (tokens, doc_id) is engine-portable, and per-bucket
      // stats show the spread each batch would see
      val toks = load(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), "\\s+")).as("nt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("nt", "doc_id")
      toks.withColumn("bucket", ntile(4).over(w))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n"), min("nt").as("min_t"), max("nt").as("max_t"))
        .orderBy("source", "bucket")
    },

    "p37_incremental_dedup" -> { (s, d) =>
      // cross-snapshot dedup (the corpus-refresh primitive): new docs
      // anti-join the previous snapshot on a content digest — only
      // 16-byte digests shuffle, never text; at 100 TB the old side is
      // a digest-only table that bucket-joins against each new delta
      val docs = load(s, d, "documents")
      val oldH = docs.where(pmod(col("doc_id"), lit(5)) < 2)
        .select(md5(col("text")).as("h")).distinct()
      val nw = docs.where(pmod(col("doc_id"), lit(5)) >= 2)
        .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
      nw.join(oldH, Seq("h"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").cast("long").as("id_sum"))
        .orderBy("source")
    },

    "p40_data_quality" -> { (s, d) =>
      // ingestion-gate validation (the expectations pass a corpus runs
      // before training): per-source row counts with per-rule violation
      // counts — everything map-side into one partial-aggregated rollup
      val docs = load(s, d, "documents")
      docs.groupBy("source").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1)
          .otherwise(0)).cast("long").as("n_empty"),
        sum(when(col("n_chars") =!= length(col("text")), 1)
          .otherwise(0)).cast("long").as("n_len_mismatch"),
        sum(when(!col("lang").isin("en", "de", "fr", "es", "zh"), 1)
          .otherwise(0)).cast("long").as("n_bad_lang"),
        (count(lit(1)) - countDistinct(col("doc_id"))).cast("long")
          .as("n_dup_ids"))
        .orderBy("source")
    },

    "p39_hard_negatives" -> { (s, d) =>
      // contrastive-training hard negatives: top-2 most-similar
      // different-label vectors per query (broadcastable query side ×
      // corpus stream, like p05/p33)
      val vecs = load(s, d, "embeddings")
      Similarity.hardNegatives(vecs.where(col("vec_id") < 20), vecs, 2)
        .orderBy("qid", "rank")
    },

    "p38_weighted_sample" -> { (s, d) =>
      // deterministic weighted sampling: acceptance probability
      // proportional to doc length (LCG-style keyed threshold — exact
      // integer arithmetic, so any engine reproduces the exact sample;
      // map-side only, no shuffle before the final per-source rollup)
      load(s, d, "documents")
        .where(pmod(col("doc_id") * 48271L, lit(10000L)) <
          least(col("n_chars"), lit(5000L)) * 2)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum("n_chars").cast("long").as("chars_kept"))
        .orderBy("source")
    }
  )

  /** The p104 k-means CTE chain (two unrolled Lloyd iterations ending
    * in assignment aC + centroids cC), shared by the p104 and p111
    * oracles.
    */
  private def kmeansOracleCtes: String =
    """WITH e AS (SELECT vec_id, embedding AS em FROM embeddings
      |  WHERE vec_id < 200),
      |ix AS (SELECT vec_id, em,
      |    unnest(generate_series(1, len(em))) AS i FROM e),
      |dm AS (SELECT vec_id, i - 1 AS dim, CAST(em[i] AS DOUBLE) AS v
      |  FROM ix),
      |cA AS (SELECT vec_id AS cid, dim, v AS c FROM dm
      |  WHERE vec_id < 4),
      |dA AS (SELECT dm.vec_id, cA.cid, sum((v - c) * (v - c)) AS d2
      |  FROM dm JOIN cA USING (dim) GROUP BY 1, 2),
      |aA AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY round(d2, 6), cid) AS rn FROM dA) WHERE rn = 1),
      |cB AS (SELECT cid, dim, avg(v) AS c FROM dm JOIN aA USING (vec_id)
      |  GROUP BY 1, 2),
      |dB AS (SELECT dm.vec_id, cB.cid, sum((v - c) * (v - c)) AS d2
      |  FROM dm JOIN cB USING (dim) GROUP BY 1, 2),
      |aB AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY round(d2, 6), cid) AS rn FROM dB) WHERE rn = 1),
      |cC AS (SELECT cid, dim, avg(v) AS c FROM dm JOIN aB USING (vec_id)
      |  GROUP BY 1, 2),
      |dC AS (SELECT dm.vec_id, cC.cid, sum((v - c) * (v - c)) AS d2
      |  FROM dm JOIN cC USING (dim) GROUP BY 1, 2),
      |aC AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY round(d2, 6), cid) AS rn FROM dC) WHERE rn = 1)""".stripMargin

  /** p104's deterministic distributed k-means (vec_id < 200, seeds =
    * vectors 0–3, two Lloyd iterations, argmin on the ROUNDED squared
    * distance with a centroid tiebreak): returns (centroids as
    * (cid, dim, c), final assignment as (vec_id, cid)). Shared by
    * p104 and p111 so both gates test the SAME cluster structure the
    * oracle CTE chain unrolls.
    */
  private def kmeans200(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dims = load(s, d, "embeddings").where(col("vec_id") < 200)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v0")))
      .withColumn("v", col("v0").cast("double")).drop("v0")
      .localCheckpoint(true) // read by every iteration + final pass
    def assign(cent: DataFrame) = dims.join(cent, Seq("dim"))
      .groupBy("vec_id", "cid")
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("cid"),
        struct(round(col("d2"), 6).as("rd"), col("cid"))).as("cid"))
    var cent = dims.where(col("vec_id") < 4)
      .select(col("vec_id").cast("long").as("cid"), col("dim"),
        col("v").as("c"))
    for (_ <- 1 to 2)
      cent = dims.join(assign(cent), "vec_id")
        .groupBy("cid", "dim").agg(avg("v").as("c"))
    (cent, assign(cent))
  }

  /** p02's exact-Jaccard pair SQL — shared verbatim by p03: the LSH
    * pipeline post-verifies candidates with exact Jaccard, and on this
    * corpus (planted near-dups on the banding S-curve's high-recall
    * plateau) its output must EQUAL the exact pair set.
    */
  private val jaccardPairsSql =
    """WITH w AS (SELECT doc_id,
      |    list_distinct(regexp_split_to_array(text, '\s+')) AS ws
      |  FROM documents WHERE doc_id < 200)
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |  round(len(list_intersect(a.ws, b.ws))::DOUBLE
      |    / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jac
      |FROM w a JOIN w b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
      |    / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
      |ORDER BY da, db""".stripMargin

  /** The p07 oracle recomputes the random-hyperplane signatures from
    * the SAME driver-side plane matrix the Spark query embeds: each
    * projection is an unrolled left-to-right double sum, so signs (and
    * therefore buckets) are bit-identical across engines.
    */
  /** p89's oracle embeds the SAME driver-side projection matrix as
    * literals: every projected coordinate is an unrolled left-to-right
    * double sum, matching FloatVecDot's accumulation exactly.
    */
  private def jlOracleSql: String = {
    val m = Similarity.lshPlaneMatrix(64, 16)
    val projDefs = (0 until 16).map { j =>
      val sum = (0 until 64).map(i => s"v[${i + 1}]*(${m(j)(i)})").mkString(" + ")
      s"($sum) AS p$j"
    }.mkString(",\n    ")
    val projD2 = (0 until 16)
      .map(j => s"(a.p$j - b.p$j)*(a.p$j - b.p$j)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 40),
       |p AS (SELECT vec_id, v,
       |    $projDefs
       |  FROM e),
       |pr AS (SELECT a.vec_id AS da, b.vec_id AS db,
       |    list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
       |      - 2.0 * list_dot_product(a.v, b.v) AS orig_d2,
       |    $projD2 AS proj_d2
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id)
       |SELECT da, db, round(orig_d2, 6) AS orig_d2,
       |  round(proj_d2 / orig_d2, 6) AS ratio
       |FROM pr ORDER BY da, db""".stripMargin
  }

  private def lshOracleSql: String = {
    val m = Similarity.lshPlaneMatrix(64, 8)
    val sigTerms = (0 until 8).map { p =>
      val proj = (0 until 64).map(i => s"v[${i + 1}]*(${m(p)(i)})").mkString(" + ")
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       |  $sigTerms AS sig FROM e),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
       |    round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
       |rk AS (SELECT qid, cid, cos, row_number() OVER
       |    (PARTITION BY qid ORDER BY cos DESC, cid) AS rank FROM sc)
       |SELECT qid, cid, rank, cos FROM rk
       |WHERE rank <= 3 AND qid < 50 ORDER BY qid, rank""".stripMargin
  }

  /** WITH-prelude shared by the multi-table LSH oracles: embeddings as
    * double arrays plus 4 per-table signatures of `planes` bits each,
    * every plane row a literal (bit-identical to lshSignatureAt).
    */
  private def lshMultiSigSql(planes: Int): String = {
    val tables = 4
    val m = Similarity.lshPlaneMatrix(64, tables * planes)
    val sigCols = (0 until tables).map { t =>
      val terms = (0 until planes).map { j =>
        val proj = (0 until 64)
          .map(i => s"v[${i + 1}]*(${m(t * planes + j)(i)})").mkString(" + ")
        s"(CASE WHEN $proj >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n + ")
      s"$terms AS sig$t"
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (SELECT vec_id, v,
       |$sigCols
       |  FROM e)""".stripMargin
  }

  private def lshMultiOracleSql: String = {
    val unions = (0 until 4).map { t =>
      s"""SELECT a.vec_id AS qid, b.vec_id AS cid
         |    FROM sig a JOIN sig b
         |    ON a.sig$t = b.sig$t AND a.vec_id <> b.vec_id""".stripMargin
    }.mkString("\n    UNION\n")
    s"""${lshMultiSigSql(8)},
       |cand AS (
       |    $unions),
       |sc AS (SELECT cand.qid, cand.cid,
       |    round(list_cosine_similarity(q.v, c.v), 6) AS cos
       |  FROM cand JOIN sig q ON q.vec_id = cand.qid
       |    JOIN sig c ON c.vec_id = cand.cid),
       |rk AS (SELECT qid, cid, cos, row_number() OVER
       |    (PARTITION BY qid ORDER BY cos DESC, cid) AS rank FROM sc)
       |SELECT qid, cid, rank, cos FROM rk
       |WHERE rank <= 3 AND qid < 50 ORDER BY qid, rank""".stripMargin
  }

  private def lshNearDupOracleSql: String = {
    val unions = (0 until 4).map { t =>
      s"""SELECT a.vec_id AS da, b.vec_id AS db
         |    FROM sig a JOIN sig b
         |    ON a.sig$t = b.sig$t AND a.vec_id < b.vec_id""".stripMargin
    }.mkString("\n    UNION\n")
    s"""${lshMultiSigSql(3)},
       |cand AS (
       |    $unions)
       |SELECT cand.da, cand.db,
       |  round(list_cosine_similarity(x.v, y.v), 6) AS cos
       |FROM cand JOIN sig x ON x.vec_id = cand.da
       |  JOIN sig y ON y.vec_id = cand.db
       |WHERE cand.da < 300 AND cand.db < 300
       |  AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.45
       |ORDER BY da, db""".stripMargin
  }

  /** The p45 oracle recomputes the whole PQ pipeline from the SAME
    * deterministic codebook the Spark query embeds: per-subspace
    * distance lists (unrolled left-to-right double sums — bit-identical
    * to the codegen'd dots), codes via first-position list_min (the
    * lowest-index tiebreak of the argmin sort), then the ADC scan as
    * q-side list lookups by c-side code.
    */
  /** Shared WITH-prelude of the PQ oracles: embeddings as doubles plus
    * the 8 per-subspace distance lists (unrolled left-to-right double
    * sums over codebook literals) and the codes CTE (first-position
    * list_min = the lowest-index argmin tiebreak).
    */
  private def pqPreludeSql: String = {
    val cb = Similarity.pqCodebook(dim = 64, numSub = 8, k = 16)
    val sub = 64 / 8
    def distList(m: Int): String = (0 until 16).map { j =>
      val c = cb(m)(j)
      var cc = 0.0; var i = 0
      while (i < c.length) { cc += c(i) * c(i); i += 1 }
      val proj = (0 until sub)
        .map(i => s"v[${m * sub + i + 1}]*(${c(i)})").mkString(" + ")
      s"($cc - 2.0*($proj))"
    }.mkString("[", ",\n    ", "]")
    val lists = (0 until 8).map(m => s"  ${distList(m)} AS l$m").mkString(",\n")
    val codes = (0 until 8)
      .map(m => s"list_position(l$m, list_min(l$m)) AS c$m").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |d AS (SELECT vec_id,
       |$lists
       |  FROM e),
       |enc AS (SELECT vec_id, $codes FROM d)""".stripMargin
  }

  private def pqAdcScoreSql: String =
    (0 until 8).map(m => s"q.l$m[c.c$m]").mkString(" + ")

  private def pqOracleSql: String =
    s"""$pqPreludeSql,
       |sc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    round($pqAdcScoreSql, 6) AS adist
       |  FROM (SELECT * FROM d WHERE vec_id < 50) q
       |  JOIN enc c ON q.vec_id <> c.vec_id),
       |rk AS (SELECT qid, cid, adist, row_number() OVER
       |    (PARTITION BY qid ORDER BY adist ASC, cid) AS rank FROM sc)
       |SELECT qid, cid, rank, adist FROM rk
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** p49: the composed IVF×PQ oracle — probes = the query's 4 smallest
    * subspace-0 distances (rank over (l0[i], i) — identical tiebreak to
    * the argmin sort), candidates = vectors whose subspace-0 CODE is a
    * probed cell, then the same ADC score as p45.
    */
  private def ivfPqOracleSql: String =
    s"""$pqPreludeSql,
       |probes AS (SELECT vec_id AS qid, i.i AS cell,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY l0[i.i], i.i) AS rn
       |  FROM d, (SELECT unnest(generate_series(1, 16)) AS i) i
       |  WHERE vec_id < 50),
       |sc AS (SELECT p.qid, c.vec_id AS cid,
       |    round($pqAdcScoreSql, 6) AS adist
       |  FROM probes p
       |  JOIN enc c ON c.c0 = p.cell AND c.vec_id <> p.qid
       |  JOIN d q ON q.vec_id = p.qid
       |  WHERE p.rn <= 4),
       |rk AS (SELECT qid, cid, adist, row_number() OVER
       |    (PARTITION BY qid ORDER BY adist ASC, cid) AS rank FROM sc)
       |SELECT qid, cid, rank, adist FROM rk
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** The p46 oracle unrolls the 4 synchronous LPA rounds as CTEs: each
    * round re-derives every vertex's label as the most frequent
    * neighbor label of the PREVIOUS round (row_number over
    * (count DESC, label) = the min_by(-count, label) tiebreak).
    */
  private def lpaOracleSql: String = {
    val round = (n: Int, prev: String) =>
      s"""r$n AS (SELECT id, label FROM (
         |  SELECT e.a AS id, l.label,
         |    row_number() OVER (PARTITION BY e.a
         |      ORDER BY count(*) DESC, l.label) AS rn
         |  FROM e JOIN $prev l ON l.id = e.b
         |  GROUP BY e.a, l.label) WHERE rn = 1)""".stripMargin
    s"""WITH eu AS (
       |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
       |    CAST(n2.n_nationkey AS BIGINT) AS b
       |  FROM nation n1 JOIN nation n2
       |    ON n1.n_regionkey = n2.n_regionkey
       |    AND n1.n_nationkey < n2.n_nationkey
       |  UNION ALL
       |  SELECT c_custkey + 1000000, CAST(c_nationkey AS BIGINT)
       |  FROM customer),
       |e AS (SELECT a, b FROM eu UNION ALL SELECT b, a FROM eu),
       |l0 AS (SELECT DISTINCT a AS id, a AS label FROM e),
       |${round(1, "l0")},
       |${round(2, "r1")},
       |${round(3, "r2")},
       |${round(4, "r3")}
       |SELECT id, label FROM r4 ORDER BY id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "p45_ann_pq" -> pqOracleSql,
    "p49_ann_ivfpq" -> ivfPqOracleSql,
    "p46_label_prop" -> lpaOracleSql,
    "p48_wav_audio" ->
      """WITH ev AS (SELECT event_id FROM events WHERE event_id < 200),
        |smp AS (SELECT ev.event_id,
        |    ((ev.event_id * 31 + t.i * 17) % 65536) - 32768 AS v
        |  FROM ev, (SELECT unnest(generate_series(0, 255)) AS i) t)
        |SELECT event_id,
        |  CAST(8000 + (event_id % 8) * 1000 AS BIGINT) AS sr,
        |  CAST(256 AS BIGINT) AS n_samples,
        |  CAST(44 + 512 AS BIGINT) AS n_bytes,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM smp GROUP BY event_id ORDER BY event_id""".stripMargin,
    "p66_cooccurrence" ->
      """WITH t AS (SELECT regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |p0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM t WHERE len(ws) >= 2),
        |p1 AS (SELECT ws[i] AS wa, ws[i + 1] AS wb FROM p0),
        |q0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
        |  FROM t WHERE len(ws) >= 3),
        |p2 AS (SELECT ws[i] AS wa, ws[i + 2] AS wb FROM q0),
        |u AS (SELECT wa, wb FROM p1 UNION ALL SELECT wa, wb FROM p2)
        |SELECT wa, wb, CAST(count(*) AS BIGINT) AS n_pairs FROM u
        |GROUP BY wa, wb ORDER BY wa, wb""".stripMargin,
    "p67_bm25" ->
      """WITH q(qid, qtext) AS (VALUES (0, 'spark join window'),
        |                             (1, 'slow fast table value')),
        |toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents),
        |t2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs,
        |    avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |qt AS (SELECT DISTINCT qid,
        |    unnest(regexp_split_to_array(lower(qtext), '\s+')) AS term
        |  FROM q),
        |tf AS (SELECT doc_id, term, count(*) AS n_t FROM t2
        |  WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df_t FROM t2
        |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
        |sc AS (
        |  SELECT qt.qid, tf.doc_id,
        |    round(sum(ln((CAST(n_docs AS DOUBLE) - df_t + 0.5)
        |        / (df_t + 0.5) + 1.0)
        |      * n_t * (1.2 + 1.0)
        |      / (n_t + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
        |      AS score
        |  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id)
        |  JOIN dfq USING (term) CROSS JOIN stats
        |  GROUP BY qt.qid, tf.doc_id),
        |r AS (SELECT qid, doc_id, score, row_number() OVER
        |    (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |  FROM sc)
        |SELECT qid, rank, doc_id, score FROM r
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "p68_pmi" ->
      """WITH t AS (SELECT regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |p0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM t WHERE len(ws) >= 2),
        |pr AS (SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS n_ab
        |  FROM p0 GROUP BY 1, 2),
        |ca AS (SELECT wa, sum(n_ab) AS n_a FROM pr GROUP BY wa),
        |cb AS (SELECT wb, sum(n_ab) AS n_b FROM pr GROUP BY wb),
        |tot AS (SELECT sum(n_ab) AS n_tot FROM pr)
        |SELECT wa, wb, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(ln(CAST(n_ab * n_tot AS DOUBLE) / (n_a * n_b)), 6)
        |    AS pmi
        |FROM pr JOIN ca USING (wa) JOIN cb USING (wb) CROSS JOIN tot
        |WHERE n_ab >= 5
        |ORDER BY pmi DESC, wa, wb LIMIT 20""".stripMargin,
    "p69_dsir" ->
      """WITH toks AS (SELECT doc_id, source,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE length(w) > 0),
        |lm AS (SELECT w, count(*) AS c_r,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_t
        |  FROM t2 GROUP BY w),
        |consts AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t,
        |    count(*) AS v FROM lm),
        |sc AS (SELECT doc_id, any_value(source) AS source,
        |    count(*) AS n_toks,
        |    round(sum(ln(CAST((c_t + 1) * (n_r + v) AS DOUBLE)
        |      / ((c_r + 1) * (n_t + v)))) / count(*), 6) AS score
        |  FROM t2 JOIN lm USING (w) CROSS JOIN consts
        |  GROUP BY doc_id)
        |SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks, score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "p70_bpe_merges" ->
      """WITH t0 AS (SELECT '|' || array_to_string(
        |    regexp_split_to_array(lower(text), '\s+'), '|') || '|' AS t
        |  FROM documents),
        |s0 AS (SELECT string_split(t, '|') AS ws FROM t0),
        |i0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM s0 WHERE len(ws) >= 2),
        |pc0 AS (SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS n
        |  FROM i0 WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
        |  GROUP BY 1, 2),
        |w1 AS (SELECT wa, wb, n FROM pc0 ORDER BY n DESC, wa, wb LIMIT 1),
        |t1 AS (SELECT replace(t, '|' || wa || '|' || wb || '|',
        |    '|' || wa || '+' || wb || '|') AS t FROM t0 CROSS JOIN w1),
        |s1 AS (SELECT string_split(t, '|') AS ws FROM t1),
        |i1 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM s1 WHERE len(ws) >= 2),
        |pc1 AS (SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS n
        |  FROM i1 WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
        |  GROUP BY 1, 2),
        |w2 AS (SELECT wa, wb, n FROM pc1 ORDER BY n DESC, wa, wb LIMIT 1),
        |t2 AS (SELECT replace(t, '|' || wa || '|' || wb || '|',
        |    '|' || wa || '+' || wb || '|') AS t FROM t1 CROSS JOIN w2),
        |s2 AS (SELECT string_split(t, '|') AS ws FROM t2),
        |i2 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM s2 WHERE len(ws) >= 2),
        |pc2 AS (SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS n
        |  FROM i2 WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
        |  GROUP BY 1, 2),
        |w3 AS (SELECT wa, wb, n FROM pc2 ORDER BY n DESC, wa, wb LIMIT 1)
        |SELECT 1 AS round, wa, wb, CAST(n AS BIGINT) AS n_pairs FROM w1
        |UNION ALL
        |SELECT 2, wa, wb, CAST(n AS BIGINT) FROM w2
        |UNION ALL
        |SELECT 3, wa, wb, CAST(n AS BIGINT) FROM w3
        |ORDER BY round""".stripMargin,
    "p71_mad_filter" ->
      """WITH m AS (SELECT percentile_disc(0.5)
        |    WITHIN GROUP (ORDER BY n_chars) AS med FROM documents),
        |md AS (SELECT percentile_disc(0.5)
        |    WITHIN GROUP (ORDER BY abs(n_chars - med)) AS mad,
        |    any_value(med) AS med FROM documents CROSS JOIN m)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN abs(n_chars - med) > 3 * mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(any_value(med) AS BIGINT) AS med,
        |  CAST(any_value(mad) AS BIGINT) AS mad
        |FROM documents CROSS JOIN md
        |GROUP BY source ORDER BY source""".stripMargin,
    "p72_drift" ->
      """WITH sb AS (SELECT source, n_chars // 100 AS b, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT s.source, bb.b
        |  FROM (SELECT DISTINCT source FROM sb) s
        |  CROSS JOIN (SELECT DISTINCT b FROM sb) bb),
        |f AS (SELECT g.source, g.b, coalesce(sb.c, 0) AS c
        |  FROM grid g LEFT JOIN sb ON sb.source = g.source AND sb.b = g.b),
        |cum AS (SELECT source, b,
        |    sum(c) OVER (PARTITION BY source ORDER BY b) AS cs FROM f),
        |ts AS (SELECT source, sum(c) AS ns FROM f GROUP BY source),
        |ab AS (SELECT b, sum(cb) OVER (ORDER BY b) AS ca
        |  FROM (SELECT b, sum(c) AS cb FROM f GROUP BY b)),
        |n AS (SELECT count(*) AS n_all FROM documents)
        |SELECT cum.source, CAST(any_value(ns) AS BIGINT) AS n_docs,
        |  round(CAST(max(abs(cs * n_all - ca * ns)) AS DOUBLE)
        |    / (any_value(ns) * any_value(n_all)), 6) AS drift
        |FROM cum JOIN ab USING (b) JOIN ts ON ts.source = cum.source
        |CROSS JOIN n
        |GROUP BY cum.source ORDER BY cum.source""".stripMargin,
    "p73_scc" ->
      """WITH RECURSIVE nr AS (SELECT n_nationkey AS k, n_regionkey AS r,
        |    row_number() OVER (PARTITION BY n_regionkey
        |      ORDER BY n_nationkey) AS rn,
        |    count(*) OVER (PARTITION BY n_regionkey) AS cnt FROM nation),
        |ring AS (SELECT a.k + 100 AS u, b.k + 100 AS v FROM nr a
        |  JOIN nr b ON a.r = b.r AND b.rn = (a.rn % a.cnt) + 1),
        |ce AS (SELECT c_custkey + 10000 AS u, c_nationkey + 100 AS v
        |  FROM customer WHERE c_custkey < 50),
        |e AS (SELECT u, v FROM ring WHERE u <> v
        |  UNION ALL SELECT u, v FROM ce),
        |verts AS (SELECT u AS x FROM e UNION SELECT v FROM e),
        |reach AS (
        |  SELECT x AS s, x AS v FROM verts
        |  UNION
        |  SELECT r2.s, e.v FROM reach r2 JOIN e ON r2.v = e.u),
        |mut AS (SELECT a.s AS vertex, a.v AS peer
        |  FROM reach a JOIN reach b ON a.s = b.v AND a.v = b.s),
        |sccs AS (SELECT vertex, min(peer) AS scc FROM mut GROUP BY vertex)
        |SELECT scc, CAST(count(*) AS BIGINT) AS n_members FROM sccs
        |GROUP BY scc ORDER BY scc""".stripMargin,
    "p74_preference_pairs" ->
      """WITH t AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(text, '\s+') AS ws,
        |    greatest(length(text), 1) AS n FROM documents),
        |m AS (SELECT doc_id, source,
        |    len(list_filter(ws, w -> w IN
        |      ('the','a','of','and','to','in','is')))::DOUBLE
        |      / greatest(len(ws), 1) AS swr,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / n AS pr,
        |    len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n AS dr,
        |    length(text) AS lt FROM t),
        |qd AS (SELECT doc_id, source,
        |    round((CASE WHEN lt BETWEEN 100 AND 10000 THEN 0.4
        |         WHEN lt >= 20 THEN 0.2 ELSE 0.0 END)
        |    + (CASE WHEN pr <= 0.1 THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN dr <= 0.2 THEN 0.1 ELSE 0.0 END)
        |    + (CASE WHEN swr >= 0.05 THEN 0.2 ELSE 0.0 END), 2) AS q
        |  FROM m),
        |top AS (SELECT source, doc_id AS chosen_id, q AS q_c,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY q DESC, doc_id) AS i FROM qd),
        |bot AS (SELECT source, doc_id AS rejected_id, q AS q_r,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY q ASC, doc_id) AS i FROM qd)
        |SELECT source, i AS pair_rank, chosen_id, rejected_id,
        |  round(q_c - q_r, 2) AS gap
        |FROM top JOIN bot USING (source, i)
        |WHERE i <= 3 AND round(q_c - q_r, 2) >= 0.3
        |ORDER BY source, pair_rank""".stripMargin,
    "p75_copurchase" ->
      """WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT x.p AS pa, y.p AS pb, count(*) AS n_cust
        |FROM cp x JOIN cp y ON x.c = y.c AND x.p < y.p
        |GROUP BY 1, 2
        |ORDER BY n_cust DESC, pa, pb LIMIT 20""".stripMargin,
    "p76_markov_transitions" ->
      """WITH tr AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |cnt AS (SELECT cur, nxt, count(*) AS n FROM tr
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, n,
        |  round(CAST(n AS DOUBLE) /
        |    sum(n) OVER (PARTITION BY cur), 6) AS prob
        |FROM cnt ORDER BY cur, nxt""".stripMargin,
    "p77_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |ch AS (SELECT user_id, min(day) AS cohort FROM ud
        |  GROUP BY user_id)
        |SELECT cohort, date_diff('day', cohort, day) AS day_offset,
        |  count(DISTINCT ud.user_id) AS n_users
        |FROM ud JOIN ch USING (user_id)
        |WHERE date_diff('day', cohort, day) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p65_overlap_matrix" ->
      """WITH dg AS (SELECT DISTINCT source, md5(array_to_string(
        |    (regexp_split_to_array(lower(text), '\s+'))[1:8], ' ')) AS h
        |  FROM documents)
        |SELECT x.source AS src_a, y.source AS src_b,
        |  CAST(count(DISTINCT x.h) AS BIGINT) AS n_shared
        |FROM dg x JOIN dg y ON x.h = y.h AND x.source < y.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p64_walks" ->
      """WITH ed AS (
        |  SELECT 100000 + c_custkey AS a, 1000 + c_nationkey AS b
        |  FROM customer WHERE c_custkey < 100
        |  UNION ALL SELECT 1000 + n_nationkey, n_regionkey FROM nation),
        |e2 AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |  FROM ed WHERE a <> b),
        |dd AS (SELECT a, b FROM e2 UNION ALL SELECT b, a FROM e2),
        |w0 AS (SELECT DISTINCT 100000 + c_custkey AS s,
        |    100000 + c_custkey AS v FROM customer WHERE c_custkey < 100),
        |c1 AS (SELECT s, dd.b, ('0x' || substr(md5(s || '#1#' || v ||
        |    '#' || dd.b), 1, 8))::UBIGINT AS h
        |  FROM w0 JOIN dd ON w0.v = dd.a),
        |w1 AS (SELECT s, b AS v FROM (SELECT s, b, row_number() OVER
        |    (PARTITION BY s ORDER BY h, b) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT s, dd.b, ('0x' || substr(md5(s || '#2#' || v ||
        |    '#' || dd.b), 1, 8))::UBIGINT AS h
        |  FROM w1 JOIN dd ON w1.v = dd.a),
        |w2 AS (SELECT s, b AS v FROM (SELECT s, b, row_number() OVER
        |    (PARTITION BY s ORDER BY h, b) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT s, dd.b, ('0x' || substr(md5(s || '#3#' || v ||
        |    '#' || dd.b), 1, 8))::UBIGINT AS h
        |  FROM w2 JOIN dd ON w2.v = dd.a),
        |w3 AS (SELECT s, b AS v FROM (SELECT s, b, row_number() OVER
        |    (PARTITION BY s ORDER BY h, b) AS rn FROM c3) WHERE rn = 1),
        |c4 AS (SELECT s, dd.b, ('0x' || substr(md5(s || '#4#' || v ||
        |    '#' || dd.b), 1, 8))::UBIGINT AS h
        |  FROM w3 JOIN dd ON w3.v = dd.a),
        |w4 AS (SELECT s, b AS v FROM (SELECT s, b, row_number() OVER
        |    (PARTITION BY s ORDER BY h, b) AS rn FROM c4) WHERE rn = 1)
        |SELECT s, CAST(0 AS BIGINT) AS step, v FROM w0
        |UNION ALL SELECT s, 1, v FROM w1
        |UNION ALL SELECT s, 2, v FROM w2
        |UNION ALL SELECT s, 3, v FROM w3
        |UNION ALL SELECT s, 4, v FROM w4
        |ORDER BY s, step""".stripMargin,
    "p62_profile" ->
      """SELECT '*' AS col_name, 'n_rows' AS metric,
        |  CAST(count(*) AS BIGINT) AS value FROM documents
        |UNION ALL SELECT 'text', 'n_nulls', CAST(sum(CASE WHEN text IS
        |  NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 'text', 'n_distinct',
        |  CAST(count(DISTINCT text) AS BIGINT) FROM documents
        |UNION ALL SELECT 'text', 'min_len',
        |  CAST(min(length(text)) AS BIGINT) FROM documents
        |UNION ALL SELECT 'text', 'max_len',
        |  CAST(max(length(text)) AS BIGINT) FROM documents
        |UNION ALL SELECT 'lang', 'n_distinct',
        |  CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |UNION ALL SELECT 'source', 'n_distinct',
        |  CAST(count(DISTINCT source) AS BIGINT) FROM documents
        |UNION ALL SELECT 'n_chars', 'min',
        |  CAST(min(n_chars) AS BIGINT) FROM documents
        |UNION ALL SELECT 'n_chars', 'max',
        |  CAST(max(n_chars) AS BIGINT) FROM documents
        |UNION ALL SELECT 'doc_id', 'min',
        |  CAST(min(doc_id) AS BIGINT) FROM documents
        |UNION ALL SELECT 'doc_id', 'max',
        |  CAST(max(doc_id) AS BIGINT) FROM documents
        |ORDER BY col_name, metric""".stripMargin,
    "p63_largest_remainder" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents
        |  GROUP BY source),
        |t AS (SELECT sum(n_docs) AS t FROM c),
        |q AS (SELECT source, n_docs, (n_docs * 1000) // t.t AS base,
        |    (n_docs * 1000) % t.t AS rem FROM c, t),
        |tb AS (SELECT sum(base) AS tb FROM q),
        |r AS (SELECT q.source, q.n_docs, q.base, q.rem,
        |    row_number() OVER (ORDER BY q.rem DESC, q.source) AS rk
        |  FROM q)
        |SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
        |  CAST(r.base + CASE WHEN r.rk <= 1000 - tb.tb THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM r, tb ORDER BY r.source""".stripMargin,
    "p61_repeated_spans" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |p0 AS (SELECT doc_id, ws,
        |    unnest(generate_series(0, len(ws) - 5)) AS i
        |  FROM t WHERE len(ws) >= 5),
        |g AS (SELECT doc_id, i,
        |    array_to_string(ws[i + 1:i + 5], ' ') AS gram FROM p0),
        |cf AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |rep AS (SELECT g.doc_id, g.i FROM g JOIN cf USING (gram)),
        |mk AS (SELECT doc_id, i, CASE WHEN lag(i) OVER w IS NULL
        |      OR i - lag(i) OVER w > 1 THEN 1 ELSE 0 END AS brk
        |  FROM rep WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |isl AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id
        |    ORDER BY i ROWS UNBOUNDED PRECEDING) AS sid FROM mk)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
        |  CAST(max(i) + 4 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM isl GROUP BY doc_id, sid
        |ORDER BY doc_id, span_start""".stripMargin,
    "p60_clustering_coeff" ->
      """WITH ed0 AS (
        |  SELECT 100000 + c_custkey AS u, 1000 + c_nationkey AS v
        |  FROM customer
        |  UNION ALL
        |  SELECT 100000 + c_custkey, n.n_regionkey
        |  FROM customer JOIN nation n ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 1000 + n_nationkey, n_regionkey FROM nation),
        |e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |  FROM ed0 WHERE u <> v),
        |deg AS (SELECT id, count(*) AS deg FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tcnt AS (SELECT id, count(*) AS n_tri FROM (
        |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY id)
        |SELECT deg.id, CAST(coalesce(tcnt.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(deg.deg * (deg.deg - 1) // 2 AS BIGINT) AS n_wedge
        |FROM deg LEFT JOIN tcnt USING (id)
        |WHERE deg.deg >= 2 ORDER BY id""".stripMargin,
    "p124_gram_coverage_dedup" ->
      """WITH d AS (SELECT doc_id, source,
        |    regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
        |d2 AS (SELECT * FROM d WHERE len(ws) >= 5),
        |gi AS (SELECT doc_id, source, ws,
        |    unnest(generate_series(1, len(ws) - 4)) AS g FROM d2),
        |grams AS (SELECT DISTINCT doc_id, source,
        |    ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] || ' ' || ws[g+3]
        |      || ' ' || ws[g+4] AS gram FROM gi),
        |mn AS (SELECT gram, min(doc_id) AS mdoc FROM grams GROUP BY gram),
        |cov AS (SELECT g.doc_id, g.source, count(*) AS n_grams,
        |    sum(CASE WHEN mn.mdoc < g.doc_id THEN 1 ELSE 0 END) AS n_cov
        |  FROM grams g JOIN mn ON mn.gram = g.gram GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_cov * 2 > n_grams THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CAST(sum(n_cov) AS BIGINT) AS cov_grams,
        |  CAST(sum(n_grams) AS BIGINT) AS tot_grams
        |FROM cov GROUP BY source ORDER BY source""".stripMargin,
    "p121_lm_perplexity" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |    regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
        |d2 AS (SELECT * FROM d WHERE len(ws) >= 2),
        |bgi AS (SELECT doc_id, lang, source, ws,
        |    unnest(generate_series(1, len(ws) - 1)) AS g FROM d2),
        |bg AS (SELECT doc_id, lang, source, ws[g] AS w1, ws[g+1] AS w2
        |  FROM bgi),
        |ref AS (SELECT w1, w2 FROM bg WHERE lang = 'en'),
        |cbg AS (SELECT w1, w2, count(*) AS cbg FROM ref GROUP BY 1, 2),
        |cu AS (SELECT w1, count(*) AS cu FROM ref GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM
        |  (SELECT w1 AS w FROM ref UNION ALL SELECT w2 FROM ref)),
        |sc AS (SELECT bg.doc_id, bg.source,
        |    round(avg(-ln(CAST(coalesce(cbg.cbg, 0) + 1 AS DOUBLE)
        |      / (coalesce(cu.cu, 0) + v))), 6) AS ce
        |  FROM bg LEFT JOIN cbg ON cbg.w1 = bg.w1 AND cbg.w2 = bg.w2
        |  LEFT JOIN cu ON cu.w1 = bg.w1 CROSS JOIN v GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN ce <= 3.4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CAST(round(ce * 1e6, 0) AS BIGINT)) AS BIGINT)
        |    AS ce_sum_micro,
        |  round(min(ce), 6) AS ce_min
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    "p122_seq_packing" ->
      """WITH t AS (SELECT doc_id, source, doc_id // 128 AS shard,
        |    len(regexp_split_to_array(text, '\s+'))::BIGINT AS nt
        |  FROM documents),
        |w AS (SELECT *, sum(nt) OVER (PARTITION BY source, shard
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t),
        |p AS (SELECT *, (cum - nt) // 128 AS sbin, (cum - 1) // 128 AS ebin
        |  FROM w),
        |a AS (SELECT source, count(*) AS n_docs, sum(nt) AS n_tokens,
        |    sum(CASE WHEN ebin > sbin THEN 1 ELSE 0 END) AS n_split
        |  FROM p GROUP BY 1),
        |b AS (SELECT source, shard, max(ebin) + 1 AS nseq FROM p
        |  GROUP BY 1, 2),
        |c AS (SELECT source, sum(nseq) AS n_seqs FROM b GROUP BY 1)
        |SELECT a.source AS source, n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_seqs AS BIGINT) AS n_seqs,
        |  CAST(n_split AS BIGINT) AS n_split_docs
        |FROM a JOIN c ON a.source = c.source ORDER BY source""".stripMargin,
    "p123_mix_sample" ->
      """WITH shares(l, share_pct) AS (VALUES ('en', 40), ('de', 20),
        |  ('es', 20), ('fr', 10), ('zh', 10)),
        |d AS (SELECT doc_id, lang,
        |    len(regexp_split_to_array(text, '\s+'))::BIGINT AS nt
        |  FROM documents),
        |tot AS (SELECT count(*) // 2 AS t FROM d),
        |cl AS (SELECT lang, count(*) AS nl FROM d GROUP BY 1),
        |r AS (SELECT lang, nl,
        |    least(1000000, (share_pct * t * 10000) // nl) AS rate_ppm
        |  FROM cl JOIN shares ON l = lang CROSS JOIN tot),
        |g AS (SELECT d.doc_id, d.lang, d.nt, rate_ppm, nl,
        |    ((('0x' || substr(md5(doc_id || '#mix'), 1, 8))::UBIGINT
        |      % 1000000))::BIGINT AS hv
        |  FROM d JOIN r ON r.lang = d.lang)
        |SELECT lang, CAST(max(nl) AS BIGINT) AS n_docs,
        |  CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
        |  CAST(sum(CASE WHEN hv < rate_ppm THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN hv < rate_ppm THEN nt ELSE 0 END) AS BIGINT)
        |    AS tok_kept
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin,
    "p59_exact_quantiles" ->
      """SELECT 'p50' AS label, CAST(percentile_disc(0.5)
        |    WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS value
        |  FROM documents
        |UNION ALL
        |SELECT 'p90', CAST(percentile_disc(0.9)
        |    WITHIN GROUP (ORDER BY n_chars) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'p99', CAST(percentile_disc(0.99)
        |    WITHIN GROUP (ORDER BY n_chars) AS BIGINT) FROM documents
        |ORDER BY label""".stripMargin,
    "p58_stress" ->
      """WITH RECURSIVE ed AS (
        |  SELECT 100000 + c_custkey AS a, 1000 + c_nationkey AS b
        |  FROM customer WHERE c_custkey < 200
        |  UNION ALL
        |  SELECT 100000 + c_custkey, n.n_regionkey
        |  FROM customer JOIN nation n ON c_nationkey = n_nationkey
        |  WHERE c_custkey < 200),
        |dd AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |r AS (
        |  SELECT a AS s, b AS v, 1 AS d FROM dd
        |  UNION ALL
        |  SELECT r.s, dd.b, r.d + 1 FROM r JOIN dd ON r.v = dd.a
        |  WHERE r.d < 4),
        |w AS (SELECT s, v, d, count(*) AS walks FROM r GROUP BY s, v, d),
        |mn AS (SELECT s, v, min(d) AS dist FROM w WHERE s <> v
        |  GROUP BY s, v),
        |m AS (SELECT mn.s, mn.v, mn.dist, w.walks AS sigma FROM mn
        |  JOIN w ON mn.s = w.s AND mn.v = w.v AND mn.dist = w.d)
        |SELECT m1.v AS id, CAST(sum(m1.sigma * m2.sigma) AS BIGINT)
        |    AS stress
        |FROM m m1
        |JOIN m m2 ON m1.v = m2.s
        |JOIN m m3 ON m1.s = m3.s AND m2.v = m3.v
        |  AND m1.dist + m2.dist = m3.dist
        |WHERE m1.s <> m2.v
        |GROUP BY m1.v ORDER BY id""".stripMargin,
    "p119_stress_sampled" ->
      """WITH RECURSIVE ed AS (
        |  SELECT 100000 + c_custkey AS a, 1000 + c_nationkey AS b
        |  FROM customer WHERE c_custkey < 1000
        |  UNION ALL
        |  SELECT 100000 + c_custkey, n.n_regionkey
        |  FROM customer JOIN nation n ON c_nationkey = n_nationkey
        |  WHERE c_custkey < 1000),
        |dd AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |r AS (
        |  SELECT a AS s, b AS v, 1 AS d FROM dd WHERE a % 5 = 0
        |  UNION ALL
        |  SELECT r.s, dd.b, r.d + 1 FROM r JOIN dd ON r.v = dd.a
        |  WHERE r.d < 4),
        |w AS (SELECT s, v, d, count(*) AS walks FROM r GROUP BY s, v, d),
        |mn AS (SELECT s, v, min(d) AS dist FROM w WHERE s <> v
        |  GROUP BY s, v),
        |m AS (SELECT mn.s, mn.v, mn.dist, w.walks AS sigma FROM mn
        |  JOIN w ON mn.s = w.s AND mn.v = w.v AND mn.dist = w.d)
        |SELECT m1.v AS id, CAST(sum(m1.sigma * m2.sigma) AS BIGINT)
        |    AS stress
        |FROM m m1
        |JOIN m m2 ON m1.v = m2.v
        |JOIN m m3 ON m1.s = m3.s AND m2.s = m3.v
        |  AND m1.dist + m2.dist = m3.dist
        |WHERE m1.s <> m2.s
        |GROUP BY m1.v ORDER BY id""".stripMargin,
    "p120_stress_fixed_count" ->
      """WITH RECURSIVE ed AS (
        |  SELECT 200000 + s_suppkey AS a, 1000 + s_nationkey AS b
        |  FROM supplier
        |  UNION ALL SELECT 1000 + n_nationkey, n_regionkey FROM nation),
        |dd AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |vc AS (SELECT greatest(1, count(DISTINCT a) // 16) AS md FROM dd),
        |r AS (
        |  SELECT a AS s, b AS v, 1 AS d FROM dd
        |  WHERE a % (SELECT md FROM vc) = 0
        |  UNION ALL
        |  SELECT r.s, dd.b, r.d + 1 FROM r JOIN dd ON r.v = dd.a
        |  WHERE r.d < 4),
        |w AS (SELECT s, v, d, count(*) AS walks FROM r GROUP BY s, v, d),
        |mn AS (SELECT s, v, min(d) AS dist FROM w WHERE s <> v
        |  GROUP BY s, v),
        |m AS (SELECT mn.s, mn.v, mn.dist, w.walks AS sigma FROM mn
        |  JOIN w ON mn.s = w.s AND mn.v = w.v AND mn.dist = w.d)
        |SELECT m1.v AS id, CAST(sum(m1.sigma * m2.sigma) AS BIGINT)
        |    AS stress
        |FROM m m1
        |JOIN m m2 ON m1.v = m2.v
        |JOIN m m3 ON m1.s = m3.s AND m2.s = m3.v
        |  AND m1.dist + m2.dist = m3.dist
        |WHERE m1.s <> m2.s
        |GROUP BY m1.v ORDER BY id""".stripMargin,
    "p57_closeness" ->
      """WITH RECURSIVE ed AS (
        |  SELECT 200000 + s_suppkey AS a, 1000 + s_nationkey AS b
        |  FROM supplier
        |  UNION ALL SELECT 1000 + n_nationkey, n_regionkey FROM nation),
        |dd AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |r AS (
        |  SELECT a AS s, b AS v, 1 AS d FROM dd
        |  UNION
        |  SELECT r.s, dd.b, r.d + 1 FROM r JOIN dd ON r.v = dd.a
        |  WHERE r.d < 4),
        |m AS (SELECT s, v, min(d) AS dist FROM r WHERE s <> v GROUP BY s, v)
        |SELECT s AS id, CAST(count(*) AS BIGINT) AS n_reach,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist
        |FROM m GROUP BY s ORDER BY id""".stripMargin,
    "p117_closeness_sampled" ->
      """WITH RECURSIVE ed AS (
        |  SELECT 200000 + s_suppkey AS a, 1000 + s_nationkey AS b
        |  FROM supplier
        |  UNION ALL SELECT 1000 + n_nationkey, n_regionkey FROM nation),
        |dd AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |r AS (
        |  SELECT a AS s, b AS v, 1 AS d FROM dd WHERE a % 17 = 0
        |  UNION
        |  SELECT r.s, dd.b, r.d + 1 FROM r JOIN dd ON r.v = dd.a
        |  WHERE r.d < 4),
        |m AS (SELECT s, v, min(d) AS dist FROM r WHERE s <> v GROUP BY s, v)
        |SELECT v AS id, CAST(count(*) AS BIGINT) AS n_src,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist
        |FROM m GROUP BY v ORDER BY id""".stripMargin,
    "p118_closeness_fixed_count" ->
      """WITH RECURSIVE ed AS (
        |  SELECT 200000 + s_suppkey AS a, 1000 + s_nationkey AS b
        |  FROM supplier
        |  UNION ALL SELECT 1000 + n_nationkey, n_regionkey FROM nation),
        |dd AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
        |vc AS (SELECT greatest(1, count(DISTINCT a) // 16) AS md FROM dd),
        |r AS (
        |  SELECT a AS s, b AS v, 1 AS d FROM dd
        |  WHERE a % (SELECT md FROM vc) = 0
        |  UNION
        |  SELECT r.s, dd.b, r.d + 1 FROM r JOIN dd ON r.v = dd.a
        |  WHERE r.d < 4),
        |m AS (SELECT s, v, min(d) AS dist FROM r WHERE s <> v GROUP BY s, v)
        |SELECT v AS id, CAST(count(*) AS BIGINT) AS n_src,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist
        |FROM m GROUP BY v ORDER BY id""".stripMargin,
    "p56_span_corruption" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents WHERE doc_id < 200),
        |t0 AS (SELECT doc_id, len(ws) AS n_tokens, ws,
        |    unnest(generate_series(0, len(ws) - 1)) AS i FROM d),
        |t AS (SELECT doc_id, n_tokens, i, ws[i + 1] AS tok,
        |    i % 15 AS m, i // 15 AS k FROM t0)
        |SELECT doc_id, CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE m < 3) AS BIGINT) AS n_masked,
        |  string_agg(CASE WHEN m = 0 THEN '<extra_id_' || k || '>'
        |      WHEN m >= 3 THEN tok END, ' ' ORDER BY i)
        |    FILTER (WHERE m = 0 OR m >= 3) AS input_text,
        |  string_agg(CASE WHEN m = 0 THEN '<extra_id_' || k || '> ' || tok
        |      ELSE tok END, ' ' ORDER BY i)
        |    FILTER (WHERE m < 3) AS target_text
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p55_hll_registers" ->
      """WITH h AS (SELECT CAST(('0x' || substr(md5(c_name || '#hll'),
        |    1, 8))::UBIGINT AS BIGINT) AS hv FROM customer),
        |br AS (SELECT hv % 64 AS bucket, hv // 64 AS rem FROM h),
        |rk AS (SELECT bucket, CASE WHEN rem = 0 THEN 27
        |    ELSE 27 - length(bin(rem)) END AS rank FROM br)
        |SELECT bucket, CAST(max(rank) AS BIGINT) AS maxrank
        |FROM rk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "p53_heavy_hitters" ->
      """WITH t2 AS (SELECT w FROM (SELECT unnest(
        |    regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents) WHERE length(w) > 0),
        |rr AS (SELECT unnest(generate_series(0, 3)) AS r),
        |bk AS (SELECT r, ('0x' || substr(md5(w || '#cms' ||
        |    CAST(r AS VARCHAR)), 1, 8))::UBIGINT % 64 AS b FROM t2, rr),
        |sk AS (SELECT r, b, count(*) AS cnt FROM bk GROUP BY r, b),
        |keys AS (SELECT DISTINCT w FROM t2),
        |kb AS (SELECT w, r, ('0x' || substr(md5(w || '#cms' ||
        |    CAST(r AS VARCHAR)), 1, 8))::UBIGINT % 64 AS b FROM keys, rr),
        |est AS (SELECT w, min(cnt) AS est FROM kb JOIN sk USING (r, b)
        |  GROUP BY w),
        |ex AS (SELECT w, count(*) AS n_exact FROM t2 GROUP BY w)
        |SELECT w AS token, CAST(est.est AS BIGINT) AS est,
        |  CAST(ex.n_exact AS BIGINT) AS n_exact
        |FROM est JOIN ex USING (w) WHERE est.est >= 300
        |ORDER BY token""".stripMargin,
    "p54_bloom_filter" ->
      """WITH build AS (SELECT DISTINCT c_name AS k FROM customer
        |  WHERE c_custkey % 3 <> 0),
        |probe AS (SELECT c_name AS k FROM customer
        |  UNION SELECT s_name FROM supplier),
        |rr AS (SELECT unnest(generate_series(0, 2)) AS r),
        |bits AS (SELECT DISTINCT ('0x' || substr(md5(k || '#bf' ||
        |    CAST(r AS VARCHAR)), 1, 8))::UBIGINT % 4096 AS bit
        |  FROM build, rr),
        |pb AS (SELECT k, r, ('0x' || substr(md5(k || '#bf' ||
        |    CAST(r AS VARCHAR)), 1, 8))::UBIGINT % 4096 AS pos
        |  FROM probe, rr),
        |hit AS (SELECT k, count(DISTINCT r) AS nm FROM pb
        |  JOIN bits ON pb.pos = bits.bit GROUP BY k)
        |SELECT k AS name, CAST(CASE WHEN k IN (SELECT k FROM build)
        |  THEN 1 ELSE 0 END AS BIGINT) AS in_build
        |FROM hit WHERE nm = 3 ORDER BY name""".stripMargin,
    "p52_hits" ->
      """WITH ed AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT 100000 + c_custkey AS src, 1000 + c_nationkey AS dst
        |    FROM customer
        |    UNION ALL
        |    SELECT 1000 + n_nationkey, n_regionkey FROM nation)),
        |h0 AS (SELECT DISTINCT src AS id, 1 AS s FROM ed),
        |a1 AS (SELECT ed.dst AS id, sum(h0.s) AS s
        |  FROM ed JOIN h0 ON ed.src = h0.id GROUP BY ed.dst),
        |h1 AS (SELECT ed.src AS id, sum(a1.s) AS s
        |  FROM ed JOIN a1 ON ed.dst = a1.id GROUP BY ed.src),
        |a2 AS (SELECT ed.dst AS id, sum(h1.s) AS s
        |  FROM ed JOIN h1 ON ed.src = h1.id GROUP BY ed.dst),
        |h2 AS (SELECT ed.src AS id, sum(a2.s) AS s
        |  FROM ed JOIN a2 ON ed.dst = a2.id GROUP BY ed.src),
        |v AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed)
        |SELECT v.id, CAST(coalesce(h2.s, 0) AS BIGINT) AS hub,
        |  CAST(coalesce(a2.s, 0) AS BIGINT) AS auth
        |FROM v LEFT JOIN h2 ON v.id = h2.id LEFT JOIN a2 ON v.id = a2.id
        |ORDER BY v.id""".stripMargin,
    "p51_y4m_video" ->
      """WITH ev AS (SELECT event_id, 4 + event_id % 3 AS w,
        |    2 + event_id % 4 AS h, 2 + event_id % 5 AS nf
        |  FROM events WHERE event_id < 200),
        |fr AS (SELECT ev.event_id, ev.w, ev.h, f.f FROM ev
        |  JOIN (SELECT unnest(generate_series(0, 5)) AS f) f
        |    ON f.f < ev.nf AND f.f % 2 = 0),
        |px AS (SELECT fr.event_id, fr.w, fr.h, fr.f, t.i
        |  FROM fr JOIN (SELECT unnest(generate_series(0, 29)) AS i) t
        |    ON t.i < fr.w * fr.h),
        |ch AS (SELECT event_id, w, h, f, i,
        |    (event_id*3 + f*7 + i*5) % 256 AS y,
        |    (event_id*5 + f*11 + i*3) % 256 AS u,
        |    (event_id*13 + f*2 + i*7) % 256 AS v
        |  FROM px)
        |SELECT event_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum(y) AS BIGINT) AS sum_y, CAST(sum(u) AS BIGINT) AS sum_u,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum((i+1)*(y + 2*u + 3*v)) AS BIGINT) AS wsum
        |FROM ch GROUP BY event_id, f, w, h
        |ORDER BY event_id, frame_idx""".stripMargin,
    "p50_bmp_image" ->
      """WITH d AS (SELECT doc_id, 5 + doc_id % 6 AS w, 3 + doc_id % 5 AS h
        |  FROM documents WHERE doc_id < 200),
        |px AS (SELECT d.doc_id, d.w, d.h, t.i AS idx
        |  FROM d JOIN (SELECT unnest(generate_series(0, 69)) AS i) t
        |    ON t.i < d.w * d.h),
        |ch AS (SELECT doc_id, w, h, idx,
        |    (doc_id*7 + idx*3) % 256 AS b,
        |    (doc_id*11 + idx*5) % 256 AS g,
        |    (doc_id*17 + idx*2) % 256 AS r
        |  FROM px)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(54 + ((w*3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
        |  CAST(sum(b) AS BIGINT) AS sum_b, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum((idx+1)*(b + 2*g + 3*r)) AS BIGINT) AS wsum
        |FROM ch GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    "p47_zipf_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |w2 AS (SELECT doc_id, w FROM toks WHERE length(w) > 0),
        |lm AS (SELECT w, count(*) AS wc FROM w2 GROUP BY w),
        |rk AS (SELECT w, wc,
        |  CAST(row_number() OVER (ORDER BY wc DESC, w) AS BIGINT) AS r
        |  FROM lm)
        |SELECT doc_id, count(*) AS n_words,
        |  round(CAST(sum(r) AS DOUBLE) / count(*), 6) AS mean_rank,
        |  CAST(sum(CASE WHEN wc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  max(r) AS max_rank
        |FROM w2 JOIN rk USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p42_ann_lsh_multi" -> lshMultiOracleSql,
    "p43_neardup_lsh" -> lshNearDupOracleSql,
    "p44_kcore" ->
      """SELECT CAST(n1.n_nationkey AS BIGINT) AS nationkey,
        |  CAST(count(*) AS BIGINT) AS deg
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey
        |  AND n1.n_nationkey <> n2.n_nationkey
        |GROUP BY 1 ORDER BY nationkey""".stripMargin,
    "p01_dedup_exact" ->
      """SELECT source, count(*) AS n_kept FROM (
        |  SELECT source, row_number() OVER
        |    (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 GROUP BY source ORDER BY source""".stripMargin,
    "p02_dedup_jaccard" -> jaccardPairsSql,
    "p03_dedup_minhash_lsh" -> jaccardPairsSql,
    "p78_ppjoin" -> jaccardPairsSql,
    "p88_centroids" ->
      """WITH e AS (SELECT vec_id, label, embedding AS em
        |  FROM embeddings WHERE vec_id < 300),
        |ix AS (SELECT vec_id, label, em,
        |    unnest(generate_series(1, len(em))) AS i FROM e),
        |d AS (SELECT vec_id, label, i - 1 AS dim,
        |    CAST(em[i] AS DOUBLE) AS v FROM ix),
        |cent AS (SELECT label, dim, avg(v) AS c FROM d GROUP BY 1, 2),
        |p AS (SELECT vec_id, d.label, sum(v * c) AS dot,
        |    sum(v * v) AS n2, sum(c * c) AS c2
        |  FROM d JOIN cent ON cent.label = d.label AND cent.dim = d.dim
        |  GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(dot / sqrt(n2 * c2)), 6) AS mean_cos
        |FROM p GROUP BY label ORDER BY label""".stripMargin,
    "p86_tokenizer_apply" ->
      """WITH t0 AS (SELECT '|' || array_to_string(
        |    regexp_split_to_array(lower(text), '\s+'), '|') || '|' AS t
        |  FROM documents WHERE doc_id < 100),
        |s0 AS (SELECT string_split(t, '|') AS ws FROM t0),
        |i0 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM s0 WHERE len(ws) >= 2),
        |pc0 AS (SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS n
        |  FROM i0 WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
        |  GROUP BY 1, 2),
        |w1 AS (SELECT wa, wb FROM pc0 ORDER BY n DESC, wa, wb LIMIT 1),
        |t1 AS (SELECT replace(t, '|' || wa || '|' || wb || '|',
        |    '|' || wa || '+' || wb || '|') AS t FROM t0 CROSS JOIN w1),
        |s1 AS (SELECT string_split(t, '|') AS ws FROM t1),
        |i1 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM s1 WHERE len(ws) >= 2),
        |pc1 AS (SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS n
        |  FROM i1 WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
        |  GROUP BY 1, 2),
        |w2 AS (SELECT wa, wb FROM pc1 ORDER BY n DESC, wa, wb LIMIT 1),
        |t2 AS (SELECT replace(t, '|' || wa || '|' || wb || '|',
        |    '|' || wa || '+' || wb || '|') AS t FROM t1 CROSS JOIN w2),
        |s2 AS (SELECT string_split(t, '|') AS ws FROM t2),
        |i2 AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM s2 WHERE len(ws) >= 2),
        |pc2 AS (SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS n
        |  FROM i2 WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
        |  GROUP BY 1, 2),
        |w3 AS (SELECT wa, wb FROM pc2 ORDER BY n DESC, wa, wb LIMIT 1),
        |full0 AS (SELECT source, '|' || array_to_string(
        |    regexp_split_to_array(lower(text), '\s+'), '|') || '|' AS t
        |  FROM documents),
        |f1 AS (SELECT source, replace(t, '|' || wa || '|' || wb || '|',
        |    '|' || wa || '+' || wb || '|') AS t FROM full0 CROSS JOIN w1),
        |f2 AS (SELECT source, replace(t, '|' || wa || '|' || wb || '|',
        |    '|' || wa || '+' || wb || '|') AS t FROM f1 CROSS JOIN w2),
        |f3 AS (SELECT source, replace(t, '|' || wa || '|' || wb || '|',
        |    '|' || wa || '+' || wb || '|') AS t FROM f2 CROSS JOIN w3),
        |c AS (SELECT source, len(string_split(t, '|')) - 2 AS n_toks,
        |    len(list_filter(string_split(t, '|'),
        |      x -> contains(x, '+'))) AS n_merged
        |  FROM f3)
        |SELECT source, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_merged) AS BIGINT) AS n_merged_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "p87_containment" ->
      """WITH w AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS ws
        |  FROM documents WHERE doc_id < 200)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  round(len(list_intersect(a.ws, b.ws))::DOUBLE / len(a.ws), 6)
        |    AS containment
        |FROM w a JOIN w b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE / len(a.ws) >= 0.98
        |  AND len(a.ws) < len(b.ws)
        |ORDER BY da, db""".stripMargin,
    "p83_ivm" ->
      """WITH fs AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey < 10000 AND o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT * FROM orders
        |  WHERE o_orderkey >= 10000 AND o_orderkey < 20000)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,4))), 2)
        |    AS DOUBLE) AS total
        |FROM fs GROUP BY 1 HAVING count(*) > 0
        |ORDER BY 1""".stripMargin,
    "p84_scd2" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id < 50),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |      AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS island FROM m),
        |g AS (SELECT user_id, island, any_value(event_type) AS state,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM i GROUP BY user_id, island),
        |f AS (SELECT *, lead(valid_from) OVER (PARTITION BY user_id
        |    ORDER BY island) AS valid_to FROM g)
        |SELECT user_id, CAST(island AS BIGINT) AS island, state,
        |  epoch_us(valid_from) AS from_us, epoch_us(valid_to) AS to_us,
        |  n_events
        |FROM f ORDER BY user_id, island""".stripMargin,
    "p85_entropy" ->
      """WITH toks AS (SELECT source,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |t2 AS (SELECT source, w FROM toks WHERE length(w) > 0),
        |c AS (SELECT source, w, count(*) AS c FROM t2 GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct,
        |  round(ln(CAST(sum(c) AS DOUBLE))
        |    - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "p82_fuzzy_join" ->
      """WITH p AS (SELECT p_partkey AS k, p_name AS n FROM part
        |  WHERE p_partkey < 400)
        |SELECT a.k AS da, b.k AS db,
        |  CAST(levenshtein(a.n, b.n) AS INT) AS dist
        |FROM p a JOIN p b ON a.k < b.k
        |WHERE levenshtein(a.n, b.n) <= 2
        |ORDER BY da, db""".stripMargin,
    "p81_leakage_split" ->
      """WITH RECURSIVE
        |w AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS ws
        |  FROM documents WHERE doc_id < 200),
        |e AS (SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM w a JOIN w b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9),
        |sym AS (SELECT da AS id, db AS nb FROM e
        |        UNION ALL SELECT db, da FROM e),
        |reach(id, r) AS (
        |  SELECT DISTINCT id, id FROM sym
        |  UNION
        |  SELECT s.id, reach.r FROM sym s JOIN reach ON s.nb = reach.id),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
        |lab AS (SELECT d.doc_id, d.source,
        |    coalesce(c.comp, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |  WHERE d.doc_id < 200),
        |sp AS (SELECT source, doc_id, cluster,
        |    CASE WHEN ('0x' || substr(md5('split#' || cluster), 1, 8))
        |      ::UBIGINT % 10 < 8 THEN 'train' ELSE 'eval' END AS split
        |  FROM lab)
        |SELECT source, split, count(*) AS n_docs,
        |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters
        |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p79_water_filling" ->
      """WITH tok AS (SELECT source, sum(n_chars) AS n FROM documents
        |  GROUP BY source),
        |c AS (SELECT count(*) AS cnt, max(n) AS nmax,
        |  (sum(n) * 3) // 5 AS bud FROM tok),
        |b AS (SELECT source, n,
        |    row_number() OVER (ORDER BY n, source) AS i,
        |    sum(n) OVER (ORDER BY n, source) AS pre FROM tok),
        |o AS (SELECT b.*, cnt, nmax, bud,
        |    (pre + (cnt - i) * n <= bud) AS ok FROM b CROSS JOIN c),
        |sel AS (SELECT coalesce(max(CASE WHEN ok THEN i END), 0) AS jmax,
        |    coalesce(max(CASE WHEN ok THEN pre END), 0) AS prefix FROM o),
        |cp AS (SELECT o.*, CASE WHEN jmax = cnt THEN nmax
        |    ELSE (bud - prefix) // (cnt - jmax) END AS cap
        |  FROM o CROSS JOIN sel),
        |al AS (SELECT cp.*, least(n, cap) AS alloc0 FROM cp),
        |t2 AS (SELECT sum(alloc0) AS base_sum FROM al),
        |fin AS (SELECT al.*, bud - base_sum AS leftover,
        |    row_number() OVER (ORDER BY n DESC, source) AS r
        |  FROM al CROSS JOIN t2)
        |SELECT source, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(alloc0 + (CASE WHEN n > cap AND r <= leftover
        |    THEN 1 ELSE 0 END) AS BIGINT) AS alloc
        |FROM fin ORDER BY source""".stripMargin,
    "p80_bigram_surprise" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |p0 AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, len(ws) - 1)) AS i
        |  FROM t WHERE len(ws) >= 2),
        |bg AS (SELECT doc_id, ws[i] AS wa, ws[i + 1] AS wb FROM p0),
        |c2 AS (SELECT wa, wb, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |uni AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |u2 AS (SELECT w FROM uni WHERE length(w) > 0),
        |c1 AS (SELECT w AS wa, count(*) AS c1 FROM u2 GROUP BY w),
        |v AS (SELECT count(DISTINCT w) AS v FROM u2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(ln(CAST(c1 + v AS DOUBLE) / (c2 + 1))) / count(*), 6)
        |    AS surprise
        |FROM bg JOIN c2 USING (wa, wb) JOIN c1 USING (wa) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p04_dedup_simhash" ->
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
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY da, db""".stripMargin,
    "p07_ann_lsh" -> lshOracleSql,
    "p89_jl_projection" -> jlOracleSql,
    "p104_kmeans" -> (kmeansOracleCtes +
      """,
        |sz AS (SELECT cid, count(*) AS n_members FROM aC GROUP BY cid)
        |SELECT cC.cid, n_members, round(c, 6) AS c0
        |FROM cC JOIN sz USING (cid) WHERE dim = 0
        |ORDER BY cid""".stripMargin),

    "p111_semdedup" -> (kmeansOracleCtes +
      """,
        |mem AS (SELECT e.vec_id, cid, em FROM e JOIN aC USING (vec_id)),
        |dr AS (SELECT DISTINCT b.cid, b.vec_id
        |  FROM mem a JOIN mem b
        |    ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(
        |    a.em::DOUBLE[], b.em::DOUBLE[]), 6) >= 0.35)
        |SELECT m.cid, count(*) AS n_members,
        |  CAST(sum(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept
        |FROM mem m LEFT JOIN dr
        |  ON dr.cid = m.cid AND dr.vec_id = m.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "p112_shared_ngram_spans" ->
      """WITH ws AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS a FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(a, i, i + 12), ' ') AS gram
        |  FROM ws, unnest(generate_series(1, len(a) - 12)) AS t(i)
        |  WHERE len(a) >= 13),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, n_shared FROM p WHERE n_shared >= 5
        |ORDER BY n_shared DESC, da, db LIMIT 30""".stripMargin,

    "p113_knn_graph" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings
        |  WHERE vec_id < 300),
        |scored AS (
        |  SELECT q.vec_id AS qid, q.label AS qlab, c.vec_id AS cid,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) AS cos
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id),
        |knn AS (SELECT qid, qlab, cid, cos FROM (
        |    SELECT qid, qlab, cid, cos, row_number() OVER
        |      (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored)
        |  WHERE rk <= 3),
        |recip AS (SELECT a.qid, a.cid FROM knn a JOIN knn b
        |  ON a.qid = b.cid AND a.cid = b.qid)
        |SELECT qlab AS label, count(*) AS n_edges,
        |  CAST(sum(CASE WHEN r.qid IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_reciprocal,
        |  round(CAST(sum(CAST(cos AS DECIMAL(10,6))) AS DOUBLE)
        |    / count(*), 6) AS mean_cos
        |FROM knn k LEFT JOIN recip r
        |  ON k.qid = r.qid AND k.cid = r.cid
        |GROUP BY qlab ORDER BY qlab""".stripMargin,

    "p105_auc" ->
      """WITH sc AS (SELECT source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    floor(n_chars / 50) AS score FROM documents),
        |h AS (SELECT source, score, sum(pos) AS np, sum(1 - pos) AS nn
        |  FROM sc GROUP BY 1, 2),
        |c AS (SELECT source, score, np, nn,
        |    coalesce(sum(nn) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS nn_below
        |  FROM h)
        |SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(np) * sum(nn) = 0 THEN NULL
        |    ELSE round(sum(np * 2 * nn_below + np * nn)
        |      / (2.0 * sum(np) * sum(nn)), 6)
        |  END AS auc
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "p106_bitext_margin" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
        |  FROM embeddings WHERE vec_id < 200),
        |a AS (SELECT vec_id AS aid, v FROM e WHERE label % 2 = 0),
        |b AS (SELECT vec_id AS bid, v FROM e WHERE label % 2 = 1),
        |pr AS (SELECT aid, bid,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |  FROM a, b),
        |ka AS (SELECT aid, sum(CAST(cos AS DECIMAL(10,6))) AS ma FROM (
        |    SELECT aid, cos, row_number() OVER (PARTITION BY aid
        |      ORDER BY cos DESC, bid) AS rk FROM pr)
        |  WHERE rk <= 4 GROUP BY aid),
        |kb AS (SELECT bid, sum(CAST(cos AS DECIMAL(10,6))) AS mb FROM (
        |    SELECT bid, cos, row_number() OVER (PARTITION BY bid
        |      ORDER BY cos DESC, aid) AS rk FROM pr)
        |  WHERE rk <= 4 GROUP BY bid),
        |sc AS (SELECT pr.aid, pr.bid,
        |    round(cos * 8.0 / CAST(ma + mb AS DOUBLE), 6) AS margin
        |  FROM pr JOIN ka USING (aid) JOIN kb USING (bid)),
        |rk AS (SELECT aid, bid, margin, row_number() OVER
        |    (PARTITION BY aid ORDER BY margin DESC, bid) AS rk FROM sc)
        |SELECT aid, bid, margin FROM rk WHERE rk = 1 AND margin >= 1.05
        |ORDER BY aid""".stripMargin,

    "p107_adamic_adar" ->
      """WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |deg AS (SELECT p, count(*) AS dp FROM cp GROUP BY p),
        |w AS (SELECT x.c AS ca, y.c AS cb, x.p AS p
        |  FROM cp x JOIN cp y ON x.p = y.p AND x.c < y.c),
        |aa AS (SELECT ca, cb,
        |    round(CAST(sum(CAST(round(round(1.0 / ln(dp), 6) * 1000000, 0)
        |      AS BIGINT)) AS DOUBLE) / 1000000, 6) AS aa,
        |    count(*) AS n_common
        |  FROM w JOIN deg USING (p) GROUP BY ca, cb)
        |SELECT ca, cb, aa, n_common FROM aa
        |ORDER BY aa DESC, ca, cb LIMIT 25""".stripMargin,

    "p114_aa_degree_capped" ->
      """WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |deg AS (SELECT p, count(*) AS dp FROM cp GROUP BY p
        |  HAVING count(*) BETWEEN 2 AND 28),
        |cpc AS (SELECT cp.c, cp.p FROM cp JOIN deg USING (p)),
        |w AS (SELECT x.c AS ca, y.c AS cb, x.p AS p
        |  FROM cpc x JOIN cpc y ON x.p = y.p AND x.c < y.c),
        |aa AS (SELECT ca, cb,
        |    round(CAST(sum(CAST(round(round(1.0 / ln(dp), 6) * 1000000, 0)
        |      AS BIGINT)) AS DOUBLE) / 1000000, 6) AS aa,
        |    count(*) AS n_common
        |  FROM w JOIN deg USING (p) GROUP BY ca, cb)
        |SELECT ca, cb, aa, n_common FROM aa
        |ORDER BY aa DESC, ca, cb LIMIT 25""".stripMargin,
    "p116_jsonpath_curation" ->
      """SELECT source, lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE (lang = 'en' OR lang = 'de')
        |  AND n_chars >= 120 AND n_chars < 400
        |  AND source LIKE 'src%'
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    "p115_repetition_filter" ->
      """WITH words AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |base AS (SELECT doc_id, source, len(w) AS nw,
        |    len(list_distinct(w)) AS nd, w FROM words),
        |grams AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        |  FROM base, unnest(generate_series(1, nw - 1)) AS t(i)
        |  WHERE nw >= 2),
        |gmax AS (SELECT doc_id, max(c) AS m2 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
        |  GROUP BY 1),
        |scored AS (SELECT b.doc_id, b.source, b.nw, b.nd,
        |    coalesce(gm.m2, 0) AS m2,
        |    round((b.nw - b.nd) * 1.0 / b.nw, 6) AS dup_frac,
        |    round(2.0 * coalesce(gm.m2, 0) / b.nw, 6) AS top2_frac
        |  FROM base b LEFT JOIN gmax gm USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dup_frac <= 0.55 AND top2_frac <= 0.12
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(nw) AS BIGINT) AS sum_words,
        |  CAST(sum(nw - nd) AS BIGINT) AS sum_dup,
        |  round(CAST(sum(nw - nd) AS DOUBLE) / sum(nw), 6) AS dup_rate
        |FROM scored GROUP BY source ORDER BY source""".stripMargin,

    "p110_metapath_walk" ->
      """WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cpi AS (SELECT c AS cc, p,
        |  row_number() OVER (PARTITION BY c ORDER BY p) - 1 AS aidx FROM cp),
        |cdeg AS (SELECT c, count(*) AS cd FROM cp GROUP BY c),
        |pci AS (SELECT p AS pp, c,
        |  row_number() OVER (PARTITION BY p ORDER BY c) - 1 AS aidx FROM cp),
        |pdeg AS (SELECT p, count(*) AS pd FROM cp GROUP BY p),
        |w0 AS (SELECT c AS walk, c AS cur FROM cdeg WHERE c <= 50),
        |s1 AS (SELECT w0.walk, cpi.p AS cur FROM w0
        |  JOIN cdeg ON w0.cur = cdeg.c
        |  JOIN cpi ON cpi.cc = w0.cur
        |    AND cpi.aidx = (w0.walk * 1103515245 + 0) % cd),
        |s2 AS (SELECT s1.walk, pci.c AS cur FROM s1
        |  JOIN pdeg ON s1.cur = pdeg.p
        |  JOIN pci ON pci.pp = s1.cur
        |    AND pci.aidx = (s1.walk * 1103515245 + 12345) % pd),
        |s3 AS (SELECT s2.walk, cpi.p AS cur FROM s2
        |  JOIN cdeg ON s2.cur = cdeg.c
        |  JOIN cpi ON cpi.cc = s2.cur
        |    AND cpi.aidx = (s2.walk * 1103515245 + 24690) % cd),
        |s4 AS (SELECT s3.walk, pci.c AS cur FROM s3
        |  JOIN pdeg ON s3.cur = pdeg.p
        |  JOIN pci ON pci.pp = s3.cur
        |    AND pci.aidx = (s3.walk * 1103515245 + 37035) % pd)
        |SELECT walk, 1 AS step, 'part' AS kind, cur AS node FROM s1
        |UNION ALL SELECT walk, 2, 'cust', cur FROM s2
        |UNION ALL SELECT walk, 3, 'part', cur FROM s3
        |UNION ALL SELECT walk, 4, 'cust', cur FROM s4
        |ORDER BY walk, step""".stripMargin,

    "p103_nb_langid" ->
      """WITH toks AS (SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |t2 AS (SELECT doc_id, lang, w FROM toks WHERE length(w) > 0),
        |langs AS (SELECT lang AS l, count(*) AS ndl FROM documents
        |  GROUP BY 1),
        |tot AS (SELECT count(*) AS nall FROM documents),
        |cw AS (SELECT lang AS l, w, count(*) AS cw FROM t2 GROUP BY 1, 2),
        |ct AS (SELECT l, sum(cw) AS ctot FROM cw GROUP BY l),
        |v AS (SELECT count(DISTINCT w) AS v FROM t2),
        |g AS (SELECT t2.doc_id, t2.lang, langs.l, t2.w
        |  FROM t2 CROSS JOIN langs),
        |sc AS (SELECT g.doc_id, g.lang, g.l,
        |    sum(ln(CAST(coalesce(cw.cw, 0) + 1 AS DOUBLE) / (ctot + v)))
        |      AS ll
        |  FROM g LEFT JOIN cw ON cw.l = g.l AND cw.w = g.w
        |  JOIN ct ON ct.l = g.l CROSS JOIN v
        |  GROUP BY 1, 2, 3),
        |ps AS (SELECT doc_id, lang, sc.l,
        |    round(ll + ln(CAST(ndl AS DOUBLE) / nall), 6) AS score
        |  FROM sc JOIN langs ON langs.l = sc.l CROSS JOIN tot),
        |pr AS (SELECT doc_id, lang, l, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, l) AS rn FROM ps)
        |SELECT lang AS true_lang, l AS pred_lang, count(*) AS n
        |FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p101_fertility" ->
      """WITH t AS (SELECT lang,
        |    len(regexp_split_to_array(text, '\s+')) AS nw,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS ns
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(ns) AS BIGINT) AS n_subwords,
        |  round(CAST(sum(ns) AS DOUBLE) / sum(nw), 6) AS fertility
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "p102_corr" ->
      """WITH t0 AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(text, '\s+') AS ws,
        |    greatest(length(text), 1) AS nn, n_chars FROM documents),
        |m AS (SELECT doc_id, source, n_chars,
        |    len(list_filter(ws, w -> w IN
        |      ('the','a','of','and','to','in','is')))::DOUBLE
        |      / greatest(len(ws), 1) AS swr,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / nn
        |      AS pr,
        |    len(regexp_extract_all(text, '[0-9]'))::DOUBLE / nn AS dr,
        |    length(text) AS lt FROM t0),
        |q AS (SELECT source, n_chars AS x,
        |    CAST(round(round((CASE WHEN lt BETWEEN 100 AND 10000 THEN 0.4
        |         WHEN lt >= 20 THEN 0.2 ELSE 0.0 END)
        |    + (CASE WHEN pr <= 0.1 THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN dr <= 0.2 THEN 0.1 ELSE 0.0 END)
        |    + (CASE WHEN swr >= 0.05 THEN 0.2 ELSE 0.0 END), 2) * 100, 0)
        |      AS BIGINT) AS y
        |  FROM m),
        |a AS (SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM q GROUP BY source)
        |SELECT source, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
        |FROM a ORDER BY source""".stripMargin,
    "p99_normalize" ->
      """WITH n AS (SELECT source, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[\x00-\x1f]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nt <> text THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(sum(length(text) - length(nt)) AS BIGINT)
        |    AS chars_removed
        |FROM n GROUP BY source ORDER BY source""".stripMargin,
    "p100_ref_integrity" ->
      """SELECT 'customers_no_orders' AS probe,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        |    AS n_rows
        |UNION ALL
        |SELECT 'lineitem_orphans',
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |UNION ALL
        |SELECT 'orders_orphans',
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |ORDER BY probe""".stripMargin,
    "p96_sim_histogram" ->
      """WITH w AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS ws
        |  FROM documents WHERE doc_id < 200),
        |j AS (SELECT floor((len(list_intersect(a.ws, b.ws))::DOUBLE
        |    / len(list_distinct(list_concat(a.ws, b.ws)))) * 10)
        |    AS bucket
        |  FROM w a JOIN w b ON a.doc_id < b.doc_id)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_pairs
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "p97_contam_sweep" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |g4 AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws) - 3),
        |    i -> array_to_string(list_slice(ws, i, i + 3), ' '))) AS gram
        |  FROM w WHERE len(ws) >= 4),
        |e4 AS (SELECT DISTINCT gram FROM g4
        |  WHERE doc_id >= 400 AND doc_id < 500),
        |c4 AS (SELECT count(DISTINCT doc_id) AS n FROM g4
        |  JOIN e4 USING (gram) WHERE doc_id < 400),
        |g6 AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws) - 5),
        |    i -> array_to_string(list_slice(ws, i, i + 5), ' '))) AS gram
        |  FROM w WHERE len(ws) >= 6),
        |e6 AS (SELECT DISTINCT gram FROM g6
        |  WHERE doc_id >= 400 AND doc_id < 500),
        |c6 AS (SELECT count(DISTINCT doc_id) AS n FROM g6
        |  JOIN e6 USING (gram) WHERE doc_id < 400),
        |g8 AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws) - 7),
        |    i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS gram
        |  FROM w WHERE len(ws) >= 8),
        |e8 AS (SELECT DISTINCT gram FROM g8
        |  WHERE doc_id >= 400 AND doc_id < 500),
        |c8 AS (SELECT count(DISTINCT doc_id) AS n FROM g8
        |  JOIN e8 USING (gram) WHERE doc_id < 400)
        |SELECT 4 AS n, (SELECT n FROM c4) AS n_contaminated
        |UNION ALL SELECT 6, (SELECT n FROM c6)
        |UNION ALL SELECT 8, (SELECT n FROM c8)
        |ORDER BY n""".stripMargin,
    "p98_oov" ->
      """WITH toks AS (SELECT doc_id, source,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |t2 AS (SELECT doc_id, source, w FROM toks WHERE length(w) > 0),
        |dict AS (SELECT w FROM (SELECT w, count(*) AS c FROM t2
        |  GROUP BY w ORDER BY c DESC, w LIMIT 10)),
        |sc AS (SELECT doc_id, source, count(*) AS nt,
        |    sum(CASE WHEN w IN (SELECT w FROM dict) THEN 0 ELSE 1 END)
        |      AS noov
        |  FROM t2 GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(CAST(noov AS DOUBLE) / nt), 6) AS mean_oov,
        |  CAST(sum(CASE WHEN CAST(noov AS DOUBLE) / nt > 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_oov
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    "p94_exact_k_sample" ->
      """WITH r AS (SELECT source, doc_id,
        |    md5('smp#' || doc_id) AS h,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('smp#' || doc_id), doc_id) AS rn
        |  FROM documents)
        |SELECT source, doc_id, h FROM r WHERE rn <= 7
        |ORDER BY source, doc_id""".stripMargin,
    "p95_temperature_sweep" ->
      """WITH base AS (SELECT source, sum(n_chars) AS n FROM documents
        |  GROUP BY source),
        |tot AS (SELECT sum(n) AS t FROM base),
        |sh AS (SELECT source, CAST(n AS DOUBLE) / t AS share
        |  FROM base CROSS JOIN tot),
        |sw AS (SELECT source, share, unnest([1, 2, 4]) AS T FROM sh),
        |ww AS (SELECT source, T, pow(share, 1.0 / T) AS w FROM sw)
        |SELECT T, source,
        |  round(w / sum(w) OVER (PARTITION BY T), 6) AS weight
        |FROM ww ORDER BY T, source""".stripMargin,
    "p93_transitivity" ->
      """WITH w AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS ws
        |  FROM documents WHERE doc_id < 200),
        |e AS (SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM w a JOIN w b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9),
        |sym AS (SELECT da, db FROM e UNION ALL SELECT db, da FROM e),
        |wd AS (SELECT a.da AS x, a.db AS m, b.db AS y
        |  FROM sym a JOIN sym b ON a.db = b.da WHERE a.da < b.db),
        |f AS (SELECT x, y,
        |    EXISTS (SELECT 1 FROM e WHERE e.da = wd.x AND e.db = wd.y)
        |      AS cl
        |  FROM wd)
        |SELECT count(*) AS n_wedges,
        |  CAST(sum(CASE WHEN cl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_closed,
        |  CAST(count(*) - sum(CASE WHEN cl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_open
        |FROM f""".stripMargin,
    "p92_snapshot_diff" ->
      """WITH dd AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id < 500),
        |a AS (SELECT doc_id, md5(text) AS ha FROM dd WHERE doc_id < 400),
        |b AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 0
        |      THEN text || ' v2' ELSE text END) AS hb
        |  FROM dd WHERE doc_id >= 100),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, ha, hb
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT CASE WHEN ha IS NULL THEN 'added'
        |    WHEN hb IS NULL THEN 'removed'
        |    WHEN ha = hb THEN 'unchanged' ELSE 'changed' END AS status,
        |  count(*) AS n_docs
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "p90_k_anonymity" ->
      """WITH g AS (SELECT source, lang, n_chars // 500 AS lb,
        |    count(*) AS gs
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT source, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN gs < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(sum(CASE WHEN gs < 5 THEN gs ELSE 0 END) AS BIGINT)
        |    AS n_risky_docs,
        |  CAST(min(gs) AS BIGINT) AS min_group
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "p91_bounded_contribution" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(c) AS BIGINT) AS n_true,
        |  CAST(sum(least(c, 5)) AS BIGINT) AS n_bounded,
        |  count(*) AS n_users
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "p13_ann_ivf" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 50),
        |ranked AS (
        |  SELECT qid, cid, cos, row_number() OVER
        |    (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |  FROM scored)
        |SELECT qid, cid, rank, cos
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "p24_pagerank" ->
      """WITH nc AS (
        |  SELECT n_nationkey, n_regionkey,
        |    0.15 + 0.85 * (0.15 * count(c_custkey)) AS raw
        |  FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |  GROUP BY n_nationkey, n_regionkey),
        |rg AS (
        |  SELECT r_regionkey, 0.15 + 0.85 * sum(raw) AS raw
        |  FROM region JOIN nc ON n_regionkey = r_regionkey
        |  GROUP BY r_regionkey),
        |tot AS (
        |  SELECT ((SELECT count(*) FROM customer)
        |      + (SELECT count(*) FROM nation)
        |      + (SELECT count(*) FROM region))::DOUBLE AS n,
        |    (SELECT count(*) FROM customer) * 0.15
        |      + (SELECT sum(raw) FROM nc)
        |      + (SELECT sum(raw) FROM rg) AS s)
        |SELECT kind, key, round(raw * n / s, 6) AS rank FROM (
        |  SELECT 'nation' AS kind, n_nationkey::BIGINT AS key, raw FROM nc
        |  UNION ALL
        |  SELECT 'region', r_regionkey::BIGINT, raw FROM rg) u, tot
        |ORDER BY kind, key""".stripMargin,
    "p41_triangle_count" ->
      """WITH canon AS (
        |  SELECT n1.n_nationkey AS a, n2.n_nationkey AS b
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey
        |    AND n1.n_nationkey < n2.n_nationkey),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM canon e1
        |  JOIN canon e2 ON e1.b = e2.a
        |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
        |x AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT CAST(id AS BIGINT) AS id, count(*) AS n_tri
        |FROM x GROUP BY id ORDER BY id""".stripMargin,
    "p14_dedup_clusters" ->
      """WITH RECURSIVE
        |w AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS ws
        |  FROM documents WHERE doc_id < 200),
        |e AS (SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM w a JOIN w b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9),
        |sym AS (SELECT da AS id, db AS nb FROM e
        |        UNION ALL SELECT db, da FROM e),
        |reach(id, r) AS (
        |  SELECT DISTINCT id, id FROM sym
        |  UNION
        |  SELECT s.id, reach.r FROM sym s JOIN reach ON s.nb = reach.id),
        |victims AS (
        |  SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |  WHERE comp < id)
        |SELECT source, count(*) AS n_kept FROM documents
        |WHERE doc_id < 200 AND doc_id NOT IN (SELECT id FROM victims)
        |GROUP BY source ORDER BY source""".stripMargin,
    "p25_dedup_keep_best" ->
      """WITH RECURSIVE
        |w AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS ws
        |  FROM documents WHERE doc_id < 200),
        |e AS (SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM w a JOIN w b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
        |      / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9),
        |sym AS (SELECT da AS id, db AS nb FROM e
        |        UNION ALL SELECT db, da FROM e),
        |reach(id, r) AS (
        |  SELECT DISTINCT id, id FROM sym
        |  UNION
        |  SELECT s.id, reach.r FROM sym s JOIN reach ON s.nb = reach.id),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
        |scored AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp,
        |    length(d.text) AS score
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |  WHERE d.doc_id < 200),
        |best AS (SELECT doc_id, row_number() OVER
        |    (PARTITION BY comp ORDER BY score DESC, doc_id) AS rn FROM scored)
        |SELECT d.source, count(*) AS n_kept
        |FROM documents d JOIN best ON d.doc_id = best.doc_id
        |WHERE best.rn = 1 AND d.doc_id < 200
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "p15_stratified_sample" ->
      """SELECT source, count(*) AS n_sampled,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |WHERE doc_id % 10 < CASE source
        |  WHEN 'src0' THEN 7 WHEN 'src1' THEN 3 WHEN 'src2' THEN 5
        |  WHEN 'src3' THEN 9 WHEN 'src4' THEN 4 ELSE 2 END
        |GROUP BY source ORDER BY source""".stripMargin,
    "p16_ngram_topk" ->
      """WITH w AS (
        |  SELECT source, regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |b AS (
        |  SELECT source, unnest(list_transform(
        |    generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT source, bigram, count(*) AS n
        |      FROM b GROUP BY source, bigram),
        |r AS (SELECT source, bigram, n, row_number() OVER
        |        (PARTITION BY source ORDER BY n DESC, bigram) AS rank
        |      FROM c)
        |SELECT source, rank, bigram, n
        |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin,
    "p05_ann_bruteforce" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 20),
        |ranked AS (
        |  SELECT qid, cid, cos, row_number() OVER
        |    (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |  FROM scored)
        |SELECT qid, cid, rank, cos
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "p06_embedding_neardup" ->
      """SELECT a.vec_id AS da, b.vec_id AS db,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 300 AND b.vec_id < 300
        |  AND list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]) >= 0.45
        |ORDER BY da, db""".stripMargin,
    "p17_quantize_int8" ->
      """WITH r AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    list_min(embedding::DOUBLE[]) AS mn,
        |    list_max(embedding::DOUBLE[]) AS mx
        |  FROM embeddings WHERE vec_id < 400)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(e, x ->
        |    least(greatest(floor((x - mn) / (CASE WHEN mx - mn > 0
        |      THEN mx - mn ELSE 1.0 END) * 255.0), 0.0), 255.0)))
        |    AS BIGINT) AS code_sum,
        |  round(mn, 6) AS qmin, round(mx, 6) AS qmax
        |FROM r ORDER BY vec_id""".stripMargin,
    "p18_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(text, '\s+')) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, toks,
        |    coalesce(sum(toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT CAST(floor(prior / 4096) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_toks
        |FROM p GROUP BY 1 ORDER BY bin""".stripMargin,
    "p08_token_stats" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(text, '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
        |    AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p09_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |  regexp_split_to_array(text, '\s+') AS ws,
        |  greatest(length(text), 1) AS n FROM documents),
        |m AS (SELECT doc_id, text, n,
        |  len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is')))::DOUBLE
        |    / greatest(len(ws), 1) AS swr,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / n AS pr,
        |  len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n AS dr
        |  FROM t)
        |SELECT doc_id,
        |  round((CASE WHEN length(text) BETWEEN 100 AND 10000 THEN 0.4
        |       WHEN length(text) >= 20 THEN 0.2 ELSE 0.0 END)
        |  + (CASE WHEN pr <= 0.1 THEN 0.3 ELSE 0.0 END)
        |  + (CASE WHEN dr <= 0.2 THEN 0.1 ELSE 0.0 END)
        |  + (CASE WHEN swr >= 0.05 THEN 0.2 ELSE 0.0 END), 2) AS quality,
        |  round(swr, 6) AS sw_ratio, round(pr, 6) AS punct_ratio
        |FROM m ORDER BY doc_id""".stripMargin,
    "p10_langid" ->
      """WITH s AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws,
        |  greatest(len(regexp_split_to_array(text, '\s+')), 1) AS n
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(ws, w -> w IN ('the','a','of','and','is')))::DOUBLE / n AS s_en,
        |  len(list_filter(ws, w -> w IN ('der','die','das','und','ist')))::DOUBLE / n AS s_de,
        |  len(list_filter(ws, w -> w IN ('le','la','et','est','une')))::DOUBLE / n AS s_fr,
        |  len(list_filter(ws, w -> w IN ('el','la','y','es','una')))::DOUBLE / n AS s_es,
        |  len(list_filter(ws, w -> w IN ('de5','shi4','le5','he2','zai4')))::DOUBLE / n AS s_zh
        |  FROM s),
        |p AS (SELECT doc_id,
        |  CASE WHEN s_zh > greatest(s_en, s_de, s_fr, s_es) THEN 'zh'
        |       WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
        |       WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
        |       WHEN s_de > s_en THEN 'de'
        |       ELSE 'en' END AS pred_lang
        |  FROM sc)
        |SELECT pred_lang, count(*) AS n FROM p
        |GROUP BY 1 ORDER BY pred_lang""".stripMargin,
    "p11_fingerprint" ->
      """SELECT fp, count(*) AS n_docs FROM (
        |  SELECT md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fp
        |  FROM documents) t
        |GROUP BY fp HAVING count(*) > 1
        |ORDER BY n_docs DESC, fp""".stripMargin,
    "p19_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents WHERE doc_id < 50),
        |t2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS n_t FROM t2 GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df_t FROM t2 GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM t2),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.n_t * ln(CAST(nd.n AS DOUBLE) / dfreq.df_t), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |ranked AS (
        |  SELECT doc_id, term, tfidf, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "p20_mixture_epochs" ->
      """WITH r AS (SELECT doc_id, source,
        |  CASE source WHEN 'src0' THEN 2 WHEN 'src2' THEN 3 WHEN 'src4' THEN 2
        |    ELSE 1 END AS n_rep FROM documents),
        |x AS (SELECT doc_id, source,
        |  unnest(generate_series(1, n_rep)) AS epoch FROM r)
        |SELECT source, epoch, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM x GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,
    "p21_redact" ->
      """SELECT source,
        |  CAST(sum(len(regexp_extract_all(text, '(customer|query|spark)')))
        |    AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(text,
        |    '(customer|query|spark)')) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_hit,
        |  CAST(sum(length(regexp_replace(text, '(customer|query|spark)',
        |    '<X>', 'g'))) AS BIGINT) AS redacted_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "p22_decontam" ->
      """WITH w AS (SELECT doc_id, source,
        |    regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, source, unnest(list_transform(
        |    generate_series(1, len(ws) - 4),
        |    i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS gram
        |  FROM w WHERE len(ws) >= 5),
        |ev AS (SELECT DISTINCT gram FROM g
        |       WHERE doc_id >= 400 AND doc_id < 500),
        |bad AS (SELECT DISTINCT g.doc_id, g.source FROM g JOIN ev USING (gram)
        |        WHERE g.doc_id < 400)
        |SELECT source, count(*) AS n_contaminated FROM bad
        |GROUP BY source ORDER BY source""".stripMargin,
    "p23_rolling_features" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(value AS DECIMAL(28,4)) AS v
        |  FROM events WHERE user_id < 30),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |d AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM b),
        |u AS (SELECT DISTINCT user_id FROM e),
        |daily AS (SELECT user_id, day, sum(v) AS dv FROM e GROUP BY 1, 2),
        |grid AS (SELECT u.user_id, d.day, coalesce(daily.dv, 0) AS dv
        |  FROM u CROSS JOIN d
        |  LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day)
        |SELECT user_id, day,
        |  CAST(round(sum(dv) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS roll3
        |FROM grid ORDER BY user_id, day""".stripMargin,
    "p27_chunking" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
        |  FROM documents WHERE doc_id < 200),
        |c AS (SELECT doc_id, unnest(generate_series(0,
        |    CAST(floor((len(ws) - 1) / 48.0) AS BIGINT))) AS chunk_idx, ws
        |  FROM w),
        |s AS (SELECT doc_id, chunk_idx,
        |    list_slice(ws, chunk_idx * 48 + 1,
        |      least(chunk_idx * 48 + 64, len(ws))) AS chunk FROM c)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(chunk) AS INT) AS n_toks, chunk[1] AS head_tok
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "p28_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 300),
        |b AS (SELECT doc_id, len(ws) AS n_words,
        |    round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 6) AS dup_word_frac,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i + 1])) AS bg
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, n_words, dup_word_frac, bg, count(*) AS c
        |      FROM b GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, n_words, dup_word_frac,
        |  round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_frac
        |FROM c GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    "p29_boilerplate" ->
      """WITH t AS (SELECT doc_id, source,
        |    regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
        |gr AS (SELECT doc_id, source, unnest(list_distinct(
        |    CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(generate_series(1, len(ws) - 4),
        |                i -> array_to_string(list_slice(ws, i, i + 4), ' ')) END)) AS g
        |  FROM t),
        |bp AS (SELECT g FROM (SELECT g, count(*) AS nd FROM gr GROUP BY g) x
        |       WHERE nd >= 2)
        |SELECT source, count(DISTINCT doc_id) AS n_docs_bp,
        |  count(DISTINCT gr.g) AS n_grams_bp
        |FROM gr JOIN bp USING (g)
        |GROUP BY source ORDER BY source""".stripMargin,
    "p30_c4_filter" ->
      """WITH t AS (SELECT source,
        |    regexp_split_to_array(text, '\s+') AS ws,
        |    length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
        |      / len(regexp_split_to_array(text, '\s+')) AS ml
        |  FROM documents),
        |f AS (SELECT source,
        |    len(ws) >= 50 AS len_ok,
        |    ml >= 3.0 AND ml <= 10.0 AS wlen_ok,
        |    len(list_intersect(ws, ['the','a','of','and','to'])) > 0 AS stop_ok
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN len_ok AND wlen_ok AND stop_ok THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  CAST(sum(CASE WHEN NOT wlen_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_wlen,
        |  CAST(sum(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_nostop
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "p26_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE doc_id < 100),
        |f AS (SELECT doc_id, text, n, unnest(generate_series(0,
        |    CAST(ceil(n::DOUBLE / 64) AS BIGINT) - 1)) AS frame_idx FROM d),
        |s AS (SELECT doc_id, frame_idx,
        |  list_sum(list_transform(
        |    generate_series(frame_idx * 64 + 1, least(frame_idx * 64 + 64, n)),
        |    i -> ord(substr(text, i, 1)))) AS checksum
        |  FROM f WHERE frame_idx % 3 = 0)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(checksum AS BIGINT) AS checksum
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
    "p12_multimodal_decode" ->
      """WITH d AS (SELECT doc_id, length(text) AS n,
        |  greatest(length(text) % 256, 1) AS w0,
        |  greatest((length(text) // 256) % 256, 1) AS h0
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(floor(w0 * least(128.0 / greatest(w0, h0), 1.0)) AS INT) AS width,
        |  CAST(floor(h0 * least(128.0 / greatest(w0, h0), 1.0)) AS INT) AS height,
        |  3 AS channels,
        |  round(list_sum(list_transform(
        |    generate_series(1, length(d2.text), 8),
        |    i -> ord(substr(d2.text, i, 1)))), 2) AS f0
        |FROM d JOIN documents d2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "p31_vocab_coverage" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+'))
        |    AS w FROM documents),
        |c AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c),
        |r AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS rank,
        |  sum(n) OVER (ORDER BY n DESC, w ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c)
        |SELECT rank, w, n, round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share
        |FROM r, t WHERE rank <= 30 ORDER BY rank""".stripMargin,
    "p32_line_dedup" ->
      """WITH ws AS (SELECT doc_id, source,
        |    regexp_split_to_array(lower(text), '\s+') AS a FROM documents),
        |l AS (SELECT doc_id, source, i AS line_idx,
        |    array_to_string(list_slice(a, i * 10 + 1, i * 10 + 10), ' ') AS line
        |  FROM ws, unnest(generate_series(0,
        |    CAST(floor((len(a) - 1) / 10.0) AS BIGINT))) AS t(i)),
        |k AS (SELECT source, len(string_split(line, ' ')) AS n_toks,
        |  row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |  FROM l)
        |SELECT source, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN rn = 1 THEN n_toks END) AS BIGINT) AS toks_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "p33_embed_decontam" ->
      """WITH e AS (SELECT embedding FROM embeddings WHERE label = 9),
        |c AS (SELECT vec_id, label, embedding FROM embeddings
        |  WHERE label <> 9),
        |m AS (SELECT c.vec_id, c.label,
        |    max(list_cosine_similarity(c.embedding::DOUBLE[],
        |      e.embedding::DOUBLE[])) AS mc
        |  FROM c CROSS JOIN e GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN mc >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contam,
        |  round(CAST(max(mc) AS DECIMAL(28,8)), 6)::DOUBLE AS max_cos
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "p34_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c),
        |q AS (SELECT lang, n, pow(n / tot, 1.0 / 3) AS q FROM c, t),
        |z AS (SELECT sum(q) AS z FROM q)
        |SELECT lang, n,
        |  round(CAST(q / z AS DECIMAL(28,8)), 6)::DOUBLE AS weight,
        |  CAST(round(q / z * tot) AS BIGINT) AS exp_docs
        |FROM q, z, t ORDER BY lang""".stripMargin,
    "p35_length_trim" ->
      """WITH toks AS (SELECT source, doc_id,
        |    len(regexp_split_to_array(text, '\s+')) AS nt FROM documents),
        |cd AS (SELECT source, nt, cume_dist() OVER
        |    (PARTITION BY source ORDER BY nt) AS cd FROM toks),
        |b AS (SELECT source,
        |    min(CASE WHEN cd >= 0.05 THEN nt END) AS lo,
        |    min(CASE WHEN cd >= 0.95 THEN nt END) AS hi
        |  FROM cd GROUP BY source)
        |SELECT source, lo, hi,
        |  CAST(sum(CASE WHEN nt BETWEEN lo AND hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN nt NOT BETWEEN lo AND hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped
        |FROM toks JOIN b USING (source)
        |GROUP BY source, lo, hi ORDER BY source""".stripMargin,
    "p36_length_buckets" ->
      """WITH toks AS (SELECT source, doc_id,
        |    len(regexp_split_to_array(text, '\s+')) AS nt FROM documents),
        |b AS (SELECT source, nt,
        |    ntile(4) OVER (PARTITION BY source ORDER BY nt, doc_id) AS bucket
        |  FROM toks)
        |SELECT source, bucket, count(*) AS n,
        |  min(nt) AS min_t, max(nt) AS max_t
        |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,
    "p37_incremental_dedup" ->
      """WITH oldh AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE doc_id % 5 < 2),
        |nw AS (SELECT source, doc_id, md5(text) AS h FROM documents
        |  WHERE doc_id % 5 >= 2)
        |SELECT source, count(*) AS n_new,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM nw WHERE NOT EXISTS (SELECT 1 FROM oldh WHERE oldh.h = nw.h)
        |GROUP BY source ORDER BY source""".stripMargin,
    "p40_data_quality" ->
      """SELECT source, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  CAST(sum(CASE WHEN n_chars <> length(text)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch,
        |  CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang,
        |  CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS n_dup_ids
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "p39_hard_negatives" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, q.label AS qlab,
        |    c.vec_id AS cid, c.label AS clab,
        |    round(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id <> c.vec_id AND q.label <> c.label
        |  WHERE q.vec_id < 20),
        |ranked AS (
        |  SELECT qid, qlab, cid, clab, cos, row_number() OVER
        |    (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |  FROM scored)
        |SELECT qid, qlab, cid, clab, rank, cos
        |FROM ranked WHERE rank <= 2 ORDER BY qid, rank""".stripMargin,
    "p38_weighted_sample" ->
      """SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents
        |WHERE (doc_id * 48271) % 10000 < least(n_chars, 5000) * 2
        |GROUP BY source ORDER BY source""".stripMargin
  )
}
