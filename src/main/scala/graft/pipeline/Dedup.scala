package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.GraphCatalog

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design:
  *  - exact dedup is a hash-groupBy (one shuffle on the digest);
  *  - MinHash+LSH is the scalable near-dup path: per-doc signatures via
  *    map-side min-aggregation, banding -> bucket join, candidate
  *    verification joins only bucket-mates (no O(n^2) pair scan);
  *  - brute-force Jaccard is kept as the small-N verification baseline.
  */
object Dedup {

  /** Tokenize to distinct word set (unigram shingles). */
  def wordSet(text: Column): Column = array_distinct(split(text, "\\s+"))

  /** k-word shingles ("n-gram" dedup unit). */
  def shingles(text: Column, k: Int): Column = {
    val words = split(text, "\\s+")
    when(size(words) < k, array(concat_ws(" ", words)))
      .otherwise(transform(sequence(lit(0), size(words) - k),
        i => concat_ws(" ", slice(words, i + 1, lit(k)))))
  }

  /** Exact dedup: keep the lowest id per digest of the normalized
    * text. Returns the kept rows.
    *
    * Shape: min-aggregate on (digest, id) then a semi-join back — the
    * shuffle carries 2 narrow columns instead of whole rows (a window
    * over the digest would sort full documents through the exchange).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = docs
      .select(md5(lower(col(textCol))).as("__digest"), col(idCol).as("__kid"))
      .groupBy("__digest").agg(min("__kid").as("__kid"))
    docs.join(keep, docs(idCol) === keep("__kid"), "left_semi")
  }

  /** Brute-force pairwise Jaccard over word sets — the correctness
    * baseline (O(n^2): only for bounded subsets / verification).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val withSets = docs.select(col(idCol).as("__id"), wordSet(col(textCol)).as("__ws"))
    val a = withSets.select(col("__id").as("da"), col("__ws").as("wa"))
    val b = withSets.select(col("__id").as("db"), col("__ws").as("wb"))
    a.join(b, col("da") < col("db"))
      .withColumn("jac",
        size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb"))))
      .where(col("jac") >= threshold)
      .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
  }

  /** EXACT set-similarity join by prefix filtering (the AllPairs/
    * PPJoin family, Chaudhuri et al. / Xiao et al.): order each word
    * set by GLOBAL document frequency (rarest first); any pair with
    * Jaccard ≥ tNum/tDen must share a token inside each side's
    * (n − ceil(t·n) + 1)-token prefix, so candidates come from a keyed
    * join on PREFIX tokens only and the exact Jaccard verifies within
    * candidates. Unlike MinHash-LSH this has recall 1.0 BY THEOREM
    * while still avoiding the all-pairs product; rare-first ordering
    * keeps the candidate posting lists short (the token a pair is
    * found under is its rarest shared one). The threshold is a
    * RATIONAL (tNum/tDen) so prefix lengths and the verify filter stay
    * in integer arithmetic — no float-ceil boundary can cost a pair.
    * Scale shape: one vocab count, one per-doc sorted-set build,
    * prefix explode (id + short token), candidate dedup, sets re-join
    * for the verify.
    */
  def ppjoinPairs(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    val toks = docs
      .select(col(idCol).as("__id"), explode(wordSet(col(textCol))).as("w"))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("f"))
    val sets = toks.join(freq, "w")
      .groupBy("__id")
      .agg(transform(sort_array(collect_list(struct(col("f"), col("w")))),
          x => x.getField("w")).as("ws"),
        count(lit(1)).as("n"))
      .localCheckpoint(true) // prefix + both verify sides read it
    // prefixLen = n - ceil(t·n) + 1, all-integer (exact in doubles)
    val prefixLen = (col("n") -
      floor((lit(tNum) * col("n") + (tDen - 1)) / lit(tDen)) + 1).cast("int")
    val pre = sets.select(col("__id"),
      explode(slice(col("ws"), lit(1), prefixLen)).as("w"))
    val cand = pre.select(col("__id").as("da"), col("w"))
      .join(pre.select(col("__id").as("db"), col("w")), Seq("w"))
      .where(col("da") < col("db"))
      .select("da", "db").distinct()
    val sa = sets.select(col("__id").as("da"), col("ws").as("wsa"),
      col("n").as("na"))
    val sb = sets.select(col("__id").as("db"), col("ws").as("wsb"),
      col("n").as("nb"))
    cand.join(sa, "da").join(sb, "db")
      .withColumn("inter",
        size(array_intersect(col("wsa"), col("wsb"))).cast("long"))
      // integer threshold test: inter/(na+nb-inter) >= tNum/tDen
      .where(col("inter") * tDen >= lit(tNum) * (col("na") + col("nb") - col("inter")))
      .select(col("da"), col("db"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jac"))
  }

  /** MinHash signatures: numPerm permutations approximated by seeded
    * xxhash64 min-aggregation over shingles (explode -> groupBy doc ->
    * numPerm min() columns; fully map-side-combinable).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, numPerm: Int): DataFrame = {
    val exploded = docs.select(col(idCol).as("__id"),
      explode(shingles(col(textCol), k)).as("__sh"))
    val mins = (0 until numPerm).map(i =>
      min(xxhash64(col("__sh"), lit(i))).as(s"__mh_$i"))
    exploded.groupBy("__id").agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: split the signature into bands of `rowsPerBand`,
    * hash each band, emit (band_idx, band_hash, id) — same-bucket ids
    * are candidate near-duplicates.
    */
  def lshBuckets(sigs: DataFrame, numPerm: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numPerm / rowsPerBand
    // one pass: posexplode an array of band hashes (a per-band
    // union would re-run the signature aggregation numBands times)
    val bandHashes = array((0 until numBands).map { bIdx =>
      val cols = (bIdx * rowsPerBand until (bIdx + 1) * rowsPerBand)
        .map(i => col(s"__mh_$i"))
      xxhash64(cols: _*)
    }: _*)
    sigs.select(col("__id"), posexplode(bandHashes))
      .toDF("__id", "band", "bucket")
  }

  /** Pick rows-per-band so the LSH S-curve's 50%-recall point
    * (1/b)^(1/r) with b = numPerm/r sits closest to (slightly below)
    * the target Jaccard threshold — the standard banding solver, so
    * callers can state intent ("dedupe at 0.8") instead of tuning
    * (numPerm, rowsPerBand) by hand.
    */
  def lshBandsFor(threshold: Double, numPerm: Int): Int = {
    val candidates = (1 to numPerm).filter(numPerm % _ == 0)
    def curveAt(r: Int): Double = math.pow(r.toDouble / numPerm, 1.0 / r)
    // prefer recall: among divisors whose 50% point is <= threshold,
    // take the largest r (fewest false candidates); if none, smallest r
    val safe = candidates.filter(curveAt(_) <= threshold)
    if (safe.nonEmpty) safe.max else candidates.min
  }

  /** Full MinHash+LSH near-dup pipeline: signatures -> bucket join ->
    * candidate pairs -> exact-Jaccard verification (verification joins
    * word sets only for candidates).
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numPerm: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    // signatures are tiny relative to the text (numPerm longs/doc):
    // persist them — the bucket self-join reads them twice
    val sigs = minhashSignatures(docs, idCol, textCol, shingleK, numPerm)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = lshBuckets(sigs, numPerm, rowsPerBand)
    val l = buckets.select(col("band"), col("bucket"), col("__id").as("da"))
    val r = buckets.select(col("band"), col("bucket"), col("__id").as("db"))
    val candidates = l.join(r, Seq("band", "bucket")).where(col("da") < col("db"))
      .select("da", "db").distinct()
    // verify candidates with exact shingle-set Jaccard
    val sets = docs.select(col(idCol).as("__id"),
      array_distinct(shingles(col(textCol), shingleK)).as("__ss"))
    candidates
      .join(sets.select(col("__id").as("da"), col("__ss").as("sa")), "da")
      .join(sets.select(col("__id").as("db"), col("__ss").as("sb")), "db")
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .where(col("jac") >= threshold)
      .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
  }

  /** Connected components over near-dup pairs. Input cols (da, db);
    * output (id, comp) with comp = min member id.
    *
    * Size-adaptive like broadcast-join selection: the pair set after
    * LSH thresholding is usually minuscule relative to the corpus, so
    * below `maxDriverPairs` a single-pass driver union-find replaces
    * the multi-round distributed loop (each round = a shuffle + an
    * action; at 100 TB the pairs may still be millions of rows — then
    * the distributed min-label-propagation loop is the path).
    */
  def clusters(pairs: DataFrame, maxDriverPairs: Long = 1000000L): DataFrame = {
    // snapshot the pair relation FIRST: every consumer branch reads it
    // (without this the upstream pair generation would run per reference)
    val p0 = pairs.localCheckpoint(true)
    if (p0.count() <= maxDriverPairs) driverClusters(p0)
    else distributedClusters(p0)
  }

  /** Union-find with path compression on the driver; min member id
    * becomes the component label (same contract as the distributed
    * path).
    */
  private def driverClusters(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val edges = p.select(col("da").cast("long"), col("db").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = parent.keys.toSeq.map(id => (id, find(id)))
    spark.createDataset(out).toDF("id", "comp")
  }

  /** Min-label propagation + pointer jumping: one join per round,
    * converges in O(log diameter) rounds.
    */
  private def distributedClusters(p: DataFrame): DataFrame = {
    val sym = p.select(col("da").as("id"), col("db").as("nb"))
      .unionAll(p.select(col("db").as("id"), col("da").as("nb")))
      .localCheckpoint(true)
    var labels = sym.select(col("id")).distinct()
      .withColumn("comp", col("id"))
    var changed = true
    var rounds = 0
    while (changed && rounds < 50) {
      // min-label propagation + pointer jumping (also adopt the label
      // of my current label) -> converges in O(log diameter) rounds
      val viaNeighbor = sym.join(labels.withColumnRenamed("id", "nb2"),
          sym("nb") === col("nb2"))
        .select(sym("id"), col("comp"), lit(1).as("__t"))
      val viaLabel = labels.select(col("id"), col("comp").as("__c"))
        .join(labels.select(col("id").as("cid"), col("comp").as("__cc")),
          col("__c") === col("cid"))
        .select(col("id"), col("__cc").as("comp"), lit(1).as("__t"))
      // the self branch is tagged so the SAME aggregation yields both
      // the new label (min over all) and the old one (min over self) —
      // convergence is the count of changed labels riding the step's
      // checkpoint, no extra join or probe
      val (step, nChanged) = GraphCatalog.checkpointCounted(
        labels.select(col("id"), col("comp"), lit(0).as("__t"))
          .unionAll(viaNeighbor).unionAll(viaLabel)
          .groupBy("id")
          .agg(min("comp").as("comp"),
            min(when(col("__t") === 0, col("comp"))).as("__old")),
        where = col("comp") =!= col("__old"))
      changed = nChanged > 0L
      labels = step.select(col("id"), col("comp"))
      rounds += 1
    }
    labels
  }

  /** Keep one representative (min id) per duplicate cluster. */
  def keepRepresentatives(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val cl = clusters(pairs)
    val victims = cl.where(col("id") =!= col("comp")).select("id")
    docs.join(victims, docs(idCol) === victims("id"), "left_anti")
  }

  /** Quality-aware dedup: keep the BEST-scoring member of each
    * duplicate cluster (id tiebreak) instead of the min id — the usual
    * curation policy when near-dups differ in quality. Singleton docs
    * (no pairs) keep themselves.
    */
  def keepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
      score: org.apache.spark.sql.Column): DataFrame = {
    val cl = clusters(pairs)
    val withComp = docs.join(cl, docs(idCol) === cl("id"), "left")
      .withColumn("__comp", coalesce(cl("comp"), docs(idCol)))
      .withColumn("__score", score)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__comp")
      .orderBy(col("__score").desc, docs(idCol))
    withComp.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      // drop the CLUSTER side's columns by reference, not by name: a
      // caller whose docs carry their own "id"/"comp" column (e.g.
      // idCol = "id") must get it back untouched (r13 review)
      .drop(cl("id")).drop(cl("comp"))
      .drop("__comp", "__score", "__rn")
  }

  /** 64-bit SimHash per document: sign of per-bit weighted token-hash
    * sums. One typed Aggregator holds the 64 bit-counters (64 separate
    * agg columns would codegen a giant method; the aggregator is a
    * tight JVM loop and still partial-aggregates map-side).
    */
  private object SimhashAgg
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) buf(b) += 1 else buf(b) -= 1
        b += 1
      }
      buf
    }
    def merge(x: Array[Int], y: Array[Int]): Array[Int] = {
      var b = 0
      while (b < 64) { x(b) += y(b); b += 1 }
      x
    }
    def finish(buf: Array[Int]): Long = {
      var out = 0L
      var b = 0
      while (b < 64) { if (buf(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    // unsafe primitive-array encoder: the buffer crosses the partial/
    // final boundary on every map-side combine, and kryo there costs
    // ~2x the whole aggregation
    def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** 64-bit token hash = first 16 hex digits of md5, assembled from
    * two 32-bit halves (conv() parses each half without signed-long
    * overflow). md5 instead of xxhash64 so EXTERNAL engines can
    * recompute the identical simhash — that is what makes the whole
    * sketch DuckDB-oracle-checkable (p04), not just rows-counted.
    */
  def tokenHash64(t: Column): Column = {
    val m = md5(t)
    shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  private def shiftRU(x: Column, n: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned(
        org.apache.spark.sql.graft.ColumnBridge.expression(x),
        org.apache.spark.sql.graft.ColumnBridge.expression(n)))
  private def shiftL(x: Column, n: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.graft.ColumnBridge.expression(x),
        org.apache.spark.sql.graft.ColumnBridge.expression(n)))

  private def delOne(c: Column, i: Column): Column =
    concat(call_function("substr", c, lit(1), i - 1),
      call_function("substr", c, i + 1))

  /** SymSpell-style deletion neighborhood of a string for edit
    * distance ≤ 2: the string itself, every 1-char deletion, every
    * 2-char deletion — pure array expressions, map-side. Two strings
    * with Levenshtein distance ≤ 2 ALWAYS share a member (delete the
    * ≤2 edited positions from each side), so a join on the
    * neighborhood is an exact candidate generator; the classical
    * blocking scheme for short keys (names, titles, codes) where
    * q-gram count filters lose their set-overlap guarantees.
    */
  def deletionNeighborhood2(c: Column): Column = {
    val n = length(c)
    val v0 = array(c)
    val v1 = when(n >= 1,
      transform(sequence(lit(1), n), i => delOne(c, i)))
      .otherwise(array().cast("array<string>"))
    val v2 = when(n >= 2,
      flatten(transform(sequence(lit(1), n - 1), i =>
        // delete j first (so i's position is unshifted), then i
        transform(sequence(i + 1, n), j => delOne(delOne(c, j), i)))))
      .otherwise(array().cast("array<string>"))
    array_distinct(concat(v0, v1, v2))
  }

  /** Exact fuzzy self-join: all pairs within Levenshtein distance
    * ≤ 2, found by joining deletion neighborhoods (complete by the
    * deletion argument above) and verifying with the real edit
    * distance. Neighborhood size is O(L²) per string — the entity-
    * resolution shape for SHORT keys; candidates shuffle as
    * (variant, id) pairs and the verify join touches only colliding
    * ids.
    */
  def editDistancePairs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("__id"), col(textCol).as("__n"))
    val withV = base.select(col("__id"), col("__n"),
      explode(deletionNeighborhood2(col("__n"))).as("__v"))
    val cand = withV.select(col("__v"), col("__id").as("da"), col("__n").as("na"))
      .join(withV.select(col("__v"), col("__id").as("db"), col("__n").as("nb")),
        Seq("__v"))
      .where(col("da") < col("db"))
      .select("da", "na", "db", "nb").distinct()
    cand.withColumn("dist", levenshtein(col("na"), col("nb")))
      .where(col("dist") <= 2)
      .select(col("da"), col("db"), col("dist"))
  }

  /** Map-side SimHash: the same 64-bit signature `simhash` computes
    * via explode + UDAF, folded per row over the token array instead —
    * NO shuffle, so it composes with streams (one signature per
    * incoming row) and with scans that must stay narrow. Bit-for-bit
    * equal to the aggregate path (spec-asserted): same md5-derived
    * token hash, same ±1 per occurrence, same >0 bit rule.
    */
  def simhashMapSide(text: Column): Column = {
    val hs = transform(split(text, "\\s+"), t => tokenHash64(t))
    val bitIdx = sequence(lit(0), lit(63))
    val counts = aggregate(hs, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitIdx, (c, b) =>
        c + when(shiftRU(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counts, bitIdx, (c, b) =>
        when(c > 0, shiftL(lit(1L), b)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = docs.select(col(idCol).as("__id"),
      explode(split(col(textCol), "\\s+")).as("__t"))
      .withColumn("__h", tokenHash64(col("__t")))
    val aggFn = org.apache.spark.sql.functions.udaf(SimhashAgg,
      org.apache.spark.sql.Encoders.scalaLong)
    tokens.groupBy("__id").agg(aggFn(col("__h")).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, found by
    * 16-bit banding (dist<=3 pairs must share at least one of 4 bands).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    // persist the 1-long-per-doc sketch: bands + two verification
    // joins read it; without it each branch re-runs the aggregation
    val sh = simhash(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sh.select(col("__id"), posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(0xffffL)): _*)))
      .toDF("__id", "band", "piece")
    val l = bands.select(col("band"), col("piece"), col("__id").as("da"))
    val r = bands.select(col("band"), col("piece"), col("__id").as("db"))
    // project to (da, db) BEFORE the dedup: the pre-r13 distinct kept
    // (band, piece) so a pair colliding in all 4 bands reached the
    // verify join 4 times — 4x sketch-join work for identical output
    val cand = l.join(r, Seq("band", "piece")).where(col("da") < col("db"))
      .select("da", "db").distinct()
    cand
      .join(sh.select(col("__id").as("da"), col("simhash").as("ha")), "da")
      .join(sh.select(col("__id").as("db"), col("simhash").as("hb")), "db")
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("dist") <= maxDist)
      .select("da", "db", "dist")
  }
}
