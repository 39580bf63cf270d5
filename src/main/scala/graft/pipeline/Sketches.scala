package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency/membership sketches as pure DataFrame plans —
  * the approximate-counting leg of the training-data toolkit (heavy
  * hitters over token streams, set-membership pruning against huge
  * reference sets). Both sketches hash with the md5-derived 32-bit
  * recipe the SimHash/LSH kernels use, so an external SQL engine can
  * recompute every bucket and the oracle gate sees the sketches
  * bit-for-bit — no "close enough" tolerance.
  *
  * Scale shapes: a count-min sketch is d×w counters regardless of key
  * cardinality — the build is one map-side-combinable aggregation
  * whose shuffle carries at most d·w rows; a Bloom filter's set-bit
  * table is at most m rows and broadcast to the probe side, so the
  * probe never shuffles. Both merge across shards by addition/union,
  * the property that lets 1000 executors sketch independently.
  */
object Sketches {

  /** 32-bit hash from the first 8 md5 hex digits — non-negative, fits
    * long, and recomputable in any engine with md5 + hex parse.
    */
  private def h32(c: Column, salt: String): Column =
    conv(substring(md5(concat(c, lit(salt))), 1, 8), 16, 10).cast("long")

  /** Count-min sketch build over a key stream (one row = one
    * occurrence): returns the (r, b, cnt) counter table, depth rows ×
    * width buckets. Additive: sketches of shards merge by summing
    * matching counters, which is exactly what the partial/final
    * aggregate already does.
    */
  def countMinBuild(occurrences: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame =
    occurrences
      .select(posexplode(array((0 until depth).map(r =>
        h32(col(keyCol), s"#cms$r") % width): _*)).as(Seq("r", "b")))
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))

  /** Point-estimate a set of keys against a built sketch: est(key) =
    * min over rows of the key's bucket counter (the classic CM upper
    * bound; never below the true count). The sketch side is at most
    * d·w rows — broadcast, so estimation is shuffle-free on the key
    * side except the final per-key min, which combines map-side.
    */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame = {
    val kb = keys.select(col(keyCol).as("__k")).distinct()
      .select(col("__k"), posexplode(array((0 until depth).map(r =>
        h32(col("__k"), s"#cms$r") % width): _*)).as(Seq("r", "b")))
    kb.join(broadcast(sketch), Seq("r", "b"), "left")
      .groupBy(col("__k").as(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Bloom filter build: the distinct set-bit table (bit) for the
    * build keys, k hash positions in [0, m). At most m rows — the
    * broadcastable form of the bit array (a real deployment packs it
    * into longs; the row form keeps the plan pure-relational and the
    * oracle exact, and m rows ≤ a few MB for any practical m).
    */
  def bloomBuild(keys: DataFrame, keyCol: String, numBits: Int,
      numHashes: Int): DataFrame =
    keys.select(explode(array((0 until numHashes).map(r =>
      h32(col(keyCol), s"#bf$r") % numBits): _*)).as("bit")).distinct()

  /** HyperLogLog register table: bucket = low log2(m) bits of the
    * 32-bit key hash, rank = leading-zero count of the remaining bits
    * plus one, register = max rank per bucket. All integer arithmetic
    * (leading zeros via the minimal binary-string length, identical in
    * Spark and DuckDB), so the SKETCH itself is oracle-exact — the
    * float estimate is derived from it afterwards ([[hllEstimate]])
    * and error-bound-tested instead. Additive: shard registers merge
    * by per-bucket max, which is what partial/final aggregation
    * already does; the shuffle carries ≤ m rows per shard. Buckets no
    * key hashed into are absent (estimate treats them as rank 0).
    */
  def hllRegisters(keys: DataFrame, keyCol: String, numBuckets: Int): DataFrame = {
    require(numBuckets > 0 && (numBuckets & (numBuckets - 1)) == 0,
      s"numBuckets must be a power of two, got $numBuckets")
    val remBits = 32 - Integer.numberOfTrailingZeros(numBuckets)
    val h = h32(col(keyCol), "#hll")
    val rem = (h / numBuckets).cast("long")
    keys.select((h % numBuckets).as("bucket"),
      when(rem === 0, lit(remBits + 1))
        .otherwise(lit(remBits + 1) - length(bin(rem))).cast("long").as("rank"))
      .groupBy("bucket").agg(max("rank").as("maxrank"))
  }

  /** Bias-corrected HLL cardinality estimate from a collected register
    * table (Flajolet et al.'s alpha_m correction + linear counting for
    * the small range). m registers, absent buckets = rank 0.
    */
  def hllEstimate(registers: Seq[(Long, Long)], numBuckets: Int): Double = {
    val m = numBuckets.toDouble
    val regs = Array.fill(numBuckets)(0L)
    registers.foreach { case (b, r) => regs(b.toInt) = r }
    val alpha =
      if (numBuckets <= 16) 0.673
      else if (numBuckets <= 32) 0.697
      else if (numBuckets <= 64) 0.709
      else 0.7213 / (1 + 1.079 / m)
    val raw = alpha * m * m / regs.map(r => math.pow(2.0, -r.toDouble)).sum
    val zeros = regs.count(_ == 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
  }

  /** Test-observability hook: the bucket width the most recent
    * exactQuantiles on THIS thread used. The previous session-conf form
    * (`spark.graft.quantiles.lastBucketWidth`) mutated user-visible
    * conf as a planning side effect and let concurrent queries clobber
    * each other's value (the same fix as Algo.lastDijkstraRoundCount).
    */
  private val lastBucketWidth = new ThreadLocal[java.lang.Long]
  def lastBucketWidthValue: Option[Long] =
    Option(lastBucketWidth.get()).map(_.longValue)

  /** EXACT quantiles of a long column by two-pass distributed
    * selection — no global sort, no approximation: pass 1 is one
    * map-side-combinable histogram over value/bucketWidth buckets
    * (collected to the coordinator — bounded by the value range over
    * the bucket width, hundreds of rows, the legitimate driver step of
    * every distributed selection algorithm); the coordinator walks the
    * cumulative counts to locate each quantile's bucket and local
    * rank; pass 2 re-scans ONLY the needed buckets (predicate pushed
    * to the scan) and resolves exact values from their value counts.
    * Rank = ceil(q·n), the PG/DuckDB percentile_disc convention, so an
    * oracle can gate the result bit-for-bit where a t-digest could
    * only be tolerance-tested. Two scans of the data beat one
    * full-shuffle sort at any scale where the histogram fits the
    * coordinator.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
      bucketWidth: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(bucketWidth > 0, "bucketWidth must be positive")
    val vals = df.select(col(valueCol).cast("long").as("x"))
      .where(col("x").isNotNull)
    // coordinator guard: the histogram collect is bounded by
    // range/bucketWidth — a pathological width over a wide value range
    // would OOM the driver, so the width auto-widens until the
    // estimated bucket count fits `spark.graft.quantileMaxBuckets`
    // (results stay EXACT — wider buckets only shift work to the
    // bounded pass-2 re-scan). The chosen width is surfaced for
    // observability by lastBucketWidthValue.
    val maxBuckets = spark.conf
      .get("spark.graft.quantileMaxBuckets", "1000000").toLong
    val mm = vals.agg(min(col("x")), max(col("x"))).head
    require(!mm.isNullAt(0), "exactQuantiles on an empty input")
    val range = BigInt(mm.getLong(1)) - BigInt(mm.getLong(0))
    val bw =
      if (range / bucketWidth + 1 <= maxBuckets) bucketWidth
      else ((range + maxBuckets - 1) / maxBuckets).toLong.max(bucketWidth)
    lastBucketWidth.set(bw)
    val hist = vals
      .groupBy((col("x") - pmod(col("x"), lit(bw))).as("b"))
      .agg(count(lit(1)).as("c"))
      .orderBy("b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = hist.map(_._2).sum
    require(n > 0, "exactQuantiles on an empty input")
    // locate each quantile's bucket + rank within it
    case class Loc(label: String, bucket: Long, localRank: Long)
    val locs = qs.map { q =>
      val k = math.ceil(q * n).toLong.max(1L)
      var cum = 0L
      val (b, before) = hist.collectFirst {
        case (b, c) if { cum += c; cum >= k } => (b, cum - c)
      }.get
      Loc(s"p${(q * 100).round}", b, k - before)
    }
    val needed = locs.map(_.bucket).distinct
    val inBucket = vals
      .where((col("x") - pmod(col("x"), lit(bw))).isin(needed: _*))
      .groupBy("x").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val out = locs.map { l =>
      var cum = 0L
      val v = inBucket.iterator
        .filter(t => t._1 - java.lang.Math.floorMod(t._1, bw) == l.bucket)
        .collectFirst { case (v, c) if { cum += c; cum >= l.localRank } => v }
        .get
      (l.label, v)
    }
    out.toDF("label", "value")
  }

  /** Probe: keep the probe keys whose k positions are ALL set — the
    * candidate-member set (true members plus the filter's deterministic
    * false positives). Join against the broadcast bit table per
    * position, then require all numHashes distinct positions matched;
    * a key hashing two positions onto one bit counts once, hence the
    * distinct-r count.
    */
  def bloomProbe(bits: DataFrame, probes: DataFrame, keyCol: String,
      numBits: Int, numHashes: Int): DataFrame = {
    val pb = probes.select(col(keyCol).as("__k")).distinct()
      .select(col("__k"), posexplode(array((0 until numHashes).map(r =>
        h32(col("__k"), s"#bf$r") % numBits): _*)).as(Seq("r", "pos")))
    pb.join(broadcast(bits), pb("pos") === bits("bit"))
      .groupBy(col("__k").as(keyCol))
      .agg(countDistinct(col("r")).as("__nm"))
      .where(col("__nm") === numHashes)
      .select(keyCol)
  }
}
