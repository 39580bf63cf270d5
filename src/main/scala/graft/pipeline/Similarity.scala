package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Brute-force cosine is the exactness baseline (O(n*m) pair join);
  * the scale path is random-hyperplane LSH bucketing: at 100 TB the
  * bucket join touches only same-signature vectors, and the plane
  * projections are a single codegen'd higher-order-function pass per
  * row (no UDFs, no driver collect).
  */
object Similarity {

  /** dot(a, b) in double precision — codegen'd primitive loop
    * ([[graft.expr.VectorExpressions]]); identical accumulation order
    * to the HOF form, so oracle roundings are unchanged.
    */
  def dot(a: Column, b: Column): Column = graft.expr.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector (brute force).
    * queries/corpus: (id, embedding). Norms are computed once per
    * side before the pair join — the join evaluates one dot per pair,
    * not three.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      norm(col("embedding")).as("__qn"))
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      norm(col("embedding")).as("__cn"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")), 6))
    // rank on the ROUNDED score (+ cid tiebreak) so cross-engine
    // last-ulp noise cannot flip orders near ties
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("cos"))
  }

  /** Hard-negative mining (contrastive-training primitive): per query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label. Same kernel discipline as bruteForceTopK: norms precompute
    * per side, the codegen'd dot runs inside the pair join, and the
    * rank uses the ROUNDED score so cross-engine ulps can't flip ties.
    * Scale path: swap the corpus side for the IVF/LSH-bucketed probe
    * set — the label-mismatch qual composes with any candidate source.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("label").as("qlab"),
      col("embedding").as("qv"), norm(col("embedding")).as("__qn"))
    val c = corpus.select(col("vec_id").as("cid"), col("label").as("clab"),
      col("embedding").as("cv"), norm(col("embedding")).as("__cn"))
    val scored = q.join(c, col("qid") =!= col("cid") && col("qlab") =!= col("clab"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")), 6))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("qlab"), col("cid"), col("clab"),
        col("rank"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * hash -> uniform in [-1, 1). No RNG state, so executors agree.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(1000003L)).cast("double") /
      lit(500001.5)) - lit(1.0)

  /** The deterministic random-hyperplane matrix for (dim, numPlanes):
    * a pure function of the (plane, dim) index pair, evaluated on the
    * driver. Public so the DuckDB oracle can embed the SAME matrix as
    * SQL literals and recompute signatures bit-identically (the
    * projection sum is left-to-right in double on both engines).
    */
  def lshPlaneMatrix(dim: Int, numPlanes: Int): Array[Seq[Double]] = {
    import org.apache.spark.sql.graft.ColumnBridge
    Array.tabulate(numPlanes) { p =>
      (0 until dim).map { i =>
        // = planeComponent(p, i) evaluated eagerly: xxhash64(p, i) is
        // hashInt folded with the running hash (seed 42), then pmod
        val h = ColumnBridge.xxh64Int(i, ColumnBridge.xxh64Int(p, 42L))
        val pm = ((h % 1000003L) + 1000003L) % 1000003L
        pm.toDouble / 500001.5 - 1.0
      }
    }
  }

  /** numPlanes-bit signature: sign of the projection on each of the
    * planes [offset, offset + numPlanes) of the global deterministic
    * matrix — table t of a multi-table scheme passes
    * offset = t * numPlanes; bit positions stay table-local. The plane
    * matrix is evaluated ONCE on the driver (through the very same
    * expressions, so signatures are bit-identical to the per-row HOF
    * form) and embedded as array literals — each row then pays
    * numPlanes codegen'd dot products instead of numPlanes*dim hash
    * calls.
    */
  def lshSignatureAt(v: Column, dim: Int, numPlanes: Int,
      offset: Int): Column = {
    val matrix = lshPlaneMatrix(dim, offset + numPlanes)
    val planes = (0 until numPlanes).map { j =>
      val proj = dot(v, typedlit(matrix(offset + j)))
      when(proj >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    planes.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Multi-table (OR-amplified) LSH ANN: `numTables` independent
    * plane sets; a candidate pair needs signature agreement in ANY
    * table, so recall rises as 1-(1-p^b)^T while each table's bucket
    * stays selective — the standard fix for single-table LSH's missed
    * neighbors. Candidate generation explodes (table, signature) keys
    * into ONE ids-only bucket shuffle and dedups pairs BEFORE exact
    * scoring; the wide embedding vectors never ride the candidate
    * shuffle (they re-join for the cosine pass) — the shape that
    * matters at billion-vector scale.
    */
  def lshTopKMulti(vectors: DataFrame, dim: Int, numPlanes: Int,
      numTables: Int, k: Int): DataFrame = {
    val scored = scoreCandidates(
      lshCandidatePairs(vectors, dim, numPlanes, numTables, ordered = false),
      vectors)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("cos"))
  }

  /** ANN via LSH buckets: same-signature vectors are candidates;
    * exact cosine ranks within the bucket. Recall grows with fewer
    * planes / multiple tables; one table here (documented trade-off).
    * Ranks on the ROUNDED score + cid tiebreak (same discipline as
    * bruteForceTopK) so cross-engine last-ulp noise can't flip orders.
    */
  def lshTopK(vectors: DataFrame, dim: Int, numPlanes: Int, k: Int): DataFrame =
    lshTopKMulti(vectors, dim, numPlanes, numTables = 1, k)

  /** Bucket-collision candidate pairs of a multi-table LSH scheme:
    * (table, signature) keys explode into ONE ids-only shuffle, pairs
    * dedup before any scoring. `ordered` picks da<db pair form vs
    * directed qid!=cid neighbor form.
    */
  private def lshCandidatePairs(vectors: DataFrame, dim: Int,
      numPlanes: Int, numTables: Int, ordered: Boolean): DataFrame = {
    val sigs = array((0 until numTables).map(t =>
      lshSignatureAt(col("embedding"), dim, numPlanes, t * numPlanes)): _*)
    val keyed = vectors
      .select(col("vec_id"), posexplode(sigs).as(Seq("tix", "sig")))
    val l = keyed.select(col("vec_id").as("qid"), col("tix"), col("sig"))
    val r = keyed.select(col("vec_id").as("cid"), col("tix"), col("sig"))
    val pred = if (ordered) col("qid") < col("cid")
      else col("qid") =!= col("cid")
    l.join(r, Seq("tix", "sig")).where(pred).select("qid", "cid").distinct()
  }

  /** Exact-cosine scoring of candidate (qid, cid) pairs: the wide
    * embedding vectors never ride the candidate shuffle — they re-join
    * by id here. Cosine is rounded to 6 BEFORE any downstream compare
    * (rank or threshold), the cross-engine ulp discipline every LSH
    * oracle depends on.
    */
  private def scoreCandidates(cands: DataFrame, vectors: DataFrame): DataFrame = {
    val emb = vectors.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("__n"))
    cands
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("__n").as("__qn")), "qid")
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("__n").as("__cn")), "cid")
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")), 6))
      .select(col("qid"), col("cid"), col("cos"))
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer ([[lloyd]]),
    * candidates = vectors in the query's nProbe nearest cells, exact
    * cosine ranks within. The classic recall/cost dial for
    * billion-vector scale: cells shard the corpus, probes bound the
    * scanned fraction.
    */
  def ivfTopK(vectors: DataFrame, k: Int, nList: Int, nProbe: Int): DataFrame = {
    // Coarse quantizer: Lloyd's iterations on a deterministic driver
    // sample (IVF quantizers are conventionally trained on a sample —
    // at billion-vector scale the training set stays O(centers*1000)
    // while assignment remains a single distributed pass).
    val sample = trainingSample(vectors)
    val centers: Array[Array[Double]] =
      if (sample.isEmpty) Array.empty
      else lloyd(sample, math.min(nList, sample.length), iters = 10)
    // Cell assignment / probe ordering as a codegen'd EXPRESSION tree
    // (no UDF in the pass that touches every corpus vector): each cell
    // costs ONE codegen'd dot against a literal centroid, and the
    // probe order keeps the (distance, index) tiebreak the sequential
    // argmin used.
    def cellOrder(v: Column): Column = nearestFirst(centerDists(v, centers))
    val assigned = vectors.withColumn("__cell",
      element_at(cellOrder(col("embedding")), 1).getField("idx"))
    val q = assigned.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      norm(col("embedding")).as("__qn"),
      explode(transform(slice(cellOrder(col("embedding")), 1, nProbe),
        s => s.getField("idx"))).as("__cell"))
    val c = assigned.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      norm(col("embedding")).as("__cn"), col("__cell"))
    val scored = q.join(c, Seq("__cell")).where(col("qid") =!= col("cid"))
      .withColumn("cos", round(
        dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")), 6))
      .select("qid", "cid", "cos").distinct()
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("cos"))
  }

  /** Scalar int8 quantization of an embedding column: per-vector
    * min/max range, codes = floor((x-min)/range*255) clamped to 0..255
    * (the storage/ANN compression primitive — 4x smaller vectors, one
    * narrow pass, no shuffle). floor keeps cross-engine determinism
    * (round() disagrees between engines on .5 boundaries).
    */
  def quantizeInt8(v: Column): Column = {
    val mn = array_min(v).cast("double")
    val mx = array_max(v).cast("double")
    val range = when(mx - mn > 0, mx - mn).otherwise(lit(1.0))
    transform(v, x =>
      least(greatest(floor((x.cast("double") - mn) / range * 255.0), lit(0.0)),
        lit(255.0)).cast("int"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold. */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = vectors.select(col("vec_id").as("da"), col("embedding").as("va"),
      norm(col("embedding")).as("__na"))
    val b = vectors.select(col("vec_id").as("db"), col("embedding").as("vb"),
      norm(col("embedding")).as("__nb"))
    a.join(b, col("da") < col("db"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("__na") * col("__nb")))
      .where(col("cos") >= threshold)
      .select(col("da"), col("db"), round(col("cos"), 6).as("cos"))
  }

  /** LSH-bucketed embedding near-dup — the scale twin of the all-pairs
    * `cosineNearDupPairs` (p06's documented baseline): candidate pairs
    * come from multi-table signature agreement (ids-only shuffle, pair
    * dedup), then the exact cosine threshold filters within candidates
    * only. Same output schema (da < db, cos); recall bounded by the
    * tables' collision probability at the threshold, precision exact.
    */
  def cosineNearDupPairsLsh(vectors: DataFrame, threshold: Double,
      dim: Int, numPlanes: Int, numTables: Int): DataFrame =
    scoreCandidates(
      lshCandidatePairs(vectors, dim, numPlanes, numTables, ordered = true),
      vectors)
      .where(col("cos") >= threshold)
      .select(col("qid").as("da"), col("cid").as("db"), col("cos"))

  // ------------------------------------------------ product quantization

  /** Deterministic product-quantization codebook for (dim, numSub, k):
    * every centroid component is a pure function of its (subspace,
    * centroid, component) index triple — the same hash→uniform scheme
    * as [[lshPlaneMatrix]], scaled to the embedding column's typical
    * range. Public so the DuckDB oracle can embed the SAME codebook as
    * SQL literals. Real deployments train per-subspace codebooks
    * instead ([[trainPqCodebook]]); a trained codebook depends on the
    * corpus, which an engine-independent oracle can't reproduce — the
    * encode/ADC machinery under test is identical either way.
    */
  def pqCodebook(dim: Int, numSub: Int, k: Int): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    val sub = dim / numSub
    Array.tabulate(numSub) { m =>
      Array.tabulate(k) { j =>
        Array.tabulate(sub) { i =>
          val h = ColumnBridge.xxh64Int(i,
            ColumnBridge.xxh64Int(j, ColumnBridge.xxh64Int(m, 4242L)))
          val pm = ((h % 1000003L) + 1000003L) % 1000003L
          pm.toDouble / 2000006.0 - 0.25 // uniform [-0.25, 0.25)
        }
      }
    }
  }

  /** Trained PQ codebook: per-subspace Lloyd's k-means over a
    * deterministic driver sample — the conventional PQ training shape
    * (training stays O(k·1000) rows on the driver while encoding
    * remains one distributed pass; same rationale as [[ivfTopK]]'s
    * quantizer).
    */
  def trainPqCodebook(vectors: DataFrame, dim: Int, numSub: Int,
      k: Int): Array[Array[Array[Double]]] = {
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    val sub = dim / numSub
    val sample = trainingSample(vectors)
    Array.tabulate(numSub) { m =>
      lloyd(sample.map(_.slice(m * sub, (m + 1) * sub)), k, iters = 10)
    }
  }

  /** The quantizer training sample: the first 2048 vectors by vec_id. */
  private def trainingSample(vectors: DataFrame): Array[Array[Double]] =
    vectors.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(2048)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)

  /** Lloyd's iterations with first-k init (deterministic; empty cells
    * keep their previous center).
    */
  private def lloyd(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(points.length >= k, s"${points.length} sample rows < k=$k")
    val d = points(0).length
    var centers = points.take(k).map(_.clone())
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }
      s
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var bi = 0; var bd = Double.MaxValue; var i = 0
        while (i < k) { val dd = sq(p, centers(i)); if (dd < bd) { bd = dd; bi = i }; i += 1 }
        counts(bi) += 1
        var j = 0; while (j < d) { sums(bi)(j) += p(j); j += 1 }
      }
      centers = centers.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old
        else { val m = sums(i); var j = 0
          while (j < d) { m(j) /= counts(i); j += 1 }; m }
      }
      it += 1
    }
    centers
  }

  /** Distances of `v` to each center as d_j = |c_j|² − 2·v·c_j: the
    * |v|² term is constant per row, shifting every argmin and ranking
    * equally, so it is dropped. One codegen'd dot per (row, center)
    * against a literal center; |c|² is a driver-computed literal (the
    * oracle embeds the same printed double).
    */
  private def centerDists(v: Column, centers: Array[Array[Double]]): Seq[Column] =
    centers.toSeq.map { c =>
      var cc = 0.0; var j = 0
      while (j < c.length) { cc += c(j) * c(j); j += 1 }
      lit(cc) - lit(2.0) * dot(v, typedlit(c.toSeq))
    }

  /** Sub-distances of subspace m against all k centroids. */
  private def pqSubDists(v: Column, cb: Array[Array[Array[Double]]],
      m: Int): Seq[Column] = {
    val sub = cb(m)(0).length
    centerDists(slice(v, m * sub + 1, sub), cb(m))
  }

  /** (d, idx) structs of `dists` sorted nearest first, lowest index on
    * ties (the oracle's first-position list_min).
    */
  private def nearestFirst(dists: Seq[Column]): Column =
    array_sort(array(dists.zipWithIndex.map {
      case (d, i) => struct(d.as("d"), lit(i).as("idx"))
    }: _*))

  /** PQ code for subspace m: the index of its nearest centroid. */
  private def pqCode(v: Column, cb: Array[Array[Array[Double]]],
      m: Int): Column =
    element_at(nearestFirst(pqSubDists(v, cb, m)), 1).getField("idx")

  /** Product-quantization ANN (asymmetric distance computation):
    * corpus vectors compress to numSub byte-sized codes (argmin
    * centroid per subspace); each query builds a k×numSub lookup table
    * of exact sub-distances once, then scans CODES — the candidate
    * side of the join carries numSub ints instead of the full vector,
    * the memory-residency primitive for billion-vector ANN. At scale
    * this composes with IVF: cells bound the scanned corpus fraction,
    * ADC scores within a cell. Scores are rounded before ranking
    * (cid tiebreak) — the cross-engine ulp discipline of the other
    * ANN kernels.
    */
  /** Corpus PQ encoding: (cid, codes array). Exposed for profiling and
    * for persisting the compressed corpus separately from queries.
    */
  def pqEncode(corpus: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col("vec_id").as("cid"),
      array((0 until cb.length).map(m =>
        pqCode(col("embedding"), cb, m)): _*).as("__codes"))

  def pqTopK(queries: DataFrame, corpus: DataFrame,
      cb: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val numSub = cb.length
    // materialized like a real PQ index: the compressed code table is
    // ~dim×4/numSub smaller than the embeddings and is the artifact a
    // deployment persists; the barrier also stops projection collapse
    // from re-encoding per (query, corpus) pair
    val codes = pqEncode(corpus, cb).localCheckpoint(true)
    // materialize the lookup tables: ADC's contract is "compute k×numSub
    // sub-distances ONCE per query, then only table lookups per pair" —
    // without the barrier, projection collapse inlines the 128-dot
    // array expressions into the post-join projection and re-evaluates
    // them per (query, corpus) PAIR
    val dtabs = queries.select(col("vec_id").as("qid") +:
      (0 until numSub).map(m =>
        array(pqSubDists(col("embedding"), cb, m): _*).as(s"__dt$m")): _*)
      .localCheckpoint(true)
    // ADC scan: left-to-right sum over subspaces (the oracle adds in
    // the same order), rounded before the rank compare
    val scored = dtabs.join(codes, col("qid") =!= col("cid"))
      .withColumn("adist", adcDist(numSub))
    rankTopK(scored, k)
  }

  /** Σₘ dtabₘ[codeₘ] — the ADC lookup sum, left-to-right like the
    * oracle, rounded before any rank compare.
    */
  private def adcDist(numSub: Int): Column =
    round((0 until numSub).map(m =>
      element_at(col(s"__dt$m"), element_at(col("__codes"), m + 1) + 1))
      .reduce(_ + _), 6)

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"), col("adist"))
  }

  /** IVF×PQ composed ANN — the billion-vector index shape: the PQ
    * codebook's subspace-0 code doubles as a coarse cell (both are
    * argmin-over-centroids; sharing them keeps the whole index one
    * deterministic artifact), queries probe their nProbe nearest cells
    * by exact subspace-0 sub-distance and the ADC scan touches ONLY
    * those cells' codes — candidates drop to ~nProbe/numCells of the
    * corpus where [[pqTopK]] scans all codes. nProbe = numCells is
    * exhaustive and must equal [[pqTopK]] exactly (the p13 identity,
    * asserted in PipelineSpec).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      cb: Array[Array[Array[Double]]], k: Int, nProbe: Int): DataFrame = {
    val numSub = cb.length
    val codes = pqEncode(corpus, cb)
      .withColumn("__cell", element_at(col("__codes"), 1))
      .localCheckpoint(true)
    val order0 = array_sort(array(
      pqSubDists(col("embedding"), cb, 0).zipWithIndex.map {
        case (dst, j) => struct(dst.as("d"), lit(j).as("idx"))
      }: _*))
    val dtabs = queries.select((col("vec_id").as("qid") +:
      (0 until numSub).map(m =>
        array(pqSubDists(col("embedding"), cb, m): _*).as(s"__dt$m"))) :+
      transform(slice(order0, 1, nProbe), s => s.getField("idx"))
        .as("__probes"): _*)
      .localCheckpoint(true)
    // each corpus vector lives in exactly one cell, so a (qid, cid)
    // candidate appears at most once — no dedup pass needed
    val q = dtabs.withColumn("__cell", explode(col("__probes")))
      .drop("__probes")
    val scored = q.join(codes, Seq("__cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("adist", adcDist(numSub))
    rankTopK(scored, k)
  }
}
