package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search.
  *
  * Brute-force top-k is the exactness baseline: queries × corpus with the
  * query side broadcast (corpus is never re-shuffled), dot products computed
  * in whole-stage codegen via `zip_with`/`aggregate` — no UDF. The LSH
  * variant (random signed hyperplanes, deterministic seeds) buckets the
  * corpus so each query probes one bucket set: the 100 TB path.
  */
object Similarity {

  /** Sequential-fold double dot product of two float vectors — bit-identical
    * across engines that fold left-to-right. Runs as the compiled
    * [[graft.functions.expressions.ArrayFold.fold_dot]] kernel since r18:
    * the `aggregate(zip_with(...))` HOF form evaluated interpreted (per
    * element: lambda binding + an expression-tree walk + an intermediate
    * product array per row); the kernel folds the same IEEE operations in
    * the same order, so results are bit-identical (guide §4).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.ArrayFold.fold_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each row of `queries` against `corpus`.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (bit, dim). */
  private def planeComponent(bit: Int, dim: Column): Column = {
    // xxhash64 → uniform in [-1, 1): enough for sign-random-projection LSH
    (xxhash64(lit(bit), dim).cast("double") / lit(Long.MaxValue.toDouble))
  }

  /** Sign-random-projection bucket id (`bits`-bit code) for LSH table
    * `table`. Vectors in the same bucket of any table are ANN candidates;
    * probing cost is O(bucket), not O(corpus).
    *
    * REFERENCE FORM ONLY since r19 — kept verbatim so
    * KernelEquivalenceSpec can pin [[lshPostings]]'s compiled kernel
    * against it; the query paths all go through [[lshPostings]].
    */
  private[graft] def lshBucket(vec: Column, bits: Int, table: Int = 0): Column = {
    val code = (0 until bits).map { b =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(table * bits + b, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    code.reduce(_.bitwiseOR(_))
  }

  /** All LSH (table, bucket) postings for a vector — `tables` independent
    * hash tables; recall grows as 1-(1-p^bits)^tables.
    *
    * Compiled kernel ([[graft.functions.expressions.LshVec]]) since r19:
    * the old per-(table, bit) `aggregate(zip_with(...))` folds evaluated
    * interpreted, re-walking the vector tables·bits times per row; the
    * kernel computes every projection in one pass with the identical
    * hash chain, fold order and `> 0` bit rule (guide §4).
    */
  def lshPostings(vec: Column, bits: Int, tables: Int): Column =
    graft.functions.expressions.LshVec.lsh_postings(vec, bits, tables)

  /** 1-row broadcast relation carrying the centroid set as
    * `__cents: array<struct<cell, cvec, cnorm>>`. Centroids travel in the
    * broadcast, NOT as plan literals — plan/codegen size stays flat as
    * nlist grows (at nlist ≥ 1k the old per-centroid `typedLit`s bloated
    * the plan). Cross-joining this 1-row frame is a broadcast nested-loop
    * join of one row: effectively a map-side attach.
    */
  private[graft] def centroidsRow(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    broadcast(cents.zipWithIndex
      .map { case (ct, i) => (i + 1, ct, math.sqrt(ct.map(x => x * x).sum)) }
      .toDF("cell", "cvec", "cnorm")
      .agg(collect_list(struct(col("cell"), col("cvec"), col("cnorm")))
        .as("__cents")))
  }

  /** Centroid cells sorted by cosine rank (best first, ties to the
    * lowest cell id — the same order the old `array_sort` over
    * (-sim, cell) structs produced). Compiled kernel
    * ([[graft.functions.expressions.VectorCells.sorted_cells]]) since
    * r18: the old transform-lambda form evaluated interpreted per
    * centroid AND re-computed `norm(v)` per centroid (captured
    * expressions re-evaluate inside lambdas); same IEEE ops and Spark
    * double ordering, so the ranking is bit-identical (guide §4). */
  private def rankedCells(v: Column): Column =
    graft.functions.expressions.VectorCells.sorted_cells(v, col("__cents"))

  private[graft] def bestCellCol(v: Column): Column =
    element_at(rankedCells(v), 1)

  /** First `n` vectors by id as driver-side doubles — the bounded sample
    * every trainer here starts from. The cast makes element type
    * irrelevant (array<float> and array<double> corpora both work). */
  private def sampleVectors(corpus: DataFrame, idCol: String,
      vecCol: String, n: Int): Array[Array[Double]] =
    corpus.orderBy(col(idCol)).limit(n)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Deterministic Lloyd k-means coarse quantizer: init = first `k` corpus
    * rows by id, then `iters` assign-update rounds. The update is an
    * element-wise mean via posexplode → groupBy(cell, dim) in exact DECIMAL
    * (so partial-agg order cannot perturb centroids between runs); per
    * iteration the shuffle is |corpus|·dim value rows — the standard
    * distributed-k-means cost, linear in data size.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] =
      sampleVectors(corpus, idCol, vecCol, k).map(_.toSeq).toSeq
    (0 until iters).foreach { _ =>
      val assigned = corpus
        .crossJoin(centroidsRow(corpus.sparkSession, cents))
        .withColumn("__cell", bestCellCol(col(vecCol)).cast("int"))
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__dim", "__x")))
      val means = assigned.groupBy("__cell", "__dim")
        .agg((sum(col("__x").cast("decimal(27,10)")) / count(lit(1)))
          .cast("double").as("__m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // empty cells keep their previous centroid (standard Lloyd handling)
      cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i + 1, old) }
    }
    cents
  }

  /** IVF-flat ANN: a coarse quantizer of `nlist` centroids (k-means, or the
    * first rows when `kmeansIters` = 0) cells the corpus once (argmax-cosine
    * assignment); each query probes its `nprobe` nearest cells and re-scores
    * exactly inside them. Probing cost is O(corpus * nprobe / nlist) instead
    * of O(corpus); the inverted index is the (cell → vectors)
    * co-partitioning, i.e. one shuffle at build time.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 0): DataFrame = {
    val cents: Seq[Seq[Double]] =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
      else sampleVectors(corpus, idCol, vecCol, nlist).map(_.toSeq).toSeq
    val cRow = centroidsRow(corpus.sparkSession, cents)
    // top-nprobe cell ids per query: sort (-sim, cell) structs, take n
    def probeCells(v: Column): Column =
      slice(rankedCells(v), 1, nprobe)
    val indexed = corpus.crossJoin(cRow).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), bestCellCol(col(vecCol)).cast("int").as("__cell"))
    val probes = broadcast(queries.crossJoin(cRow).select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"),
        explode(probeCells(col(vecCol))).as("__cell")))
    val scored = probes.join(indexed, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  // ---- product quantization ------------------------------------------------

  /** Deterministic Lloyd k-means over driver-side sample rows: init =
    * first `k` rows, L2 assignment with ties to the lowest centroid,
    * mean update, empty cells keep their previous centroid. PQ codebooks
    * train on a bounded sample by standard practice — the sample is the
    * only data that ever leaves the executors at train time. */
  private def lloydSample(rows: Array[Array[Double]], k: Int,
      iters: Int): Seq[Seq[Double]] = {
    var cents = rows.take(k).map(_.toSeq).toSeq
    def l2sq(a: Array[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    (0 until iters).foreach { _ =>
      val assigned = rows.map(r => (cents.indices.minBy(j =>
        (l2sq(r, cents(j)), j)), r))
      cents = cents.indices.map { j =>
        val mine = assigned.filter(_._1 == j).map(_._2)
        if (mine.isEmpty) cents(j)
        else mine.transpose.map(xs => xs.sum / xs.length).toSeq
      }
    }
    cents
  }

  /** 1-row broadcast relation carrying the PQ codebooks as
    * `__cb: array<array<array<double>>>` (subspace → code → centroid) —
    * same plan-size rationale as [[centroidsRow]]. */
  private def codebookRow(spark: org.apache.spark.sql.SparkSession,
      cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    broadcast(Seq(Tuple1(cb)).toDF("__cb"))
  }

  /** Product-quantization ANN (ADC scan + exact refine).
    *
    *   1. TRAIN: `m` per-subspace codebooks of `ksub` centroids, Lloyd
    *      on a bounded driver-side sample (first `sampleN` rows by id —
    *      deterministic; PQ codebooks conventionally train on a sample).
    *   2. ENCODE: one corpus pass maps each vector to `m` small codes
    *      (argmin-L2 per subspace) — the representation PQ exists for:
    *      m bytes instead of 4·d, so a 100 TB corpus's index fits in a
    *      fraction of the space.
    *   3. ADC SCAN: each query precomputes its `m × ksub` lookup table
    *      ONCE (broadcast side); scoring a code is then `m` array
    *      lookups instead of `d` multiplies.
    *   4. REFINE: the top `k·refine` candidates per query by
    *      approximate dot re-score EXACTLY (one bounded join back to
    *      the original vectors) and rank by true cosine.
    *
    * Codebooks and query LUTs travel in broadcasts, never plan
    * literals; the corpus is scanned once to encode and once more only
    * for the bounded refine set. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, ksub: Int = 16, sampleN: Int = 1024,
      kmeansIters: Int = 3, refine: Int = 4): DataFrame = {
    val sample: Array[Array[Double]] =
      sampleVectors(corpus, idCol, vecCol, sampleN)
    require(sample.nonEmpty, "pqTopK needs a non-empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val ds = d / m
    val cb: Seq[Seq[Seq[Double]]] = (0 until m).map { mi =>
      lloydSample(sample.map(_.slice(mi * ds, (mi + 1) * ds)),
        ksub, kmeansIters)
    }
    val cbRow = codebookRow(corpus.sparkSession, cb)

    def subVec(v: Column, mi: Int): Column = slice(v, mi * ds + 1, ds)
    // compiled L2² kernel — same fold order/ops as the old
    // aggregate(zip_with(...)) HOF form, bit-identical (guide §4)
    def l2sqCol(a: Column, b: Column): Column =
      graft.functions.expressions.ArrayFold.fold_l2sq(a, b)
    // argmin-L2 code for subspace mi — compiled kernel (same (d2, j)
    // ascending order and lowest-j tie-break as the old sort-and-take-
    // head form, guide §4)
    def codeFor(v: Column, mi: Int): Column =
      graft.functions.expressions.VectorCells.arg_min_l2(
        subVec(v, mi), element_at(col("__cb"), mi + 1))

    val coded = corpus.crossJoin(cbRow).select(
      col(idCol).as("neighbor_id"),
      array((0 until m).map(codeFor(col(vecCol), _)): _*).as("__code"))
    // per-query LUT: __lut(mi)(j) = dot(query subvector mi, centroid j).
    // The scan carries ONLY (query_id, __lut) × (neighbor_id, __code) —
    // no vectors — so per-pair payload stays m-scale; the full query
    // vector rejoins for the bounded refine set only.
    val qlut = broadcast(queries.crossJoin(cbRow).select(
      col(idCol).as("query_id"),
      array((0 until m).map(mi =>
        transform(element_at(col("__cb"), mi + 1),
          cent => dot(subVec(col(vecCol), mi), cent))): _*).as("__lut")))
    val approx = qlut.join(coded, col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", (0 until m).map(mi =>
        element_at(element_at(col("__lut"), mi + 1),
          element_at(col("__code"), mi + 1) + 1)).reduce(_ + _))
    val candW = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val cand = approx.withColumn("__r", row_number().over(candW))
      .filter(col("__r") <= k * refine)
      .select("query_id", "neighbor_id")
    val qvs = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val scored = cand.join(qvs, Seq("query_id"))
      .join(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  // ---- IVF-PQ (coarse quantizer + residual product codes) -------------------

  /** Internal pieces of [[ivfpqTopK]], split out so specs can assert the
    * scan bound: `adc` is the candidate frame BEFORE ranking — its row
    * count is exactly Σ_q Σ_{cell ∈ probes(q)} |list(cell)| (minus
    * query-self rows), i.e. the probed posting lists and nothing else.
    * `coded` = (neighbor_id, __cell, __code), `probes` = one row per
    * (query_id, probed __cell). */
  private[graft] final case class IvfPq(coded: DataFrame, probes: DataFrame,
      adc: DataFrame, topK: DataFrame)

  /** IVF-PQ ANN: the standard 100 TB ANN architecture (Jégou et al. 2011,
    * IVFADC) — a coarse quantizer of `nlist` centroids prunes each query
    * to `nprobe` posting lists, and within those lists scoring runs over
    * `m`-byte PQ codes of the RESIDUAL (vector − assigned centroid), not
    * the vectors.
    *
    * Dot products decompose exactly over the residual:
    * `dot(q, x) = dot(q, c_cell) + dot(q, x − c_cell)`, so the approximate
    * score is the (per probed cell) centroid dot plus `m` LUT lookups —
    * no vector ever rides the scan.
    *
    * Scale shape:
    *   - TRAIN driver-side on a bounded `sampleN` sample (standard
    *     practice): coarse centroids (Lloyd/L2) + shared residual
    *     codebooks per subspace.
    *   - ENCODE: one corpus pass → (id, cell, m codes). The index is
    *     m bytes + a cell id per vector; at 100 TB this is the artifact
    *     you'd persist bucketed BY CELL so probes prune whole files.
    *   - PROBE: queries broadcast with their `nprobe` cells, per-cell
    *     centroid dots, and the m×ksub LUT.
    *   - ADC SCAN: an equi-join on cell — a BroadcastHashJoin whose
    *     OUTPUT is exactly the probed lists' codes (unprobed rows cost a
    *     hash-miss, never an m-lookup score), unlike [[pqTopK]]'s
    *     exhaustive query×corpus scan.
    *   - REFINE: top `k·refine` by approximate dot re-score exactly and
    *     rank by true cosine (bounded join back to the vectors).
    */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 32, sampleN: Int = 1024,
      kmeansIters: Int = 3, refine: Int = 8): DataFrame =
    ivfpqParts(queries, corpus, idCol, vecCol, k, nlist, nprobe, m, ksub,
      sampleN, kmeansIters, refine).topK

  private[graft] def ivfpqParts(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int, m: Int, ksub: Int, sampleN: Int,
      kmeansIters: Int, refine: Int): IvfPq = {
    val spark = corpus.sparkSession
    val sample = sampleVectors(corpus, idCol, vecCol, sampleN)
    require(sample.nonEmpty, "ivfpqTopK needs a non-empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val ds = d / m

    // coarse quantizer: Lloyd on the sample; assignment below is the same
    // cosine-argmax rule everywhere, so an exact copy of a query vector
    // always lands in the cell the query probes first
    val cents = lloydSample(sample, nlist, kmeansIters)
    val cRow = centroidsRow(spark, cents)
    def cosTo(v: Array[Double], c: Seq[Double]): Double = {
      var dot = 0.0; var nv = 0.0; var nc = 0.0; var i = 0
      while (i < v.length) {
        dot += v(i) * c(i); nv += v(i) * v(i); nc += c(i) * c(i); i += 1
      }
      dot / (math.sqrt(nv) * math.sqrt(nc))
    }
    // shared residual codebooks, trained on the sample's residuals under
    // the same assignment rule the distributed encode uses
    val residuals = sample.map { v =>
      val cell = cents.indices.minBy(j => (-cosTo(v, cents(j)), j))
      v.indices.map(i => v(i) - cents(cell)(i)).toArray
    }
    val cb: Seq[Seq[Seq[Double]]] = (0 until m).map { mi =>
      lloydSample(residuals.map(_.slice(mi * ds, (mi + 1) * ds)),
        ksub, kmeansIters)
    }
    val cbRow = codebookRow(spark, cb)

    def subVec(v: Column, mi: Int): Column = slice(v, mi * ds + 1, ds)
    // compiled L2² kernel — same fold order/ops as the old
    // aggregate(zip_with(...)) HOF form, bit-identical (guide §4)
    def l2sqCol(a: Column, b: Column): Column =
      graft.functions.expressions.ArrayFold.fold_l2sq(a, b)
    def centVec(cell: Column): Column =
      element_at(col("__cents"), cell).getField("cvec")
    // compiled residual kernel ([[expressions.LshVec.vec_residual]]) —
    // the old zip_with lambda evaluated interpreted AND re-ran the
    // captured centroid lookup per ELEMENT (captured non-attribute
    // expressions get no CSE inside lambdas); the kernel binds the
    // centroid once per row and does the identical per-element
    // cast-to-double subtraction with zip_with null/padding semantics
    // (guide §4)
    def residual(v: Column, cell: Column): Column =
      graft.functions.expressions.LshVec.vec_residual(v, centVec(cell))
    // compiled argmin-L2 kernel — same ascending (d2, j) head (guide §4)
    def codeFor(r: Column, mi: Int): Column =
      graft.functions.expressions.VectorCells.arg_min_l2(
        slice(r, mi * ds + 1, ds), element_at(col("__cb"), mi + 1))

    // ENCODE: one corpus pass → (neighbor_id, __cell, __code[m])
    val coded = corpus.crossJoin(cRow).crossJoin(cbRow)
      .withColumn("__cell", bestCellCol(col(vecCol)).cast("int"))
      .withColumn("__res", residual(col(vecCol), col("__cell")))
      .select(col(idCol).as("neighbor_id"), col("__cell"),
        array((0 until m).map(codeFor(col("__res"), _)): _*).as("__code"))

    // PROBE side: nprobe cells per query, dot(q, centroid) per probed
    // cell, and the residual LUT — all broadcast, never plan literals
    def probeCells(v: Column): Column =
      slice(rankedCells(v), 1, nprobe)
    val probes = broadcast(queries.crossJoin(cRow).crossJoin(cbRow)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col("__cents"),
        explode(probeCells(col(vecCol))).as("__cell"),
        array((0 until m).map(mi =>
          transform(element_at(col("__cb"), mi + 1),
            cent => dot(subVec(col(vecCol), mi), cent))): _*).as("__lut"))
      .withColumn("__qc", dot(col("__qv"), centVec(col("__cell"))))
      .drop("__qv", "__cents"))

    // ADC SCAN: equi-join on the probed cell — output rows == probed
    // posting lists only; approx = centroid dot + m LUT lookups
    val adc = probes.join(coded, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx", col("__qc") + (0 until m).map(mi =>
        element_at(element_at(col("__lut"), mi + 1),
          element_at(col("__code"), mi + 1) + 1)).reduce(_ + _))

    val candW = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val cand = adc.withColumn("__r", row_number().over(candW))
      .filter(col("__r") <= k * refine)
      .select("query_id", "neighbor_id")
    val qvs = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val scored = cand.join(qvs, Seq("query_id"))
      .join(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val topK = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
    IvfPq(coded, probes, adc, topK)
  }

  /** ANN top-k: multi-table LSH candidate generation with exact re-scoring.
    * Candidates = pairs sharing a bucket in >= 1 of `tables` hash tables.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 4, tables: Int = 16): DataFrame = {
    def postings(df: DataFrame, outId: String, outVec: String): DataFrame =
      df.select(col(idCol).as(outId), col(vecCol).as(outVec),
        explode(lshPostings(col(vecCol), bits, tables)).as("__p"))
    val q = broadcast(postings(queries, "query_id", "__qv"))
    val c = postings(corpus, "neighbor_id", "__cv")
    val cand = q.join(c, Seq("__p"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "__qv", "neighbor_id", "__cv")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
