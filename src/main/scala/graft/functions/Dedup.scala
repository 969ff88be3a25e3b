package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.{FoldDot, LshVec, MinHashBands, MinHashBandsExpr, Shingles}

/** Document deduplication for large-scale text corpora.
  *
  * Beyond-reference operators (the reference only has PK dedup,
  * api/spec.go:344-346). All are designed around shuffles that stay
  * proportional to candidate pairs, not O(n²):
  *   - exact: one hash-groupBy;
  *   - MinHash+LSH ([[nearDupPairs]]): an identical-text window over one
  *     md5 shuffle, then one shuffle of the band rows; candidates are
  *     verified inside each sorted band run, so there is no pair join.
  *
  * Every candidate-pair operator here ([[nearDupPairs]],
  * [[embedNearDupPairs]], [[semDedup]] and [[Multimodal]]'s Hamming
  * matchers) finds its pairs in one [[runPass]]: rows that share a key are
  * shuffled together once and verified inside their sorted run, and a pair
  * that shares several keys is emitted from the first of them only.
  */
object Dedup {

  /** The partition count to widen an under-parallel input to, if it is
    * one: a corpus arriving as one small file plans as ONE input
    * partition, serializing everything up to the first shuffle. Only
    * under-parallel scans (below the session default parallelism) widen —
    * at real scale (many files/splits) this is None, so no shuffle of
    * the full corpus is ever added where it wasn't needed.
    */
  private[graft] def widenTarget(df: DataFrame): Option[Int] = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Estimate the scan's parallelism from logical-plan statistics (file
    // sizes for file relations) instead of df.rdd.getNumPartitions — the
    // rdd probe forces physical planning of the frame and can disagree
    // with what AQE later does. bytes/maxPartitionBytes mirrors the file
    // split planner; small inputs (< target partitions' worth) widen,
    // many-file/many-split inputs are untouched.
    val maxPartBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val sizeBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Relations without real size statistics (JDBC, RDD-backed, custom
    // sources) report the spark.sql.defaultSizeInBytes sentinel (defaults
    // to Long.MaxValue), which would make estParts huge and skip widening
    // for exactly the single-partition inputs that need it. For those,
    // fall back to the physical partition-count probe.
    val statsUnknown = sizeBytes >= BigInt(Long.MaxValue) / 2
    val estParts =
      if (statsUnknown) df.rdd.getNumPartitions.toLong
      else (sizeBytes / maxPartBytes).toLong + 1
    Option.when(estParts < target)(target)
  }

  /** [[widenTarget]] as a round-robin repartition. */
  private[graft] def widen(df: DataFrame): DataFrame =
    widenTarget(df).fold(df)(df.repartition(_))

  /** Distinct token n-gram shingles of a whitespace-tokenized text column.
    * Compiled single-pass kernel ([[graft.functions.expressions.TextGrams
    * .shingles]]) since r18 — the old `array_distinct(transform(sequence,
    * i => concat_ws(" ", slice(toks, i+1, n))))` HOF form evaluated
    * interpreted with an O(n·gram) slice+join walk per position; the
    * kernel exploits that single-space-split tokens are contiguous byte
    * ranges of the text, so each gram is one byte-range slice. Identical
    * output: first-occurrence-order distinct grams, whole-text fallback
    * (including NULL → [NULL]) below n tokens (guide §4). */
  def shingleCol(text: Column, n: Int): Column =
    graft.functions.expressions.TextGrams.shingles(text, n)

  /** Exact dedup: canonical (min id) doc per content hash + dup count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Generic identical-key representative collapse for the embedding and
    * multimodal near-dup operators ([[embedNearDupPairs]],
    * [[Multimodal]]): `min(__id) OVER (PARTITION BY keyCol)` names each
    * row's representative (`rows` must carry an `__id` column), returned
    * as `rows` plus `__rep`. A row with `__id = __rep` is its key's
    * representative; any other row is a collapsed member, which the
    * caller's [[runPass]] emits as the star edge (id_a = rep, id_b =
    * member). A NULL key is one window partition like any other, so those
    * rows stay in the pair universe; a NULL `__id` is neither, and takes
    * no part. */
  private[graft] def collapseByKey(rows: DataFrame, keyCol: String): DataFrame =
    rows.withColumn("__rep", min("__id").over(Window.partitionBy(col(keyCol))))

  /** The [[runPass]] rows of a [[collapseByKey]]-tagged frame: `cols`,
    * then (`__ki`, `__kv`): a representative emits one row per element of
    * its `keys` array (its index and value), and a collapsed member one row
    * (-1, xxhash64(`__id`)) that its engine emits as the star edge
    * (rep, member). The members ride the same shuffle, so the collapse
    * window has this one reader. */
  private[graft] def keyRows(tagged: DataFrame, keys: Column,
      cols: Column*): DataFrame = {
    val isRep = col("__id") === col("__rep")
    tagged.select(cols :+ posexplode(when(isRep, keys)
        .otherwise(array(xxhash64(col("__id"))))).as(Seq("__ki", "__kv")): _*)
      .withColumn("__ki", when(isRep, col("__ki")).otherwise(lit(-1)))
  }

  /** The one pairwise engine of this module and [[Multimodal]]. `rows` are
    * hash-partitioned by the `key` columns (to `width` partitions when the
    * input is under-parallel, see [[widenTarget]]; AQE would otherwise
    * coalesce a small shuffle into one task and the pass would run on one
    * core), sorted by `key` and then `order` within each partition, and
    * one `mapPartitions` pass hands each run of rows with equal keys to
    * `perRun`, whose rows it emits under the `out` schema. A NULL key
    * value equals a NULL key value here, unlike in an equi-join, so a
    * caller whose key can be NULL decides what such a run means.
    *
    * Bucket bound: the pass holds one run in memory at a time, and
    * `perRun` typically verifies all of its pairs, O(run²) work: the same
    * as the per-bucket work of a self-join on the key. Runs are produced
    * lazily, so the pass streams past every other run. */
  private[graft] def runPass(rows: DataFrame, width: Option[Int],
      key: Seq[String], order: Seq[String], out: StructType)(
      perRun: collection.IndexedSeq[Row] => Iterator[Row]): DataFrame = {
    val at = key.map(rows.schema.fieldIndex).toArray
    width.fold(rows.repartition(key.map(col): _*))(rows.repartition(_, key.map(col): _*))
      .sortWithinPartitions((key ++ order).map(col): _*)
      .mapPartitions { it =>
        val in = it.buffered
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val run = ArrayBuffer(in.next())
          while (in.hasNext && at.forall(k => in.head.get(k) == run(0).get(k)))
            run += in.next()
          perRun(run)
        }
      }(Encoders.row(out))
  }

  /** [[Similarity.cosine]] `>= threshold` outside a plan, for vectors of
    * `df`'s `vecCol` and their norms, which the plan computes with
    * [[Similarity.norm]]: the same [[FoldDot]] fold and division, NULL
    * (never reaching the threshold) wherever the plan gives NULL, a zero
    * divisor failing under ANSI as Spark's division does, and Spark's
    * double order, so a NaN cosine reaches every threshold. */
  private final class Cosine(df: DataFrame, vecCol: String) extends Serializable {
    private val ansi = df.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    private val vecType = df.schema(vecCol).dataType
    private val dot = FoldDot(Literal(null, vecType), Literal(null, vecType))

    /** a vector as a [[Row]] holds it */
    def data(v: Any): ArrayData =
      if (v == null) null else new GenericArrayData(v.asInstanceOf[collection.Seq[Any]])

    /** cosine(a, b) given norm(a) and norm(b) */
    def apply(a: ArrayData, na: Any, b: ArrayData, nb: Any): java.lang.Double = {
      val ab = if (na == null || nb == null) null else dot.compute(a, b)
      val den = if (ab == null) 1.0 else na.asInstanceOf[Double] * nb.asInstanceOf[Double]
      if (den == 0 && ansi) throw GraftColumnBridge.divideByZero()
      if (ab == null || den == 0) null else ab / den
    }

    def atLeast(c: java.lang.Double, threshold: Double): Boolean =
      c != null && SQLOrderingUtil.compareDoubles(c, threshold) >= 0
  }

  /** Near-duplicate pairs with exact Jaccard >= threshold over distinct
    * token `n`-gram shingles, found by MinHash-LSH candidate generation
    * and exact verification. Output: (id_a, id_b, jaccard), id_a < id_b.
    * Ids must be unique and non-NULL; a row with a NULL id takes no part.
    *
    * EXACT-duplicate texts (same md5) collapse to their min-id
    * representative BEFORE banding: web corpora carry huge
    * identical-text groups (boilerplate pages), and every member of such
    * a group collides in every LSH band — C(N,2) candidate and output
    * pairs for one group of N. Each group instead emits N−1 star edges
    * (rep, member, 1.0) and only representatives are signed, banded, and
    * verified — candidate and output rows linear in group size, the
    * per-group signature work paid once, and connected components over
    * the edge list (the keep/drop decision) unchanged: the star spans
    * what the clique spanned and the rep carries the group's cross-group
    * edges. NULL texts form one identical group like any other (a window
    * partition on a NULL md5 is one group, so they star-collapse instead
    * of silently vanishing); their representative's only shingle is NULL
    * and never matches real text. CAVEAT for crawl corpora with many failed
    * extractions: those star edges carry jaccard = 1.0 BY FIAT (two
    * null-text documents are "identical"), so downstream connected
    * components will keep one failed extraction and drop the rest — run
    * an emptiness/length gate ahead of this operator if that is not the
    * intent ([[embedNearDupPairs]] instead EXCLUDES degenerate vectors,
    * because cosine is undefined for them; null TEXT equality is
    * well-defined, hence the asymmetry — see README "Pair-list
    * contract").
    *
    * Plan: two shuffles and no join, and building it runs no Spark job.
    *   1. `min(id) OVER (PARTITION BY md5(text))` names each row's
    *      representative. An under-parallel input is widened by a
    *      repartition on the md5, which is then also the window's shuffle.
    *   2. Each representative emits one row per band,
    *      (band_idx, band_hash, id, text); each collapsed member emits one
    *      row with band_idx -1 that carries its representative. The rows
    *      are hash-partitioned by (band_idx, band_hash) and sorted by
    *      (band_hash, band_idx, id) within each partition (the band hash
    *      first, so the sort's prefix tells almost all rows apart).
    *   3. [[runPass]] hands each run of equal (band_idx, band_hash) to
    *      [[verifyRun]]: every pair of a run is a candidate, verified by
    *      exact Jaccard and emitted only from the FIRST band in which the
    *      two signatures agree, so no `distinct` is needed. Member rows
    *      pass through as star edges.
    *
    * Bucket bound: the pass holds one run (one bucket) in memory at a
    * time and verifies all of its pairs, O(run²) work, as the per-bucket
    * work of a band self-join was. Identical texts are collapsed first, so
    * a large run is a large family of near-identical but distinct texts.
    *
    * Bytes trade: every band row carries its document's text, so the band
    * shuffle writes about bands × text bytes per representative (32 bands
    * for RefinedWeb). That replaces the band rows, the `distinct` and the
    * two verify joins onto the shingle sets of a join plan. On short
    * documents the bytes are about equal: 6.25 MB against 6.15 MB for the
    * join plan on 5000 documents of ~300 bytes (`td_dedup_near` at
    * sf0.1). They grow with text length × bands.
    *
    * Default banding (16x4) targets high-margin corpora: recall ~1-1.5e-7 at
    * J=0.89 while J<=0.1 background yields ~0 candidates per pair; raise
    * bands/rows for thresholds close to the background similarity.
    */
  def nearDupPairs(df0: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // min(id) skips NULL ids, so dropping them first names the same reps
    val hashed = df0.select(col(idCol).as("__id"), col(textCol).as("__t"),
        md5(col(textCol)).as("__ch"))
      .filter(col("__id").isNotNull)
    // an under-parallel input gets an explicit width in both shuffles:
    // AQE would coalesce these small shuffles into one task, and the
    // kernels and the verify pass would then run on one core
    val width = widenTarget(df0)
    val tagged = collapseByKey(
      width.fold(hashed)(hashed.repartition(_, col("__ch"))), "__ch")
    val rows = keyRows(tagged, MinHashBands.minhash_bands(
        shingleCol(col("__t"), n), bands, rowsPerBand),
      col("__id"), col("__rep"), when(col("__id") === col("__rep"), col("__t")).as("__t"))
    val shingles = Shingles(Literal(null, StringType), n)
    val bander = MinHashBandsExpr(Literal(null, ArrayType(StringType)),
      bands, rowsPerBand)
    runPass(rows, width, Seq("__kv", "__ki"), Seq("__id"),
        pairSchema(hashed, "jaccard", DoubleType)) { run =>
      val band = run(0).getInt(3)
      if (band < 0) run.iterator.map(r => Row(r.get(1), r.get(0), 1.0))
      else if (run.size < 2) Iterator.empty
      else verifyRun(run, band, threshold, shingles, bander)
    }
  }

  /** (id_a, id_b, `measure`) with the id type of `rows`' `__id`. */
  private[graft] def pairSchema(rows: DataFrame, measure: String,
      measureType: DataType): StructType = {
    val id = rows.schema("__id")
    StructType(Seq(id.copy(name = "id_a"), id.copy(name = "id_b"),
      StructField(measure, measureType, nullable = false)))
  }

  /** [[nearDupPairs]]' verify of one run of rows
    * (id, rep, text, band_idx, band_hash) of band `band`, in id order.
    * Each pair with id_a < id_b is kept when its Jaccard, computed as
    * `size(array_intersect) / size(array_union)` over the [[Shingles]]
    * kernel's sets (a NULL element equals a NULL element), reaches
    * `threshold`, and this band is the first in which the two
    * [[MinHashBandsExpr]] band hashes agree. The band hashes are
    * recomputed for those pairs only, in band order and only up to the
    * first agreeing band. */
  private def verifyRun(run: collection.IndexedSeq[Row], band: Int, threshold: Double,
      shingles: Shingles, bander: MinHashBandsExpr): Iterator[Row] = {
    val grams = run.map(r => shingles.compute(UTF8String.fromString(r.getString(2))))
    val sets = grams.map { g =>
      val s = new java.util.HashSet[UTF8String](g.numElements() * 2)
      for (k <- 0 until g.numElements()) s.add(g.getUTF8String(k))
      s
    }
    def jaccard(i: Int, j: Int): Double = {
      val (small, large) =
        if (sets(i).size <= sets(j).size) (sets(i), sets(j)) else (sets(j), sets(i))
      var inter = 0
      small.forEach(g => if (large.contains(g)) inter += 1)
      inter.toDouble / (sets(i).size + sets(j).size - inter)
    }
    // each member's band hashes, computed in band order only as far as
    // a check needs them: most pairs agree in band 0 or 1
    val bases = new Array[Array[Long]](run.size)
    val known = new Array[Int](run.size)
    val hashes = Array.ofDim[Long](run.size, band + 1)
    def bandOf(i: Int, c: Int): Long = {
      if (bases(i) == null) bases(i) = bander.bases(grams(i))
      while (known(i) <= c) {
        hashes(i)(known(i)) = bander.bandHash(bases(i), known(i))
        known(i) += 1
      }
      hashes(i)(c)
    }
    def firstCommonBand(i: Int, j: Int): Int =
      (0 to band).indexWhere(c => bandOf(i, c) == bandOf(j, c))
    val id = run.map(_.get(0))
    for {
      i <- run.indices.iterator
      j <- (i + 1 until run.size).iterator if id(i) != id(j)
      sim = jaccard(i, j) if sim >= threshold && firstCommonBand(i, j) == band
    } yield Row(id(i), id(j), sim)
  }

  /** Paragraph-granularity fuzzy dedup (RefinedWeb §3.2 / Dolma run
    * MinHash at BOTH document and paragraph level — boilerplate
    * paragraphs repeat across pages whose full texts are nowhere near
    * duplicates): explode `paraDelim`-separated paragraphs and run the
    * document-level [[nearDupPairs]] machinery (identical-text
    * collapse, banded LSH, exact verify) over (doc, paragraph-index)
    * units. Empty paragraphs (split artifacts from doubled delimiters)
    * are dropped BEFORE pairing — unlike [[nearDupPairs]]' null-text
    * star policy there is nothing to pair; indices still count the raw
    * split positions, so kept paragraphs keep their original offsets.
    *
    * Unit ids pack (doc, index) into one long — doc << 20 | index —
    * so the collapse/band/verify pipeline runs unchanged; ids are
    * range-guarded (non-null, doc in [0, 2^43), index < 2^20) and the
    * packing is exact bit arithmetic, never a double round-trip. Doc
    * ids must be UNIQUE, like every id-keyed operator in this module
    * (duplicate ids collide in the packed space and attribute pairs to
    * whichever row wins — uniqueness is the corpus contract, not
    * re-checked per operator). Scale shape is
    * [[nearDupPairs]] on the paragraph multiset: corpus-linear explode,
    * one collapse window (which absorbs the web's giant repeated-
    * boilerplate groups as stars), one band pass over representatives.
    *
    * NULL-text documents are DROPPED silently (split(NULL) yields a NULL
    * array, so posexplode emits no paragraph rows): unlike
    * [[nearDupPairs]]' null-text star policy there are no units to pair,
    * the same treatment empty paragraphs get. Coalesce NULL text
    * upstream if such documents must participate.
    *
    * Output: (doc_a, para_a, doc_b, para_b, jaccard) with
    * (doc_a, para_a) < (doc_b, para_b); jaccard >= threshold.
    */
  def paraNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, paraDelim: String = "\n", n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val paras = df
      .select(col(idCol).cast("long").as("__doc"),
        // quote the delimiter: split() takes a Java regex, and a caller
        // passing "|" or "." as a LITERAL separator would otherwise
        // explode the text into per-character garbage paragraphs
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(paraDelim))).as(Seq("__pidx", "__p")))
      .filter(col("__p") =!= "")
    val units = paras.select(
      // NULL guard too: a NULL id (or a non-numeric string id nulled by
      // the long cast) would make the range condition NULL, skip the
      // raise, and pack every paragraph under a NULL pid — which
      // nearDupPairs then silently drops (a NULL id takes no part),
      // reporting an empty pair list instead of failing loudly
      when(col("__doc").isNull || col("__doc") < 0 ||
          col("__doc") >= (1L << 43) || col("__pidx") >= (1 << 20),
        raise_error(concat(
          lit("paraNearDupPairs: need a non-null long-castable doc id in " +
            "[0, 2^43) and < 2^20 paragraphs per doc, got doc="),
          coalesce(col("__doc").cast("string"), lit("NULL")),
          lit(" para="), col("__pidx"))))
        .otherwise(shiftleft(col("__doc"), 20) + col("__pidx"))
        .as("__pid"),
      col("__p"))
    nearDupPairs(units, "__pid", "__p", threshold, n, bands, rowsPerBand)
      .select(shiftright(col("id_a"), 20).as("doc_a"),
        col("id_a").bitwiseAND(lit((1L << 20) - 1)).cast("int").as("para_a"),
        shiftright(col("id_b"), 20).as("doc_b"),
        col("id_b").bitwiseAND(lit((1L << 20) - 1)).cast("int").as("para_b"),
        col("jaccard"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against the
    * full shingle sets of the prefix-filter generator. */
  private[graft] def verifyPairs(cands: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(sets.select(col("__id").as("id_a"), col("__shingles").as("__sh_a")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__shingles").as("__sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
          size(array_union(col("__sh_a"), col("__sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** EXACT n-gram Jaccard similarity join via prefix filtering (the
    * All-Pairs / PPJoin principle: under any global token order, two sets
    * with J >= t must share a token within their first
    * |S| - ceil(t*|S|) + 1 tokens — so indexing only those prefixes is a
    * complete candidate generator). Unlike [[nearDupPairs]] (MinHash-LSH,
    * probabilistic recall) this finds EVERY qualifying pair.
    *
    * Scale shape: tokens are ordered rarest-first by global document
    * frequency, so prefixes hold the most selective grams and the
    * prefix-token self-join touches few candidates; the only O(pairs) work
    * is candidate verification. No all-pairs product anywhere. Skewed
    * prefix tokens (a gram shared by many docs) are AQE-split like any
    * skewed join key.
    *
    * Output: (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    */
  def ngramJaccardPairs(df0: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val df = widen(df0)
    // the shingle arrays are NOT materialized, by measurement: they feed
    // the explode and both verify broadcast sides, but a localCheckpoint
    // benched SLOWER (r19: 2.50 vs 2.21 norm) — the compiled shingle
    // recompute is cheaper than writing/reading the gram arrays
    val ex = df.select(col(idCol).as("__id"),
      explode(shingleCol(col(textCol), n)).as("__g"))
    val dfreq = ex.groupBy("__g").agg(count(lit(1)).as("__df"))
    // rare-first global order; (__df, __g) ties broken lexically => total.
    // FP guard: t*|S| can land one ulp ABOVE its exact integral value
    // (0.07*100 = 7.000...001), and an over-estimated ceil would shrink the
    // prefix / tighten a bound and silently lose qualifying pairs. Every
    // rounding below is therefore nudged down by eps — erring toward MORE
    // candidates, which the exact verification then filters.
    val eps = 1e-9
    // shingles are distinct per doc, so the row count of a doc's window
    // partition IS its set size; both columns share one Window operator
    val byDoc = Window.partitionBy("__id").orderBy(col("__df"), col("__g"))
    val ranked = ex.join(dfreq, "__g")
      .select(col("__g"), col("__id"),
        row_number().over(byDoc).as("__rk"),
        count(lit(1)).over(byDoc.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("__sz"))
    val prefixes = ranked
      .filter(col("__rk") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - eps) + 1)
      .select(col("__g"), col("__id"), col("__sz"), col("__rk"))
    // PPJoin pruning, both exactness-preserving:
    //   length filter — J >= t forces t*|A| <= |B| <= |A|/t;
    //   position filter — overlap can't exceed 1 + min(remaining grams),
    //   and J >= t needs alpha = ceil(t/(1+t)*(|A|+|B|)) shared grams.
    //   A true pair's first shared prefix token always passes (ubound >=
    //   actual overlap there), so no qualifying pair is lost.
    val alpha =
      ceil(lit(threshold / (1 + threshold)) * (col("a.__sz") + col("b.__sz")) - eps)
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id") &&
          col("b.__sz") >= lit(threshold) * col("a.__sz") - eps &&
          col("a.__sz") >= lit(threshold) * col("b.__sz") - eps &&
          (least(col("a.__sz") - col("a.__rk"), col("b.__sz") - col("b.__rk")) + 1) >= alpha)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    // candidate ids have at least one shingle, so the sets need no guard
    verifyPairs(cands, df.select(col(idCol).as("__id"),
      shingleCol(col(textCol), n).as("__shingles")), threshold)
  }

  /** Benchmark decontamination: (corpus doc, eval doc) pairs sharing at
    * least `minShared` DISTINCT token n-grams — the standard eval-set
    * leak check run over a training corpus before training. The EVAL
    * side is broadcast (benchmark suites are thousands of documents;
    * the corpus is the 100 TB side), so the only corpus-scaling work is
    * one shingle explode + one broadcast hash join against the eval
    * postings — no pairwise product, no corpus shuffle beyond the
    * per-pair count aggregation (bounded by true overlaps). Shingles
    * are distinct per doc on both sides, so the joined row count per
    * (doc, eval) pair IS the intersection size.
    *
    * Output: (idCol, eval_id, shared_grams), shared_grams >= minShared.
    */
  def contaminationPairs(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String,
      evalIdCol: String, evalTextCol: String,
      n: Int = 3, minShared: Int = 8,
      maxEvalDocFrac: Double = 1.0): DataFrame =
    contaminationCandidates(corpus, evalSet, idCol, textCol,
      evalIdCol, evalTextCol, n, maxEvalDocFrac)
      .groupBy("__cid", "eval_id")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
      .select(col("__cid").as(idCol), col("eval_id"), col("shared_grams"))

  /** The pre-aggregation candidate rows of [[contaminationPairs]]: one row
    * per (corpus doc, eval doc, shared gram). Split out so specs can
    * assert the high-DF rail's candidate bound directly.
    *
    * `maxEvalDocFrac` is the rail: grams present in more than that
    * fraction of eval documents are dropped BEFORE the broadcast. A
    * stop-phrase gram carried by a large share of both sides multiplies
    * candidate rows as |corpus docs with g| × |eval docs with g| before
    * any aggregation collapses them — CPU-bound blowup on exactly the
    * grams that carry no contamination signal; production decontamination
    * caps or drops high-DF grams. The document frequency computes on the
    * EVAL side only, which is small by contract (it is the broadcast
    * side), so the rail costs one tiny aggregate and no corpus work.
    */
  private[graft] def contaminationCandidates(corpus: DataFrame,
      evalSet: DataFrame, idCol: String, textCol: String,
      evalIdCol: String, evalTextCol: String,
      n: Int, maxEvalDocFrac: Double): DataFrame = {
    // sub-n-token texts carry no real n-grams; shingleCol's whole-text
    // fallback (built for similarity joins) would turn two identical short
    // docs into a pseudo-gram match here, diverging from the documented
    // distinct-n-gram semantics — exclude them on both sides
    val cg = corpus.filter(size(split(col(textCol), " ")) >= n)
      .select(col(idCol).as("__cid"),
        explode(shingleCol(col(textCol), n)).as("__g"))
    val evalDocs = evalSet.filter(size(split(col(evalTextCol), " ")) >= n)
    val eg0 = evalDocs.select(col(evalIdCol).as("eval_id"),
      explode(shingleCol(col(evalTextCol), n)).as("__g"))
    val eg1 =
      if (maxEvalDocFrac >= 1.0) eg0
      else {
        // shingles are distinct per doc, so count(*) per gram IS the
        // eval document frequency
        val nEval = evalDocs.select(col(evalIdCol)).distinct().count()
        val cap = math.max(1L, math.floor(maxEvalDocFrac * nEval).toLong)
        val keep = eg0.groupBy("__g").agg(count(lit(1)).as("__edf"))
          .filter(col("__edf") <= cap).select("__g")
        eg0.join(keep, Seq("__g"))
      }
    cg.join(broadcast(eg1), Seq("__g"))
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH candidate buckets
    * (pairs must share a (table, bucket) posting) + exact cosine verify.
    * Identical vectors always share every posting, so recall on true
    * duplicates is 1.
    *
    * BIT-IDENTICAL vectors collapse to their min-id representative
    * ([[collapseByKey]]; same rationale as [[nearDupPairs]]'s
    * identical-text collapse: N re-ingested copies of one embedding
    * would fill every shared bucket and emit C(N,2) pairs). Each
    * identical group emits N−1 star edges at cosine 1.0; connected
    * components downstream is unchanged. Null and all-zero vectors are
    * excluded — cosine is undefined for them, so they can neither pair
    * nor collapse (matching their pre-collapse NaN-drop behavior). A
    * NULL id takes no part. Output: (id_a, id_b, cosine), id_a < id_b.
    *
    * Scale shape: one collapse window, then one [[runPass]] ([[keyRows]]).
    * Each representative emits one row per LSH table, keyed by its
    * (table, bucket) and carrying its id, its vector, its norm and the
    * buckets of all its tables, so `lsh_postings` runs once per
    * representative; each member emits one star row. Within a run (one
    * bucket), a pair is verified only if
    * this table is the FIRST in which the two vectors' buckets agree, so
    * a pair sharing several tables is verified and emitted once, with no
    * `dropDuplicates`. Cosine is [[Similarity.cosine]] evaluated in the
    * pass (the same [[FoldDot]] folds), bit for bit. The pass holds one
    * bucket at a time and verifies its pairs, O(bucket²), as the
    * per-bucket work of a posting self-join was; the shuffle carries
    * tables × (vector + postings) bytes per representative, not a vector
    * pair per candidate.
    *
    * Repeated ids: ids are unique by contract. Two rows with one id never
    * pair with each other; with unequal vectors, each pairs with the
    * others on its own, so a pair of ids can appear once per row (the
    * self-join kept one arbitrary row of each pair of ids).
    */
  def embedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 4, tables: Int = 8): DataFrame = {
    // DEGENERATE vectors (null, or all-zero — the typical
    // failed-to-embed placeholder) are EXCLUDED up front: cosine is
    // undefined for them, they matched nothing before the collapse
    // either (the NaN similarity failed every threshold), and
    // star-collapsing them would fabricate 1.0 similarities between
    // unrelated documents and delete real data downstream.
    // any_nonzero: true on any non-zero element incl. NaN, null if only
    // nulls remain, -0.0 counts as zero
    val vecs = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull && LshVec.any_nonzero(col(vecCol)))
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.norm(col(vecCol)).as("__n"))
    // the bucket array is exploded through keyRows' CASE WHEN, not as a
    // bare attribute, so the kernel runs once per row and rides along too
    val rows = keyRows(collapseByKey(vecs, "__v").withColumn("__bs", transform(
        Similarity.lshPostings(col("__v"), bits, tables), _.getField("b"))),
      col("__bs"), col("__id"), col("__rep"), col("__v"), col("__n"), col("__bs"))
    val cos = new Cosine(df, vecCol)
    runPass(rows, widenTarget(df), Seq("__kv", "__ki"), Seq("__id"),
        pairSchema(vecs, "cosine", DoubleType)) { run =>
      val table = run(0).getInt(5)
      if (table < 0) run.iterator.map(r => Row(r.get(1), r.get(0), 1.0))
      else {
        val id = run.map(_.get(0))
        val vs = run.map(r => cos.data(r.get(2)))
        val bs = run.map(_.getSeq[Long](4))
        for {
          i <- run.indices.iterator
          j <- (i + 1 until run.size).iterator
          if id(i) != id(j) && (0 until table).forall(t => bs(i)(t) != bs(j)(t))
          c = cos(vs(i), run(i).get(3), vs(j), run(j).get(3)) if cos.atLeast(c, threshold)
        } yield Row(id(i), id(j), c.doubleValue)
      }
    }
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * k-means-cluster the embedding space, then deduplicate INSIDE each
    * cluster — a document drops when a lower-id document in the same
    * cluster has cosine similarity >= `eps`. The paper breaks duplicate
    * groups by distance-to-centroid; keeping the lowest id instead makes
    * the decision engine-replayable while preserving the paper's
    * one-survivor-per-group semantics.
    *
    * Scale shape: the clustering bounds ALL pairwise work to within-cell
    * pairs. One [[runPass]] keyed on the cell, rows in id order, decides
    * every row of a cell from the rows before it and emits (id, kept) for
    * each, so there is no self-join, no `distinct` of the dropped ids and
    * no join back: cost is Σ|cell|² cosines, not |corpus|², and one cell
    * is held in memory at a time. Cosine is [[Similarity.cosine]]
    * evaluated in the pass, bit for bit, over every lower-id row of the
    * cell as the self-join did. Centroids ride a 1-row broadcast
    * ([[Similarity]]'s plan-size rationale) and assignment is a map-side
    * argmax. At 100 TB nlist scales up to keep cells bounded (the paper's
    * regime: tens of thousands of clusters), which only widens the key
    * space of the same pass.
    *
    * Output: (idCol, kept) — kept = no lower-id in-cell neighbor at
    * >= eps; one row per input row. Exact duplicates always land in the
    * same cell (assignment is a deterministic function of the vector), so
    * recall on true copies is 1 regardless of the clustering. A row with
    * a NULL id, a NULL cell or a NULL or all-zero vector is kept and drops
    * nothing: cosine is undefined for such a vector, which
    * [[embedNearDupPairs]] excludes likewise. Repeated ids:
    * ids are unique by contract; each row with a repeated id is decided
    * on its own and never by a row with the same id (the join back had
    * given every row of the id `kept = false` when any of them dropped).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      eps: Double, nlist: Int = 16, kmeansIters: Int = 2): DataFrame = {
    val cents =
      Similarity.kmeansCentroids(df, idCol, vecCol, nlist, kmeansIters)
    val cRow = Similarity.centroidsRow(df.sparkSession, cents)
    val assigned = df.crossJoin(cRow)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.norm(col(vecCol)).as("__n"),
        Similarity.bestCellCol(col(vecCol)).cast("int").as("__cell"))
    val out = StructType(Seq(assigned.schema("__id").copy(name = idCol),
      StructField("kept", BooleanType, nullable = false)))
    val cos = new Cosine(df, vecCol)
    runPass(assigned, widenTarget(df), Seq("__cell"), Seq("__id"), out) { run =>
      val id = run.map(_.get(0))
      val vs = run.map(r => cos.data(r.get(1)))
      // a NULL or all-zero vector (NULL or 0 norm) has no cosine: it is
      // kept and drops nothing, as embedNearDupPairs excludes it. A NULL
      // cell holds NULL vectors only
      val live = run.map(r => r.get(0) != null && !r.isNullAt(2) && r.getDouble(2) != 0)
      // every other lower-id cosine is evaluated, as the self-join's filter did
      run.indices.iterator.map { j =>
        val drops = (0 until j).count(i => live(i) && live(j) &&
          id(i) != id(j) && cos.atLeast(cos(vs(i), run(i).get(2), vs(j), run(j).get(2)), eps))
        Row(id(j), drops == 0)
      }
    }
  }

  /** Incremental dedup of a new batch against a HISTORICAL corpus — the
    * 100 TB ingest pattern: the history is scanned but NEVER shuffled or
    * joined at its own scale. Three stages, exact final semantics:
    *
    *   1. build a Bloom filter over the history's text column
    *      (`df.stat.bloomFilter` — distributed scan, sketches merged on
    *      the driver; size the filter by `expectedItems`/`fpp`);
    *   2. bloom-prefilter the batch (broadcast probe — the only UDF in
    *      this module, kept because no built-in Bloom-probe expression
    *      exists; one byte-array test per row, far cheaper than any
    *      join). False positives survive to stage 3; false negatives
    *      cannot exist, so no true duplicate escapes;
    *   3. exact verify: the candidate TEXTS (tiny — true dups + the fpp
    *      share of the batch) broadcast against the history scan, and
    *      the confirmed texts broadcast back onto the batch. Both joins
    *      build on the small side, so the history contributes only its
    *      scan and the batch only one broadcast-hash probe each.
    *
    * Output: (idCol, kept) — kept = the row's text does NOT appear in
    * the history (exact, bloom-invisible in the result).
    */
  def dedupAgainstHistory(batch: DataFrame, history: DataFrame,
      idCol: String, textCol: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.03,
      maxBroadcastCandidates: Long = 1000000L): DataFrame = {
    val bf = history.stat.bloomFilter(textCol, expectedItems, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bf)
    val mightContain =
      udf((t: String) => t != null && bc.value.mightContainString(t))
    // materialize once: the bloom-probe scan over the whole batch feeds
    // the sizing count AND both verify joins — three full passes without
    // this (the count alone justifies the checkpoint; the candidate set
    // is small by the bloom contract, and oversized sets hit the rail)
    val candTexts = batch.filter(mightContain(col(textCol)))
      .select(col(textCol).as("__t")).distinct()
      .localCheckpoint()
    // Sizing rail: an UNDERSIZED filter (expectedItems far below the
    // true history cardinality) saturates toward fpp≈1 and the
    // "tiny" candidate set degrades toward the whole batch — counting
    // it is one cheap job, and past the threshold the verify joins
    // fall back to shuffle joins instead of blowing the 8 GB broadcast
    // limit. The count also pins the bloom guarantee in specs.
    val candCount = candTexts.count()
    val useBroadcast = candCount <= maxBroadcastCandidates
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    val seenTexts = history.select(col(textCol).as("__t"))
      .join(maybeBroadcast(candTexts), Seq("__t"), "left_semi").distinct()
    batch.select(col(idCol), col(textCol).as("__t"))
      .join(maybeBroadcast(seenTexts.withColumn("__dup", lit(true))),
        Seq("__t"), "left")
      .select(col(idCol), coalesce(!col("__dup"), lit(true)).as("kept"))
  }

  /** Connected components over a duplicate-pair edge list: every node gets
    * the minimum node id reachable from it (the canonical document of its
    * duplicate cluster). This is the step that turns pairwise dedup output
    * into per-document keep/drop decisions.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond" — the published
    * replacement for min-label propagation on high-diameter graphs).
    * Each round rewrites the EDGE SET:
    *
    *   large-star: every node links its LARGER neighbors to the minimum
    *   of its closed neighborhood — long paths fold toward local minima;
    *   small-star: every node (now pointing only at smaller ids) relinks
    *   its smaller neighbors AND itself to that minimum — stars merge.
    *
    * The edge set converges to one star per component (every non-min
    * node → component min) in O(log) rounds REGARDLESS of diameter —
    * a k-node chain closes in ~log2(k) rounds where min-propagation
    * needs k (ConnectedComponentsSpec pins a 50-chain at <= 10 rounds;
    * dedup's near-clique components still close in 2-3). Each half-round
    * is one groupBy(min) + one keyed join on node id over the current
    * edges — never pairwise, AQE-splittable on skewed hubs; edge count
    * is bounded (large-star only reorients/contracts, duplicates drop
    * per round) and `localCheckpoint` cuts the iterative lineage.
    * Convergence = the round leaves the edge set unchanged, which is
    * exactly the all-stars fixpoint of the paper.
    *
    * Edge endpoints must be drawn from `ids`: the alternating rewrite
    * PROPAGATES through out-of-universe endpoints (they relay
    * connectivity like any node) and the component minimum may be such
    * an id — labels can then name a cluster_id absent from `ids`.
    * Filter edges to the id universe first if foreign ids must not leak
    * into labels (the old min-label propagation silently ignored them,
    * which also meant it missed real transitive closure through them).
    */
  def connectedComponents(edges: DataFrame, ids: DataFrame,
      idCol: String, checkpointDir: Option[String] = None): DataFrame =
    ccAlternating(edges, ids, idCol, checkpointDir)._1

  /** [[connectedComponents]] plus the number of alternation rounds run —
    * exposed so the spec can pin convergence cost on adversarial shapes.
    *
    * `checkpointDir`: per-round lineage cuts default to
    * `localCheckpoint(true)` — right for local/bench runs (no
    * distributed store needed, blocks vanish with the app) but it PINS
    * the executors holding the blocks and loses them on executor death,
    * which on a multi-hour 100 TB run means restarting the whole
    * iteration. Passing a reliable store path (HDFS/object store)
    * switches every cut to a RELIABLE `checkpoint(true)` under that
    * directory: executor loss recovers from storage and dynamic
    * allocation may release workers between rounds (guide §5 —
    * localCheckpoint trades fault tolerance for speed; make the trade
    * explicit at scale). */
  private[graft] def ccAlternating(edges: DataFrame, ids: DataFrame,
      idCol: String, checkpointDir: Option[String] = None): (DataFrame, Int) = {
    def cut(df: DataFrame): DataFrame = checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
        df.checkpoint(true)
      case None => df.localCheckpoint(true)
    }
    val nodes = ids.select(col(idCol).cast("long").as("__id")).distinct()
    var e = cut(edges.select(col("id_a").cast("long").as("__u"),
        col("id_b").cast("long").as("__v"))
      .filter(col("__u") =!= col("__v"))
      .select(greatest(col("__u"), col("__v")).as("__u"),
        least(col("__u"), col("__v")).as("__v"))
      .distinct())
    var rounds = 0
    var eCount = e.count()
    var converged = eCount == 0L
    while (!converged) {
      rounds += 1
      // large-star over the SYMMETRIC neighborhood: m = min(N(u) ∪ {u});
      // (v, m) for v > u. Every emitted edge has bigger-id on the left.
      val sym = e.unionAll(
        e.select(col("__v").as("__u"), col("__u").as("__v")))
      val lsMin = sym.groupBy("__u").agg(min("__v").as("__mn"))
        .select(col("__u"), least(col("__u"), col("__mn")).as("__m"))
      val ls = sym.join(lsMin, "__u")
        .filter(col("__v") > col("__u"))
        .select(col("__v").as("__u"), col("__m").as("__v"))
        .filter(col("__u") =!= col("__v"))
        .distinct()
      // small-star over the smaller-neighbor lists ls leaves behind:
      // m = min(N⁻(u) ∪ {u}); every smaller neighbor AND u link to m
      val ssMin = ls.groupBy("__u").agg(min("__v").as("__m"))
      val stepped = cut(ls.join(ssMin, "__u")
        .select(col("__v").as("__u"), col("__m").as("__v"))
        .unionAll(ssMin.select(col("__u"), col("__m").as("__v")))
        .filter(col("__u") =!= col("__v"))
        .select(greatest(col("__u"), col("__v")).as("__u"),
          least(col("__u"), col("__v")).as("__v"))
        .distinct())
      // fixpoint = the round left the edge set unchanged (both steps
      // only ever emit (node, smaller-reachable-id) pairs, so set
      // equality is the paper's all-stars termination test). The old
      // count rides along from last round's probe — one count + one
      // union-distinct job per round, not three.
      val steppedCount = stepped.count()
      converged = steppedCount == eCount &&
        stepped.unionAll(e).distinct().count() == eCount
      e = stepped
      eCount = steppedCount
    }
    val roots = e.groupBy("__u").agg(min("__v").as("__root"))
    val labels = nodes.join(roots, nodes("__id") === roots("__u"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__root"), col("__id")).as("cluster_id"))
    (labels, rounds)
  }

  /** Shared first-occurrence window-dedup engine behind
    * [[TextAnalysis.c4SpanDedup]] (newline-delimited sentence units) and
    * [[exactSubstrDedup]] (whitespace token units): explode the sliding
    * `n`-unit windows, flag later occurrences with ONE window-function
    * pass (min(doc, pos) over each window hash — no self-join, so the
    * exploded frame is computed exactly once), fold counts and covered
    * unit indices in ONE per-doc aggregation, and rebuild the text.
    * Linear in total units; three keyed exchanges total (window hash,
    * doc id, rebuild join) and no pairwise work anywhere.
    */
  private[functions] def firstOccurrenceDedup(df: DataFrame, idCol: String,
      textCol: String, n: Int, delim: String,
      nName: String, dupName: String, rmName: String): DataFrame = {
    val units = df.select(col(idCol).as("__id"),
      split(col(textCol), delim).as("__us"))
    val wins = units.select(col("__id"),
      // compiled fused window-join + xxhash64 (seed 42, identical to the
      // builtin over the joined string) — the old transform(...) form
      // evaluated interpreted with a slice+concat_ws+hash walk per
      // position. < n units → empty (kernel); NULL unit array (NULL
      // text) → coalesced to empty like the old when/otherwise (guide §4)
      posexplode(coalesce(
        graft.functions.expressions.TextGrams
          .sliding_join_hash(col("__us"), n, delim),
        array().cast("array<bigint>"))).as(Seq("__pos", "__h")))
    val flagged = wins.withColumn("__f",
        min(struct(col("__id"), col("__pos"))).over(Window.partitionBy("__h")))
      .withColumn("__dup",
        !(col("__f.__id") === col("__id") && col("__f.__pos") === col("__pos")))
    // one aggregation carries counts AND the covered unit indices:
    // per-row sequences of covered indices collect (nulls skipped for
    // non-dup rows), flatten, and array_distinct collapses the overlap
    // between adjacent duplicate windows. The per-group buffer is
    // bounded by dup_windows·n ints before the distinct (factor n over
    // the final covered set on pathologically dup-heavy docs) — the
    // object-hash aggregate spills to sort-based if a group outgrows
    // memory, and the win is that nothing here re-evaluates the
    // corpus-sized explode
    val perDoc = flagged.groupBy("__id").agg(
      count(lit(1)).as(nName),
      sum(when(col("__dup"), 1L).otherwise(0L)).as(dupName),
      array_distinct(flatten(collect_list(
        when(col("__dup"), sequence(col("__pos"), col("__pos") + (n - 1))))))
        .as("__rm"))
    units.join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        // compiled index-excluding join (O(units + rm) hash-set pass) —
        // the old filter((_, i) => !array_contains(__rm, i)) HOF was
        // interpreted AND O(units · rm); array_join semantics preserved
        // exactly (guide §4)
        graft.functions.expressions.TextGrams.join_excluding_indices(
          col("__us"), coalesce(col("__rm"), array().cast("array<int>")),
          delim).as("kept_text"),
        coalesce(col(nName), lit(0L)).as(nName),
        coalesce(col(dupName), lit(0L)).as(dupName),
        coalesce(size(col("__rm")), lit(0)).as(rmName))
  }

  /** Exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499): any run of `w`
    * whitespace tokens occurring verbatim more than once in the corpus
    * keeps only its FIRST occurrence — lowest (doc id, position) — and the
    * tokens covered by every later occurrence are removed from the text.
    * The paper builds a corpus-wide suffix array (a single-node
    * structure); the distributed equivalent slides a w-token window with
    * stride 1 and hash-groups the windows. Any shared run of length
    * >= w is covered exactly by its overlapping duplicate windows, so the
    * interval union removed per doc equals the paper's duplicated-range
    * semantics at window granularity.
    *
    * Scale shape = [[exact]]: one corpus-linear window explode, one
    * hash-groupBy, a keyed join back, a per-doc rebuild — no suffix
    * array, no pairwise product.
    *
    * Output: (idCol, kept_text, n_windows, dup_windows, removed_tokens).
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      w: Int = 50): DataFrame =
    firstOccurrenceDedup(df, idCol, textCol, w, " ",
      "n_windows", "dup_windows", "removed_tokens")

  /** 64-bit SimHash over tokens: per-bit majority vote of token hashes.
    * Implemented as explode → bit-position aggregation (2 shuffles, both
    * keyed on doc id — no pairwise work).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitVotes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val agg = toks.groupBy("id").agg(bitVotes.head, bitVotes.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    agg.select(col("id"), sig.as("simhash"))
  }
}
