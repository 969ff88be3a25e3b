package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, StringType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.{ArrayFold, GramBuckets, TextGrams}

/** Pins every r18 compiled kernel to its original higher-order-function
  * expression form: both are evaluated side by side over adversarial
  * inputs (NULLs, empties, unicode multibyte, whitespace variants,
  * duplicate-heavy arrays) and must collect EXACTLY equal values. The
  * kernels exist purely for speed (interpreted HOF → compiled loop,
  * guide §4); any semantic divergence is a correctness bug, and these
  * tests are the local gate ahead of the DuckDB oracle.
  */
class KernelEquivalenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def texts: DataFrame = {
    import spark.implicits._
    Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a",                       // heavy duplication
      "",                                // empty
      " leading and trailing ",          // empty split tokens
      "a  b   c",                        // doubled/tripled spaces
      "één żółć 中文 字 中文 字 tokens",   // multibyte
      "one\ntwo\tthreefour\ffive\rsix", // every ws class char
      "short",
      "x y",
      "tie tie alpha alpha beta"         // run ties
    ).toDF("text")
      .unionByName(Seq(Option.empty[String]).toDF("text")) // NULL row
  }

  /** Collects both columns and asserts row-wise exact equality. A
    * same-position NaN pair counts as equal (primitive NaN == NaN is
    * false, but the VALUES agree — compared via the string form, which
    * also distinguishes -0.0 from 0.0). */
  private def assertSame(df: DataFrame, oldCol: Column, newCol: Column): Unit = {
    val rows = df.select(oldCol.as("o"), newCol.as("n")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val same = r.get(0) == r.get(1) ||
        String.valueOf(r.get(0)) == String.valueOf(r.get(1))
      assert(same, s"row $i: old=${r.get(0)} new=${r.get(1)}")
    }
  }

  test("char_ngrams == transform(sequence, substr) form") {
    val t = col("text")
    for (n <- Seq(1, 3, 7))
      assertSame(texts,
        when(length(t) >= n,
          transform(sequence(lit(1), length(t) - n + 1),
            i => t.substr(i, lit(n))))
          .otherwise(array().cast("array<string>")),
        coalesce(TextGrams.char_ngrams(t, n),
          array().cast("array<string>")))
  }

  test("sliding_join == transform(sequence, concat_ws(slice)) form") {
    val toks = split(col("text"), " ")
    for (n <- Seq(1, 2, 3))
      assertSame(texts,
        when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>")),
        coalesce(TextGrams.sliding_join(toks, n, " "),
          array().cast("array<string>")))
  }

  test("sliding_join_hash == xxhash64 over the joined window, incl. null units") {
    import spark.implicits._
    // arrays WITH null elements (concat_ws skips them without doubling
    // the separator) — firstOccurrenceDedup's units never carry nulls,
    // but the kernel must still match the builtin on them
    val arrs = Seq(
      Seq[String]("a", "b", "c", "d"),
      Seq[String]("a", null, "b"),
      Seq[String](null, null),
      Seq[String]("solo"),
      Seq[String]()
    ).toDF("us").unionByName(
      Seq(Option.empty[Seq[String]]).toDF("us"))
    val us = col("us")
    for (n <- Seq(1, 2, 3); delim <- Seq(" ", "\n"))
      assertSame(arrs,
        when(size(us) >= n,
          transform(sequence(lit(0), size(us) - n),
            i => xxhash64(concat_ws(delim, slice(us, i + 1, lit(n))))))
          .otherwise(array().cast("array<bigint>")),
        coalesce(TextGrams.sliding_join_hash(us, n, delim),
          array().cast("array<bigint>")))
  }

  test("shingles == array_distinct(transform) with whole-text fallback") {
    val t = col("text")
    for (n <- Seq(2, 3, 5)) {
      val toks = split(t, " ")
      assertSame(texts,
        when(size(toks) >= n,
          array_distinct(transform(
            sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
          .otherwise(array(t)),
        TextGrams.shingles(t, n))
    }
  }

  test("run_top_uniq == sorted-run aggregate over gram arrays") {
    val toks = split(col("text"), " ")
    val grams = coalesce(TextGrams.sliding_join(toks, 2, " "),
      array().cast("array<string>"))
    val oldStats = aggregate(array_sort(grams),
      struct(lit(null).cast("string").as("prev"), lit(0).as("cur"),
        lit(0).as("top"), lit(0).as("uniq")),
      (acc, g) => {
        val same = acc.getField("prev") <=> g
        val cur2 = when(same, acc.getField("cur") + 1).otherwise(lit(1))
        struct(g.as("prev"), cur2.as("cur"),
          greatest(acc.getField("top"), cur2).as("top"),
          (acc.getField("uniq") +
            when(!same && acc.getField("cur") === 1, 1).otherwise(0))
            .as("uniq"))
      },
      acc => struct(acc.getField("top").as("top"),
        (acc.getField("uniq") +
          when(acc.getField("cur") === 1, 1).otherwise(0)).as("uniq")))
    assertSame(texts, oldStats, TextGrams.run_top_uniq(grams))
  }

  test("ws_tokens == filter(split('[ \\t\\n\\x0B\\f\\r]+'), _ != '')") {
    val t = col("text")
    assertSame(texts,
      filter(split(t, "[ \\t\\n\\x0B\\f\\r]+"), x => x =!= lit("")),
      TextGrams.ws_tokens(t))
  }

  test("unigrams_bigrams == concat(toks, zip_with(slice, slice, concat))") {
    val toks = TextGrams.ws_tokens(col("text"))
    val bl = greatest(size(toks) - 1, lit(0))
    assertSame(texts,
      concat(toks, zip_with(slice(toks, lit(1), bl), slice(toks, lit(2), bl),
        (a, b) => concat(a, lit(" "), b))),
      TextGrams.unigrams_bigrams(toks))
  }

  test("marker_best_lang == strictly-greater argmax over marker counts") {
    import graft.functions.TextAnalysis
    val t = col("text")
    val scores = TextAnalysis.langMarkers.map { case (lang, markers) =>
      val stops = array(markers.map(lit): _*)
      lang -> size(filter(split(t, " "), x => array_contains(stops, x)))
    }
    val oldLang = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }._1
    // fr/es markers planted so non-first languages win; ties keep "en"
    import spark.implicits._
    val langTexts = texts.unionByName(Seq(
      "le la et le chat", "el los las y", "the der the der",
      "的 是 了").toDF("text"))
    assertSame(langTexts, oldLang,
      coalesce(TextGrams.marker_best_lang(t, TextAnalysis.langMarkers),
        lit(TextAnalysis.langMarkers.head._1)))
  }

  test("join_excluding_indices == array_join(filter(!array_contains)) form") {
    import spark.implicits._
    val rows = Seq(
      (Seq("a", "b", "c", "d", "e"), Seq(1, 3)),
      (Seq("a", "b"), Seq[Int]()),
      (Seq("x"), Seq(0)),
      (Seq[String](), Seq[Int]()),
      (Seq("k", "l", "m"), Seq(0, 1, 2))
    ).toDF("us", "rm")
    for (delim <- Seq(" ", "\n"))
      assertSame(rows,
        array_join(filter(col("us"),
          (_, i) => !array_contains(col("rm"), i)), delim),
        TextGrams.join_excluding_indices(col("us"), col("rm"), delim))
  }

  test("sum_char_len == aggregate(toks, 0, acc + length(t))") {
    val toks = split(col("text"), " ")
    assertSame(texts,
      aggregate(toks, lit(0), (acc, t) => acc + length(t)),
      TextGrams.sum_char_len(toks))
  }

  test("fold_dot / fold_l2sq == aggregate(zip_with(...)) folds, float and double") {
    import spark.implicits._
    val vecs = Seq(
      (Seq(1.0f, 2.0f, -3.5f, 0.25f), Seq(0.5, -1.25, 2.0, 8.0)),
      (Seq(0.0f, 0.0f, 0.0f, 0.0f), Seq(1.0, 1.0, 1.0, 1.0)),
      (Seq(1e30f, -1e30f, 3.0f, 1.5f), Seq(1e-30, 1e30, -2.0, 0.1))
    ).toDF("a", "b")
      .unionByName(Seq((Option.empty[Seq[Float]], Some(Seq(1.0, 2.0, 3.0, 4.0))))
        .toDF("a", "b"))
    val (a, b) = (col("a"), col("b"))
    assertSame(vecs,
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v),
      ArrayFold.fold_dot(a, b))
    assertSame(vecs,
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v),
      ArrayFold.fold_l2sq(a, b))
    // length-mismatched arrays → NULL (zip_with pads with NULL, the fold
    // poisons) — the kernels must agree
    val mism = Seq((Seq(1.0f, 2.0f), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assertSame(mism,
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v),
      ArrayFold.fold_dot(a, b))
  }

  test("arg_min_l2 == head of ascending (d2, j) struct sort over a codebook") {
    import spark.implicits._
    import graft.functions.expressions.VectorCells
    // codebook with an exact-tie pair (entries 1 and 2 identical) so the
    // lowest-j tie-break is exercised, plus a NaN entry (sorts last)
    val cb = Seq(Seq(
      Seq(1.0, 0.0), Seq(0.5, 0.5), Seq(0.5, 0.5),
      Seq(Double.NaN, 0.0), Seq(0.0, 0.0)))
    val vecs = Seq(
      (Seq(0.5f, 0.5f), cb.head), (Seq(0.0f, 0.0f), cb.head),
      (Seq(1.0f, 0.0f), cb.head), (Seq(Float.NaN, 0.0f), cb.head)
    ).toDF("v", "cb")
    def l2(a: Column, b: Column) =
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    val oldCode = element_at(array_sort(transform(col("cb"),
      (cent, j) => struct(l2(col("v"), cent).as("d2"), j.as("j")))),
      1).getField("j")
    assertSame(vecs, oldCode, VectorCells.arg_min_l2(col("v"), col("cb")))
  }

  test("sorted_cells == array_sort over (-cosine, cell) structs") {
    import spark.implicits._
    import graft.functions.expressions.VectorCells
    import graft.functions.Similarity
    // centroid set with a duplicate direction (cells 2 and 3 — cosine
    // tie, cell asc breaks it); the NaN path rides a NaN vector element
    // (zero norms are OUTSIDE the domain: under ANSI — Spark 4's
    // default — the old form's divide raises on a 0 divisor, so the
    // operator contract excludes zero vectors/centroids; the fixtures
    // carry none)
    def cents(rows: Seq[(Int, Seq[Double])]) =
      rows.map { case (c, v) => (c, v, math.sqrt(v.map(x => x * x).sum)) }
    val cs = cents(Seq(
      1 -> Seq(1.0, 0.0), 2 -> Seq(0.0, 1.0), 3 -> Seq(0.0, 2.0),
      5 -> Seq(-1.0, 0.0)))
    val vecs = Seq(
      Seq(0.7f, 0.7f), Seq(1.0f, 0.0f), Seq(0.0f, -1.0f),
      Seq(Float.NaN, 1.0f))
    val df = vecs.map(v => (v, cs)).toDF("v", "__cents")
    val oldSorted = transform(array_sort(transform(col("__cents"), c =>
      struct((-(Similarity.dot(col("v"), c.getField("_2")) /
        (Similarity.norm(col("v")) * c.getField("_3")))).as("negs"),
        c.getField("_1").as("cell")))), x => x.getField("cell"))
    // rebuild the struct shape sorted_cells expects (cell, cvec, cnorm)
    val centsCol = transform(col("__cents"), c =>
      struct(c.getField("_1").as("cell"), c.getField("_2").as("cvec"),
        c.getField("_3").as("cnorm")))
    assertSame(df, oldSorted, VectorCells.sorted_cells(col("v"), centsCol))
  }

  /** The r19 distributed [[graft.functions.LangIdNgram.classify]], kept
    * verbatim as the reference for the per-row kernel — except the
    * per-doc profile: its deleted kernel (`top_k_char_grams`) is replaced
    * by the explode + groupBy + ranking-window form it was pinned to. */
  private def r19Classify(df: DataFrame, idCol: String, textCol: String,
      profiles: Seq[graft.functions.LangIdNgram.ProfileEntry], n: Int,
      k: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.LangIdNgram
    require(profiles.nonEmpty, "empty profile set")
    val profDf = broadcast(
      profiles.map(p => (p.lang, p.gram, p.rank)).toDF("__lang", "__g", "__lr"))
    val langsDf = broadcast(
      profiles.map(_.lang).distinct.toDF("__lang"))
    val docProf = df.select(col(idCol).as("__id"),
        explode(LangIdNgram.charGrams(col(textCol), n)).as("__g"))
      .groupBy("__id", "__g").agg(count(lit(1)).as("__c"))
      .withColumn("__dr", row_number().over(
        Window.partitionBy("__id").orderBy(col("__c").desc, col("__g"))))
      .filter(col("__dr") <= k)
      .select(col("__id"), col("__g"), col("__dr"))
      .repartition(col("__id"))
    val nDoc = docProf.groupBy("__id")
      .agg((count(lit(1)) +
        coalesce(length(first(col("__g"))).cast("long") * 0L, lit(0L)) +
        coalesce(first(col("__dr")).cast("long") * 0L, lit(0L))).as("__ng"))
    val bonus = docProf.join(profDf, "__g")
      .groupBy("__id", "__lang")
      .agg(sum(lit(k.toLong) - abs(col("__dr") - col("__lr"))).as("__bonus"))
    val scored = nDoc.crossJoin(langsDf)
      .join(bonus, Seq("__id", "__lang"), "left")
      .select(col("__id"), col("__lang"),
        (lit(k.toLong) * col("__ng") - coalesce(col("__bonus"), lit(0L)))
          .as("__score"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id").orderBy(col("__score"), col("__lang"))))
      .filter(col("__rk") === 1)
    df.select(col(idCol))
      .join(scored.select(col("__id").as(idCol), col("__lang"), col("__score")),
        Seq(idCol), "left")
      .select(col(idCol), col("__lang").as("pred_lang"),
        col("__score").as("oop_score"))
  }

  test("classify == r19 distributed classify") {
    import spark.implicits._
    import graft.functions.LangIdNgram
    // adversarial texts with ids and three round-robin labels attached
    val adversarial = texts.collect().map(r => Option(r.getString(0)))
      .zipWithIndex.map { case (t, i) => (i.toLong, s"l${i % 3}", t) }
      .toSeq.toDF("doc_id", "lang", "text")
    val documents = graft.sources.Tables(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "lang", "text")
    def rows(df: DataFrame): Seq[(Long, String, Option[Long])] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1)
    for ((name, df) <- Seq("adversarial" -> adversarial,
        "documents" -> documents); n <- Seq(1, 3); k <- Seq(5, 40)) {
      val profiles = LangIdNgram.fitProfiles(df, "lang", "text", n, k)
      val docs = df.select("doc_id", "text")
      val old = rows(r19Classify(docs, "doc_id", "text", profiles, n, k))
      val neu = rows(LangIdNgram.classify(docs, "doc_id", "text", profiles,
        n, k))
      assert(old.nonEmpty && old.exists(_._2 != null), s"$name n=$n k=$k")
      assert(old == neu, s"$name n=$n k=$k (${old.size} vs ${neu.size} rows):\n" +
        old.zip(neu).filter { case (o, nn) => o != nn }.take(5).mkString("\n"))
    }
  }

  test("normalize_url / url_host == the r17 pure-Column regex chains") {
    import spark.implicits._
    import graft.functions.expressions.UrlKernels
    // the r17 Column forms, verbatim — the reference the kernels must
    // match byte for byte
    val UrlRe =
      "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$"
    def hostPortOf(authRaw: Column): Column =
      lower(regexp_replace(authRaw, "^[^@]*@", ""))
    def stripWww(host: Column): Column =
      when(host.rlike("^www\\..+\\."),
        regexp_replace(host, "^www\\.", "")).otherwise(host)
    def oldNormalize(url: Column): Column = {
      val u = trim(url)
      val scheme = lower(regexp_extract(u, UrlRe, 1))
      val authRaw = regexp_extract(u, UrlRe, 2)
      val userinfo = regexp_extract(authRaw, "^([^@]*@)", 1)
      val hostNoWww = stripWww(hostPortOf(authRaw))
      val auth = concat(userinfo,
        when(scheme === "http", regexp_replace(hostNoWww, ":80$", ""))
          .when(scheme === "https", regexp_replace(hostNoWww, ":443$", ""))
          .otherwise(hostNoWww))
      val path = regexp_replace(regexp_extract(u, UrlRe, 3), "/+$", "")
      val query = regexp_extract(u, UrlRe, 4)
      val queryPart = when(query === "", lit(""))
        .otherwise(concat(lit("?"), array_join(array_sort(split(query, "&")), "&")))
      when(u.isNull, lit(null).cast("string"))
        .when(scheme === "", u)
        .otherwise(concat(scheme, lit("://"), auth, path, queryPart))
    }
    def oldHost(url: Column): Column = {
      val u = trim(url)
      val host = regexp_replace(
        hostPortOf(regexp_extract(u, UrlRe, 2)), ":[0-9]*$", "")
      when(u.isNull, lit(null).cast("string")).otherwise(stripWww(host))
    }
    val urls = Seq(
      "https://Big.Example.COM:443/Page/",
      "http://example.com:80/a",
      "http://example.com:8080/a",
      "  https://www.example.com/x?b=2&a=1#frag  ",
      "https://www.com/keep-www-host",
      "https://www.pw@example.com/u",          // userinfo with www
      "user:PASS@CASE@https-nonsense",          // non-URL passthrough
      "ftp://Host:21/Dir//",
      "https://h/?",                            // empty query drops ?
      "https://h/?only=1",
      "https://a@b@c/path",                     // @ in host remainder
      "relative/path?x=1",
      "HTTPS://UPPER.host/P?z=9&y=8&y=7",
      "https://www.x./trailing-dot-host",
      "https://host:???",                       // port garbage
      "https://héT.Com/Ü?é=1&À=2",              // non-ASCII case fold
      "http://www.a/nodot",                     // www. but no later dot
      "",
      "   ") // whitespace-only → trimmed empty passthrough
      .toDF("u").unionByName(Seq(Option.empty[String]).toDF("u"))
    assertSame(urls, oldNormalize(col("u")), UrlKernels.normalize_url(col("u")))
    assertSame(urls, oldHost(col("u")), UrlKernels.url_host(col("u")))
  }

  test("minhash_bands == explode + groupBy with k min(xxhash64) aggregates") {
    import spark.implicits._
    import graft.functions.Dedup
    import graft.functions.expressions.MinHashBands
    val (bands, rpb) = (4, 3)
    val k = bands * rpb
    val df = texts.filter(col("text").isNotNull)
      .withColumn("id", monotonically_increasing_id())
    // old shape, verbatim from r17 signatures()
    val exploded = df.select(col("id"),
        explode(Dedup.shingleCol(col("text"), 3)).as("__s"))
      .withColumn("__h", xxhash64(col("__s")))
    val minCols = (0 until k).map(i =>
      min(xxhash64(col("__h"), lit(i))).as(s"__m$i"))
    val sigs = exploded.groupBy("id").agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      xxhash64((0 until rpb).map(j => col(s"__m${b * rpb + j}")): _*)
        .as(s"__band_$b")
    }
    val oldBands = sigs.select(col("id"),
      array(bandCols: _*).as("o")).orderBy("id").collect()
    val newBands = df.select(col("id"),
      MinHashBands.minhash_bands(Dedup.shingleCol(col("text"), 3),
        bands, rpb).as("n")).orderBy("id").collect()
    assert(oldBands.length == newBands.length)
    oldBands.zip(newBands).foreach { case (o, nw) =>
      assert(o.get(1) == nw.get(1), s"id ${o.get(0)}: ${o.get(1)} vs ${nw.get(1)}")
    }
  }

  test("gram_bucket / bucket_weight_sum == md5-hex-conv chain and its fold") {
    import graft.functions.Dsir
    val nBuckets = 1024
    val g = col("g")
    val oldBucket =
      pmod(conv(substring(md5(g), 1, 4), 16, 10).cast("int"), lit(nBuckets))
    import spark.implicits._
    val grams = Seq("the", "a b", "中文 字", "", "één",
      "the quick brown").toDF("g")
      .unionByName(Seq(Option.empty[String]).toDF("g"))
    assertSame(grams, oldBucket, GramBuckets.gram_bucket(g, nBuckets))

    // the fold over a weights table: both forms on the same gram arrays
    val w = typedLit((0 until nBuckets).map(i => (i * 2654435761L) % 1000 - 500))
    val arrs = texts.select(
      Dsir.grams(col("text")).as("gs"))
    assertSame(arrs,
      aggregate(
        transform(col("gs"),
          x => element_at(w, Dsir.gramBucket(x, nBuckets) + 1)),
        lit(0L), (acc, v) => acc + v),
      GramBuckets.bucket_weight_sum(col("gs"), w, nBuckets))
  }

  test("lsh_postings == per-(table,bit) aggregate(zip_with) sign projections") {
    import spark.implicits._
    import graft.functions.expressions.LshVec
    // the r18 interpreted form, verbatim (Similarity.lshBucket reference)
    def planeComponent(bit: Int, dim: Column): Column =
      (xxhash64(lit(bit), dim).cast("double") / lit(Long.MaxValue.toDouble))
    def lshBucketOld(vec: Column, bits: Int, table: Int): Column = {
      val code = (0 until bits).map { b =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x.cast("double") * planeComponent(table * bits + b, i)),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, shiftleft(lit(1L), b)).otherwise(0L)
      }
      code.reduce(_.bitwiseOR(_))
    }
    def oldPosts(vec: Column, bits: Int, tables: Int): Column =
      array((0 until tables).map(t =>
        struct(lit(t).as("t"), lshBucketOld(vec, bits, t).as("b"))): _*)

    val fvecs = Seq(
      Seq(1.0f, -2.0f, 3.5f, 0.25f),
      Seq(0.0f, 0.0f, 0.0f, 0.0f),          // all-zero: proj 0, no bit
      Seq(-1.5f, -0.5f),
      Seq(Float.NaN, 1.0f),                  // NaN poisons every proj
      Seq(1e30f, -1e30f, 1e-30f),
      Seq.empty[Float]                       // empty: null-padded fold
    ).map(Option(_)).toDF("v")
      .unionByName(Seq(Option.empty[Seq[Float]]).toDF("v"))
    for ((bits, tables) <- Seq((4, 16), (1, 1), (8, 2)))
      assertSame(fvecs, oldPosts(col("v"), bits, tables),
        LshVec.lsh_postings(col("v"), bits, tables))
    // null ELEMENT poisons the fold to bucket 0 on every table
    val nullElem = Seq(Seq(Some(1.0), None, Some(2.0))).toDF("v")
    assertSame(nullElem, oldPosts(col("v"), 4, 3),
      LshVec.lsh_postings(col("v"), 4, 3))
    // double element type
    val dvecs = Seq(Seq(0.1, -0.9, 2.2), Seq(5.0, 5.0, 5.0)).toDF("v")
    assertSame(dvecs, oldPosts(col("v"), 6, 4),
      LshVec.lsh_postings(col("v"), 6, 4))
  }

  test("vec_residual == zip_with(v, c, x.cast(double) - c)") {
    import spark.implicits._
    import graft.functions.expressions.LshVec
    val rows = Seq(
      (Some(Seq(Option(1.0f), Option(2.5f), Option(-3.0f))),
        Some(Seq(Option(0.5), Option(0.5), Option(0.5)))),
      (Some(Seq(Option(1.0f), None, Option(2.0f))),     // null element
        Some(Seq(Option(1.0), Option(1.0), Option(1.0)))),
      (Some(Seq(Option(1.0f))),                          // shorter left
        Some(Seq(Option(1.0), Option(2.0)))),
      (Some(Seq(Option(1.0f), Option(2.0f))),            // shorter right
        Some(Seq(Option(3.0)))),
      (Some(Seq(Option(Float.NaN), Option(0.0f))),
        Some(Seq(Option(1.0), Option(Double.NaN)))),
      (None, Some(Seq(Option(1.0)))),                    // NULL left
      (Some(Seq(Option(1.0f))), None)                    // NULL right
    ).toDF("a", "b")
    assertSame(rows,
      zip_with(col("a"), col("b"), (x, c) => x.cast("double") - c),
      LshVec.vec_residual(col("a"), col("b")))
  }

  test("bigram_pairs == when(size >= 2, transform(element_at pairs)).otherwise(empty)") {
    import spark.implicits._
    val toks = Seq(
      Seq[String]("a", "b", "c", "d"),
      Seq[String]("one", "two"),
      Seq[String]("lonely"),
      Seq.empty[String],
      Seq[String]("x", null, "y"),          // null token elements
      Seq[String]("中文", "字", "één")
    ).map(Option(_)).toDF("tk")
      .unionByName(Seq(Option.empty[Seq[String]]).toDF("tk"))
    val tk = col("tk")
    assertSame(toks,
      when(size(tk) >= 2,
        transform(sequence(lit(1), size(tk) - 1),
          i => struct(element_at(tk, i).as("__w1"),
            element_at(tk, i + 1).as("__w2"))))
        .otherwise(array().cast("array<struct<__w1:string,__w2:string>>")),
      TextGrams.bigram_pairs(tk))
  }

  test("count_in == size(filter(toks, array_contains(set, t)))") {
    import spark.implicits._
    val stops = Seq("the", "a", "of", "and", "is")
    val stopsArr = array(stops.map(lit): _*)
    val toks = split(col("text"), " ")
    assertSame(texts,
      size(filter(toks, t => array_contains(stopsArr, t))),
      TextGrams.count_in(toks, stops))
    // null elements never match; empty-string tokens only if in the set
    val arrs = Seq(
      Seq[String]("the", null, "a", "", "THE"),
      Seq.empty[String]
    ).map(Option(_)).toDF("tk")
      .unionByName(Seq(Option.empty[Seq[String]]).toDF("tk"))
    assertSame(arrs,
      size(filter(col("tk"), t => array_contains(stopsArr, t))),
      TextGrams.count_in(col("tk"), stops))
  }

  test("c4_line_stats == filter(split, c4LineKeep) cleaned/kept/dropped") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    import graft.functions.expressions.C4Lines
    val docs = Seq(
      "good line with five words.\nshort.\nno terminal punct here at all",
      "please enable javascript to continue.\nJAVASCRIPT in caps five words.",
      "ends with a double quote here\"\nends with bang five words go!",
      "one two three four five.\r\nsix seven eight nine ten.",  // \r before $
      "",
      "\n\n",
      "tabs\tdo not split words here.",
      "één żółć 中文 字 multibyte five.",
      "exactly four words here.",
      "trailing newline line with five words.\n"
    ).toDF("text")
      .unionByName(Seq(Option.empty[String]).toDF("text"))
    val t = col("text")
    for (minWords <- Seq(1, 5)) {
      val keptOld = filter(split(t, "\n"),
        l => TextAnalysis.c4LineKeep(l, minWords))
      assertSame(docs, array_join(keptOld, "\n"),
        C4Lines.c4_line_stats(t, minWords).getField("kept"))
      assertSame(docs, size(keptOld),
        C4Lines.c4_line_stats(t, minWords).getField("n_kept"))
      assertSame(docs, size(split(t, "\n")) - size(keptOld),
        C4Lines.c4_line_stats(t, minWords).getField("n_total") -
          C4Lines.c4_line_stats(t, minWords).getField("n_kept"))
    }
  }

  /** [[texts]] with whitespace-only rows added and a stable long id. */
  private def idTexts: DataFrame = {
    import spark.implicits._
    (texts.collect().map(r => Option(r.getString(0))).toSeq ++
      Seq(Some("   "), Some(" \t\n ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // A kernel written inside the explode that consumes it must emit the
  // rows of the older shape: the kernel aliased in one projection, its
  // alias exploded in the next.

  test("minhash bands: posexplode(kernel) == posexplode of a projected alias") {
    import graft.functions.Dedup
    import graft.functions.expressions.MinHashBands
    val old = idTexts.select(col("id").as("__id"),
        MinHashBands.minhash_bands(Dedup.shingleCol(col("text"), 3), 16, 4)
          .as("__bands"))
      .select(col("__id"),
        posexplode(col("__bands")).as(Seq("__band_idx", "__band_hash")))
    val direct = refSignatures(idTexts, "id", "text", 3, 16, 4)
    assert(multiset(direct) == multiset(old))
  }

  test("lsh postings: explode(kernel) == explode of a projected alias") {
    import spark.implicits._
    import graft.functions.Similarity
    val vecs = Seq(
      Some(Seq(1.0f, -2.0f, 3.5f, 0.25f)), Some(Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      Some(Seq(-1.5f, -0.5f)), Some(Seq(Float.NaN, 1.0f)),
      Some(Seq.empty[Float]), None)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for ((bits, tables) <- Seq((4, 8), (1, 1))) {
      val old = vecs.select(col("id"), col("v"),
          Similarity.lshPostings(col("v"), bits, tables).as("__posts"))
        .select(col("id"), col("v"), explode(col("__posts")).as("__p"))
      val direct = vecs.select(col("id"), col("v"),
        explode(Similarity.lshPostings(col("v"), bits, tables)).as("__p"))
      assert(multiset(direct) == multiset(old))
    }
  }

  test("bigram transitions and tokens: explode(kernel) == explode of a projected alias") {
    val toks = TextGrams.ws_tokens(col("text"))
    val oldTok = idTexts.select(col("id"), toks.as("__tk"))
    assert(multiset(idTexts.select(col("id"), explode(toks).as("__w"))) ==
      multiset(oldTok.select(col("id"), explode(col("__tk")).as("__w"))))
    val old = oldTok
      .select(col("id"), TextGrams.bigram_pairs(col("__tk")).as("__bp"))
      .select(col("id"), explode(col("__bp")).as("__b"))
    val direct = idTexts.select(col("id"),
      explode(TextGrams.bigram_pairs(toks)).as("__b"))
    assert(multiset(direct) == multiset(old))
    // the token total without the old `> 0` filter: zero-weight rows for
    // NULL and token-less texts leave the sum unchanged
    val oldTotal = oldTok.select(size(col("__tk")).as("__n"))
      .filter(col("__n") > 0).agg(sum("__n")).head.getLong(0)
    val total = idTexts.select(when(col("text").isNotNull, size(toks))
      .otherwise(0).as("__n")).agg(sum("__n")).head.getLong(0)
    assert(total == oldTotal && total > 0)
  }

  test("shingles: explode(kernel) with a window count == the size-guarded alias") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Dedup
    for (n <- Seq(1, 3)) {
      val sets = idTexts.select(col("id").as("__id"),
          Dedup.shingleCol(col("text"), n).as("__sh"))
        .filter(size(col("__sh")) >= 1)
      val old = sets.select(col("__id"), size(col("__sh")).as("__sz"),
        explode(col("__sh")).as("__g"))
      val byDoc = Window.partitionBy("__id").orderBy(col("__g"))
      val direct = idTexts.select(col("id").as("__id"),
          explode(Dedup.shingleCol(col("text"), n)).as("__g"))
        .select(col("__id"),
          count(lit(1)).over(byDoc.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("int").as("__sz"),
          col("__g"))
      assert(multiset(direct) == multiset(old))
    }
  }

  /** castTo's timestamp and date branches before the layout-cascade
    * kernel, verbatim: the reference the kernel must reproduce. */
  private def chainCast(c: Column, dt: DataType,
      datetimeFormat: Option[String]): Column = {
    import graft.model.TypeInference._
    val forcedPattern = datetimeFormat.map(sqlishToSparkPattern)
    val cast = dt match {
      case TimestampType =>
        // Spark datetime patterns reject week-day (EEE), zone-name (zzz)
        // and lowercase-x tokens at compile time — those layouts classify
        // via java.time in parseKind but cast through the default parser
        val sparkSafe = (dateTimeLayouts ++ zonedLayouts)
          .filterNot(l => l.contains("EEE") || l.contains("zzz") || l.contains("x"))
        // a declared datetime_format parses FIRST, so ambiguous values
        // (03/04/2024) resolve under the declared layout, not the cascade
        val chain = forcedPattern.map(p => try_to_timestamp(c, lit(p))).toSeq ++
          sparkSafe.map(l => try_to_timestamp(c, lit(l))) :+ try_to_timestamp(c)
        coalesce(chain: _*)
      case DateType =>
        val chain = forcedPattern
          .map(p => try_to_timestamp(c, lit(p)).cast(DateType)).toSeq ++
          dateLayouts.map(l => try_to_timestamp(c, lit(l)).cast(DateType))
        coalesce(chain: _*)
    }
    when(c.isNull || trim(c, " \t\r\n") === "", lit(null).cast(dt))
      .otherwise(cast)
  }

  /** One value per cascade layout, plus fraction widths, resolution
    * failures, blanks and DST edges. */
  private val cascadeValues: Seq[String] = Seq(
    // dateTimeLayouts, in order
    "2024-01-31 10:20:30.123456789", "2024-01-31 10:20:30.123456",
    "2024-01-31 10:20:30.123", "2024-01-31 10:20:30",
    "2024-01-31T10:20:30.123456789", "2024-01-31T10:20:30.123456",
    "2024-01-31T10:20:30.123", "2024-01-31T10:20:30",
    "2024/01/31 10:20:30", "01/31/2024 10:20:30", "31-01-2024 10:20:30",
    "02-Jan-06", "02-Jan-06 15:04:05", "02-Jan-06 03:04:05 PM",
    "02-Jan-06 03.04.05.123456 PM", "02 Jan 2006",
    "1/2/06", "01/02/06", "1/2/2006", "01/02/2006",
    "01/02/2006 15:04", "01/02/2006 03:04:05 PM",
    "2006-01-02 15:04", "2006-01-02T15:04", "02-01-2006",
    // dateLayouts not covered above
    "2024-01-31", "2024/01/31", "20240131",
    // zonedLayouts, in order
    "2024-01-31T10:20:30.123+05:30", "2024-01-31T10:20:30.123Z",
    "2024-01-31T10:20:30Z", "2024-01-31T10:20:30-07:00",
    "2024-01-31 10:20:30.123+01:00", "2024-01-31 10:20:30+01:00",
    "2024-01-31T10:20:30+0100", "2024-01-31T10:20:30.123456+0100",
    "2006-01-02 15:04:05-07", "2006-01-02 15:04:05.999-07",
    "2006-01-02 15:04:05.999999-07",
    "2024-01-31 10:20:30 +0100", "2024-01-31 10:20:30 +01:00",
    "Mon, 02 Jan 2006 15:04:05 -0700", "Mon, 02 Jan 2006 15:04:05 MST",
    "02 Jan 06 15:04 -0700", "02 Jan 06 15:04 MST",
    // fractions of 1 to 9 (and 10) digits
    "2024-01-31 10:20:30.1", "2024-01-31 10:20:30.12",
    "2024-01-31 10:20:30.1234", "2024-01-31 10:20:30.12345",
    "2024-01-31 10:20:30.1234567", "2024-01-31 10:20:30.12345678",
    "2024-01-31T10:20:30.1", "2024-01-31T10:20:30.1234567",
    "2024-01-31 10:20:30.1234567890",
    // resolution failures: Feb 30, month 13, 24:00
    "2024-02-30 10:20:30", "2024-02-30", "02/30/2024",
    "2024-13-01 10:20:30", "2024-13-01", "13/01/2024",
    "2024-01-31 24:00:00", "2024-01-31 24:00", "2024-01-31T24:00:00Z",
    "2024-02-29", "2023-02-29",
    // blanks, junk, shapes only the default parser or nothing reads
    " 2024-01-31 10:20:30", "2024-01-31 10:20:30 ", " 2024-01-31 ",
    "", "   ", "\t\n", "hello", "2024-1-5 10:20:30", "2024-1-5",
    "10:20:30", "2024", "03/04/2024",
    // DST gap and overlap in America/Los_Angeles
    "2024-03-10 02:30:00", "2024-03-10T02:30:00", "2024-11-03 01:30:00")

  /** First SparkThrowable condition (else exception class) in the cause
    * chain: how "the same error" is compared when a cast throws. */
  private def errorClass(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
        st.getCondition
    }.getOrElse(Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .toSeq.last.getClass.getName)

  test("layout_cascade == try_to_timestamp chain (castTo, all parser policies)") {
    import graft.model.TypeInference
    val schema = StructType(Seq(StructField("v", StringType)))
    // an RDD-backed frame: a local relation would be folded by the
    // optimizer and evaluated interpreted, never reaching codegen
    def frame(vs: Seq[String]) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(Row(_)), 2), schema)
    val values = cascadeValues :+ null
    // zone-carrying layouts only the java.time fallback reads: the one
    // place castTo may differ, and only where the chain gives NULL
    val javaOnly = TypeInference.zonedLayouts
      .filter(l => l.contains("EEE") || l.contains("zzz") || l.contains("x"))
      .map(java.time.format.DateTimeFormatter.ofPattern(_, java.util.Locale.US))
    def javaMicros(v: String): Option[Long] = Option(v).flatMap(s =>
      javaOnly.iterator.flatMap(f => scala.util.Try(
        java.time.OffsetDateTime.parse(s.trim, f).toInstant).toOption)
        .nextOption()).map(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros)
    def out(dt: DataType, c: Column): Column = dt match {
      case TimestampType => unix_micros(c)
      case _ => unix_date(c)
    }
    def run(df: DataFrame, c: Column): Either[String, Seq[Any]] =
      try Right(df.select(c).collect().map(_.get(0)).toSeq)
      catch { case t: Throwable => Left(errorClass(t)) }
    val keys = Seq("spark.sql.session.timeZone", "spark.sql.legacy.timeParserPolicy")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    var compared = 0
    var threw = 0
    try {
      for (policy <- Seq("CORRECTED", "LEGACY", "EXCEPTION");
           zone <- Seq("UTC", "America/Los_Angeles");
           dt <- Seq[DataType](TimestampType, DateType);
           fmt <- Seq(None, Some("DD/MM/YYYY"))) {
        spark.conf.set("spark.sql.legacy.timeParserPolicy", policy)
        spark.conf.set("spark.sql.session.timeZone", zone)
        val ctx = s"$policy $zone $dt $fmt"
        def pair(vs: Seq[String]) = {
          val df = frame(vs)
          (run(df, out(dt, chainCast(col("v"), dt, fmt))),
            run(TypeInference.castTo(df, StructType(Seq(StructField("v", dt))), fmt),
              out(dt, col("v"))))
        }
        // whole set in one job; where either side throws, value by value
        val perValue = pair(values) match {
          case (Right(o), Right(n)) => values.zip(o.zip(n).map { case (a, b) =>
            (Right(Seq(a)), Right(Seq(b))) })
          case _ => values.map(v => v -> pair(Seq(v)))
        }
        perValue.foreach {
          case (v, (Right(Seq(o)), Right(Seq(n)))) =>
            val javaFallback = dt == TimestampType && o == null &&
              javaMicros(v).contains(n)
            assert(o == n || javaFallback, s"$ctx value '$v': chain=$o kernel=$n")
            compared += 1
          case (v, (Left(o), Left(n))) =>
            assert(o == n, s"$ctx value '$v': chain threw $o, kernel threw $n")
            threw += 1
          case (v, (o, n)) => fail(s"$ctx value '$v': chain=$o kernel=$n")
        }
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(compared + threw == 24 * values.size)
    assert(threw > 0, "no value exercised the EXCEPTION policy's upgrade error")
  }

  test("any_nonzero == exists(vec, x =!= 0.0f)") {
    import spark.implicits._
    import graft.functions.expressions.LshVec
    val rows = Seq(
      Seq(Option(0.0f), Option(0.0f)),
      Seq(Option(0.0f), Option(1.5f)),
      Seq(Option(-0.0f)),                         // -0.0 counts as zero
      Seq(Option(Float.NaN)),                     // NaN =!= 0 is TRUE
      Seq(Option(0.0f), None),                    // nulls-only remainder
      Seq(None, Option(2.0f)),                    // true beats null
      Seq.empty[Option[Float]]
    ).map(Option(_)).toDF("v")
      .unionByName(Seq(Option.empty[Seq[Option[Float]]]).toDF("v"))
    assertSame(rows,
      exists(col("v"), x => x =!= lit(0.0f)),
      LshVec.any_nonzero(col("v")))
  }

  // ---- the eager model fits before the tagged count pass, kept verbatim
  // as references (the private tokenizer spelled as the kernel it calls)

  private def r20FitProfiles(df: DataFrame, langCol: String, textCol: String,
      n: Int = 3, k: Int = 40): Seq[graft.functions.LangIdNgram.ProfileEntry] = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.LangIdNgram.{ProfileEntry, charGrams}
    val counts = df
      .select(col(langCol).as("__lang"),
        explode(charGrams(col(textCol), n)).as("__g"))
      .groupBy("__lang", "__g").agg(count(lit(1)).as("__c"))
    counts
      .withColumn("__r", row_number().over(
        Window.partitionBy("__lang").orderBy(col("__c").desc, col("__g"))))
      .filter(col("__r") <= k)
      .collect()
      .map(r => ProfileEntry(r.getString(0), r.getString(1), r.getInt(3)))
      .toSeq
  }

  private def r20LmFit(target: DataFrame,
      textCol: String): graft.functions.NgramLm.Model = {
    val toks = target.select(TextGrams.ws_tokens(col(textCol)).as("__tk"))
    val uni = toks.select(explode(col("__tk")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c1"))
      .localCheckpoint()
    val bi = toks
      .select(graft.functions.expressions.TextGrams.bigram_pairs(col("__tk"))
        .as("__bp"))
      .select(explode(col("__bp")).as("__b"))
      .select(col("__b.__w1").as("__w1"), col("__b.__w2").as("__w2"))
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12"))
      .localCheckpoint()
    val n = uni.agg(sum("__c1")).head.getLong(0)
    graft.functions.NgramLm.Model(uni, bi, n)
  }

  private def r20BucketCounts(df: DataFrame, textCol: String,
      nBuckets: Int): Array[Long] = {
    import graft.functions.Dsir.{gramBucket, grams}
    val rows = df.select(explode(grams(col(textCol))).as("__g"))
      .select(gramBucket(col("__g"), nBuckets).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__c"))
      .collect()
    val arr = new Array[Long](nBuckets)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  private def r20FitLogOddsMicro(pos: DataFrame, neg: DataFrame,
      textCol: String, nBuckets: Int = 8192): Array[Long] =
    graft.functions.Dsir.logRatioMicro(
      r20BucketCounts(pos, textCol, nBuckets),
      r20BucketCounts(neg, textCol, nBuckets))

  private def r20ImportanceWeights(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, nBuckets: Int = 8192): DataFrame = {
    import graft.functions.Dsir.{grams, logRatioMicro}
    val spark = raw.sparkSession
    import spark.implicits._
    val lrm = logRatioMicro(
      r20BucketCounts(target, textCol, nBuckets),
      r20BucketCounts(raw, textCol, nBuckets))
    val lrRow = broadcast(Seq(Tuple1(lrm.toSeq)).toDF("__lrm"))
    raw.crossJoin(lrRow)
      .select(col(idCol), grams(col(textCol)).as("__gs"), col("__lrm"))
      .select(col(idCol),
        size(col("__gs")).cast("long").as("n_grams"),
        GramBuckets.bucket_weight_sum(col("__gs"), col("__lrm"), nBuckets)
          .as("weight_micro"))
  }

  /** sf0.001 documents, an adversarial corpus (NULL text, NULL language,
    * CJK, empty and whitespace-only documents) and that corpus without
    * its en rows. */
  private def fitCorpora: Seq[(String, DataFrame)] = {
    import spark.implicits._
    val langs = Seq(Some("en"), Some("zh"), None, Some("fr"))
    val adversarial = (texts.collect().map(r => Option(r.getString(0))) ++
        Seq(Some(" \t\n "), Some("   "), Some("中文数据 表 查询 中文数据"),
          Some("the data table the data"), None))
      .zipWithIndex.map { case (t, i) => (i.toLong, langs(i % 4), t) }
      .toSeq.toDF("doc_id", "lang", "text")
    Seq(
      "documents" -> graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents").select("doc_id", "lang", "text"),
      "adversarial" -> adversarial,
      "no-en" -> adversarial.filter(coalesce(col("lang") =!= "en", lit(true))))
  }

  private def profileSet(ps: Seq[graft.functions.LangIdNgram.ProfileEntry]) =
    ps.map(p => (p.lang, p.gram, p.rank)).sortBy(p => (String.valueOf(p._1), p._2))

  private def lmTables(m: graft.functions.NgramLm.Model) = (
    m.uni.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted,
    m.bi.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted,
    m.totalTokens)

  test("tagged count fits == r20 per-model fits (profiles, LM tables, weights)") {
    import graft.functions.{CcNet, Dsir, LangIdNgram, NgramLm, QualityModel}
    for ((name, df) <- fitCorpora) {
      val en = df.filter(col("lang") === "en").select("text")
      val rest = df.filter(col("lang") =!= "en").select("text")
      val hasNullLang = df.filter(col("lang").isNull).count() > 0
      val hasEn = en.count() > 0
      // the one allowed profile difference: the old fit built a profile
      // for the NULL label, which classify then rejected
      def oldProfiles(n: Int, k: Int) = {
        val old = profileSet(r20FitProfiles(df, "lang", "text", n, k))
        assert(old.exists(_._1 == null) == hasNullLang, s"$name n=$n k=$k")
        old.filter(_._1 != null)
      }
      // the one allowed LM difference: the old fit threw on a target
      // without tokens; the new one has totalTokens 0 and empty tables
      val oldLm =
        if (hasEn) lmTables(r20LmFit(en, "text"))
        else {
          intercept[Exception](r20LmFit(en, "text"))
          (Nil, Nil, 0L)
        }
      for ((n, k) <- Seq(3 -> 40, 1 -> 5))
        assert(profileSet(LangIdNgram.fitProfiles(df, "lang", "text", n, k)) ==
          oldProfiles(n, k), s"$name profiles n=$n k=$k")
      assert(lmTables(NgramLm.fit(en, "text")) == oldLm, s"$name LM")
      for (nb <- Seq(64, 1024))
        assert(QualityModel.fitLogOddsMicro(en, rest, "text", nb).toSeq ==
          r20FitLogOddsMicro(en, rest, "text", nb).toSeq, s"$name weights $nb")
      // the fused fit: all three from one count pass
      for ((n, k, nb) <- Seq((3, 40, 1024), (1, 5, 64))) {
        val fused = CcNet.fit(df, "lang", "text", "en", n, k, nb)
        assert(profileSet(fused.profiles) == oldProfiles(n, k),
          s"$name fused profiles n=$n k=$k")
        assert(lmTables(fused.lm) == oldLm, s"$name fused LM")
        assert(fused.weightsMicro.toSeq ==
          r20FitLogOddsMicro(en, rest, "text", nb).toSeq,
          s"$name fused weights $nb")
      }
      val raw = df.select("doc_id", "text")
      val target = df.filter(col("lang") === "en").select("doc_id", "text")
      def weighted(w: DataFrame) = w.collect().map(r =>
        (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq.sortBy(_._1)
      assert(weighted(Dsir.importanceWeights(raw, target, "doc_id", "text",
        1024)) == weighted(r20ImportanceWeights(raw, target, "doc_id", "text",
        1024)), s"$name importance weights")
    }
  }

  // ---- the count rows each fit built before the one-pass count, and the
  // fused pass's two aggregates, kept verbatim as references (the tags
  // spelled out, the private tokenizer spelled as the kernel it calls)

  private def refRows(df: DataFrame, tag: String, a: Column, b: Column,
      n: Column = lit(1L)): DataFrame = {
    import graft.functions.TaggedCounts.{A, B, N, Tag}
    df.select(lit(tag).as(Tag), a.cast("string").as(A),
      b.cast("string").as(B), n.cast("long").as(N))
  }

  private def refCount(parts: Seq[DataFrame]): DataFrame = {
    import graft.functions.TaggedCounts.{A, B, N, Tag}
    parts.reduce(_ unionByName _).groupBy(Tag, A, B).agg(sum(N).as(N))
  }

  private def refProfileRows(df: DataFrame, langCol: String,
      textCol: String, n: Int): DataFrame =
    refRows(df.filter(col(langCol).isNotNull)
        .select(col(langCol).as("__l"),
          explode(graft.functions.LangIdNgram.charGrams(col(textCol), n))
            .as("__g")),
      "lid", col("__l"), col("__g"))

  private def refLmCountRows(target: DataFrame,
      textCol: String): Seq[DataFrame] = {
    def tokens(text: Column) = TextGrams.ws_tokens(text)
    val uni = target.select(explode(tokens(col(textCol))).as("__w"))
    val bi = target.select(explode(
      graft.functions.expressions.TextGrams.bigram_pairs(
        tokens(col(textCol)))).as("__b"))
    val nTok = target.select(when(col(textCol).isNotNull,
      size(tokens(col(textCol)))).otherwise(0).as("__n"))
    Seq(
      refRows(uni, "uni", col("__w"), lit(null)),
      refRows(bi, "bi", col("__b.__w1"), col("__b.__w2")),
      refRows(nTok, "tok", lit(null), lit(null), col("__n")))
  }

  private def refBucketRows(df: DataFrame, textCol: String,
      nBuckets: Int, tag: String): DataFrame = {
    import graft.functions.Dsir.{gramBucket, grams}
    refRows(df.select(explode(grams(col(textCol))).as("__g")),
      tag, gramBucket(col("__g"), nBuckets), lit(null))
  }

  private def refQmCountRows(pos: DataFrame, neg: DataFrame,
      textCol: String, nBuckets: Int): Seq[DataFrame] =
    Seq(refBucketRows(pos, textCol, nBuckets, "pos"),
      refBucketRows(neg, textCol, nBuckets, "neg"))

  private def refCcNetCounts(docs: DataFrame, langCol: String, textCol: String,
      keepLang: String, n: Int, nBuckets: Int): DataFrame = {
    val keep = docs.filter(col(langCol) === keepLang)
    val rest = docs.filter(col(langCol) =!= keepLang)
    refCount(Seq(refProfileRows(docs, langCol, textCol, n)))
      .unionByName(refCount(refLmCountRows(keep, textCol) ++
        refQmCountRows(keep, rest, textCol, nBuckets)))
  }

  /** Five en documents in ONE partition, each the same 30000 distinct
    * tokens in its own order: more distinct (tag, a, b) keys than the
    * per-task combine holds, so it emits partial sums more than once and
    * the aggregate merges the same keys across those emissions. */
  private def flushCorpus: DataFrame = {
    import spark.implicits._
    val m = 30000
    (0 until 5).map { d =>
      val step = Seq(1, 7, 11, 13, 17)(d)
      (d.toLong, "en", (0 until m).map(i => s"t${(i * step) % m}").mkString(" "))
    }.toDF("doc_id", "lang", "text").coalesce(1)
  }

  /** An integer language column: 1 is the keep language, 7 another, and
    * one NULL language. */
  private def intLangCorpus: DataFrame = {
    import spark.implicits._
    Seq((0L, Option(1), "the data table the data"), (1L, Option(7), "le flux des données"),
      (2L, Option(1), "data"), (3L, None, "the table"), (4L, Option(7), "中文 数据"))
      .toDF("doc_id", "lang", "text")
  }

  /** CJK without spaces, one-token en documents (no transitions) and texts
    * shorter than n characters. */
  private def edgeCorpus: DataFrame = {
    import spark.implicits._
    Seq((0L, "zh", "中文数据表查询中文"), (1L, "en", "hello"), (2L, "en", "ab"),
      (3L, "fr", "ab"), (4L, "zh", "字"), (5L, "en", "the data the"),
      (6L, "fr", "x y"), (7L, "en", "中"))
      .toDF("doc_id", "lang", "text")
  }

  private def countCorpora: Seq[(String, DataFrame, String)] =
    fitCorpora.map { case (name, df) => (name, df, "en") } ++ Seq(
      ("flush", flushCorpus, "en"), ("int lang", intLangCorpus, "1"),
      ("edge", edgeCorpus, "en"))

  test("one-pass count == the per-fit row builders and their aggregates") {
    import graft.functions.{CcNet, NgramLm, TaggedCounts}
    for ((name, df, keep) <- countCorpora) {
      for ((n, nb) <- Seq(3 -> 1024, 1 -> 64))
        assertSameRows(s"$name CcNet n=$n nb=$nb",
          CcNet.counts(df, "lang", "text", keep, n, nb),
          refCcNetCounts(df, "lang", "text", keep, n, nb))
      val target = df.filter(col("lang") === keep).select("text")
      assertSameRows(s"$name LM", NgramLm.counts(target, "text"),
        refCount(refLmCountRows(target, "text")))
    }
    assert(flushCorpus.rdd.getNumPartitions == 1)
    assert(refCcNetCounts(flushCorpus, "lang", "text", "en", 3, 1024).count() >
      TaggedCounts.MaxEntries)
  }

  test("standalone fits == the per-model reference fits past the combine bound and on edge texts") {
    import graft.functions.{Dsir, LangIdNgram, NgramLm, QualityModel}
    for ((name, df) <- Seq("flush" -> flushCorpus, "edge" -> edgeCorpus)) {
      val en = df.filter(col("lang") === "en").select("text")
      val rest = df.filter(col("lang") =!= "en").select("text")
      for ((n, k) <- Seq(3 -> 40, 1 -> 5))
        assert(profileSet(LangIdNgram.fitProfiles(df, "lang", "text", n, k)) ==
          profileSet(r20FitProfiles(df, "lang", "text", n, k)),
          s"$name profiles n=$n k=$k")
      assert(lmTables(NgramLm.fit(en, "text")) == lmTables(r20LmFit(en, "text")),
        s"$name LM")
      assert(QualityModel.fitLogOddsMicro(en, rest, "text", 1024).toSeq ==
        r20FitLogOddsMicro(en, rest, "text", 1024).toSeq, s"$name weights")
      val raw = df.select("doc_id", "text")
      val target = df.filter(col("lang") === "en").select("doc_id", "text")
      assertSameRows(s"$name importance weights",
        Dsir.importanceWeights(raw, target, "doc_id", "text", 1024),
        r20ImportanceWeights(raw, target, "doc_id", "text", 1024))
    }
  }

  /** The td_pipeline_ccnet body before scoring read the documents once,
    * verbatim (the tokenizer that withScore now takes spelled as the
    * kernel, as above): a second read of the documents scored by the LM
    * and joined on doc_id. */
  private def refCcnetPipeline(docs: DataFrame): DataFrame = {
    import graft.functions.{CcNet, NgramLm, QualityModel}
    import graft.functions.expressions.LangIdOop
    // the three fits share one count pass and one collect
    val fit = CcNet.fit(docs, "lang", "text", keepLang = "en",
      n = 3, k = 40, nBuckets = 1024)
    // language ID and the quality keep are per-row maps over the same
    // documents: one projection pass, one row per document, so only
    // the LM's per-document transition scores join onto it
    val lidQm = QualityModel.withScore(
        docs.select(col("doc_id"), col("text"),
          LangIdOop.lang_id_oop(col("text"), fit.profiles, 3, 40)
            .getField("pred_lang").as("pred_lang")),
        TextGrams.ws_tokens(col("text")), fit.weightsMicro, nBuckets = 1024)
      .select("doc_id", "pred_lang", "keep")
    val lm = NgramLm.transitionScores(docs.select("doc_id", "text"),
      "doc_id", "text", fit.lm)
    lidQm.join(lm, Seq("doc_id"), "left")
      .withColumn("ppl_bucket", NgramLm.pplBucket(
        NgramLm.avgLogProbMicro(col("n_scored"), col("logprob_micro")),
        -3400000L, -3600000L))
      .select(col("doc_id"), col("pred_lang"), col("ppl_bucket"),
        col("keep"),
        (coalesce(col("pred_lang") === "en", lit(false)) &&
          col("ppl_bucket") =!= "tail" && col("keep")).as("keep_final"))
      .orderBy("doc_id")
  }

  test("td_pipeline_ccnet body == the second read joined on doc_id") {
    // sf0.001 documents; NULL and whitespace-only texts, NULL languages
    // and documents without transitions; the same without en documents
    for ((name, df) <- fitCorpora)
      assertSameRows(name, graft.queries.TrainingData.ccnetPipeline(df),
        refCcnetPipeline(df))
  }

  // The per-key bodies that one window on the key replaced, verbatim: a
  // groupBy on the key joined back null-safely onto the input, and for
  // the cap a count join plus a window over a synthetic key.

  private def refCapPerKey(df: DataFrame, idCol: String, keyCol: String,
      cap: Int): DataFrame = {
    import graft.functions.Sampling.uniformHex
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("key_docs"))
    df.join(counts, col(keyCol) <=> col("__k")).drop("__k")
      .withColumn("__wk",
        when(col("key_docs") > cap || col(idCol).isNull,
          when(col(keyCol).isNull, lit("n:"))
            .otherwise(concat(lit("k:"), col(keyCol).cast("string"))))
          .otherwise(concat(lit("u:"), col(idCol).cast("string"))))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__wk"))
          .orderBy(uniformHex(col(idCol)), col(idCol))))
      .filter(col("__rk") <= cap).drop("__wk", "__rk")
  }

  private def refDedupByUrl(df: DataFrame, idCol: String,
      urlCol: String): DataFrame = {
    val withNorm = df.withColumn("url_norm",
      graft.functions.Urls.normalizeUrl(col(urlCol)))
    val groups = withNorm
      .groupBy(col("url_norm").as("__gk"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
    withNorm.join(groups, col("url_norm") <=> col("__gk")).drop("__gk")
  }

  private def refCollapseByKey(rows: DataFrame,
      keyCol: String): (DataFrame, DataFrame) = {
    val groups = rows.groupBy(keyCol).agg(min("__id").as("__rep"))
      .withColumnRenamed(keyCol, "__gk")
    val tagged = rows.join(groups, col(keyCol) <=> col("__gk"))
      .drop("__gk")
      .localCheckpoint()
    val reps = tagged.filter(col("__id") === col("__rep")).drop("__rep")
    val star = tagged.filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"))
    (reps, star)
  }

  /** Exact multiset equality, and the same columns in the same order. */
  private def assertSameRows(name: String, got: DataFrame, ref: DataFrame): Unit = {
    assert(got.columns.toSeq == ref.columns.toSeq,
      s"$name: columns ${got.columns.mkString(",")} vs ${ref.columns.mkString(",")}")
    assertSamePairs(name, got, ref)
  }

  private def sfDocuments: DataFrame =
    graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")

  /** (doc_id, host) rows: NULL keys, the ' ' and '' keys, keys spelled
    * like the old synthetic-key namespaces, NULL ids in under-cap and
    * over-cap keys (more of them than the smaller caps, so identical
    * rows stand in for the arbitrary NULL-id order), and in key "tie"
    * two ids whose md5 prefixes are equal (7b763dcb), between two
    * smaller and two larger prefixes, so cap 3 splits the tie by id. */
  private def capCorpus: DataFrame = {
    import spark.implicits._
    def rows(host: Option[String], ids: Option[Long]*) = ids.map((_, host))
    val ids = (r: Seq[Long]) => r.map(Option(_))
    (rows(Some("tie"), ids(Seq(6L, 9L, 25302L, 82945L, 7L, 1L)): _*) ++
      rows(None, ids(100L to 107L) ++ Seq(None, None): _*) ++
      rows(Some(" "), Some(200L), Some(201L)) ++
      rows(Some(""), Some(300L)) ++
      rows(Some("under"), Some(400L), None, None) ++
      rows(Some("over"), Seq(None, None, None) ++ ids(500L to 510L): _*) ++
      rows(Some("n:"), Some(600L), Some(601L)) ++
      rows(Some("u:700"), Some(700L)) ++
      rows(Some("k:over"), Some(800L)))
      .toDF("doc_id", "host")
  }

  test("capPerKey == the count join + synthetic-key window") {
    import graft.functions.Sampling
    val tie = spark.range(1).select(Sampling.uniformHex(lit(25302L)),
      Sampling.uniformHex(lit(82945L))).head()
    assert(tie.getString(0) == tie.getString(1))
    val adversarial = capCorpus.cache()
    for (cap <- Seq(1, 2, 3, 4, 10))
      assertSameRows(s"adversarial cap $cap",
        Sampling.capPerKey(adversarial, "doc_id", "host", cap),
        refCapPerKey(adversarial, "doc_id", "host", cap))
    val docs = sfDocuments.select("doc_id", "lang", "source")
    for (key <- Seq("lang", "source"); cap <- Seq(1, 10, 100))
      assertSameRows(s"documents by $key cap $cap",
        Sampling.capPerKey(docs, "doc_id", key, cap),
        refCapPerKey(docs, "doc_id", key, cap))
    adversarial.unpersist()
  }

  test("dedupByUrl == the groupBy + null-safe join back") {
    import spark.implicits._
    import graft.functions.Urls
    val adversarial = Seq[(Option[Long], Option[String])](
      (Some(1L), None), (Some(2L), None), (None, None),
      (Some(3L), Some("https://Example.COM/p")),
      (Some(4L), Some("https://www.example.com/p/")),
      (None, Some("https://example.com:443/p#x")),
      (None, Some("https://z.com/only-null-ids")),
      (None, Some("HTTPS://z.com/only-null-ids")),
      (Some(5L), Some(" ")), (Some(6L), Some(" ")), (Some(7L), Some("")),
      (Some(8L), Some("not a url")), (Some(9L), Some("not a url")))
      .toDF("doc_id", "url")
    assertSameRows("adversarial",
      Urls.dedupByUrl(adversarial, "doc_id", "url"),
      refDedupByUrl(adversarial, "doc_id", "url"))
    val url = when(pmod(col("doc_id"), lit(11)) === 0, lit(null).cast("string"))
      .otherwise(concat(
        when(pmod(col("doc_id"), lit(2)) === 0, lit("https://www.Example.com/p"))
          .otherwise(lit("http://example.com:80/p")),
        pmod(col("doc_id"), lit(37)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("/#x")).otherwise(lit(""))))
    val docs = sfDocuments.select(col("doc_id"), url.as("url"))
    assertSameRows("documents",
      Urls.dedupByUrl(docs, "doc_id", "url"),
      refDedupByUrl(docs, "doc_id", "url"))
  }

  test("collapseByKey == the groupBy + null-safe join back") {
    import spark.implicits._
    import graft.functions.Dedup
    val adversarial = Seq[(Option[Long], Option[String], String)](
      (Some(3L), None, "a"), (Some(1L), None, "b"), (None, None, "c"),
      (Some(5L), Some(" "), "d"), (Some(6L), Some(""), "e"),
      (Some(2L), Some(""), "f"), (None, Some("nulls"), "g"),
      (None, Some("nulls"), "h"), (Some(7L), Some("dup"), "i"),
      (Some(7L), Some("dup"), "j"), (Some(8L), Some("dup"), "k"),
      (None, Some("dup"), "l"), (Some(9L), Some("solo"), "m"))
      .toDF("__id", "key", "payload")
    val docs = sfDocuments.select(col("doc_id").as("__id"), col("lang"),
      col("source"), md5(col("text")).as("__ch"))
    for ((name, rows, key) <- Seq(("adversarial", adversarial, "key"),
        ("documents by lang", docs, "lang"), ("documents by md5", docs, "__ch"))) {
      val tagged = Dedup.collapseByKey(rows, key)
      val reps = tagged.filter(col("__id") === col("__rep")).drop("__rep")
      val star = tagged.filter(col("__id") =!= col("__rep"))
        .select(col("__rep").as("id_a"), col("__id").as("id_b"))
      val (refReps, refStar) = refCollapseByKey(rows, key)
      assertSameRows(s"$name reps", reps, refReps)
      assertSameRows(s"$name star", star, refStar)
    }
  }

  // The near-dup join plan that the banded pass replaced, verbatim: an md5
  // collapse (groupBy, join back, checkpoint), a band self-join, distinct,
  // and two verify joins onto the shingle sets.

  private def refSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      posexplode(graft.functions.expressions.MinHashBands.minhash_bands(
        graft.functions.Dedup.shingleCol(col(textCol), n), bands, rowsPerBand))
        .as(Seq("__band_idx", "__band_hash")))

  private def refNearDupPairs(df0: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    import graft.functions.Dedup.{shingleCol, verifyPairs, widen}
    val df = widen(df0)
    val hashed = df.select(col(idCol).as("__id"), col(textCol).as("__t"),
      md5(col(textCol)).as("__ch"))
    val (repRows, starBase) = refCollapseByKey(hashed, "__ch")
    val star = starBase.withColumn("jaccard", lit(1.0))
    val reps = repRows.select(col("__id").as(idCol), col("__t").as(textCol))
    val buckets = refSignatures(reps, idCol, textCol, n, bands, rowsPerBand)
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.__band_idx") === col("b.__band_idx") &&
          col("a.__band_hash") === col("b.__band_hash") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    val sets = reps.select(col(idCol).as("__id"),
      shingleCol(col(textCol), n).as("__shingles"))
    verifyPairs(cands, sets, threshold).unionByName(star)
  }

  private def bandArray(text: String): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.ArrayType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.{MinHashBandsExpr, Shingles}
    val grams = Shingles(Literal(null, StringType), 3)
      .compute(UTF8String.fromString(text))
    MinHashBandsExpr(Literal(null, ArrayType(StringType)), 16, 4)
      .compute(grams).toLongArray().toSeq
  }

  private def commonBands(a: String, b: String): Seq[Int] =
    bandArray(a).zip(bandArray(b)).zipWithIndex
      .collect { case ((x, y), i) if x == y => i }

  /** Ids 1.. over NULL, empty, short and double-spaced texts, a 200-member
    * identical group, a pair with equal shingle sets (every band
    * collides), a pair that collides in the last band only, a 500-member
    * family with equal shingle sets (one 500-member run per band) and a
    * 60-member family of one long text plus a distinct last token each. */
  private def nearDupCorpus: DataFrame = {
    import spark.implicits._
    val words = (1 to 30).map(i => s"q$i")
    val base = words.mkString(" ")
    // replace three words, chosen by seed, until the pair shares band 15 only
    val lastBandOnly = Iterator.from(1).map { seed =>
      val rnd = new scala.util.Random(seed)
      val swap = Seq.fill(3)(rnd.nextInt(words.size)).toSet
      words.zipWithIndex.map { case (w, i) => if (swap(i)) s"r$seed" + w else w }
        .mkString(" ")
    }.find(commonBands(base, _) == Seq(15)).get
    val cycle = (1 to 20).map(i => s"c$i")
    val cyclic = (22 until 522).map(len =>
      Iterator.continually(cycle).flatten.take(len).mkString(" "))
    val long = (1 to 200).map(i => s"f$i").mkString(" ")
    val texts: Seq[Option[String]] =
      Seq(None, None, None, Some(""), Some(""), Some("a"), Some("a b"),
        Some("x y"), Some("a  b  c d"), Some("a  b  c d e"), Some("  "),
        Some("a b c a b c"), Some("a b c a b c a b c"),
        Some(base), Some(lastBandOnly)) ++
      Seq.fill(200)(Some("identical group text one two three four")) ++
      cyclic.map(Some(_)) ++
      (1 to 60).map(i => Some(s"$long u$i"))
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
  }

  private def assertSamePairs(name: String, got: DataFrame, ref: DataFrame): Unit = {
    val (g, r) = (multiset(got), multiset(ref))
    val same = g == r
    assert(same, s"$name: ${g.size} rows vs ${r.size} in the reference; " +
      s"only new ${g.diff(r).take(5)} only reference ${r.diff(g).take(5)}")
  }

  test("nearDupPairs == the join plan on sf0.001 documents (16 and 32 bands)") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    for (bands <- Seq(16, 32))
      assertSamePairs(s"bands $bands",
        graft.functions.Dedup.nearDupPairs(docs, "doc_id", "text", 0.8, bands = bands),
        refNearDupPairs(docs, "doc_id", "text", 0.8, bands = bands))
  }

  test("nearDupPairs == the join plan on an adversarial corpus") {
    import graft.functions.Dedup
    assert(commonBands("a b c a b c", "a b c a b c a b c") == (0 until 16))
    val docs = nearDupCorpus.cache()
    val runs = docs.select(posexplode(
        graft.functions.expressions.MinHashBands.minhash_bands(
          Dedup.shingleCol(col("text"), 3), 16, 4)).as(Seq("b", "h")))
      .groupBy("b", "h").count()
    assert(runs.agg(max("count")).head().getLong(0) >= 500)
    for ((t, bands) <- Seq((0.8, 16), (0.3, 16), (0.8, 32))) {
      val got = Dedup.nearDupPairs(docs, "doc_id", "text", t, bands = bands)
      assertSamePairs(s"threshold $t bands $bands", got,
        refNearDupPairs(docs, "doc_id", "text", t, bands = bands))
      if (t == 0.3 && bands == 16)
        // the pair that shares only its last band is found from that band
        assert(got.filter(col("id_a") === 14 && col("id_b") === 15).count() == 1)
    }
    docs.unpersist()
  }

  test("paraNearDupPairs == the join plan over repeated boilerplate paragraphs") {
    import spark.implicits._
    val boiler = "boilerplate footer all rights reserved contact us"
    // per doc: the footer twice, an own paragraph (empty for every 11th
    // doc) and one of eight variants of a shared paragraph
    val docs = (0L until 300L).map { d =>
      val own = if (d % 11 == 0) "" else (1 to 12).map(i => s"d${d}w$i").mkString(" ")
      val near = "shared paragraph with a tail " + (1 to 10).mkString(" ") +
        (if (d % 3 == 0) "" else s" t${d % 7}")
      (d, Seq(boiler, own, near, boiler).mkString("\n"))
    }.toDF("doc_id", "text")
    val units = docs.select(col("doc_id").as("__doc"),
        posexplode(split(col("text"), "\n")).as(Seq("__pidx", "__p")))
      .filter(col("__p") =!= "")
      .select((shiftleft(col("__doc"), 20) + col("__pidx")).as("__pid"), col("__p"))
    val ref = refNearDupPairs(units, "__pid", "__p", 0.8)
      .select(shiftright(col("id_a"), 20).as("doc_a"),
        col("id_a").bitwiseAND(lit((1L << 20) - 1)).cast("int").as("para_a"),
        shiftright(col("id_b"), 20).as("doc_b"),
        col("id_b").bitwiseAND(lit((1L << 20) - 1)).cast("int").as("para_b"),
        col("jaccard"))
    assertSamePairs("paragraphs",
      graft.functions.Dedup.paraNearDupPairs(docs, "doc_id", "text", 0.8), ref)
  }

  // The pair engines that the run pass replaced, verbatim: the window
  // collapse that returned (reps, star), the posting self-join of
  // embedNearDupPairs, the band self-join of bandedHammingPairs, the cell
  // self-join of semDedup, and the video matchers built on them. Each
  // joined, then deduplicated its candidates, then verified.

  private def refCollapseWindow(rows: DataFrame,
      keyCol: String): (DataFrame, DataFrame) = {
    val tagged = rows.withColumn("__rep",
      min("__id").over(Window.partitionBy(col(keyCol))))
    val reps = tagged.filter(col("__id") === col("__rep")).drop("__rep")
    val star = tagged.filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"))
    (reps, star)
  }

  private def refEmbedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 4, tables: Int = 8): DataFrame = {
    import graft.functions.Similarity
    val rows = df
      .filter(col(vecCol).isNotNull &&
        graft.functions.expressions.LshVec.any_nonzero(col(vecCol)))
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val (repRows, starBase) = refCollapseWindow(rows, "__v")
    val star = starBase.withColumn("cosine", lit(1.0))
    val posts = repRows.select(col("__id"), col("__v"),
      explode(Similarity.lshPostings(col("__v"), bits, tables)).as("__p"))
      .localCheckpoint()
    posts.as("a").join(posts.as("b"),
        col("a.__p") === col("b.__p") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__v").as("__va"), col("b.__v").as("__vb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .unionByName(star)
  }

  private def refSemDedup(df: DataFrame, idCol: String, vecCol: String,
      eps: Double, nlist: Int = 16, kmeansIters: Int = 2): DataFrame = {
    import graft.functions.Similarity
    val cents =
      Similarity.kmeansCentroids(df, idCol, vecCol, nlist, kmeansIters)
    val cRow = Similarity.centroidsRow(df.sparkSession, cents)
    val assigned = df.crossJoin(cRow)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.bestCellCol(col(vecCol)).cast("int").as("__cell"))
      .localCheckpoint()
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.__cell") === col("b.__cell") && col("a.__id") < col("b.__id"))
      .filter(Similarity.cosine(col("a.__v"), col("b.__v")) >= eps)
      .select(col("b.__id").as("__id")).distinct()
      .withColumn("__drop", lit(true))
    assigned.join(dups, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  private def refBandedHammingPairs(hashed: DataFrame,
      maxHamming: Int, nBands: Int,
      alignCols: Seq[String] = Nil,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(nBands > 0 && 64 % nBands == 0, s"nBands must divide 64: $nBands")
    require(maxHamming < nBands,
      s"complete recall needs maxHamming < nBands ($maxHamming >= $nBands)")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bands = hashed.select(
      (Seq(col("__id"), col("__hash")) ++ (alignCols ++ carryCols).map(col) :+
        explode(array((0 until nBands).map(k =>
          struct(lit(k).as("k"),
            (shiftrightunsigned(col("__hash"), k * width)
              .bitwiseAND(lit(mask))).as("v"))): _*)).as("__b")): _*)
    val joinCond = (Seq(col("a.__b") === col("b.__b"),
        col("a.__id") < col("b.__id")) ++
      alignCols.map(c => col(s"a.$c") === col(s"b.$c"))).reduce(_ && _)
    bands.as("a").join(bands.as("b"), joinCond)
      .select(col("a.__id").as("id_a") +: col("b.__id").as("id_b") +:
        bit_count(col("a.__hash").bitwiseXOR(col("b.__hash"))).cast("int")
          .as("hamming") +: (alignCols.map(c => col(s"a.$c")) ++
        carryCols.flatMap(c =>
          Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))): _*)
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a" +: "id_b" +: (alignCols ++
        carryCols.flatMap(c => Seq(s"${c}_a", s"${c}_b"))))
  }

  /** the single-hash matchers' tail: collapse, band join, star edges */
  private def refCollapsedHashPairs(hashed: DataFrame, maxHamming: Int,
      nBands: Int): DataFrame = {
    val (repRows, starBase) = refCollapseWindow(hashed, "__hash")
    refBandedHammingPairs(repRows.select("__id", "__hash"), maxHamming, nBands)
      .unionByName(starBase.withColumn("hamming", lit(0)))
  }

  private def refVideoRepFrames(df: DataFrame, idCol: String,
      binaryCol: String, every: Int): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.Multimodal.{frameSample, imageHash}
    val frames = frameSample(df.select(col(idCol), col(binaryCol)),
      binaryCol, every)
      .select(col(idCol), col("frame_idx"), col("frame"))
    val hashed = imageHash(frames, "frame").filter(col("ahash").isNotNull)
      .select(col(idCol).as("__id"), col("frame_idx").as("__fi"),
        col("ahash").as("__hash"))
      .localCheckpoint()
    val sigs = hashed.groupBy("__id").agg(
      sort_array(collect_list(struct(col("__fi"), col("__hash")))).as("__seq"),
      count(lit(1)).as("__nf"))
    val tagged = sigs.select(col("__id"), col("__nf"),
      min("__id").over(Window.partitionBy(col("__seq"))).as("__rep"))
    val starBase = tagged.filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"), col("__nf"))
    val counts = tagged.filter(col("__id") === col("__rep"))
      .select(col("__id"), col("__nf"))
    val repFrames = hashed.join(counts.select("__id"), Seq("__id"), "left_semi")
    (repFrames, counts, starBase)
  }

  private def refVideoNearDupPairs(df: DataFrame, idCol: String,
      binaryCol: String, every: Int = 1, maxHamming: Int = 3, nBands: Int = 4,
      minMatchFrac: Double = 0.5): DataFrame = {
    val (repFrames, counts, starBase) =
      refVideoRepFrames(df, idCol, binaryCol, every)
    val star = starBase.select(col("id_a"), col("id_b"),
      col("__nf").as("matched_frames"), col("__nf").as("frames_a"),
      col("__nf").as("frames_b"))
    val matched = refBandedHammingPairs(repFrames, maxHamming, nBands,
        alignCols = Seq("__fi"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("matched_frames"))
    matched
      .join(counts.select(col("__id").as("id_a"), col("__nf").as("frames_a")),
        Seq("id_a"))
      .join(counts.select(col("__id").as("id_b"), col("__nf").as("frames_b")),
        Seq("id_b"))
      .filter(col("matched_frames") >=
        least(col("frames_a"), col("frames_b")) * lit(minMatchFrac))
      .select("id_a", "id_b", "matched_frames", "frames_a", "frames_b")
      .unionByName(star)
  }

  private def refVideoNearDupPairsOffset(df: DataFrame, idCol: String,
      binaryCol: String, every: Int = 1, maxHamming: Int = 3, nBands: Int = 4,
      minMatchFrac: Double = 0.5): DataFrame = {
    val (repFrames, counts, starBase) =
      refVideoRepFrames(df, idCol, binaryCol, every)
    val star = starBase.select(col("id_a"), col("id_b"),
      lit(0).as("best_offset"), col("__nf").as("matched_frames"),
      col("__nf").as("frames_a"), col("__nf").as("frames_b"))
    val votes = refBandedHammingPairs(repFrames, maxHamming, nBands,
        carryCols = Seq("__fi"))
      .select(col("id_a"), col("id_b"),
        (col("__fi_b") - col("__fi_a")).as("best_offset"))
      .groupBy("id_a", "id_b", "best_offset")
      .agg(count(lit(1)).as("matched_frames"))
    val best = votes.withColumn("__rk",
        row_number().over(Window
          .partitionBy("id_a", "id_b")
          .orderBy(col("matched_frames").desc, col("best_offset"))))
      .filter(col("__rk") === 1).drop("__rk")
    best
      .join(counts.select(col("__id").as("id_a"), col("__nf").as("frames_a")),
        Seq("id_a"))
      .join(counts.select(col("__id").as("id_b"), col("__nf").as("frames_b")),
        Seq("id_b"))
      .filter(col("matched_frames") >=
        least(col("frames_a"), col("frames_b")) * lit(minMatchFrac))
      .select("id_a", "id_b", "best_offset", "matched_frames",
        "frames_a", "frames_b")
      .unionByName(star)
  }

  private def sfEmbeddings: DataFrame =
    graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")

  /** sf0.001 embeddings plus exact copies of the first 100 (ids + 10000)
    * and scaled copies of the first 50 (ids + 20000, cosine about 1 but
    * not bit-identical), as the td_dedup_embed corpus plants its copies */
  private def plantedEmbeddings: DataFrame = {
    val e = sfEmbeddings
    e.unionByName(e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      .unionByName(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 20000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding")))
  }

  /** 4-dimensional vectors: an identical pair, a pair whose cosine sets
    * the exact-threshold case, all-zero, NULL, NaN, NULL-element and
    * short vectors, and NULL ids */
  private def adversarialVectors: DataFrame = {
    import spark.implicits._
    val nan = Float.NaN
    Seq[(Option[Long], Seq[java.lang.Float])](
      (Some(1L), Seq(1f, 0.5f, -0.25f, 0.125f)),
      (Some(2L), Seq(1f, 0.5f, -0.25f, 0.125f)),
      (Some(3L), Seq(1f, 0.5f, -0.25f, 0.13f)),
      (Some(4L), Seq(1f, 0.52f, -0.25f, 0.125f)),
      (Some(5L), Seq(0.9f, 0.5f, -0.2f, 0.1f)),
      (Some(6L), Seq(0f, 0f, 0f, 0f)),
      (Some(7L), Seq(-0f, 0f, -0f, 0f)),
      (Some(8L), null),
      (Some(9L), Seq(nan, 1f, 1f, 1f)),
      (Some(10L), Seq(nan, 1f, 1f, 2f)),
      (Some(11L), Seq(1f, null, -0.25f, 0.125f)),
      (Some(12L), Seq(1f, 0.5f, -0.25f)),
      (Some(13L), Seq(-1f, -0.5f, 0.25f, -0.125f)),
      (Some(14L), Seq(1f, 0.5f, 0.25f, 0.125f)),
      (None, Seq(1f, 0.5f, -0.25f, 0.125f)),
      (None, Seq(0.9f, 0.5f, -0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  /** Similarity.cosine of two vectors of `df`, as the plan computes it */
  private def cosineOf(df: DataFrame, a: Long, b: Long): Double = {
    import graft.functions.Similarity
    df.as("a").crossJoin(df.as("b"))
      .filter(col("a.vec_id") === a && col("b.vec_id") === b)
      .select(Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .head().getDouble(0)
  }

  test("embedNearDupPairs == the posting self-join") {
    import graft.functions.Dedup
    val planted = plantedEmbeddings.cache()
    val adversarial = adversarialVectors.cache()
    val exact = cosineOf(adversarial, 1L, 4L)
    val cases = Seq(("planted", planted, 0.95), ("planted", planted, 0.3),
      ("adversarial", adversarial, 0.9), ("adversarial", adversarial, exact))
    for ((name, df, t) <- cases) {
      val got = Dedup.embedNearDupPairs(df, "vec_id", "embedding", t)
      assertSameRows(s"$name at $t", got,
        refEmbedNearDupPairs(df, "vec_id", "embedding", t))
      if (t == exact) // the pair at exactly the threshold is kept
        assert(got.filter(col("id_a") === 1 && col("id_b") === 4).count() == 1)
    }
    // the vectors of 1 and 3 share more than one table
    val tables = planted.sparkSession.range(1).select(
      graft.functions.Similarity.lshPostings(
        typedLit(Seq(1f, 0.5f, -0.25f, 0.125f)), 4, 8).as("a"),
      graft.functions.Similarity.lshPostings(
        typedLit(Seq(1f, 0.5f, -0.25f, 0.13f)), 4, 8).as("b"))
      .head()
    assert(tables.getSeq[Row](0).zip(tables.getSeq[Row](1)).count(p => p._1 == p._2) > 1)
    planted.unpersist()
    adversarial.unpersist()
  }

  test("semDedup == the cell self-join") {
    import spark.implicits._
    import graft.functions.Dedup
    val planted = plantedEmbeddings.cache()
    // 3's only lower-id neighbour in its cell is 1, below eps; 4 repeats
    // 1; NULL ids take no part
    val cells = Seq[(Option[Long], Seq[Double])](
      (Some(1L), Seq(1.0, 0.0)), (Some(2L), Seq(0.0, 1.0)),
      (Some(3L), Seq(0.9, 0.3)), (Some(4L), Seq(1.0, 0.0)),
      (Some(5L), Seq(0.1, 1.0)), (Some(6L), Seq(0.95, 0.05)),
      (None, Seq(1.0, 0.0)), (None, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val exact = cosineOf(cells, 1L, 6L)
    for ((name, df, eps, nlist) <- Seq(("planted", planted, 0.95, 8),
        ("planted", planted, 0.3, 4), ("cells", cells, 0.99, 2),
        ("cells", cells, exact, 2))) {
      assertSameRows(s"$name at $eps", Dedup.semDedup(df, "vec_id", "embedding",
          eps, nlist = nlist, kmeansIters = 2),
        refSemDedup(df, "vec_id", "embedding", eps, nlist = nlist, kmeansIters = 2))
    }
    val got = Dedup.semDedup(cells, "vec_id", "embedding", 0.99, nlist = 2,
        kmeansIters = 2)
      .filter(col("vec_id").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(3L) && !got(4L), got)
    // an all-zero vector has no cosine: with ANSI on as off it is kept and
    // drops nothing, the rows the self-join gives with ANSI off (with it
    // on, the self-join's cosine divides by zero and fails)
    val zero = cells.unionByName(Seq((7L, Seq(0.0, 0.0))).toDF("vec_id", "embedding"))
    def rows(ansi: String)(df: => DataFrame) = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try df.collect().map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    val want = rows("false")(refSemDedup(zero, "vec_id", "embedding", 0.99, 2, 2))
    assert(want.contains("[7,true]"), want)
    for (ansi <- Seq("true", "false"))
      assert(rows(ansi)(Dedup.semDedup(zero, "vec_id", "embedding", 0.99, 2, 2)) == want,
        s"ansi $ansi")
    planted.unpersist()
  }

  /** (__id, __hash) rows around five random base hashes, 0 to 6 bits
    * flipped (identical hashes among them), and around one more: an
    * identical pair 300 and 301, 302 at Hamming exactly 3 from them and 303
    * at 4 that still shares two of four bands, NULL ids and NULL hashes */
  private def adversarialHashes: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val bases = Seq.fill(5)(rnd.nextLong())
    val near = (1L to 240L).map { id =>
      val flips = Seq.fill(rnd.nextInt(7))(rnd.nextInt(64))
      (Option(id), Option(flips.foldLeft(bases(rnd.nextInt(5)))((h, b) => h ^ (1L << b))))
    }
    val h0 = 0x0f0f0f0f0f0f0f0fL
    (near ++ Seq[(Option[Long], Option[Long])](
      (Some(300L), Some(h0)), (Some(301L), Some(h0)),
      (Some(302L), Some(h0 ^ 0x7L)),
      (Some(303L), Some(h0 ^ 0x3L ^ (0x3L << 16))),
      (None, Some(h0)), (None, Some(h0 ^ 1L)),
      (Some(304L), None), (Some(305L), None)))
      .toDF("__id", "__hash")
  }

  test("bandedHammingPairs == the band self-join (collapse, align and carry forms)") {
    import graft.functions.{Dedup, Multimodal}
    val hashed = adversarialHashes.cache()
    // per-frame rows: each id's hash at frame 0, shifted a bit at frame 1
    // and 2, and a NULL frame index
    val frames = hashed.select(col("__id"), lit(0).as("__fi"), col("__hash"))
      .unionByName(hashed.select(col("__id"), lit(1).as("__fi"),
        col("__hash").bitwiseXOR(col("__id") % 3).as("__hash")))
      .unionByName(hashed.select(col("__id"),
        when(col("__id") % 5 === 0, lit(null)).otherwise(lit(2)).as("__fi"),
        col("__hash").bitwiseXOR(col("__id") % 4 * 256).as("__hash")))
      .cache()
    val allReps = frames.withColumn("__rep", col("__id"))
    val hashedPlain = hashed.filter(col("__hash").isNotNull)
    for ((maxH, nBands) <- Seq((3, 4), (1, 2), (7, 8))) {
      assertSameRows(s"collapsed $maxH/$nBands",
        Multimodal.bandedHammingPairs(Dedup.collapseByKey(hashedPlain, "__hash"),
          maxH, nBands),
        refCollapsedHashPairs(hashedPlain, maxH, nBands))
      assertSameRows(s"align $maxH/$nBands",
        Multimodal.bandedHammingPairs(allReps, maxH, nBands, alignCols = Seq("__fi")),
        refBandedHammingPairs(frames, maxH, nBands, alignCols = Seq("__fi")))
      assertSameRows(s"carry $maxH/$nBands",
        Multimodal.bandedHammingPairs(allReps, maxH, nBands, carryCols = Seq("__fi")),
        refBandedHammingPairs(frames, maxH, nBands, carryCols = Seq("__fi")))
    }
    // exactly at maxHamming is kept, one above is not
    val pairs = Multimodal.bandedHammingPairs(
        Dedup.collapseByKey(hashedPlain, "__hash"), 3, 4)
      .filter(col("id_a") === 300).collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(pairs.get(302L).contains(3) && !pairs.contains(303L) &&
      pairs.get(301L).contains(0), pairs)
    hashed.unpersist()
    frames.unpersist()
  }

  test("video matchers == the band self-join plans, trimmed and repeated clips") {
    import spark.implicits._
    import graft.functions.Multimodal
    def f(p: Int) = (0 until 64).map(i => ((7 - i / 8 + p) % 8) * 30)
    def g(p: Int) = (0 until 64).map(i => ((7 - i % 8 + p) % 8) * 30)
    def gif(frames: Int => Seq[Int], ps: Int*) =
      Multimodal.encodeAnimatedGifRasters(8, 8, ps.map(frames))
    val vids = Seq[(Option[Long], Array[Byte])](
      (Some(1L), gif(f, 0, 1, 2, 3)), (Some(2L), gif(f, 1, 2, 3)),
      (Some(3L), gif(g, 0, 1, 2)), (Some(4L), gif(f, 0, 1, 2, 3)),
      (Some(5L), gif(f, 0, 1, 2, 3)), (Some(6L), gif(f, 2, 3, 0, 1)),
      (Some(7L), gif(f, 1)), (Some(8L), Array[Byte](9, 9, 9)),
      (Some(9L), gif(f, 0, 0, 0)), (Some(10L), gif(f, 1, 2, 3)),
      (None, gif(f, 0, 1, 2, 3)), (Some(11L), null))
      .toDF("doc_id", "payload").cache()
    for (frac <- Seq(0.5, 1.0)) {
      assertSameRows(s"aligned $frac",
        Multimodal.videoNearDupPairs(vids, "doc_id", "payload", minMatchFrac = frac),
        refVideoNearDupPairs(vids, "doc_id", "payload", minMatchFrac = frac))
      assertSameRows(s"offset $frac",
        Multimodal.videoNearDupPairsOffset(vids, "doc_id", "payload",
          minMatchFrac = frac),
        refVideoNearDupPairsOffset(vids, "doc_id", "payload", minMatchFrac = frac))
    }
    vids.unpersist()
  }
}
