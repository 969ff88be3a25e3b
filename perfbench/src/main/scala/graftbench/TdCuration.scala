package graftbench

import java.nio.file.Path
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{Dedup, LangIdNgram, NgramLm, QualityModel}

/** Training-data curation: the registered `td_pipeline_ccnet` query
  * (n-gram language ID, LM perplexity bucket, quality model) and then
  * `td_dedup_near` (MinHash-LSH near-duplicate pairs, verified by exact
  * Jaccard), both through `SparkEntry.queries` and collected to the
  * driver. Nothing is written, so `sources`, `model` and `write` changes
  * must read as no change here.
  *
  * Traffic it fixes: a language mix shaped like the reference documents
  * table (41% en, the rest split over zh, es, fr, de), base documents
  * repeated as replicas whose first characters are rotated per replica
  * (so replicas never collide), and a planted share of exact and near
  * duplicates.
  */
final class TdCuration extends Workload {
  val name = "td_curation"

  private val BaseDocs = 500
  private val Replicas = 4
  private val ExactShare = 0.02
  private val NearShare = 0.02
  private val Threshold = 0.8 // td_dedup_near's Jaccard threshold

  private val langs: Seq[(String, Double, Seq[String])] = Seq(
    ("en", 0.41, Seq("the", "a", "of", "and", "is", "data", "table", "query",
      "value", "stream", "window", "join", "order", "small", "fast", "group")),
    ("fr", 0.1475, Seq("le", "la", "et", "les", "des", "donnée", "tableau",
      "requête", "valeur", "flux", "fenêtre", "jointure", "ordre", "petit")),
    ("es", 0.1475, Seq("el", "los", "las", "una", "y", "dato", "tabla",
      "consulta", "valor", "flujo", "ventana", "unión", "orden", "rápido")),
    ("de", 0.1475, Seq("der", "die", "das", "und", "ein", "Daten", "Tabelle",
      "Abfrage", "Wert", "Strom", "Fenster", "Verbund", "Ordnung", "schnell")),
    ("zh", 0.1475, Seq("的", "是", "了", "在", "和", "数据", "表", "查询", "值",
      "流", "窗口", "连接", "排序", "快速")))
  private val shared = Seq("spark", "scan", "hash", "sort", "batch", "key", "row")

  private var dir: Path = _
  private var texts: Map[Long, String] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var digests: Map[String, String] = Map.empty

  def phase1Rows: Long = texts.size.toLong

  private def shingles(t: String): Set[String] =
    t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Shift every token's first character by `k` code points (letters stay
    * letters, CJK stays CJK): a consistent per-replica substitution. */
  private def rotate(text: String, k: Int): String =
    text.split(" ").map { w =>
      val c = w.charAt(0)
      val r =
        if (c >= 'a' && c <= 'z') ('a' + (c - 'a' + k) % 26).toChar
        else if (c >= 'A' && c <= 'Z') ('A' + (c - 'A' + k) % 26).toChar
        else (c + k * 7).toChar
      s"$r${w.substring(1)}"
    }.mkString(" ")

  def generate(spark: SparkSession, d: Path, seed: Long): InputSizes = {
    dir = d
    Fs.fresh(dir)
    digests = Map.empty
    val rnd = new scala.util.Random(seed)
    // exact language counts, in a seeded order
    val docLangs = rnd.shuffle(langs.flatMap { l =>
      Seq.fill(math.round(l._2 * BaseDocs).toInt)(l)
    }.padTo(BaseDocs, langs.head).take(BaseDocs))
    val base = docLangs.map { case (lang, _, vocab) =>
      val n = 24 + rnd.nextInt(40)
      val toks = Seq.fill(n)(
        if (rnd.nextInt(4) == 0) shared(rnd.nextInt(shared.size))
        else vocab(rnd.nextInt(vocab.size)))
      (lang, toks.mkString(" "))
    }
    val shifts = rnd.shuffle((1 to 25).toList).take(Replicas - 1)
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
    (0 until Replicas).foreach { r =>
      base.foreach { case (lang, text) =>
        val t = if (r == 0) text else rotate(text, shifts(r - 1))
        docs += ((docs.size.toLong, t, lang, s"src$r"))
      }
    }
    // planted duplicates of distinct originals: exact copies, then copies
    // whose last token changes (3-shingle Jaccard well above the threshold)
    val n0 = docs.size
    val originals = rnd.shuffle((0 until n0).toList)
    val nExact = (n0 * ExactShare).toInt
    val nNear = (n0 * NearShare).toInt
    val plants = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    originals.take(nExact).foreach { i =>
      val (_, t, lang, _) = docs(i)
      plants += ((i.toLong, docs.size.toLong))
      docs += ((docs.size.toLong, t, lang, "exact"))
    }
    originals.drop(nExact).iterator.filter { i =>
      val t = docs(i)._2
      val toks = t.split(" ")
      val near = (toks.init :+ s"${toks.last}x").mkString(" ")
      jaccard(t, near) >= 0.88
    }.take(nNear).foreach { i =>
      val (_, t, lang, _) = docs(i)
      val toks = t.split(" ")
      plants += ((i.toLong, docs.size.toLong))
      docs += ((docs.size.toLong, (toks.init :+ s"${toks.last}x").mkString(" "), lang, "near"))
    }
    texts = docs.map(d => d._1 -> d._2).toMap
    planted = plants.toList
    import spark.implicits._
    docs.toSeq.map { case (id, t, lang, src) => (id, t, lang, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(dir.resolve("documents.parquet").toString)
    val (files, bytes) = Fs.dataFiles(dir)
    InputSizes(docs.size.toLong, files, bytes)
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The same query must give the same rows on every pass. */
  private def sameDigest(query: String, rows: Array[Row]): Seq[String] = {
    val d = digest(rows)
    val first = synchronized {
      val f = digests.getOrElse(query, d)
      digests += query -> f
      f
    }
    Option.when(d != first)(s"$query output digest changed between passes").toSeq
  }

  private def runQuery(ctx: Ctx, query: String): Array[Row] =
    ctx.tracer.span(s"queries.$query") {
      SparkEntry.queries(query)(ctx.spark, dir.toString).collect()
    }

  def pass(ctx: Ctx): PassTimes = {
    val ccnet = ctx.ops.run("td_curation td_pipeline_ccnet")(
      runQuery(ctx, "td_pipeline_ccnet")) { rows =>
      val ids = rows.map(_.getAs[Long]("doc_id"))
      Seq(
        Option.when(rows.length != texts.size)(
          s"${rows.length} rows for ${texts.size} documents"),
        Option.when(ids.distinct.length != ids.length)("a document has two rows"),
      ).flatten ++ sameDigest("td_pipeline_ccnet", rows)
    }
    val near = ctx.ops.run("td_curation td_dedup_near")(
      runQuery(ctx, "td_dedup_near")) { rows =>
      val pairs = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      val missed = planted.filterNot(pairs.toSet)
      val below = pairs.filter { case (a, b) => jaccard(texts(a), texts(b)) < Threshold }
      Seq(
        Option.when(missed.nonEmpty)(s"missed planted pairs ${missed.take(5)}"),
        Option.when(below.nonEmpty)(s"pairs below the threshold ${below.take(5).toSeq}"),
      ).flatten ++ sameDigest("td_dedup_near", rows)
    }
    PassTimes(ccnet.map(_._2), near.map(_._2))
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val out = ctx.ops.run("td_curation probes")({
      Seq("td_pipeline_ccnet", "td_dedup_near").foreach { q =>
        t.span("queries.build")(SparkEntry.queries(q)(spark, dir.toString))
      }
      val docs = spark.read.parquet(dir.resolve("documents.parquet").toString).cache()
      docs.count()
      val en = docs.filter(col("lang") === "en").select("text")
      t.span("functions.langid") {
        val profiles = LangIdNgram.fitProfiles(docs, "lang", "text", n = 3, k = 40)
        Fs.noop(LangIdNgram.classify(docs.select("doc_id", "text"), "doc_id", "text",
          profiles, n = 3, k = 40))
      }
      t.span("functions.ppl") {
        val lm = NgramLm.fit(en, "text")
        Fs.noop(NgramLm.score(docs.select("doc_id", "text"), "doc_id", "text", lm))
      }
      t.span("functions.quality") {
        val w = QualityModel.fitLogOddsMicro(en,
          docs.filter(col("lang") =!= "en").select("text"), "text", nBuckets = 1024)
        Fs.noop(QualityModel.score(docs.select("doc_id", "text"), "doc_id", "text", w,
          nBuckets = 1024))
      }
      t.span("functions.neardup")(Fs.noop(
        Dedup.nearDupPairs(docs, "doc_id", "text", threshold = Threshold)))
      docs.unpersist(blocking = true)
    })(_ => Nil)
    if (out.isEmpty) Map.empty
    else Map(
      "queries.build_s" -> t.total("queries.build"),
      "functions.langid_s" -> t.total("functions.langid"),
      "functions.ppl_s" -> t.total("functions.ppl"),
      "functions.quality_s" -> t.total("functions.quality"),
      "functions.neardup_s" -> t.total("functions.neardup"))
  }
}
