package perfbench

/** Seeded synthetic web corpus for the curation workload.
  *
  * Every property the seven curation gates react to is planted, with its
  * share fixed here (and recorded in BENCHMARK.json):
  *  - exact duplicates: `ExactDupShare` of the documents are verbatim
  *    copies of an earlier base document (higher doc id), so the
  *    exact_dup gate must flag exactly `exactCopies` of them;
  *  - near duplicates: `NearDupShare` are copies with ~5% of the words
  *    replaced and their own marker word;
  *  - labels: six languages with disjoint synthetic vocabularies, three of
  *    them accepted;
  *  - low quality: `LowQualityShare` are short, highly repetitive texts;
  *  - URL domains: Zipf(1.1) over `Domains` registrable domains, plus a
  *    `NoDomainShare` of URLs without a host;
  *  - eval overlap: the eval set copies `EvalShare` of the base documents'
  *    texts and adds as many unrelated ones.
  *
  * Every base document carries a unique marker word, so no two texts are
  * equal by accident. */
final case class Corpus(
    rows: Seq[(Long, String, String, String)], // doc_id, text, lang, url
    eval: Seq[(Long, String)],
    exactCopies: Int) {
  /** Distinct texts: the rows of the corpus's content-hash store. */
  lazy val distinctTexts: Long = rows.map(_._2).distinct.size.toLong
}

/** One ingest request: a batch of new documents, and the ids
  * `Dedup.incremental` must keep (the first copy of every text that is
  * new to the corpus). */
final case class IngestBatch(rows: Seq[(Long, String)], keep: Set[Long])

object CorpusGen {
  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "it", "nl")
  val Accept: Set[String] = Set("en", "de", "fr")
  val ExactDupShare = 0.05
  val NearDupShare = 0.10
  val LowQualityShare = 0.08
  val NoDomainShare = 0.01
  val EvalShare = 0.02
  val Domains = 200
  val PerDomain = 40

  private val Stop = Array("the", "a", "of", "and", "to", "in")
  private val Syllables: Map[String, Array[String]] = Map(
    "en" -> Array("th", "er", "on", "an", "ing", "ed", "st"),
    "de" -> Array("sch", "ein", "ung", "ich", "der", "ber", "ge"),
    "fr" -> Array("eau", "ou", "ent", "ais", "que", "oi", "re"),
    "es" -> Array("cion", "os", "ar", "ido", "ue", "la", "es"),
    "it" -> Array("zio", "ggi", "tto", "ella", "ino", "ci", "no"),
    "nl" -> Array("ij", "oe", "aa", "sch", "lijk", "ui", "ee"))

  private def word(lang: String, rng: scala.util.Random): String = {
    val syl = Syllables(lang)
    (0 until 2 + rng.nextInt(2)).map(_ => syl(rng.nextInt(syl.length))).mkString
  }

  private def text(lang: String, marker: String, rng: scala.util.Random): String = {
    val n = 30 + rng.nextInt(90)
    val words = Array.tabulate(n)(_ =>
      if (rng.nextDouble() < 0.12) Stop(rng.nextInt(Stop.length)) else word(lang, rng))
    words(rng.nextInt(n)) = marker
    words.mkString(" ")
  }

  private def zipfDomain(rng: scala.util.Random, cdf: Array[Double]): Int = {
    val u = rng.nextDouble() * cdf.last
    val k = java.util.Arrays.binarySearch(cdf, u)
    if (k >= 0) k else -k - 1
  }

  /** Ingest batches: `IngestSize` new documents each, of which a share
    * `IngestSeenShare` copy a corpus text, a share `IngestRepeatShare`
    * repeat an earlier new text of the same batch, and the rest are new
    * texts with their own marker word. */
  val IngestSize = 20
  val IngestSeenShare = 0.3
  val IngestRepeatShare = 0.15

  /** Batch `k` of the ingest requests against `corpus`. */
  def ingestBatch(corpus: Corpus, k: Int, seed: Long): IngestBatch = {
    val rng = new scala.util.Random((seed * 1000003L + k) * 31L + 5)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val base = corpus.rows.size.toLong + k.toLong * IngestSize
    for (i <- 0 until IngestSize) {
      val id = base + i
      val u = rng.nextDouble()
      val t =
        if (u < IngestSeenShare) corpus.rows(rng.nextInt(corpus.rows.size))._2
        else if (fresh.nonEmpty && u < IngestSeenShare + IngestRepeatShare) fresh(rng.nextInt(fresh.size))._2
        else {
          val t = text(Langs(rng.nextInt(Langs.size)), s"in${k}x$i", rng)
          fresh += ((id, t))
          t
        }
      rows += ((id, t))
    }
    IngestBatch(rows.toSeq, fresh.map(_._1).toSet)
  }

  def generate(docs: Int, seed: Long): Corpus = {
    val rng = new scala.util.Random(seed * 104729L + 3)
    val cdf = (1 to Domains).map(k => 1.0 / math.pow(k, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    val base = scala.collection.mutable.ArrayBuffer.empty[(String, String)] // text, lang
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
    var exactCopies = 0
    for (id <- 0L until docs.toLong) {
      val u = rng.nextDouble()
      val (t, lang) =
        if (base.nonEmpty && u < ExactDupShare) {
          exactCopies += 1
          base(rng.nextInt(base.size))
        } else if (base.nonEmpty && u < ExactDupShare + NearDupShare) {
          val (bt, bl) = base(rng.nextInt(base.size))
          val ws = bt.split(" ")
          for (k <- ws.indices if rng.nextDouble() < 0.05) ws(k) = word(bl, rng)
          (ws.mkString(" ") + s" nd${java.lang.Long.toString(id, 36)}", bl)
        } else if (u < ExactDupShare + NearDupShare + LowQualityShare) {
          val lang = Langs(rng.nextInt(Langs.size))
          val w = word(lang, rng)
          ((Seq.fill(3 + rng.nextInt(6))(w) :+ s"lq${java.lang.Long.toString(id, 36)}").mkString(" "), lang)
        } else {
          val lang = Langs(rng.nextInt(Langs.size))
          val bt = text(lang, s"mk${java.lang.Long.toString(id, 36)}", rng)
          base += ((bt, lang))
          (bt, lang)
        }
      val url =
        if (rng.nextDouble() < NoDomainShare) s"no-host-$id"
        else s"https://www.site${zipfDomain(rng, cdf)}.com/p/$id"
      rows += ((id, t, lang, url))
    }
    val evalN = math.max(1, (base.size * EvalShare).toInt)
    val eval = (0 until evalN).map(k => (k.toLong, base(rng.nextInt(base.size))._1)) ++
      (0 until evalN).map(k => ((evalN + k).toLong,
        text(Langs(rng.nextInt(Langs.size)), s"ev$k", rng)))
    Corpus(rows.toSeq, eval, exactCopies)
  }
}
