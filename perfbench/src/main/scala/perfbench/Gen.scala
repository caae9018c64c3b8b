package perfbench

import java.nio.file.Path
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Seeded input generator for all four workloads. Every file it
  * writes is a pure function of (seed, sizes); the program only ever
  * sees these files. Planted cases are unambiguous (out-of-window by
  * days, one text field per item, near-duplicates one word apart), so
  * the ground truth it returns is exact.
  */
object Gen {

  /** The generator's fixed "now": the first round runs at this instant. */
  val Now: Long = 1750000000L

  val StopWords: IndexedSeq[String] = IndexedSeq("the", "a", "and", "of", "to")

  /** The text candidates of the wire format (FIXTURES.md B1), in the
    * program's priority order; an item carries exactly one of them.
    */
  val TextFields: IndexedSeq[String] = IndexedSeq(
    "summary", "text", "content", "review_summary", "review_text",
    "description", "body", "article", "title", "headline", "selftext",
    "query", "keyword", "term", "trend_name", "trend_breakdown",
    "company", "symbol", "percent_increase", "search_volume",
    "source_page", "started_time_ago", "avgvolume30", "bollingerlo",
    "bollingerup", "changepct", "changepctstr", "highprice", "lastprice",
    "lastpricetime", "lastupdated", "lastvolume", "lowprice", "prevclose",
    "rsi14", "sma20", "week52high", "week52low")
  private val NumericText = Set("percent_increase", "search_volume", "avgvolume30",
    "bollingerlo", "bollingerup", "changepct", "highprice", "lastprice", "lastvolume",
    "lowprice", "prevclose", "rsi14", "sma20", "week52high", "week52low")

  val TsFields: IndexedSeq[String] = IndexedSeq(
    "timestamp", "Timestamp", "ts", "time", "date", "datetime", "created", "created_at",
    "createdAt", "published", "published_at", "publishedAt", "pub_date", "est_timestamp")
  val UrlFields: IndexedSeq[String] = IndexedSeq("url", "link", "source_url", "guid")

  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su",
    "dra", "gli", "mon", "tek", "sol", "bar", "fin", "qua", "ser", "wul")

  /** A seeded vocabulary of made-up words (no collision with stop words). */
  final class Vocab(seed: Long, size: Int) {
    val words: IndexedSeq[String] = {
      val r = new Rng(seed, "vocab")
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < size) {
        val w = (0 until r.between(2, 4)).map(_ => r.pick(Syllables)).mkString
        if (!StopWords.contains(w)) seen += w
      }
      seen.toIndexedSeq
    }
    /** Skewed word draw (low indices are common), a quarter stop words. */
    def word(r: Rng): String =
      if (r.chance(0.25)) r.pick(StopWords)
      else { val u = r.double(); words((u * u * words.length).toInt) }
    def text(r: Rng, n: Int): String = (0 until n).map(_ => word(r)).mkString(" ")
  }

  /** Replace the token at `pos` with a word that differs from it. */
  def editWord(text: String, pos: Int, r: Rng, vocab: Vocab): String = {
    val toks = text.split(" ")
    var w = vocab.word(r)
    while (w == toks(pos)) w = vocab.word(r)
    toks(pos) = w
    toks.mkString(" ")
  }

  // ------------------------------------------------------------------
  // etl_round / llm_enrich: schemaless item pages (FIXTURES.md B1)

  private val IsoZ = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val Wall = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val WallT = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** The timestamp field of an item, in one of the wire formats. */
  private def tsField(seq: Long, epoch: Long, r: Rng): (String, String) = {
    val key = TsFields((seq % TsFields.length).toInt)
    val v = (seq / TsFields.length % 6).toInt match {
      case 0 => epoch.toString                                  // epoch seconds
      case 1 => Json.str((epoch * 1000 + r.int(1000)).toString) // epoch ms as string
      case 2 => Json.str(IsoZ.format(Instant.ofEpochSecond(epoch)))
      case 3 => Json.str(Wall.format(Instant.ofEpochSecond(epoch - 5 * 3600)) + " EST")
      case 4 => Json.str(s"$epoch.${r.between(1, 9)}")          // fractional seconds as string
      case _ => Json.str(WallT.format(Instant.ofEpochSecond(epoch - 4 * 3600)) + " EDT")
    }
    key -> v
  }

  private def textField(seq: Long, text: String, r: Rng): (String, String) = {
    val key = TextFields((seq % TextFields.length).toInt)
    val v =
      if (key == "trend_breakdown") Json.obj(Seq("k" -> s"[${r.int(9)},${r.int(9)}]", "w" -> Json.str(text)))
      else if (NumericText(key)) s"${r.between(1, 99999)}.${r.between(10, 99)}"
      else Json.str(text)
    key -> v
  }

  /** Item pages of one round plus the number of requests the round
    * must produce. Good items carry a timestamp in (prevNow, now];
    * planted rejects are out of window by days, unparseable, textless,
    * or duplicates (by url or id) of an earlier good item of the round.
    */
  final case class Round(pages: Seq[(String, Seq[String])], expectedRequests: Long, items: Long)

  def itemRound(seed: Long, vocab: Vocab, round: Int, firstSeq: Long, nPages: Int, perPage: Int,
                prevNow: Long, now: Long, prefix: String): Round = {
    val r = new Rng(seed, s"$prefix-round-$round")
    var seq = firstSeq
    var expected = 0L
    // good items of this round that may be duplicated: (url field, url, id)
    val dupSources = mutable.ArrayBuffer[(Option[(String, String)], Option[String])]()
    val pages = (0 until nPages).map { p =>
      val lines = (0 until perPage).map { _ =>
        seq += 1
        val ir = new Rng(seed, s"$prefix-item-$seq")
        val goodTs = prevNow + 1 + ir.int((now - prevNow).toInt)
        val roll = ir.double()
        val text = s"${vocab.text(ir, ir.between(6, 24))} item $seq"
        val fields = mutable.ArrayBuffer[(String, String)]()
        fields += "seq" -> seq.toString
        if (roll < 0.06) {                       // out of window by days
          fields += "id" -> Json.str(s"a$seq")
          fields += tsField(seq, now - 86400L * ir.between(3, 9) - ir.int(3600), ir)
          fields += textField(seq, text, ir)
        } else if (roll < 0.10) {                // unparseable timestamp
          fields += "id" -> Json.str(s"a$seq")
          fields += TsFields((seq % TsFields.length).toInt) -> Json.str(if (ir.chance(0.5)) "not-a-date" else "n/a")
          fields += textField(seq, text, ir)
        } else if (roll < 0.14) {                // no text candidate
          fields += "id" -> Json.str(s"a$seq")
          fields += tsField(seq, goodTs, ir)
          fields += "irrelevant" -> Json.str(text)
        } else if (roll < 0.20 && dupSources.nonEmpty) { // duplicate key of an earlier good item
          val (url, id) = ir.pick(dupSources.toIndexedSeq)
          url match {
            case Some((_, u)) =>
              fields += ir.pick(UrlFields) -> Json.str(if (ir.chance(0.5)) u.toUpperCase else u + " ")
              fields += "id" -> Json.str(s"a$seq")
            case None =>
              fields += "id" -> Json.str(id.get)
          }
          fields += tsField(seq, goodTs, ir)
          fields += textField(seq, text, ir)
        } else {                                 // good item
          expected += 1
          val keyless = ir.chance(0.04)
          val url = if (!keyless && ir.chance(0.7)) Some(ir.pick(UrlFields) -> s"https://ex.com/$prefix/$seq") else None
          val id: Option[(String, String)] =
            if (keyless) None
            else ir.int(10) match {
              case 0 => Some("record_id" -> (1000000000L + seq).toString)
              case 1 => Some("pk" -> Json.str(s"pk$seq"))
              case _ => Some("id" -> Json.str(s"a$seq"))
            }
          url.foreach { case (k, u) => fields += k -> Json.str(u) }
          id.foreach(fields += _)
          fields += tsField(seq, goodTs, ir)
          fields += textField(seq, text, ir)
          // only keys the dedup resolves identically can be duplicated:
          // a url, or a plain `id` when the item has no url
          if (!keyless && (url.nonEmpty || id.exists(_._1 == "id")))
            dupSources += ((url, id.collect { case ("id", v) => v.stripPrefix("\"").stripSuffix("\"") }))
        }
        Json.obj(fields.toSeq)
      }
      f"$prefix-r$round%03d-p$p%03d.jsonl" -> lines
    }
    Round(pages, expected, seq - firstSeq)
  }

  // ------------------------------------------------------------------
  // Batch answers (FIXTURES.md B3), served by the benchmark's client

  /** Answer kinds and what each yields after parsing: records, of which
    * repaired, of which raw fallbacks.
    */
  val AnswerKinds: IndexedSeq[String] = IndexedSeq("clean", "fenced", "loose", "array", "non200", "garbage")

  /** The answer kind of a request. The FIXTURES.md B3 file holds one
    * answer of each kind, so every allowed kind is equally likely.
    */
  def answerKind(seed: Long, key: String, allowed: IndexedSeq[String]): String =
    allowed(new Rng(seed, s"answer-$key").int(allowed.length))

  def arrayLen(seed: Long, key: String): Int = 2 + new Rng(seed, s"array-$key").int(3)

  /** Assistant content of one answer. */
  def content(kind: String, seed: Long, key: String, n: Int): String = kind match {
    case "clean" => s"""{"kind":"clean","n":$n,"signal":"buy"}"""
    case "fenced" => s"""```json\n{"kind":"fenced","n":$n}\n```"""
    case "loose" => s"""{"kind": "loose", "vol": 1,230,456, "chg": +0.5, // comment\n "n": $n, "tags": ["a","b",], }"""
    case "array" => (0 until arrayLen(seed, key)).map(i => s"""{"kind":"array","i":$i}""").mkString("[", ",", "]")
    case _ => s"not json at all $n"
  }

  /** One batch-output line for one request. */
  def answerLine(seed: Long, customId: String, user: String, lineNo: Int): String = {
    val kind = answerKind(seed, user, AnswerKinds)
    val status = if (kind == "non200") 500 else 200
    val body =
      if (status != 200) """{"error":"upstream"}"""
      else {
        val c = content(kind, seed, user, user.length)
        s"""{"choices":[{"message":{"role":"assistant","content":${Json.str(c)}}}]}"""
      }
    s"""{"id":"batch_req_$lineNo","custom_id":${Json.str(customId)},"response":{"status_code":$status,"body":$body}}"""
  }

  /** Parsed records an answer yields: (records, repaired, raw fallbacks). */
  def expectedRecords(seed: Long, user: String, kinds: IndexedSeq[String]): (Int, Int, Int) =
    answerKind(seed, user, kinds) match {
      case "array" => (arrayLen(seed, user), 0, 0)
      case "non200" => (0, 0, 0)
      case "loose" => (1, 1, 0)
      case "garbage" => (1, 0, 1)
      case _ => (1, 0, 0)
    }

  // ------------------------------------------------------------------
  // curate_corpus

  /** Knuth multiplicative subsample of the curation spec: an id is
    * kept iff (id * 2654435761) mod 10000 < 8000.
    */
  def sampled(id: Long): Boolean = java.lang.Math.floorMod(id * 2654435761L, 10000L) < 8000L

  final case class Corpus(docs: Seq[(Long, String)], bench: Seq[(Long, String)],
                          exactGroups: Seq[Seq[Long]], clusters: Seq[Seq[Long]],
                          contaminated: Seq[Long], lowQuality: Seq[Long],
                          expectedFinal: Set[Long])

  def corpus(seed: Long, nClean: Int, nExact: Int, nClusters: Int, nCont: Int, nLow: Int,
             stream: String): Corpus = {
    val vocab = new Vocab(seed, 20000)
    val r = new Rng(seed, s"$stream-corpus")
    // ids: a seeded shuffle of 1..M; planted cases that must survive
    // the subsample draw from the kept ids
    val m = (nClean + nExact * 3 + nClusters * 4 + nCont + nLow) * 2
    val ids = {
      val a = (1L to m.toLong).toArray
      var i = a.length - 1
      while (i > 0) { val j = r.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq
    }
    val (keptIds, otherIds) = ids.partition(sampled)
    var ki = 0
    var oi = 0
    def kept(): Long = { ki += 1; keptIds(ki - 1) }
    def any(): Long = if (r.chance(0.5) && oi < otherIds.length) { oi += 1; otherIds(oi - 1) } else kept()
    // long-tailed lengths, Pareto(alpha 1.3) from 30 tokens capped at
    // 3000, taken at evenly spaced quantiles and shuffled: every seed
    // has the same multiset of lengths, so the same amount of work
    def lengths(n: Int): Iterator[Int] = {
      val a = (0 until n).map(i => math.min(3000, (30 / math.pow(1 - (i + 0.5) / n, 1 / 1.3)).toInt)).toArray
      var i = a.length - 1
      while (i > 0) { val j = r.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.iterator
    }
    val cleanLengths = lengths(nClean)
    val exactLengths = lengths(nExact)

    val bench = (1 to 40).map(i => (i.toLong, vocab.text(r, r.between(40, 80))))
    val docs = mutable.ArrayBuffer[(Long, String)]()
    val clean = (0 until nClean).map { _ => val id = any(); docs += id -> vocab.text(r, cleanLengths.next()); id }
    val exact = (0 until nExact).map { _ =>
      val t = vocab.text(r, exactLengths.next())
      val g = (0 until r.between(2, 3)).map(_ => kept())
      g.foreach(id => docs += id -> t)
      g
    }
    val clusters = (0 until nClusters).map { _ =>
      val base = vocab.text(r, r.between(150, 400))
      val n = base.split(" ").length
      val g = (0 until r.between(2, 4)).map(_ => kept())
      g.zipWithIndex.foreach { case (id, j) =>
        docs += id -> (if (j == 0) base else editWord(base, n / 5 + j * (n / 6), r, vocab))
      }
      g
    }
    val cont = (0 until nCont).map { _ =>
      val id = any()
      docs += id -> (r.pick(bench)._2 + " " + vocab.text(r, r.between(1, 5)))
      id
    }
    val low = (0 until nLow).map { _ =>
      val id = any()
      docs += id -> (0 until r.between(3, 8)).map(_ => r.pick(IndexedSeq("!!!", "???", "###", "$$", "%%", "@@"))).mkString(" ")
      id
    }
    val expected = clean.filter(sampled).toSet ++ exact.map(_.min) ++ clusters.map(_.min)
    // a stable, id-independent file order
    val shuffled = {
      val a = docs.toArray
      var i = a.length - 1
      while (i > 0) { val j = r.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toSeq
    }
    Corpus(shuffled, bench, exact, clusters, cont, low, expected)
  }

  def docLine(id: Long, text: String): String = Json.obj(Seq("id" -> id.toString, "text" -> Json.str(text)))

  // ------------------------------------------------------------------
  // stream_index

  final case class StreamDoc(id: Long, text: String, emb: Array[Float])
  final case class StreamData(seedDocs: Seq[StreamDoc], files: Seq[Seq[StreamDoc]],
                              plantedDups: Seq[(Int, Long, Long)]) // (file, dup id, original id)

  val Dim = 16
  val Modes = 16

  def streamData(seed: Long, nSeed: Int, nFiles: Int, perFile: Int, dupsPerFile: Int,
                 firstId: Long, stream: String): StreamData = {
    val vocab = new Vocab(seed, 20000)
    val r = new Rng(seed, s"$stream-stream")
    // topical modes, one per coarse-quantizer cell of the k-NN index:
    // seed doc i (ids below Modes seed the quantizer) joins mode i % Modes,
    // later docs a random mode; members spread around their mode center
    val centers = IndexedSeq.fill(Modes)(Array.fill(Dim)(r.gaussian()))
    def emb(mode: Int): Array[Float] = centers(mode).map(x => (x + r.gaussian() * 0.35).toFloat)
    def doc(id: Long, mode: Int) = StreamDoc(id, vocab.text(r, r.between(120, 240)), emb(mode))
    val seedDocs = (0 until nSeed).map(i => doc(i.toLong, i % Modes))
    val pool = mutable.ArrayBuffer[StreamDoc]() ++= seedDocs
    val planted = mutable.ArrayBuffer[(Int, Long, Long)]()
    val files = (0 until nFiles).map { f =>
      val base = firstId + f * 1000L
      val dupSlots = (0 until dupsPerFile).map(_ => r.int(perFile)).toSet
      val docs = (0 until perFile).map { j =>
        val id = base + j
        if (dupSlots(j)) {
          val orig = r.pick(pool.toIndexedSeq)
          val n = orig.text.split(" ").length
          planted += ((f, id, orig.id))
          StreamDoc(id, editWord(orig.text, r.int(n), r, vocab),
            orig.emb.map(x => (x + r.gaussian() * 0.01).toFloat))
        } else doc(id, r.int(Modes))
      }
      // originals come from the seed or EARLIER files only: a batch is
      // probed before it folds into the standing index
      pool ++= docs.filterNot(d => dupSlots((d.id - base).toInt))
      docs
    }
    StreamData(seedDocs, files, planted.toSeq)
  }

  def streamLine(d: StreamDoc): String = Json.obj(Seq(
    "doc_id" -> d.id.toString, "text" -> Json.str(d.text), "vec_id" -> d.id.toString,
    "embedding" -> d.emb.map(x => java.lang.Float.toString(x)).mkString("[", ",", "]")))

  def writePages(dir: Path, pages: Seq[(String, Seq[String])]): Unit =
    pages.foreach { case (name, lines) => Files2.write(dir.resolve(name), lines) }
}
