package pipebench

/** Seeded synthetic corpus for the curation workload.
  *
  * Made-up words over a seeded vocabulary, with the Gopher stopwords
  * mixed in so that well-formed documents pass the quality gate. Of
  * every 20 documents (in seeded order): 2 are too short for the gate,
  * 2 are exact copies of an earlier document, 2 are near-duplicate
  * variants of one (3 words replaced), and of the remaining 14
  * originals every fourth carries one of [[SpanPool]] shared
  * 12-word spans. The kind of each document is recorded so the checks
  * know which documents the gate must pass. */
object Corpus {
  val SpanPool = 40
  val SpanWords = 12
  private val Stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  final case class Doc(id: Long, text: String, kind: String)

  def generate(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(5000) {
      val len = 3 + rnd.nextInt(7)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    def word(): String =
      if (rnd.nextInt(100) < 15) Stopwords(rnd.nextInt(Stopwords.size))
      else vocab(rnd.nextInt(vocab.size))
    def words(k: Int): IndexedSeq[String] =
      IndexedSeq("the", word(), "and") ++ IndexedSeq.fill(k - 3)(word())
    val spans = IndexedSeq.fill(SpanPool)(IndexedSeq.fill(SpanWords)(
      vocab(rnd.nextInt(vocab.size))))
    val originals = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val kinds = rnd.shuffle((0 until 20).map {
      case i if i < 2 => "short"
      case i if i < 4 => "exact"
      case i if i < 6 => "near"
      case _ => "original"
    })
    var originalNo = 0
    (0 until n).map { i =>
      val kind = if (originals.isEmpty) "original" else kinds(i % 20)
      val toks = kind match {
        case "short" => words(20 + rnd.nextInt(20))
        case "exact" => originals(rnd.nextInt(originals.size))
        case "near" =>
          val base = originals(rnd.nextInt(originals.size))
          val at = rnd.shuffle(base.indices.drop(3).toList).take(3)
          at.foldLeft(base)((t, j) => t.updated(j, "zz" + vocab(rnd.nextInt(vocab.size))))
        case _ =>
          val body = words(60 + rnd.nextInt(80))
          originalNo += 1
          val t = if (originalNo % 4 == 0) {
            val at = 3 + rnd.nextInt(body.size - 3)
            body.take(at) ++ spans(rnd.nextInt(SpanPool)) ++ body.drop(at)
          } else body
          originals += t
          t
      }
      Doc(i.toLong, toks.mkString(" "), kind)
    }
  }

  /** Whitespace tokens, as `TextOps.tokens` splits them. */
  def tokens(text: String): Int = text.split("\\s+").count(_.nonEmpty)

  /** `Splits.hashBucket` worked out apart from Spark: top 60 bits of
    * md5(key ‖ salt), mod 100. */
  def bucket(key: Long, salt: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((key.toString + salt).getBytes("UTF-8"))
    val hex = md.map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % 100).toInt
  }
}
