package perfbench

import scala.collection.mutable

/** Seeded curation corpus with planted cases, and the invariants the
  * curated output must satisfy.
  *
  * Ordinary documents resample the word-frequency table of the repo's
  * synthetic `documents` test table (sf0.1: 31 words, 10-100 tokens per
  * document). The table itself is not read at run time; its vocabulary is
  * [[Vocab]]. Planted on top: near-duplicate clusters, es/de/fr documents,
  * documents in a language the default config does not keep, low-quality
  * and repetitive documents, e-mail addresses and phone numbers,
  * documents quoting an eval document, and a boilerplate mega-bucket
  * larger than the dedup bucket cap. */
object Corpus {

  /** (word, count) of the sf0.1 `documents` table. */
  val Vocab: Seq[(String, Int)] = Seq(
    "spark" -> 9182, "window" -> 9159, "merge" -> 9157, "table" -> 9144,
    "column" -> 9127, "vector" -> 9119, "stream" -> 9117, "value" -> 9112,
    "data" -> 9104, "small" -> 9100, "join" -> 9080, "filter" -> 9063,
    "big" -> 9057, "group" -> 9040, "hash" -> 9024, "customer" -> 9017,
    "sort" -> 9005, "order" -> 8971, "slow" -> 8960, "line" -> 8951,
    "part" -> 8929, "fast" -> 8926, "row" -> 8925, "the" -> 8925,
    "agg" -> 8912, "key" -> 8893, "query" -> 8881, "a" -> 8877,
    "scan" -> 8863, "batch" -> 8829, "dup" -> 255)

  private val cumulative: Array[Int] = Vocab.map(_._2).scanLeft(0)(_ + _).tail.toArray
  private val words: Array[String] = Vocab.map(_._1).toArray

  private def word(rnd: scala.util.Random): String = {
    val x = rnd.nextInt(cumulative.last)
    val i = java.util.Arrays.binarySearch(cumulative, x + 1)
    words(if (i >= 0) i else -i - 1)
  }

  /** `n` vocabulary words with an English function word every 8 tokens,
    * so the language identifier reads the text as English. */
  private def prose(rnd: scala.util.Random, n: Int): Vector[String] =
    Vector.tabulate(n)(i => if (i % 8 == 3) "the" else word(rnd))

  /** Function words of the languages the default config keeps. */
  private val Foreign = Map(
    "es" -> Vector("que", "los", "las", "por", "con", "para", "una", "del"),
    "de" -> Vector("der", "die", "und", "den", "von", "das", "mit", "sich"),
    "fr" -> Vector("les", "des", "dans", "pour", "par", "sur", "une", "que"))

  /** Words over letters no language profile uses, so they score no
    * trigram and are predicted as no kept language. */
  private def unknownWord(rnd: scala.util.Random): String =
    Vector.fill(3 + rnd.nextInt(5))("bgjkxyz".charAt(rnd.nextInt(7))).mkString

  final case class Doc(id: Long, text: String)

  final case class Planted(clusters: Vector[Vector[Long]], dropped: Set[Long],
                           pii: Set[Long], mega: Set[Long])

  final case class Generated(docs: Vector[Doc], eval: Vector[Doc], planted: Planted) {
    /** The corpus as NDJSON (`{"doc_id":..,"text":".."}` per line), in bytes. */
    lazy val ndjsonBytes: Long =
      docs.iterator.map(d => 24L + d.id.toString.length + d.text.length).sum
  }

  /** `n` ordinary documents plus planted cases scaled to `n`. */
  def generate(seed: Long, n: Int): Generated = {
    val rnd = new scala.util.Random(seed)
    val docs = mutable.ArrayBuffer.empty[Doc]
    var nextId = 1L
    def add(text: Seq[String]): Long = {
      val id = nextId; nextId += 1
      docs += Doc(id, text.mkString(" ")); id
    }
    val dropped = mutable.Set.empty[Long]
    val pii = mutable.Set.empty[Long]

    // held-out eval set: 30-token documents
    val eval = Vector.tabulate(math.max(20, n / 100))(i =>
      Doc(1000000000L + i, prose(rnd, 30).mkString(" ")))

    (0 until n).foreach(_ => add(prose(rnd, 10 + rnd.nextInt(91))))
    // near-duplicate clusters: 2-5 one-word variants of a base document
    val clusters = Vector.fill(math.max(3, n / 60)) {
      val base = prose(rnd, 60 + rnd.nextInt(40))
      Vector.tabulate(2 + rnd.nextInt(4)) { v =>
        if (v == 0) add(base)
        else add(base.updated(1 + rnd.nextInt(base.size - 2), s"v${v}x${rnd.nextInt(9)}"))
      }
    }
    (0 until math.max(3, n / 20)).foreach { i =>
      val lang = Vector("es", "de", "fr")(i % 3)
      add(Vector.tabulate(30 + rnd.nextInt(30))(j =>
        if (j % 3 == 0) Foreign(lang)(rnd.nextInt(8)) else word(rnd)))
    }
    (0 until math.max(3, n / 40)).foreach { _ =>
      dropped += add(Vector.fill(20 + rnd.nextInt(30))(unknownWord(rnd)))
    }
    // low quality: few tokens, implausibly long words
    (0 until math.max(3, n / 40)).foreach { _ =>
      dropped += add("the" +: Vector.fill(4)(Vector.fill(6)(word(rnd)).mkString))
    }
    // repetitive: one bigram repeated
    (0 until math.max(3, n / 40)).foreach { _ =>
      val a = word(rnd)
      dropped += add(Vector.tabulate(30 + rnd.nextInt(20))(j => if (j % 2 == 0) "the" else a))
    }
    (0 until math.max(3, n / 20)).foreach { i =>
      val t = prose(rnd, 40)
      pii += add(t.patch(10, Seq("mail", s"user${rnd.nextInt(99999)}@example.com"), 0)
        .patch(25, Seq("call", f"555-${rnd.nextInt(10000)}%04d"), 0))
    }
    // contaminated: quote 12 consecutive tokens of an eval document
    (0 until math.max(3, n / 50)).foreach { _ =>
      val e = eval(rnd.nextInt(eval.size)).text.split(" ")
      val at = rnd.nextInt(e.length - 12)
      dropped += add(prose(rnd, 20) ++ e.slice(at, at + 12) ++ prose(rnd, 20))
    }
    // boilerplate mega-bucket: above the default bucket cap of 1000
    val boiler = prose(rnd, 150)
    val mega = (0 until 1200).map(i => add(boiler :+ s"m$i")).toSet

    // shuffle ids so planted kinds do not sit in id ranges
    val perm = rnd.shuffle((1L until nextId).toVector)
    val remap = (1L until nextId).zip(perm).toMap
    Generated(rnd.shuffle(docs.map(d => d.copy(id = remap(d.id))).toVector), eval,
      Planted(clusters.map(_.map(remap)), dropped.map(remap).toSet,
        pii.map(remap).toSet, mega.map(remap)))
  }

  private val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
  private val Phone = "[0-9]{3}-[0-9]{4}".r

  private def grams(text: String, n: Int): Iterator[String] =
    text.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" "))

  /** Violations of the planted invariants in the curated output `out`
    * (id → text); empty means the output is correct. */
  def check(g: Generated, out: Map[Long, String]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val input = g.docs.iterator.map(_.id).toSet
    out.keysIterator.filterNot(input).take(1).foreach(id => errs += s"unknown id $id in output")
    g.planted.clusters.foreach { c =>
      val kept = c.count(out.contains)
      if (kept != 1) errs += s"cluster ${c.mkString(",")} kept $kept documents"
    }
    g.planted.dropped.iterator.filter(out.contains).take(3)
      .foreach(id => errs += s"planted drop $id survived: ${out(id).take(80)}")
    val evalGrams = g.eval.iterator.flatMap(d => grams(d.text, 8)).toSet
    out.iterator.filter { case (_, t) => grams(t, 8).exists(evalGrams) }.take(3)
      .foreach { case (id, _) => errs += s"document $id shares an 8-gram with the eval set" }
    out.iterator.filter { case (_, t) => Email.findFirstIn(t).isDefined ||
      Phone.findFirstIn(t).isDefined }.take(3)
      .foreach { case (id, t) => errs += s"document $id carries raw PII: ${t.take(80)}" }
    val redacted = g.planted.pii.count(id => out.get(id).exists(_.contains("<EMAIL>")))
    if (redacted == 0) errs += "no planted PII document survived redacted"
    if (!g.planted.mega.exists(out.contains)) errs += "the boilerplate bucket vanished"
    errs.toSeq
  }
}
