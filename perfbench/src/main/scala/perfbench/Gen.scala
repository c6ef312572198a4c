package perfbench

import scala.util.Random


/** Seeded inputs shaped like the sf0.1 tables: 150k orders over 15k
  * customers, and documents of lower-case words. One seed always gives
  * the same rows; the benchmark writes them as parquet and graft reads
  * only those files.
  */
object Gen {
  val Customers = 15000
  val Orders = 150000
  /** o_orderdate spans 1995-01-01 .. 2001-08-01. */
  val Days = 2404
  val Day0: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 1)
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment) */
  def customers(seed: Long): Seq[(Long, String, Int, Double, String)] = {
    val r = new Random(seed ^ 0xc057L)
    (0 until Customers).map(i => (i.toLong, f"Customer#$i%09d", r.nextInt(25),
      (r.nextInt(1100000) - 100000) / 100.0, Segments(r.nextInt(Segments.size))))
  }

  /** (key, custkey, status, price in cents, day since Day0, priority).
    * The day rises with the key (orders arrive over time) with a +-30
    * day jitter, so a date-clustered layout keeps keys roughly clustered
    * too, with neighbouring files overlapping on key.
    */
  def orders(seed: Long): Seq[(Long, Long, String, Long, Int, String)] = {
    val r = new Random(seed ^ 0x0dde5L)
    (0 until Orders).map { i =>
      val day = math.max(0, math.min(Days - 1, (i.toLong * Days / Orders).toInt + r.nextInt(61) - 30))
      (i.toLong, r.nextInt(Customers).toLong, Statuses(r.nextInt(3)),
        100000L + r.nextInt(49900000), day, Priorities(r.nextInt(Priorities.size)))
    }
  }

  /** The document text model: lower-case words separated by single
    * spaces, from a 2,000-word Zipf vocabulary plus the stop words of
    * the document's language (what graft's lang_id and quality_score
    * look at).
    */
  final class Text(seed: Long) {
    private val r = new Random(seed)
    private val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "qui", "dor", "ban", "fel", "gor", "hin", "jas", "wen", "xu", "yor")
    val vocab: IndexedSeq[String] = (0 until 2000).map { i =>
      val n = 2 + i % 3
      (0 until n).map(j => syll((i * 7 + j * 13 + i / 20 * (j + 1)) % syll.size)).mkString + (i % 10)
    }
    private val cum: Array[Double] = {
      val w = (1 to vocab.size).map(k => 1.0 / math.pow(k, 1.05))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val stops: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
      "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
      "es" -> Seq("el", "los", "las", "es", "y", "una"))
    /** Language shares as in sf0.1 `documents`: en 41%, zh, es, fr and de about 15% each. */
    private val langs: Seq[(String, Double)] =
      Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

    def word(rnd: Random): String = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
    }
    /** A document of 10 to 100 words, the range of sf0.1 `documents`. */
    def doc(rnd: Random = r): (String, String) = {
      val u = rnd.nextDouble()
      val lang = langs.scanLeft(("", 0.0)) { case ((_, c), (l, w)) => (l, c + w) }.tail
        .find(_._2 > u).getOrElse(langs.last)._1
      val n = 10 + rnd.nextInt(91)
      val ws = (0 until n).map { _ =>
        stops.get(lang) match {
          case Some(st) if rnd.nextDouble() < 0.15 => st(rnd.nextInt(st.size))
          case _ => word(rnd)
        }
      }
      (ws.mkString(" "), lang)
    }
  }

}
