package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.analytics.{RetrievalQueries, SimilarityQueries}

/** The six external search entries, one query per call, plus for each
  * the session settings that force another tier of the same answer (the
  * output check recomputes each answer there).
  */
object Entries {
  final case class Entry(name: String,
      call: (SparkSession, String, Gen.Query) => DataFrame,
      altTier: Seq[(String, String)])

  private val bulk = Seq("graft.mmr.bulkQueriesMin" -> "0")

  val all: Seq[Entry] = Seq(
    Entry("bm25_text",
      (s, d, q) => RetrievalQueries.bm25SearchText(s, d, Seq(q.text)),
      Seq("graft.bm25.pushdownTermsMax" -> "0")),
    Entry("phrase_text",
      (s, d, q) => RetrievalQueries.phraseSearchText(s, d, Seq(q.phrase)),
      Nil),
    Entry("ann_vectors",
      (s, d, q) => SimilarityQueries.annSearchVectors(s, d, Seq(q.vec)),
      Seq("graft.ann.rerankFetchBytes" -> "0")),
    Entry("mmr_vectors",
      (s, d, q) => RetrievalQueries.mmrSearchVectors(s, d, Seq(q.vec)),
      bulk),
    Entry("hybrid",
      (s, d, q) => RetrievalQueries.hybridSearch(s, d, Seq((q.text, q.vec))),
      bulk),
    Entry("diversified",
      (s, d, q) => RetrievalQueries.searchDiversified(s, d, Seq((q.text, q.vec))),
      bulk))

  def byName(n: String): Entry = all.find(_.name == n).get

  /** Rows rendered for comparison: doubles to 12 significant digits. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: Double => f"$d%.12g"
    case f: Float => f"${f.toDouble}%.6g"
    case null => "null"
    case x => x.toString
  }.mkString("|"))

  /** Recompute under `conf`, restoring the previous settings after. */
  def withConf[T](s: SparkSession, conf: Seq[(String, String)])(body: => T): T = {
    val prev = conf.map { case (k, _) => k -> s.conf.getOption(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Phrase answer recomputed on the driver from the corpus texts:
    * (doc id, occurrences) for the top 10 by occurrences desc, id asc.
    */
  def phraseRecompute(texts: Seq[(Long, String)], phrase: String): Seq[(Long, Long)] = {
    val p = phrase.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq
    texts.flatMap { case (id, t) =>
      val ts = t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq
      val occ = ts.sliding(p.size).count(_ == p).toLong
      if (occ > 0) Some(id -> occ) else None
    }.sortBy { case (id, o) => (-o, id) }.take(10)
  }
}
