package perfbench

import scala.collection.mutable

/** `python3 perfbench/run.py --self-check --seed <n>`: checks the input
  * generators without starting Spark.
  */
object SelfCheck {
  def run(seed: Long): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    // corpus_curate: the measured corpus and its first ten batches
    val seedDocs = Gen.seedCorpus(seed, 2, CorpusCurate.SeedDocs, 1L)
    val docs = mutable.ArrayBuffer.from(seedDocs)
    val copied = mutable.HashSet.empty[Long]
    var next = seedDocs.size + 1L
    val batches = (0 until 10).map { i =>
      val b = Gen.batch(seed, 2000 + i, CorpusCurate.BatchDocs, next, docs.toIndexedSeq, copied)
      next += b.docs.size
      docs ++= b.docs.filter(d => b.originals.contains(d.id))
      b
    }
    errs ++= Gen.checkCorpus(seedDocs, batches)
    // news_ingest: every page of a lake carries every planted DQ case
    val landed = mutable.ArrayBuffer.empty[Gen.Article]
    (0 until 5).foreach { p =>
      val page = Gen.newsPage(seed, 0, p, landed.flatMap(_.url).filter(_.nonEmpty).distinct.toIndexedSeq)
      val cases = Seq(
        "null title" -> page.count(_.title.isEmpty), "empty title" -> page.count(_.title.contains("")),
        "null url" -> page.count(_.url.isEmpty), "empty url" -> page.count(_.url.contains("")),
        "null author" -> page.count(_.author.isEmpty), "null source" -> page.count(_.source.isEmpty),
        "exact duplicate" -> (page.size - page.distinct.size),
        "html across a newline" -> page.count(_.content.contains("\n>")))
      cases.filter(_._2 == 0).foreach { case (c, _) => errs += s"news page $p has no $c" }
      val before = landed.flatMap(_.url).toSet
      if (p > 0 && !page.exists(a => a.url.exists(u => u.nonEmpty && before(u))))
        errs += s"news page $p repeats no earlier url"
      landed ++= page
      if (page.size != Gen.PageSize) errs += s"news page $p has ${page.size} articles"
    }
    errs.toSeq
  }
}
