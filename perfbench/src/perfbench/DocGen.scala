package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded multi-line prose documents for the curation workload, in the
  * gate-passing shape of the curation spec's fixture, with planted
  * shares whose fate through the funnel is known in advance:
  *
  *  - exact duplicates of an earlier kept document (dropped by
  *    keep-first dedup);
  *  - near-duplicates that become exact only after C4 line cleaning
  *    removes an unpunctuated menu line (dropped by dedup);
  *  - Gopher failures (too few words) and C4 page failures
  *    (placeholder text);
  *  - PII lines (a phone number or an e-mail address) that the
  *    redaction stage must replace.
  */
object DocGen {

  final case class Funnel(nInput: Long, nGopher: Long, nGates: Long, nOut: Long) {
    def json: String =
      s"""{"n_input":$nInput,"n_gopher":$nGopher,"n_gates":$nGates,"n_out":$nOut}"""
  }

  /** Documents plus what the pipeline must make of them. */
  final case class Docs(
      docs: IndexedSeq[(Long, String)],
      funnel: Funnel,
      keptIds: IndexedSeq[Long],
      piiKept: Long)

  private val Nouns = Array("data", "model", "river", "garden", "market",
    "school", "harbor", "valley", "engine", "library", "village", "island",
    "orchard", "bridge", "station", "museum", "forest", "kitchen")
  private val Verbs = Array("goes", "moves", "returns", "travels", "turns",
    "leads", "points", "belongs", "drifts", "comes")
  private val Objects = Array("set", "coast", "north", "city", "field",
    "shore", "road", "plain", "center", "border")
  private val Menu = Array("home about contact", "share print save",
    "next page index")

  private def pick(r: SplittableRandom, a: Array[String]): String =
    a(r.nextInt(a.length))

  /** One passing prose document: every line has at least five words,
    * ends in a period, and carries a token unique to the document.
    */
  private def prose(r: SplittableRandom, id: Long): IndexedSeq[String] =
    (0 until 20 + r.nextInt(30)).map { i =>
      s"the ${pick(r, Nouns)} and ${pick(r, Nouns)} run d${id}x$i " +
        s"${pick(r, Verbs)} to the ${pick(r, Objects)} with care."
    }

  def generate(n: Int, seed: Long): Docs = {
    val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    val docs = new ArrayBuffer[(Long, String)](n)
    val keptTexts = ArrayBuffer.empty[IndexedSeq[String]]
    val kept = ArrayBuffer.empty[Long]
    var gopherFail, pageFail, dups, piiKept = 0L
    for (i <- 0 until n) {
      val id = i.toLong
      val roll = if (keptTexts.isEmpty) 99 else r.nextInt(100)
      val text = roll match {
        case x if x < 10 =>
          dups += 1
          keptTexts(r.nextInt(keptTexts.size)).mkString("\n")
        case x if x < 15 =>
          dups += 1
          val lines = keptTexts(r.nextInt(keptTexts.size))
          lines.patch(r.nextInt(lines.size + 1), Seq(pick(r, Menu)), 0)
            .mkString("\n")
        case x if x < 20 =>
          gopherFail += 1
          s"short junk $id"
        case x if x < 25 =>
          pageFail += 1
          (prose(r, id) :+ "lorem ipsum dolor sit amet.").mkString("\n")
        case x if x < 35 =>
          val lines = prose(r, id)
          val pii =
            if (r.nextBoolean()) s"call +62812${1000000 + r.nextInt(9000000)} now please today."
            else s"write to user$id@example.com for the data today."
          val withPii = lines.patch(r.nextInt(lines.size + 1), Seq(pii), 0)
          keptTexts += withPii
          kept += id
          piiKept += 1
          withPii.mkString("\n")
        case _ =>
          val lines = prose(r, id)
          keptTexts += lines
          kept += id
          lines.mkString("\n")
      }
      docs += ((id, text))
    }
    val nGopher = n - gopherFail
    val nGates = nGopher - pageFail
    Docs(docs.toIndexedSeq, Funnel(n, nGopher, nGates, nGates - dups),
      kept.toIndexedSeq, piiKept)
  }
}
