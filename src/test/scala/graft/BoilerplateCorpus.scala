package graft

/** A standing corpus where DF pruning has real work: 150 docs (the ids not
  * divisible by 5) sharing a 12-word boilerplate tail, so boiler-interior
  * trigrams have df = 150 > 0.02·150 = 3 (pruned above the gate) while
  * per-doc prefix trigrams have df = 1 (kept). Corpus doc 2 is PURE
  * boilerplate: every shingle prunes away above the gate.
  *
  * Arrivals: 5 is the exact text of corpus doc 1 (its rare shingles survive
  * pruning, so it is found on BOTH sides of the gate); 10 is pure
  * boilerplate, identical to corpus doc 2 (found unpruned; prunes to an
  * empty banding set, so never a candidate above the gate). */
object BoilerplateCorpus {
  val boiler: String = (1 to 12).map(i => s"boiler$i").mkString(" ")

  val corpus: Seq[(Long, String)] =
    Iterator.from(1).filter(_ % 5 != 0).take(150).map(_.toLong).toSeq.map { i =>
      if (i == 2L) i -> boiler
      else i -> s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f $boiler"
    }

  val arrivals: Seq[(Long, String)] =
    Seq(5L -> corpus.find(_._1 == 1L).get._2, 10L -> boiler)
}
