package graft.nlp

/** One per-thread memo for the pure per-word functions the scoring loop
  * calls per token of every sentence context: [[Porter.stem]],
  * [[DepGraph.coarsePos]] and [[TextOps.maskedWord]] with no entity
  * class. Each of them answers from here, so every caller (per-sentence
  * and cross-sentence preps, entity-token features, `combined`,
  * `sentencePos`/`mainVerbs`, `Crf.tokenFeatures`) computes a distinct
  * word once per task thread.
  *
  * Bound: the memo is confined to its thread and holds at most [[Cap]]
  * words; inserting into a full memo clears it first. Words longer than
  * [[MaxWordLen]] chars bypass it. Worst case per task thread, with
  * compressed oops and every word at the length limit in UTF-16: per
  * entry a key, a stem and a mask string of ≤ 64 chars (3 × (24 B header
  * + 16 B array header + 128 B chars) = 504 B), the entry (24 B) and its
  * hash node (32 B) — 560 B; 4,096 entries plus the 8,192-slot table
  * (32 KB) come to about 2.3 MB. POS tags are shared constants.
  *
  * The gain depends on words recurring within a task thread; a corpus
  * whose vocabulary outgrows [[Cap]] within a partition pays one lookup
  * per call on top of the computation.
  */
private[nlp] object WordMemo {

  final val Cap = 4096
  final val MaxWordLen = 64

  private final class Entry {
    var stem: String = null
    var pos: String = null
    var masked: String = null
  }

  private val tables = ThreadLocal.withInitial[java.util.HashMap[String, Entry]](
    () => new java.util.HashMap[String, Entry](2 * Cap))

  private def entry(word: String): Entry = {
    val t = tables.get
    var e = t.get(word)
    if (e == null) {
      if (t.size >= Cap) t.clear()
      e = new Entry
      t.put(word, e)
    }
    e
  }

  def stem(word: String): String =
    if (word.length > MaxWordLen) Porter.computeStem(word)
    else {
      val e = entry(word)
      if (e.stem == null) e.stem = Porter.computeStem(word)
      e.stem
    }

  def coarsePos(word: String): String =
    if (word.length > MaxWordLen) DepGraph.computeCoarsePos(word)
    else {
      val e = entry(word)
      if (e.pos == null) e.pos = DepGraph.computeCoarsePos(word)
      e.pos
    }

  def masked(word: String): String =
    if (word.length > MaxWordLen) TextOps.computeMasked(word)
    else {
      val e = entry(word)
      if (e.masked == null) e.masked = TextOps.computeMasked(word)
      e.masked
    }

  /** Words held by the calling thread's memo. */
  private[nlp] def size: Int = tables.get.size
}
