package graft.nlp

import org.scalatest.funsuite.AnyFunSuite

/** The per-thread word memo behind `Porter.stem`, `DepGraph.coarsePos`
  * and `TextOps.maskedWord(_, None)`: its size bound, its answers after
  * an overflow, and its thread confinement.
  */
class WordMemoSpec extends AnyFunSuite {

  private val fixed = Seq("running", "activates", "binds", "Mdv1p", "CYO1",
    "At3g47390", "snoRNA", "the", "not", "37", "3.5", "1,000", "-", ",",
    "Surprisingly", "mitochondria", "phosphorylation", "ATP", "x", "")

  /** `n` distinct seeded words mixing case, digits and suffixes. */
  private def words(n: Int, seed: Long): Vector[String] = {
    val rng = new scala.util.Random(seed)
    val suffixes = Seq("", "s", "ing", "ed", "ation", "ly", "ize", "ness")
    (fixed ++ Iterator.from(0).map { i =>
      val stem = Seq.fill(3 + rng.nextInt(8))(('a' + rng.nextInt(26)).toChar).mkString
      val w = stem + suffixes(rng.nextInt(suffixes.size)) + i
      if (rng.nextInt(4) == 0) w.capitalize else if (rng.nextInt(5) == 0) w.filter(!_.isDigit) + i else w
    }.take(n)).distinct.toVector
  }

  private def viaMemo(w: String): (String, String, String) =
    (Porter.stem(w), DepGraph.coarsePos(w), TextOps.maskedWord(w, None))

  private def memoFree(w: String): (String, String, String) =
    (Porter.computeStem(w), DepGraph.computeCoarsePos(w), TextOps.computeMasked(w))

  /** Runs `body` on a fresh thread, so each test starts from an empty memo. */
  private def onFreshThread[T](body: => T): T = {
    var out: Option[Either[Throwable, T]] = None
    val t = new Thread(() => out = Some(try Right(body) catch { case e: Throwable => Left(e) }))
    t.start(); t.join()
    out.get.fold(e => throw e, identity)
  }

  test("filling the memo past its cap keeps it at or below the cap") {
    onFreshThread {
      assert(WordMemo.size == 0)
      val ws = words(2 * WordMemo.Cap + 17, 1L)
      var peak = 0
      ws.foreach { w =>
        viaMemo(w)
        peak = math.max(peak, WordMemo.size)
        assert(WordMemo.size <= WordMemo.Cap)
      }
      assert(peak == WordMemo.Cap) // it did fill, and overflowed twice
      // words beyond the length limit bypass the memo
      val before = WordMemo.size
      val long = "a" * (WordMemo.MaxWordLen + 1)
      assert(viaMemo(long) == memoFree(long))
      assert(WordMemo.size == before)
    }
  }

  test("values after an overflow equal those of the memo-free functions") {
    onFreshThread {
      val ws = words(WordMemo.Cap + 500, 2L)
      // first pass fills and overflows; second pass mixes words evicted by
      // the clear with words cached after it
      ws.foreach(viaMemo)
      ws.foreach(w => assert(viaMemo(w) == memoFree(w), w))
      ws.reverse.foreach(w => assert(viaMemo(w) == memoFree(w), w))
      assert(WordMemo.size <= WordMemo.Cap)
    }
  }

  test("four threads over the same word list get identical results") {
    val ws = words(WordMemo.Cap + 300, 3L)
    val want = ws.map(memoFree)
    val first, second = Array.fill(4)(new Array[(String, String, String)](ws.size))
    val sizes = new Array[Int](4)
    val threads = (0 until 4).map { k =>
      new Thread(() => {
        // each thread walks the list in its own order, then back again
        val order = new scala.util.Random(k.toLong).shuffle(ws.indices.toVector)
        order.foreach(i => first(k)(i) = viaMemo(ws(i)))
        order.reverseIterator.foreach(i => second(k)(i) = viaMemo(ws(i)))
        sizes(k) = WordMemo.size
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (first ++ second).foreach(r => assert(r.toVector == want))
    sizes.foreach(s => assert(s > 0 && s <= WordMemo.Cap))
  }
}
