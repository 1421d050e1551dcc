package graft.ops

import graft.SparkSpec
import graft.model._

/** Golden tests for the completed §2.5 edge feature set: the doc-level
  * counts of `relations/new/sentence.py:140-171`, the sentence counts,
  * LD/PD path n-grams with edge labels/directions
  * (`new/dependency.py:163-221`, `utils/graphs.py` Path algebra), the
  * NamedEntityCount/BagOfWords generators (`relations/sentence.py:6-113`)
  * and the distributed salted-groupBy forms.
  */
class RelationFeaturesSpec extends SparkSpec {

  private val gaz = Map("merge" -> "op", "scan" -> "op",
    "table" -> "obj", "stream" -> "obj")
  private val tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    toks => toks.flatMap(t => gaz.get(t.word).map(c => (c, t.begin, t.end)))
  private val cfg = KgPipeline.Config("r", "op", "obj", window = 1,
    tokenizer = "generic")

  private def turn(i: Int, text: String) =
    Turn("c0", i, "user", text, None, new java.sql.Timestamp(0L))

  /** Fixture conversation (hand-computed goldens below):
    *   turn 0: "merge table now. merge stream later."   (2 sentences)
    *   turn 1: "scan table again."
    * doc-level norm counts: merge=2 scan=1 table=2 stream=1;
    * same-sentence pair sents: (merge,table)=1 (merge,stream)=1
    * (scan,table)=1.
    */
  private val turns = Seq(
    turn(0, "merge table now. merge stream later."),
    turn(1, "scan table again."))

  private def featsOf(pred: KgPipeline.Candidate => Boolean): Map[String, Double] = {
    val cands = KgPipeline.candidateEdges("c0", turns, cfg, tagger, withFeatures = true)
    val hit = cands.filter(pred)
    assert(hit.size == 1, s"expected unique candidate, got ${hit.size}")
    hit.head.feats
  }

  test("doc-level entity counts and together-count (sentence.py:140-171 goldens)") {
    // same-sentence pair merge(t0,s0) - table(t0,s0)
    val f = featsOf(c => c.sameSentence && c.m1.text == "merge" &&
      c.m2.text == "table" && c.m1.turn_idx == 0)
    assert(f("f_entity1_count") == 2.0) // 'merge' occurs twice in the conv
    assert(f("f_entity2_count") == 2.0) // 'table' occurs twice
    assert(f("f_diff_sents_together_count") == 1.0) // co-occur in 1 sentence
    // cross-turn merge(t0) - table(t1): doc counts identical (doc-level!)
    val g = featsOf(c => !c.sameSentence && c.m1.text == "merge" &&
      c.m1.turn_idx == 0 && c.m2.text == "table" && c.m2.turn_idx == 1 &&
      c.m1.sent_idx == 0)
    assert(g("f_entity1_count") == 2.0)
    assert(g("f_entity2_count") == 2.0)
    assert(g("f_diff_sents_together_count") == 1.0)
    // pair that never co-occurs in a sentence: merge(t0,s1) x table never
    // same-sentence? (merge,stream) does: check stream's together too
    val h = featsOf(c => c.sameSentence && c.m2.text == "stream")
    assert(h("f_entity2_count") == 1.0) // 'stream' once
    assert(h("f_diff_sents_together_count") == 1.0)
  }

  test("sentence-level counts, token counts, NE counts (goldens)") {
    val f = featsOf(c => c.sameSentence && c.m1.text == "merge" &&
      c.m2.text == "table" && c.m1.turn_idx == 0)
    // sentence "merge table now." → generic tokens [merge, table, now, .]
    assert(f("f_tokens_count") == 4.0)
    assert(f("f_tokens_count_before") == 0.0) // merge is token 0
    assert(f("f_tokens_count_after") == 2.0)  // 'now', '.'
    // per-class counts minus the edge's own entity
    assert(f("f_counts_ind=op") == 0.0)
    assert(f("f_counts_ind=obj") == 0.0)
    assert(f("f_counts_total") == 0.0)
    assert(f("f_counts_bet_total") == 0.0)
    assert(f.contains("ne_count_op_1"))
    assert(f.contains("ne_count_obj_1"))
    // masked BOW over the sentence: entity tokens become their class ids
    assert(f("f_bow=op") == 1.0)
    assert(f("f_bow=obj") == 1.0)
    assert(f("f_bow=now") == 1.0)
    // order: m1 'op' > 'obj' lexicographically → no f_order flag
    assert(!f.contains("f_order"))
    assert(f.contains("order=op_obj"))
  }

  test("LD and PD path n-grams with edge labels/directions (goldens)") {
    // single sentence with a verb root: merge calls table
    val oneTurn = Seq(turn(0, "merge calls table"))
    val cands = KgPipeline.candidateEdges("c0", oneTurn, cfg, tagger, withFeatures = true)
    assert(cands.size == 1)
    val f = cands.head.feats
    // LD path = [merge .. table] (token span), middle = [calls]
    assert(f("ld_tokens_count") == 1.0)
    assert(f("ld_bow_1g=calls") == 1.0)
    assert(f("ld_pos_1g=VERB") == 1.0)
    assert(f("ld_bow_3g=[S~calls~T]") == 1.0)
    // PD path merge→calls→table (root = calls): step directions B then F,
    // labels from the rule labeler: merge = noun BEFORE its verbal head →
    // nsubj, table = noun AFTER it → dobj
    assert(f("pd_len") == 3.0)
    assert(f("pd_tok=calls") == 1.0)
    assert(f("pd_undir_2g=nsubj~dobj") == 1.0)
    assert(f("pd_dir_2g=nsubj-B~dobj-F") == 1.0)
    assert(f("pd_full_1g=[S nsubj-B") == 1.0)
    // bag of words: stopword-free sentence words
    assert(f("bow_text=merge") == 1.0)
    assert(f("ne_bow=merge") == 1.0) // entity-part token count
    assert(f("ne_bow=table") == 1.0)
    assert(!f.contains("bow_text=the"))
    // intermediate tokens between heads (fwd since h1 < h2)
    assert(f("it_fwd_bow=calls") == 1.0)
    assert(f("it_bow=calls") == 1.0)
    assert(f("it_fwd_pos=VERB") == 1.0)
  }

  test("entity-head chains emit direction-tagged LABELED visits to depth 3") {
    val oneTurn = Seq(turn(0, "merge calls table"))
    val f = KgPipeline.candidateEdges("c0", oneTurn, cfg, tagger, withFeatures = true)
      .head.feats
    // merge's head token attaches to the root 'calls' as nsubj → upward
    // chain carries the traversed edge's label (entityhead.py:264-281)
    assert(f.contains("e1_dep_dist_3_from_nsubj"))
    assert(f.contains("e1_chain_dep_dist_3_-fw_nsubj"))
    assert(f("e1_dist_3_txt=calls") == 1.0)
    // 'calls' (root) has children merge (nsubj) and table (dobj) →
    // downward chains from e2 are label-distinct
    assert(f.contains("e2_chain_dep_dist_2_-fw-rv_nsubj"))
    assert(f.contains("e2_chain_dep_dist_2_-fw-rv_dobj"))
    assert(f.contains("e2_dep_dist_3_from_dobj"))
  }

  test("rule dep labels: det/prep/neg/aux and negation via neg-dep parity") {
    import graft.model.Tok
    import graft.nlp.DepGraph
    def toks(ws: String*): IndexedSeq[Tok] = {
      var off = 0
      ws.zipWithIndex.map { case (w, i) =>
        val t = Tok(i, w, off, off + w.length); off += w.length + 1; t
      }.toIndexedSeq
    }
    // root = first VERB = 'did' (verb lexicon); 'scan'/'merge'/'table'
    // are NOUNs here
    val s = toks("the", "scan", "did", "not", "merge", "with", "table")
    val hs = DepGraph.heads(s)
    val ls = DepGraph.depLabels(s, hs)
    assert(ls(0) == "det")
    assert(ls(3) == "neg")
    assert(ls(5) == "prep")
    // aux under the root: 'did' IS the root here → labeled root
    val root = hs.indices.find(i => hs(i) == i).get
    assert(ls(root) == "root")
    // odd neg count → negated, and parity matches the token-based form
    assert(DepGraph.isNegatedLabeled(ls))
    assert(DepGraph.isNegated(s))
    // double negation: two neg deps → even parity → not negated
    val pos = toks("merge", "can", "not", "never", "load", "table")
    val hs2 = DepGraph.heads(pos)
    val ls2 = DepGraph.depLabels(pos, hs2)
    assert(!DepGraph.isNegatedLabeled(ls2))
    val root2 = hs2.indices.find(i => hs2(i) == i).get
    assert(ls2(root2) == "root") // root = first VERB = 'can'
    assert(ls2.count(_ == "neg") == 2)
  }

  test("distributed salted doc counts == fused group-local counts") {
    import spark.implicits._
    // mentions as the fused pipeline would tag them
    val mentions = turns.flatMap { t =>
      graft.nlp.TextOps.segment(t.text, "generic").flatMap { case (si, _, _, toks) =>
        tagger(toks).map { case (cls, b, e) =>
          Mention("c0", t.turn_idx, si, cls, b, e,
            t.text.substring(b, e), 1.0, graft.nlp.TextOps.normKey(t.text.substring(b, e)))
        }
      }
    }.toDS()
    val doc = RelationScoring.docEntityCounts(mentions)
      .as[(String, String, String, Long)].collect()
      .map(r => ((r._2, r._3), r._4)).toMap
    assert(doc == Map(("op", "merge") -> 2L, ("op", "scan") -> 1L,
      ("obj", "table") -> 2L, ("obj", "stream") -> 1L))
    val pairs = RelationScoring.pairSentenceCounts(mentions, "op", "obj")
      .as[(String, String, Long)].collect()
      .map(r => (r._2, r._3)).toMap
    assert(pairs == Map("table|merge" -> 1L, "stream|merge" -> 1L,
      "table|scan" -> 1L))
  }

  // ---- bit-identity goldens of the scoring kernel ---------------------

  /** Fixture conversations for the goldens: same-sentence, cross-sentence
    * and cross-turn pairs at `window = 1` (A, B) and a `class1 == class2`
    * configuration (C). B carries symbol-shaped,
    * numeric, hyphenated and negated text so every generator fires.
    */
  private val goldenGaz = Map("merge" -> "op", "scan" -> "op",
    "table" -> "obj", "stream" -> "obj", "Mdv1p" -> "gene", "CYO1" -> "gene",
    "Fis1" -> "gene", "glucose" -> "chem", "ATP" -> "chem")
  private val goldenTagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    toks => toks.flatMap(t => goldenGaz.get(t.word).map(c => (c, t.begin, t.end)))
  private val goldenConvs: Seq[(String, KgPipeline.Config, Seq[Turn])] = Seq(
    ("A", cfg, turns),
    ("B", KgPipeline.Config("binds", "gene", "chem", window = 1), Seq(
      turn(0, "The Mdv1p protein does not bind glucose in 2 mutant cells, " +
        "but CYO1 strongly activates ATP-transport."),
      turn(1, "Surprisingly, glucose and Mdv1p were detected together at " +
        "37 degrees; CYO1 binds glucose."),
      turn(2, "We could never show that ATP transport requires Mdv1p."))),
    ("C", KgPipeline.Config("interacts", "gene", "gene", window = 1), Seq(
      turn(0, "Mdv1p binds CYO1 and Mdv1p."),
      turn(1, "CYO1 inhibits Fis1 directly."))))

  /** Seeded dense model: every hashed index carries a distinct weight, so
    * any change to a feature name, value or summation order moves the
    * score's bits.
    */
  private lazy val denseModel = {
    val rng = new scala.util.Random(20261017L)
    RelationScoring.LinearModel(Array.fill(RelationScoring.Dims)(rng.nextGaussian()), 0.25)
  }

  /** Every candidate of the fixture conversations, no short-circuit, with
    * its feature map and its `scoreEdge` result.
    */
  private def goldenCandidates: Seq[(String, KgPipeline.Candidate)] =
    goldenConvs.flatMap { case (name, c, ts) =>
      KgPipeline.candidateEdges(name, ts, c, goldenTagger, withFeatures = true,
        scorer = Some(denseModel)).map { cand =>
        val m1 = cand.m1; val m2 = cand.m2
        (s"$name ${m1.text}@${m1.turn_idx}.${m1.sent_idx}.${m1.begin} " +
          s"${m2.text}@${m2.turn_idx}.${m2.sent_idx}.${m2.begin}", cand)
      }
    }

  /** SHA-256 (first 16 hex chars) of the sorted `name=value` list. */
  private def featDigest(f: Map[String, Double]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    f.toSeq.sortBy(_._1).foreach { case (k, v) =>
      md.update(s"$k=${java.lang.Double.doubleToRawLongBits(v)}\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** (pair, raw bits of `scoreEdge`, [[featDigest]], feature count) per
    * candidate, in enumeration order — captured before the streaming
    * feature sink and the per-word memo replaced the builder-and-hash
    * kernel, and unchanged by them.
    */
  private val goldens: Seq[(String, Long, String, Int)] = Seq(
    ("A merge@0.0.0 table@0.0.6", 0x4033c36fbd97d15dL, "a11f62cfd3537e2e", 153),
    ("A merge@0.0.0 stream@0.1.23", 0x4027b9bbaa27e48fL, "a00f085d02ca7235", 242),
    ("A merge@0.1.17 table@0.0.6", 0x4026e0a4414af764L, "90f77cd511424a50", 230),
    ("A merge@0.1.17 stream@0.1.23", 0x3fbb76b8c5429810L, "8adec12ecc53c745", 144),
    ("A merge@0.0.0 table@1.0.5", 0x402a234bc1c3d2ffL, "c78e4a8621f7b948", 239),
    ("A merge@0.1.17 table@1.0.5", 0x3ff55c9228b9c725L, "9b8835ac65ee07c4", 233),
    ("A scan@1.0.0 table@1.0.5", 0x4029e69ba1a40d91L, "0bec0714f5a7b799", 151),
    ("B Mdv1p@0.0.4 glucose@0.0.32", 0x404a370e2465b47cL, "bc4898a534bfecdc", 378),
    ("B Mdv1p@0.0.4 ATP@0.0.87", 0x40502236ee888520L, "c8e1caffd0803e59", 522),
    ("B CYO1@0.0.63 glucose@0.0.32", 0x4042de53f702f8b1L, "6bc634f4ea053d09", 410),
    ("B CYO1@0.0.63 ATP@0.0.87", 0x4040d48a598aa7b3L, "72a15dbbca74873b", 299),
    ("B Mdv1p@0.0.4 glucose@1.0.14", 0x40204db5d7ff0ca1L, "2355bf892ea9be44", 605),
    ("B Mdv1p@0.0.4 glucose@1.0.81", 0x40373bd881a16323L, "dbdc884ad05a5bd9", 717),
    ("B CYO1@0.0.63 glucose@1.0.14", 0x4012645edfa9e45bL, "0ba6677f3dd4194c", 457),
    ("B CYO1@0.0.63 glucose@1.0.81", 0x40270eb56537411dL, "ef837bf9aab15edb", 562),
    ("B Mdv1p@1.0.26 glucose@1.0.14", 0x4022ce064af851bfL, "c116014b82eb1a29", 290),
    ("B Mdv1p@1.0.26 glucose@1.0.81", 0x4031247e82c3151dL, "51e11f221a53ed4a", 428),
    ("B CYO1@1.0.70 glucose@1.0.14", 0x4032cd1ca949c90dL, "7d92361b5cf3b9fc", 452),
    ("B CYO1@1.0.70 glucose@1.0.81", 0xc0128a8a1db06b67L, "cd1367f2d394f693", 256),
    ("B Mdv1p@1.0.26 ATP@2.0.25", 0x4037b1284fc4c0e2L, "c9fe5106cd287294", 525),
    ("B CYO1@1.0.70 ATP@2.0.25", 0x40310a488f005be8L, "a39f31e6e2002fa7", 448),
    ("B Mdv1p@2.0.48 ATP@2.0.25", 0x4038b99ff72d594cL, "d59fc5f94d151afa", 261),
    ("C Mdv1p@0.0.0 CYO1@0.0.12", 0xc03267925ca8bb02L, "dc4bb29c3e252151", 209),
    ("C Mdv1p@0.0.0 Mdv1p@0.0.21", 0x401cd007ad95b4ebL, "5e9e235c231cb4db", 251),
    ("C CYO1@0.0.12 Mdv1p@0.0.0", 0xc03456440a292231L, "e0c2ad312c467353", 209),
    ("C CYO1@0.0.12 Mdv1p@0.0.21", 0x4015f44ecc33e3d8L, "332746030839fd4a", 197),
    ("C Mdv1p@0.0.21 Mdv1p@0.0.0", 0x4032b8242aa37fe2L, "c74d2bf160a4310d", 251),
    ("C Mdv1p@0.0.21 CYO1@0.0.12", 0x4029bc66024d6c03L, "046a7f447693c577", 197),
    ("C Mdv1p@0.0.0 CYO1@1.0.0", 0x40297385bc310781L, "15d1ca87f56a0bc4", 286),
    ("C Mdv1p@0.0.0 Fis1@1.0.14", 0x4039b9695ae75778L, "e2fbfaa41513ea41", 303),
    ("C CYO1@0.0.12 CYO1@1.0.0", 0x40124b0eedc08259L, "c5d496ff3163dffc", 234),
    ("C CYO1@0.0.12 Fis1@1.0.14", 0x4031c619f874631dL, "1297ae41103ed1d5", 300),
    ("C Mdv1p@0.0.21 CYO1@1.0.0", 0x402be2e13c7ec6d5L, "a1c85ccb2b563e7e", 200),
    ("C Mdv1p@0.0.21 Fis1@1.0.14", 0x4045547a6101343eL, "44e13c46119d2558", 274),
    ("C CYO1@1.0.0 Fis1@1.0.14", 0x4029833d3f8f4191L, "2d4c4acf20a602a2", 179),
    ("C Fis1@1.0.14 CYO1@1.0.0", 0x402969f0f7506c71L, "d71acc166c6ad55f", 179)
  )

  test("scoreEdge is bit-identical to the pinned goldens under a dense model") {
    val got = goldenCandidates.map { case (label, c) =>
      (label, java.lang.Double.doubleToRawLongBits(c.score), featDigest(c.feats),
        c.feats.size)
    }
    assert(got.map(_._1) == goldens.map(_._1))
    got.zip(goldens).foreach { case (g, want) => assert(g == want, g._1) }
  }

  test("training Map path and scoring fold agree on every golden pair") {
    goldenCandidates.foreach { case (label, c) =>
      val viaMap = denseModel.score(RelationScoring.hashFeats(c.feats))
      assert(math.abs(viaMap - c.score) <= 1e-9 * math.max(1.0, math.abs(c.score)),
        s"$label: map $viaMap vs fold ${c.score}")
    }
  }
}
