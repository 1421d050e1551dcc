package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkEntry
import graft.model.{Mention, Tok, Turn}
import graft.nlp.{DepGraph, TextOps}
import graft.ops._
import graft.streaming.StreamingKg

/** One benchmark run of one workload in one JVM, driven by perfbench/run.py.
  *
  * Phases: set-up (session start + input scan, three times; then a fixed
  * warm-up that also writes the outputs the correctness check reads),
  * untraced reps for `--seconds`, and with `--trace 1` the same reps again
  * with spans on and the single-threaded layer replay; a traced `fused`
  * run also measures the Stages routes and CRF on a documents corpus and
  * the 1-core scaling reps. Everything is written to `<out>/result.json`
  * and `<out>/spans.jsonl`; run.py turns it into metrics.
  */
object Runner {
  val Rel = "r_op_obj"
  val Op = "e_op"
  val Obj = "e_obj"
  val allPositive = RelationScoring.LinearModel(new Array[Double](RelationScoring.Dims), b = 1.0)
  val cfg = KgPipeline.Config(Rel, Op, Obj, window = 1, tokenizer = "generic")

  /** `tracer` is swapped for an enabled one for the traced phase. */
  final class Ctx(val input: String, val out: String, val work: String, var tracer: Tracer) {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    /** One operation of failed_ratio: counted, and a throw is recorded. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.toString.takeWhile(_ != '\n').take(300)}"
        None
      }
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // one micro-batch per added batch: event-time eviction then runs in
      // the next data batch instead of an extra no-data batch
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readGaz(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty)
      .map { l => val Array(w, c) = l.split("\t"); w -> c }.toMap

  def writeLines(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A workload: inputs are scanned by `scan`, `warmup` is the fixed
    * warm-up charged to set-up, `rep` is one timed rep (its wall, CPU,
    * shuffle and heap are measured around the call) and `after` is the
    * untimed tail of a rep.
    */
  trait Workload {
    def turns(spark: SparkSession): Long
    def scan(spark: SparkSession): Unit
    def warmup(spark: SparkSession): Unit
    def rep(spark: SparkSession, i: Int): Map[String, Any]
    def after(spark: SparkSession, i: Int): Map[String, Any] = Map.empty
    def replayTurns(spark: SparkSession): Seq[Turn]
    def gaz: Map[String, String]
  }

  // ---- fused -----------------------------------------------------------

  final class Fused(c: Ctx) extends Workload {
    val path = s"${c.input}/transcripts.parquet"
    val gaz = readGaz(s"${c.input}/gazetteer.tsv")
    def triples(spark: SparkSession): Dataset[graft.model.TripleRow] = {
      import spark.implicits._
      KgPipeline.triples(spark.read.parquet(path).as[Turn], cfg, None, gaz, Some(allPositive))
    }
    def turns(spark: SparkSession): Long = spark.read.parquet(path).count()
    def scan(spark: SparkSession): Unit = turns(spark)
    def warmup(spark: SparkSession): Unit = {
      c.op("fused correctness rep") {
        val rows = triples(spark).collect()
        writeLines(s"${c.out}/fused_triples.tsv",
          rows.map(r => s"${r.conv_id}\t${r.turn_idx}\t${r.key}").sorted)
      }
      // JIT warm-up spans many reps: rep time still falls after ten
      for (_ <- 1 to 29) c.op("fused warm-up rep")(triples(spark).count())
    }
    def rep(spark: SparkSession, i: Int): Map[String, Any] =
      Map("rows" -> c.op("fused rep")(c.tracer("kgpipeline.triples")(triples(spark).count())))
    def replayTurns(spark: SparkSession): Seq[Turn] = {
      import spark.implicits._
      spark.read.parquet(path).as[Turn].collect().toSeq
    }
  }

  // ---- stream ----------------------------------------------------------

  final class Stream(c: Ctx, meter: StreamMeter) extends Workload {
    val path = s"${c.input}/transcripts.parquet"
    val gaz = readGaz(s"${c.input}/gazetteer.tsv")
    var batches: IndexedSeq[Seq[Turn]] = IndexedSeq.empty
    private var lastQuery = ""
    def turns(spark: SparkSession): Long = spark.read.parquet(path).count()
    def scan(spark: SparkSession): Unit = {
      import spark.implicits._
      val rows = spark.read.parquet(path)
        .select("batch", "conv_id", "turn_idx", "role", "text", "tool", "ts")
        .as[(Int, String, Int, String, String, Option[String], java.sql.Timestamp)]
        .collect()
      batches = rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.toSeq
        .sortBy(r => (r._2, r._3)).map(r => Turn(r._2, r._3, r._4, r._5, r._6, r._7)))
        .toIndexedSeq
    }
    /** Feeds `upto` batches closed-loop; returns per-batch latencies (ms). */
    def runStream(spark: SparkSession, name: String, upto: Int): Seq[Double] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val src = MemoryStream[Turn]
      val q = StreamingKg.triplesStatefulEventTime(src.toDS(), cfg, gaz, Some(allPositive))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"${c.work}/ckpt-$name").start()
      lastQuery = name
      try batches.take(upto).map { b =>
        c.tracer("streaming.batch") {
          val t0 = System.nanoTime()
          c.op("stream batch") { src.addData(b); q.processAllAvailable() }
          (System.nanoTime() - t0) / 1e6
        }
      } finally q.stop()
    }
    def keys(spark: SparkSession, table: String): Seq[String] = {
      import spark.implicits._
      spark.table(table).select("conv_id", "key").as[(String, String)].collect()
        .map { case (cv, k) => s"$cv\t$k" }.toSeq
    }
    def warmup(spark: SparkSession): Unit = {
      c.op("stream batch correctness") {
        import spark.implicits._
        val rows = KgPipeline.triples(spark.read.parquet(path).as[Turn], cfg, None, gaz,
          Some(allPositive)).collect()
        writeLines(s"${c.out}/stream_batch.tsv", rows.map(r => s"${r.conv_id}\t${r.key}").sorted)
      }
      runStream(spark, "kg_warm", 20)
    }
    def rep(spark: SparkSession, i: Int): Map[String, Any] = {
      meter.reset()
      Map("batch_ms" -> runStream(spark, s"kg_rep${Stream.queries.incrementAndGet()}",
        batches.length))
    }
    override def after(spark: SparkSession, i: Int): Map[String, Any] = {
      val ks = c.op("stream collect")(keys(spark, lastQuery)).getOrElse(Nil)
      if (lastQuery == "kg_rep1") writeLines(s"${c.out}/stream_keys.tsv", ks.sorted)
      val p = meter.records
      Map("rows" -> ks.distinct.length, "batches" -> p.length,
        "state_rows" -> p.map(_("state_rows")).maxOption.getOrElse(0.0),
        "state_mb" -> p.map(_("state_mb")).maxOption.getOrElse(0.0),
        "evicted_rows" -> p.map(_("evicted_rows")).sum,
        "engine_ms" -> p.flatMap(_.keys).filter(_.startsWith("ms.")).distinct
          .map(k => k.stripPrefix("ms.") -> median(p.map(_.getOrElse(k, 0.0)))).toMap)
    }
    def replayTurns(spark: SparkSession): Seq[Turn] = batches.flatten
  }

  object Stream {
    /** Query (and checkpoint) names must be unique within a run. */
    val queries = new java.util.concurrent.atomic.AtomicInteger()
  }

  // ---- materialize chain (measured in the traced fused run) ------------

  /** The four public Stages routes into a fresh root, then again on the
    * finished root (resume), over the documents corpus in the input dir.
    */
  final class Materialize(c: Ctx) {
    val routes: Seq[(String, (SparkSession, String, String) => Seq[Stages.RunReport])] = Seq(
      "all" -> Stages.materializeAll,
      "mention_eval" -> Stages.materializeMentionEval,
      "subclass_eval" -> Stages.materializeSubclassEval,
      "curation" -> Stages.materializeCuration)
    def root(i: Int) = s"${c.work}/root-$i"
    def pass(spark: SparkSession, root: String): Seq[(String, Double, Seq[Stages.RunReport])] =
      routes.map { case (name, f) =>
        val t0 = System.nanoTime()
        val r = c.tracer(s"stages.$name")(c.op(s"route $name")(f(spark, c.input, root)))
        (name, secs(t0), r.getOrElse(Nil))
      }
    /** A cold pass (kept for the correctness check) and a warm one: the
      * pass time still falls steeply after the first.
      */
    def warmup(spark: SparkSession): Unit = {
      pass(spark, s"${c.work}/root-check")
      pass(spark, s"${c.work}/root-warm")
      deleteTree(s"${c.work}/root-warm")
      val json = SparkEntry.oracleSql.map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
      writeLines(s"${c.out}/oracle_sql.json", Seq(json.mkString("{", ",", "}")))
    }
    /** One pass into a fresh root, then the resume pass on it. */
    def measure(spark: SparkSession, meter: Meter): Map[String, Any] = {
      meter.reset(spark.sparkContext)
      val r0 = System.nanoTime()
      val routes = c.tracer("rep")(pass(spark, root(0)))
      val wall = secs(r0)
      val sp = meter.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      val again = pass(spark, root(0))
      val resume = secs(t0)
      val lineage = c.op("read lineage") {
        spark.read.parquet(s"${root(0)}/_lineage").groupBy("stage")
          .agg(sum("wall_ms").as("ms"), sum("output_rows").as("rows")).collect()
          .map(r => r.getString(0) -> Map("task_s" -> r.getLong(1) / 1000.0,
            "rows" -> r.getLong(2))).toMap
      }.getOrElse(Map.empty)
      deleteTree(root(0))
      Map("wall_s" -> wall, "spark" -> sp,
        "routes" -> routes.map { case (n, s, _) => n -> s }.toMap,
        "resume_s" -> resume,
        "resume_skipped" -> again.flatMap(_._3).count(_.skipped),
        "resume_reports" -> again.map(_._3.length).sum,
        "stages" -> lineage,
        "rows" -> lineage.values.map(_("rows").asInstanceOf[Long]).sum)
    }

    /** `Crf.tokenFeatures` + `Crf.viterbi` per sentence of a seeded
      * sample of the corpus's turns (tokenized as the CRF route does).
      */
    def crfReplay(spark: SparkSession, seed: Long): Map[String, Double] = {
      import spark.implicits._
      val turns = Transcripts.fromDocuments(spark, c.input).as[Turn].collect().toSeq
      val model = Crf.dictionaryModel(GazetteerTagger.gazetteer)
      var n = 0.0
      for (t <- new scala.util.Random(seed).shuffle(turns.sortBy(t => (t.conv_id, t.turn_idx))).take(300)) {
        c.tracer.trace = s"replay/${t.conv_id}/${t.turn_idx}"
        for ((_, _, _, toks) <- TextOps.segment(t.text) if toks.nonEmpty) {
          c.tracer("crf.viterbi")(Crf.viterbi(model, Crf.tokenFeatures(toks).map("__bias__" :: _)))
          n += 1
        }
      }
      Map("crf.sentences" -> n)
    }
  }

  // ---- single-threaded replay of the fused loop's layers ---------------

  /** Calls each in-loop layer's public function on a seeded sample of
    * conversations, in the Spark driver, one call per span. Returns counts.
    */
  def replay(gaz: Map[String, String], turns: Seq[Turn], seed: Long, tr: Tracer): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val convs = rnd.shuffle(turns.groupBy(_.conv_id).toSeq.sortBy(_._1)).take(300)
    val n = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def gazTag(toks: IndexedSeq[Tok]): Seq[(String, Int, Int)] =
      toks.flatMap(t => gaz.get(t.word.toLowerCase).map(cls => (cls, t.begin, t.end)))
    for ((cid, ts) <- convs) {
      tr.trace = s"replay/$cid"
      val tagged: IndexedSeq[Tok] => Seq[(String, Int, Int)] = toks => {
        val ms = tr("tag.gazetteer")(gazTag(toks))
        n("tag.mentions") += ms.length
        ms
      }
      tr("kgpipeline.conv")(KgPipeline.processConversation(cid, ts, cfg, tagged, Some(allPositive)))
      n("kgpipeline.convs") += 1

      // the conversation's sentences, parsed the way the loop parses them
      final case class Sent(toks: IndexedSeq[Tok], sp: IndexedSeq[String], hs: Array[Int],
                            adj: Array[List[Int]], depth: Array[Int], ms: Seq[Mention])
      val sents = mutable.HashMap.empty[(Int, Int), Sent]
      for (t <- ts.sortBy(_.turn_idx).distinctBy(_.turn_idx)) {
        val segs = tr("textops.segment")(TextOps.segment(t.text, cfg.tokenizer))
        for ((si, _, _, toks) <- segs) {
          n("textops.tokens") += toks.length
          val (sp, hs, adj, depth) = tr("depgraph.parse") {
            val sp = DepGraph.sentencePos(toks)
            val hs = DepGraph.heads(toks, sp)
            val adj = DepGraph.adjacency(toks.length, hs)
            val root = hs.indices.find(i => hs(i) == i).getOrElse(0)
            (sp, hs, adj, DepGraph.depths(adj, root))
          }
          n("depgraph.sentences") += 1
          val ms = gazTag(toks).map { case (cls, b, e) =>
            val s = t.text.substring(b, e)
            Mention(cid, t.turn_idx, si, cls, b, e, s, 1.0, TextOps.normKey(s))
          }
          sents((t.turn_idx, si)) = Sent(toks, sp, hs, adj, depth, ms)
        }
      }

      // candidate generation with the loop's positive-key short-circuit
      val positive = mutable.HashSet.empty[String]
      val emitted = mutable.ArrayBuffer.empty[KgPipeline.Candidate]
      KgPipeline.foreachCandidate(cid, ts, cfg, gazTag, withFeatures = false, Some(allPositive),
        skipKey = k => { val s = positive(k); if (s) n("kgpipeline.pairs_skipped") += 1; s }) { cand =>
        n("kgpipeline.pairs") += 1
        if (cand.score > 0) positive += cand.key
        emitted += cand
      }

      // scoring replayed on exactly the emitted candidates
      val all = sents.values.flatMap(_.ms).toSeq
      val docCounts = all.groupBy(m => (m.class_id, m.norm)).map { case (k, v) => k -> v.length }
      val cross = mutable.HashMap.empty[((Int, Int), (Int, Int)), KgPipeline.CombinedCtx]
      for (cand <- emitted) {
        val k1 = (cand.m1.turn_idx, cand.m1.sent_idx)
        val k2 = (cand.m2.turn_idx, cand.m2.sent_idx)
        val (s1, s2) = (sents(k1), sents(k2))
        val ctxOf = (ms: Seq[Mention]) => RelationScoring.EdgeCtx(ms,
          docCounts.getOrElse((cand.m1.class_id, cand.m1.norm), 0),
          docCounts.getOrElse((cand.m2.class_id, cand.m2.norm), 0), 1)
        if (cand.sameSentence) {
          val prep = new RelationScoring.SentencePrep(s1.toks, s1.hs, s1.adj, s1.depth, sentPos = s1.sp)
          tr("relationscoring.score")(RelationScoring.scoreEdge(allPositive, prep, cand.m1, cand.m2,
            true, cand.sentDist, ctxOf(s1.ms)))
        } else {
          val cc = cross.getOrElseUpdate((k1, k2), {
            n("kgpipeline.combined_calls") += 1
            tr("kgpipeline.combined")(KgPipeline.combined(s1.toks, s2.toks, s1.hs, s2.hs))
          })
          val prep = new RelationScoring.SentencePrep(cc.toks, cc.heads, cc.adj, cc.depth, cc.extraLabels)
          val m2 = cand.m2.copy(begin = cand.m2.begin + cc.delta, end = cand.m2.end + cc.delta)
          val ms = s1.ms ++ s2.ms.map(m => m.copy(begin = m.begin + cc.delta, end = m.end + cc.delta))
          tr("relationscoring.score")(RelationScoring.scoreEdge(allPositive, prep, cand.m1, m2,
            false, cand.sentDist, ctxOf(ms)))
        }
        n("relationscoring.scored_pairs") += 1
      }
    }
    n.toMap
  }

  // ---- main ------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val c = new Ctx(opt("input"), opt("out"), opt("work"), new Tracer(false, t0))
    val meter = new Meter
    val smeter = new StreamMeter
    val w: Workload = workload match {
      case "fused" => new Fused(c)
      case "stream" => new Stream(c, smeter)
    }

    // set-up, three times: session start + input scan
    var spark: SparkSession = null
    val sessionScan = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(cpus, c.work)
      w.scan(spark)
      secs(s0)
    }
    spark.sparkContext.addSparkListener(meter)
    spark.streams.addListener(smeter)
    val nTurns = w.turns(spark)
    val w0 = System.nanoTime()
    w.warmup(spark)
    val warmupS = secs(w0)
    val setupS = bootS + median(sessionScan) + warmupS

    def reps(tag: String): Seq[Map[String, Any]] = {
      val out = mutable.ArrayBuffer.empty[Map[String, Any]]
      val start = System.nanoTime()
      while (out.isEmpty || secs(start) < seconds) {
        val i = out.length
        c.tracer.trace = s"$workload/$seed/$tag$i"
        meter.reset(spark.sparkContext)
        Heap.reset()
        val r0 = System.nanoTime()
        val extras = c.tracer("rep")(w.rep(spark, i))
        val wall = secs(r0)
        val heap = Heap.peakMb
        val sp = meter.snapshot(spark.sparkContext)
        out += Map("wall_s" -> wall, "heap_peak_mb" -> heap, "spark" -> sp) ++ extras ++
          w.after(spark, i)
      }
      out.toSeq
    }
    val untraced = reps("rep")

    val traceOut = mutable.LinkedHashMap.empty[String, Any]
    if (traced) {
      val tr = new Tracer(true, t0)
      c.tracer = tr
      traceOut("traced_reps") = reps("traced")
      traceOut("replay") = replay(w.gaz, w.replayTurns(spark), seed, tr)
      if (workload == "fused") {
        val m = new Materialize(c)
        tr.trace = s"materialize/$seed/warm-up"
        m.warmup(spark)
        tr.trace = s"materialize/$seed/rep0"
        traceOut("materialize") = m.measure(spark, meter)
        traceOut("crf") = m.crfReplay(spark, seed)
        // the same input at local[1]: BASELINE's N -> 4N scaling
        spark.stop()
        spark = session(1, c.work)
        val f1 = new Fused(new Ctx(c.input, c.out, c.work, new Tracer(false, t0)))
        for (_ <- 1 to 2) f1.triples(spark).count()
        traceOut("wall_1core_s") = (1 to 3).map { _ =>
          val s0 = System.nanoTime(); f1.triples(spark).count(); secs(s0)
        }
      }
      tr.write(s"${c.out}/spans.jsonl")
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "turns" -> nTurns,
      "boot_s" -> bootS, "session_scan_s" -> sessionScan, "warmup_s" -> warmupS,
      "setup_s" -> setupS, "reps" -> untraced,
      "attempted" -> c.attempted, "failed" -> c.failed, "errors" -> c.errors.toSeq) ++ traceOut
    writeLines(s"${c.out}/result.json", Seq(Json(result)))
    SparkEntry.clearCaches()
    spark.stop()
  }

}
