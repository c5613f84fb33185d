package graft.kg

import graft.text.TextModel
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Broadcast model state: entity dictionary + per-predicate dense weight
  * vectors (SURVEY.md §4.2.3 — a dense 2^18-slot vector per predicate, ~2 MB
  * each, broadcast once; scoring is a local dot product, never a join).
  */
final class KgModel(
    val uni: Map[String, DictEntry],
    val bi: Map[String, DictEntry],
    val preds: IndexedSeq[Predicate],
    val weights: Array[Array[Double]], // [predIdx][featureId]
    val tau: Double) extends Serializable {

  /** Bigram dictionary as a two-level map (first token → second token →
    * entry), built once per executor JVM: the scan probes it WITHOUT
    * concatenating "t1 t2" per position — at corpus scale that concat was one
    * short-lived String per token of input, pure allocator/memory-bandwidth
    * churn on wide executors. */
  @transient private lazy val biNested: Map[String, Map[String, DictEntry]] =
    bi.groupBy(_._1.takeWhile(_ != ' ')).map { case (t1, grp) =>
      t1 -> grp.map { case (surface, e) => surface.drop(t1.length + 1) -> e }
    }

  /** UTF8String-keyed one-probe dictionary twin, built once per executor
    * JVM — the native RelationsGenExpr probes it with the raw tokens off
    * Catalyst ArrayData, so the scan allocates NO per-token Strings.
    * UTF8String equals/hashCode are byte-wise, which for the valid UTF-8 the
    * engine produces coincides exactly with String equality. */
  @transient lazy val dictProbe: TokenDict = TokenDict.build(uni, biNested)

  /** Canonical-entity + predicate names pre-encoded as UTF8String, built once
    * per executor JVM: emitted relations are sparse, but handing Catalyst a
    * cached reference beats re-encoding the same few canonicals per row. */
  @transient lazy val outU8: java.util.HashMap[String, UTF8String] = {
    val m = new java.util.HashMap[String, UTF8String]()
    (uni.values ++ bi.values).foreach(e =>
      m.put(e.canonical, UTF8String.fromString(e.canonical)))
    preds.foreach(p => m.put(p.pred, UTF8String.fromString(p.pred)))
    m
  }

  def u8(s: String): UTF8String = {
    val v = outU8.get(s)
    if (v != null) v else UTF8String.fromString(s)
  }

  import KgModel.{mentionScratch, relationScratch}

  /** [[scanMentions]] on raw UTF8String tokens — identical greedy semantics
    * over the one-probe [[TokenDict]] (RelationsGenSpec asserts equality):
    * at each position ONE hash+probe answers bigram-head and unigram at
    * once; the result is a [[KgModel.ScratchView]] over the per-thread
    * [[mentionScratch]], handed to the scorer without an immutable-copy
    * round and reused on the next call. The consume-before-next-scan
    * invariant is ENFORCED: a retained view throws on access after the next
    * call on the same thread (RelationsGenSpec pins this). */
  def scanMentionsU8(tokens: Array[UTF8String]): scala.collection.IndexedSeq[Mention] =
    scanMentionsU8(tokens, mentionScratch.get())

  /** [[scanMentionsU8]] with a caller-held scratch: hot callers
    * (RelationsGenExpr) fetch the per-thread scratch ONCE per task instead
    * of per sentence — ThreadLocal map probing on every get() read ~12% of
    * executor CPU in the round-5 JFR even with static ThreadLocals. */
  def scanMentionsU8(tokens: Array[UTF8String],
                     scratch: KgModel.Scratch[Mention]): scala.collection.IndexedSeq[Mention] = {
    val d = dictProbe
    val view = scratch.begin()
    val out = scratch.buf
    val n = tokens.length
    var i = 0
    while (i < n) {
      var matched = false
      val slot = d.find(tokens(i))
      if (slot >= 0) {
        if (i + 1 < n) {
          val e = d.biAt(slot, tokens(i + 1))
          if (e != null) {
            out += Mention(e.entityId, e.canonical, e.entType, i, i + 2)
            i += 2; matched = true
          }
        }
        if (!matched) {
          val e = d.uniAt(slot)
          if (e != null) {
            out += Mention(e.entityId, e.canonical, e.entType, i, i + 1)
            i += 1; matched = true
          }
        }
      }
      if (!matched) i += 1
    }
    view
  }

  /** Bucket-major transpose of the weight matrix, built once per executor
    * JVM: wFlat(fid * nPreds + p) == weights(p)(fid). The scoring loop walks
    * every predicate's weight for one feature from ONE cache line pair
    * instead of taking a miss per predicate array — at 32 executor threads
    * the predicate-major layout thrashed L3 (9 × 2 MB arrays probed at
    * random buckets). */
  @transient private lazy val wFlat: Array[Double] = {
    val nP = preds.length
    val nF = if (nP == 0) 0 else weights(0).length
    val flat = new Array[Double](nP * nF)
    var p = 0
    while (p < nP) {
      val w = weights(p)
      var f = 0
      while (f < nF) { flat(f * nP + p) = w(f); f += 1 }
      p += 1
    }
    flat
  }

  /** Greedy longest-match dictionary scan over lowercase tokens (pinned
    * semantics, SURVEY.md §2 A6): at each position prefer the 2-gram match,
    * consume matched tokens, advance. Dictionary surfaces are 1 or 2 tokens
    * ([[KgModel.fromData]] rejects longer ones). This String form is the
    * oracle for the production [[scanMentionsU8]] (RelationsGenSpec asserts
    * equality). */
  def scanMentions(tokens: scala.collection.IndexedSeq[String]): IndexedSeq[Mention] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    val n = tokens.length
    var i = 0
    while (i < n) {
      var matched = false
      if (i + 1 < n) {
        val inner = biNested.getOrElse(tokens(i), null)
        val e = if (inner == null) null else inner.getOrElse(tokens(i + 1), null)
        if (e != null) {
          out += Mention(e.entityId, e.canonical, e.entType, i, i + 2)
          i += 2; matched = true
        }
      }
      if (!matched) {
        val e = uni.getOrElse(tokens(i), null)
        if (e != null) {
          out += Mention(e.entityId, e.canonical, e.entType, i, i + 1)
          i += 1; matched = true
        }
      }
      if (!matched) i += 1
    }
    out.toIndexedSeq
  }

  /** Score every ordered, span-disjoint mention pair; emit the argmax
    * predicate when its score clears tau (ties broken by predicate order —
    * deterministic). One relation max per ordered pair. This wrapper copies
    * the per-thread scratch result (`.toSeq`), so ITS return value is safe
    * to retain; the underlying [[scoreRelationsTv]] result is not — see its
    * scaladoc. */
  def scoreRelations(tokens: scala.collection.IndexedSeq[String], ms: IndexedSeq[Mention]): Seq[ScoredRelation] =
    scoreRelationsTv(new Featurize.StrToks(tokens), ms).toSeq

  /** Token-representation-independent scoring core: String tokens (udf path)
    * and raw UTF8String tokens (native generator path) hash identically.
    * Returns a [[KgModel.ScratchView]] over the per-thread
    * [[relationScratch]] — callers either drain it before the next sentence
    * (RelationsGenExpr) or take an immutable copy (scoreRelations' .toSeq);
    * a view retained across a later call on the same thread throws on
    * access. */
  def scoreRelationsTv(tv: Featurize.TokenVec,
                       ms: scala.collection.IndexedSeq[Mention]): scala.collection.Seq[ScoredRelation] =
    scoreRelationsTv(tv, ms, relationScratch.get())

  /** [[scoreRelationsTv]] with a caller-held scratch — see
    * [[scanMentionsU8]]'s two-arg overload for why. */
  def scoreRelationsTv(tv: Featurize.TokenVec,
                       ms: scala.collection.IndexedSeq[Mention],
                       scratch: KgModel.Scratch[ScoredRelation]): scala.collection.Seq[ScoredRelation] = {
    if (ms.length < 2) return Nil
    // per-sentence precomputed feature hashes pay off once they are shared
    // across many pairs; for the common 2-mention sentence direct hashing of
    // the single window is cheaper (identical ids either way)
    val session = if (ms.length >= 3) new Featurize.Session(tv) else null
    val view = scratch.begin()
    val out = scratch.buf
    var a = 0
    while (a < ms.length) {
      var b = 0
      while (b < ms.length) {
        if (a != b) {
          val m1 = ms(a); val m2 = ms(b)
          val disjoint = m1.end <= m2.begin || m2.end <= m1.begin
          if (disjoint && m1.entityId != m2.entityId) {
            val fids =
              if (session != null) session.ids(m1, m2)
              else Featurize.pairIds(tv, m1, m2)
            // accumulate ALL predicates per feature from the bucket-major
            // matrix (contiguous), then select among the type-eligible ones;
            // per predicate the summation order over fids is unchanged, so
            // scores are bit-identical to the predicate-major loop
            val nP = preds.length
            val flat = wFlat
            val scores = new Array[Double](nP)
            var k = 0
            while (k < fids.length) {
              val base = fids(k).toInt * nP
              var q = 0
              while (q < nP) { scores(q) += flat(base + q); q += 1 }
              k += 1
            }
            var bestIdx = -1
            var bestScore = Double.NegativeInfinity
            var p = 0
            while (p < nP) {
              val pd = preds(p)
              if (pd.subjType == m1.entType && pd.objType == m2.entType) {
                val s = scores(p)
                if (s > bestScore) { bestScore = s; bestIdx = p }
              }
              p += 1
            }
            if (bestIdx >= 0 && bestScore >= tau)
              out += ScoredRelation(m1.canonical, preds(bestIdx).pred, m2.canonical, bestScore)
          }
        }
        b += 1
      }
      a += 1
    }
    view
  }
}

object KgModel {

  /** Per-thread scan/score scratch buffer + reuse generation. The round-4
    * allocation profile showed `ArrayBuffer.empty` in the scan/score entry
    * points as the top two Object[] churn sites (~12 GB/run at sf8): one
    * fresh backing array per sentence, dead before the generator's eval
    * returns. Both results are consumed eagerly on the calling thread
    * (scoreRelationsTv drains the mention buffer; RelationsGenExpr /
    * scoreRelations drain or copy the relation buffer) — never retained
    * across calls, so per-thread reuse is safe. STATIC (companion, one
    * ThreadLocal per JVM) — see RelationsGenExpr.outScratch for the measured
    * per-instance-ThreadLocal failure mode this avoids. */
  private[graft] final class Scratch[A](initCap: Int) {
    val buf = new scala.collection.mutable.ArrayBuffer[A](initCap)
    /** Bumped at the start of every scan/score call on this thread; a
      * [[ScratchView]] minted by an older call refuses further access. */
    var gen: Long = 0L
    def begin(): ScratchView[A] = { gen += 1; buf.clear(); new ScratchView(this, gen) }
  }

  /** Read-only, generation-stamped view over a per-thread scratch buffer:
    * the invariant "consume or copy the result before the next scan/score
    * call on the same thread" is ENFORCED, not just documented — a view
    * retained across a subsequent call throws on access instead of silently
    * serving the newer call's data. One long-compare per access (noise next
    * to the scoring work the buffers carry). */
  final class ScratchView[A] private[KgModel] (s: Scratch[A], myGen: Long)
      extends scala.collection.IndexedSeq[A] {
    @inline private def check(): Unit =
      if (s.gen != myGen) throw new IllegalStateException(
        "stale graft scratch view: a scan/score result was retained across a " +
          "later scan/score call on the same thread — copy it (e.g. .toSeq) " +
          "before the next call")
    override def length: Int = { check(); s.buf.length }
    override def apply(i: Int): A = { check(); s.buf(i) }
    override def foreach[U](f: A => U): Unit = {
      check()
      val b = s.buf; val n = b.length
      var i = 0
      while (i < n) { f(b(i)); i += 1 }
    }
  }

  private val mentionScratch = new ThreadLocal[Scratch[Mention]] {
    override def initialValue() = new Scratch[Mention](16)
  }
  private val relationScratch = new ThreadLocal[Scratch[ScoredRelation]] {
    override def initialValue() = new Scratch[ScoredRelation](16)
  }

  /** Per-thread scratches for callers that hoist the ThreadLocal fetch out
    * of their per-row loop (cache per task, guard on the thread id). */
  private[graft] def threadMentionScratch(): Scratch[Mention] = mentionScratch.get()
  private[graft] def threadRelationScratch(): Scratch[ScoredRelation] = relationScratch.get()

  /** Build + broadcast a model from in-memory rows (no I/O). Every surface
    * must be one token or two tokens joined by one space — the only shapes
    * the mention scan can match — else IllegalArgumentException. */
  def fromData(spark: SparkSession, dict: Seq[DictEntry], preds0: Seq[Predicate],
               weightRows: Seq[(String, Long, Double)], tau: Double): Broadcast[KgModel] = {
    dict.foreach { e =>
      val toks = e.surface.split(" ", -1)
      require(toks.length <= 2 && toks.forall(_.nonEmpty),
        s"dictionary surface '${e.surface}' (entity ${e.entityId}) is not 1 or 2 " +
          "space-separated tokens; the mention scan cannot match it")
    }
    def toMap(es: Seq[DictEntry]): Map[String, DictEntry] =
      es.groupBy(_.surface).map { case (s, grp) =>
        s -> grp.minBy(e => (-e.prior, e.entityId))
      }
    val (bi0, uni0) = dict.partition(_.surface.contains(' '))
    val preds = preds0.sortBy(_.pred).toIndexedSeq
    val predIdx = preds.zipWithIndex.map { case (p, i) => p.pred -> i }.toMap
    val w = Array.fill(preds.length)(new Array[Double](TextModel.FeatureBuckets))
    weightRows.foreach { case (p, fid, wt) =>
      predIdx.get(p).foreach(i => w(i)(fid.toInt) += wt) // collisions sum (pinned)
    }
    spark.sparkContext.broadcast(new KgModel(toMap(uni0), toMap(bi0), preds, w, tau))
  }

  /** Load dictionary + weights + meta from fixture parquet and broadcast. */
  def load(spark: SparkSession, fixturesDir: String): Broadcast[KgModel] = {
    import spark.implicits._
    val dict = spark.read.parquet(s"$fixturesDir/entity_dict.parquet")
      .select($"surface", $"entity_id", $"ent_type", $"canonical", $"prior")
      .as[(String, Long, String, String, Double)].collect()
      .map { case (s, id, t, c, p) => DictEntry(s, id, t, c, p) }
      .toSeq
    val preds = spark.read.parquet(s"$fixturesDir/predicates.parquet")
      .select($"pred", $"template", $"subj_type", $"obj_type")
      .as[(String, String, String, String)].collect()
      .map { case (p, t, st, ot) => Predicate(p, t, st, ot) }
      .toSeq
    val weightRows = spark.read.parquet(s"$fixturesDir/weights.parquet")
      .select($"pred", $"feature_id", $"weight")
      .as[(String, Long, Double)].collect().toSeq
    val tau = spark.read.parquet(s"$fixturesDir/model_meta.parquet")
      .select($"tau").as[Double].head()
    fromData(spark, dict, preds, weightRows, tau)
  }
}
