package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.BpeEncodeIds

/**
 * Exact byte-level BPE tokenization (Sennrich 2016; GPT-2's byte-level
 * variant, Radford 2019 — both public), closing the token-metering
 * approximation every budget-carrying operator inherited from
 * [[TextAnalysis.tokenEstimate]] (VERDICT r16 "missing #2"):
 * [[CorpusStats.sequencePacking]], [[CorpusStats.shardManifest]] and
 * [[CorpusStats.slidingChunks]] meter tokens, and an estimate that is
 * ~15% off on English web text mis-sizes every shard and pack at
 * 100 TB.
 *
 * Shape: the model is FITTED once on a bounded deterministic sample
 * (driver-side, the [[Similarity.fitCentroids]] discipline — real
 * pipelines train vocab on a sample, never the corpus) and applied as
 * a broadcast-class literal by the [[graft.plans.BpeEncodeIds]] codegen
 * kernel — one corpus pass, zero shuffles, zero UDFs. The merges table
 * is DATA: dump it with [[mergesRows]]/[[byteRows]] and any engine
 * replays the encode exactly (q134's DuckDB oracle re-runs the merge
 * loop from the dumped table).
 *
 * Reference anchor: the reference engine tokenizes nothing (its text
 * handling stops at substring/format checks in its helper modules),
 * so this is a beyond-parity operator for the training-data pipeline
 * surface.
 */
object Bpe {

  /** A ranked merges table; rank = position. Symbols live in the
    * GPT-2 bytes_to_unicode alphabet ([[BpeEncodeIds.byteToChar]]). */
  case class BpeModel(merges: IndexedSeq[(String, String)]) {
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
      "BPE merge symbols must be non-empty")
    /** Literal column the kernel hoists per task. */
    private[graft] def mergesLit: Column =
      typedLit(merges.map { case (l, r) => Seq(l, r) })
  }

  /**
   * Fit a BPE merges table on a deterministic bounded sample of the
   * corpus: the `sampleSize` docs with the smallest `xxhash64(id)`
   * (corpus-order-free, the exact sampling contract of
   * [[Similarity.fitCentroids]]), pre-tokenized with the kernel's
   * pattern, then the classic pair-count/merge loop (Sennrich 2016
   * alg. 1) with an exact deterministic tie-break: highest pair count,
   * then lexicographically smallest (left, right). Stops early when no
   * pair repeats (count < 2 — merging a singleton pair buys nothing).
   *
   * Driver cost is O(sample bytes · nMerges) worst case — bounded by
   * construction, never corpus-proportional.
   */
  def fit(docs: DataFrame, idCol: String, textCol: String, nMerges: Int,
          sampleSize: Int = 2048): BpeModel = {
    require(nMerges >= 0, s"nMerges must be non-negative, got $nMerges")
    BpeModel(fitIndexed(sampleFreqs(docs, idCol, textCol, sampleSize),
      nMerges))
  }

  /** Sample + pre-tokenize: word-shape frequencies over the kernel's
    * pieces, symbols in the byte alphabet. The sample is the
    * `sampleSize` docs with the smallest `xxhash64(id)` — see [[fit]]. */
  private def sampleFreqs(docs: DataFrame, idCol: String, textCol: String,
                          sampleSize: Int): java.util.HashMap[Vector[String], Long] = {
    require(sampleSize > 0, s"sampleSize must be positive, got $sampleSize")
    val texts: Array[String] = docs
      .select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t"))
      .filter(col("t").isNotNull)
      .orderBy(xxhash64(col("id")))
      .limit(sampleSize)
      .select("t").collect().map(_.getString(0))
    val freqs = new java.util.HashMap[Vector[String], Long]()
    texts.foreach { t =>
      val m = BpeEncodeIds.piecePattern.matcher(t)
      while (m.find()) {
        val bytes = m.group()
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val word = bytes.toVector
          .map(b => String.valueOf(BpeEncodeIds.byteToChar(b & 0xff)))
        freqs.merge(word, 1L, _ + _)
      }
    }
    freqs
  }

  /**
   * The production merge loop: incremental pair-count maintenance (the
   * public learn_bpe shape, Sennrich 2016's released implementation) —
   * each round touches ONLY the word shapes containing the merged
   * pair, and selection pops a rank-ordered agenda with lazy
   * invalidation (r19) — O(log H) amortized per mutation instead of a
   * full pair-map scan per round — so fitting a 16–50 k-merge
   * production vocabulary is O(Σ affected-word rewrites · log)
   * total, instead of [[fitNaive]]'s full recount per round.
   * Selection is bit-identical to [[fitNaive]] (highest
   * count ≥ 2, ties to the lexicographically smallest (left, right);
   * all occurrences merged left-to-right) — BpeSpec asserts the two
   * produce the same merges table on the fixture corpus.
   */
  private[graft] def fitIndexed(freqs0: java.util.HashMap[Vector[String], Long],
                                nMerges: Int): Vector[(String, String)] = {
    // materialize shapes as mutable arrays; identical shapes stay
    // aggregated (one entry, summed freq) — later rewrites may produce
    // colliding shapes, which is harmless: pair counts are sums either
    // way, and the selection only sees the sums
    val nW = freqs0.size()
    val words = new Array[Array[String]](nW)
    val wfreq = new Array[Long](nW)
    var wi = 0
    freqs0.forEach { (w, f) => words(wi) = w.toArray; wfreq(wi) = f; wi += 1 }
    val pairCount = new java.util.HashMap[(String, String), Long]()
    val pairWords = new java.util.HashMap[(String, String), java.util.HashSet[Integer]]()
    def addOcc(p: (String, String), idx: Int, f: Long): Long = {
      val total = pairCount.merge(p, f, _ + _)
      pairWords.computeIfAbsent(p, _ => new java.util.HashSet[Integer]())
        .add(idx)
      total
    }
    var i = 0
    while (i < nW) {
      val w = words(i)
      var j = 0
      while (j < w.length - 1) { addOcc((w(j), w(j + 1)), i, wfreq(i)); j += 1 }
      i += 1
    }
    // Rank-ordered agenda with lazy invalidation (r19) — the selection
    // was a full pairCount scan per round, O(nMerges·|live pairs|) on
    // the driver. Invariant: every pair's CURRENT count has a snapshot
    // in the heap (every mutation offers a fresh (l, r, n); the init
    // seed covers the starting counts), so the first non-stale pop IS
    // the exact argmax under fitNaive's ordering — count descending,
    // ties to the lexicographically smallest (left, right) — and
    // selection stays bit-identical (BpeSpec parity). Stale snapshots
    // (count has changed, or the pair was merged/emptied away) are
    // discarded on pop; heap size is bounded by total count mutations,
    // which the affected-word rewrite already pays for.
    val agenda = new java.util.PriorityQueue[(String, String, Long)](
      math.max(16, pairCount.size()),
      new java.util.Comparator[(String, String, Long)] {
        def compare(a: (String, String, Long),
                    b: (String, String, Long)): Int = {
          val c = java.lang.Long.compare(b._3, a._3)
          if (c != 0) c
          else {
            val l = a._1.compareTo(b._1)
            if (l != 0) l else a._2.compareTo(b._2)
          }
        }
      })
    pairCount.forEach { (p, n) => agenda.add((p._1, p._2, n)) }
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      var best: (String, String) = null
      var searching = true
      while (searching) {
        val e = agenda.poll()
        if (e == null) searching = false // agenda drained: no live pair
        else {
          // live counts are always positive (a pair whose count falls
          // to 0 is removed), so a missing pair, read as 0, never
          // matches an agenda entry
          if (pairCount.getOrDefault((e._1, e._2), 0L) == e._3) {
            // the valid top: the true max. Selected only at count >= 2
            // (merging a singleton pair buys nothing — fitNaive's rule)
            if (e._3 >= 2L) best = (e._1, e._2)
            searching = false
          } // else stale — discard and keep popping
        }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        val affected = pairWords.remove(best)
        pairCount.remove(best)
        if (affected != null) {
          val it = affected.iterator()
          while (it.hasNext) {
            val idx: Int = it.next()
            val w = words(idx)
            val f = wfreq(idx)
            // old per-pair occurrence counts in this word
            val oldOcc = new java.util.HashMap[(String, String), Int]()
            var j = 0
            while (j < w.length - 1) {
              oldOcc.merge((w(j), w(j + 1)), 1, Integer.sum); j += 1
            }
            // rewrite: merge ALL occurrences left-to-right
            val out = new java.util.ArrayList[String](w.length)
            var p = 0
            while (p < w.length) {
              if (p < w.length - 1 && w(p) == best._1 && w(p + 1) == best._2) {
                out.add(best._1 + best._2); p += 2
              } else { out.add(w(p)); p += 1 }
            }
            val nw = out.toArray(new Array[String](out.size))
            words(idx) = nw
            val newOcc = new java.util.HashMap[(String, String), Int]()
            j = 0
            while (j < nw.length - 1) {
              newOcc.merge((nw(j), nw(j + 1)), 1, Integer.sum); j += 1
            }
            // apply the count delta; maintain the pair→words index so
            // entries never go stale (a pair fully gone from this word
            // drops the word from its index set)
            oldOcc.forEach { (pair, k) =>
              if (pair != best) {
                val nk = newOcc.getOrDefault(pair, 0)
                if (nk < k) {
                  val left = pairCount.merge(pair, -f * (k - nk), _ + _)
                  if (left <= 0L) pairCount.remove(pair)
                  else agenda.add((pair._1, pair._2, left))
                }
                if (nk == 0) {
                  val s = pairWords.get(pair)
                  if (s != null) { s.remove(Integer.valueOf(idx))
                    if (s.isEmpty) pairWords.remove(pair) }
                }
              }
            }
            newOcc.forEach { (pair, k) =>
              val ok = if (pair == best) 0 else oldOcc.getOrDefault(pair, 0)
              if (k > ok)
                agenda.add((pair._1, pair._2, addOcc(pair, idx, f * (k - ok))))
              else if (k > 0) pairWords
                .computeIfAbsent(pair, _ => new java.util.HashSet[Integer]())
                .add(idx)
            }
          }
        }
        round += 1
      }
    }
    merges.result()
  }

  /** The r17 reference loop — full pair recount per round. Kept as the
    * obviously-correct implementation [[fitIndexed]] is parity-tested
    * against (BpeSpec); O(sample · nMerges), so never use it for a
    * production-depth vocabulary. */
  private[graft] def fitNaive(docs: DataFrame, idCol: String, textCol: String,
                              nMerges: Int, sampleSize: Int = 2048): BpeModel = {
    require(nMerges >= 0, s"nMerges must be non-negative, got $nMerges")
    val freqs = sampleFreqs(docs, idCol, textCol, sampleSize)
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      freqs.forEach { (word, f) =>
        var i = 0
        while (i < word.length - 1) {
          counts.merge((word(i), word(i + 1)), f, _ + _)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestN = 1L // require count >= 2
      counts.forEach { (pair, n) =>
        val better = n > bestN || (n == bestN && best != null &&
          (pair._1 < best._1 ||
            (pair._1 == best._1 && pair._2 < best._2)))
        if (better) { best = pair; bestN = n }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        val next = new java.util.HashMap[Vector[String], Long]()
        freqs.forEach { (word, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < word.length) {
            if (i < word.length - 1 && word(i) == best._1 &&
                word(i + 1) == best._2) {
              out += (best._1 + best._2); i += 2
            } else { out += word(i); i += 1 }
          }
          next.merge(out.result(), f, _ + _)
        }
        freqs.clear(); freqs.putAll(next)
        round += 1
      }
    }
    BpeModel(merges.result())
  }

  /** Exact token ids (array<int>): byte-value ids for single-byte
    * symbols, 256+rank for merged ones. One codegen pass per row. */
  def tokenIds(text: Column, model: BpeModel): Column =
    graft.plans.Kernels.bpeEncode(text, model.mergesLit)

  /** Exact token count — the drop-in replacement for
    * [[TextAnalysis.tokenEstimate]] wherever a fitted model exists. */
  def tokenCount(text: Column, model: BpeModel): Column =
    size(tokenIds(text, model))

  /** Inverse of [[tokenIds]]: ids → text. Exact round-trip for text
    * the pre-tokenizer consumes byte-for-byte (see
    * [[graft.plans.BpeDecodeIds]]) — the shard-delivery verification
    * path: decode what was written, compare to what was meant. */
  def decode(ids: Column, model: BpeModel): Column =
    graft.plans.Kernels.bpeDecode(ids, model.mergesLit)

  /** (rank, l, r, merged, id) rows — the oracle-dumpable model. */
  def mergesRows(model: BpeModel): Seq[(Int, String, String, String, Int)] =
    model.merges.zipWithIndex.map { case ((l, r), i) =>
      (i, l, r, l + r, 256 + i)
    }

  /** (byte, sym) rows — the byte-alphabet bijection as data, so
    * external SQL maps characters to symbols without re-deriving the
    * GPT-2 table. */
  def byteRows: Seq[(Int, String)] =
    (0 until 256).map(b =>
      (b, String.valueOf(BpeEncodeIds.byteToChar(b))))
}
