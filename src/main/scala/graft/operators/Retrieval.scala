package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/**
 * Hybrid retrieval: reciprocal-rank fusion of ranked candidate lists
 * from heterogeneous retrievers (lexical BM25, dense cosine, ...).
 *
 * The reference engine's decontamination surface stops at exact id
 * matching (`FabricQC/run.js` joins staged fact rows on natural keys);
 * modern training-data pipelines pair a lexical retriever with a dense
 * one and fuse the ranked lists, because each leg finds contamination
 * the other is blind to (paraphrase vs verbatim). RRF (Cormack,
 * Clarke & Büttcher, SIGIR 2009 — public) is the standard fusion rule:
 * it needs only RANKS, so heterogeneous score scales (integer-exact
 * BM25 micro-nats vs float cosine) never have to be calibrated.
 *
 * Scale shape: both legs are already bounded-output broadcast-probe
 * top-k operators ([[CorpusStats.bm25TopK]], [[Similarity.cosineTopK]],
 * [[AnnIndex.ivfPqTopKBucketed]]); fusion touches only their outputs —
 * ≤ Σ_leg k rows per probe — so its two shuffles move candidate lists,
 * never corpus rows. At 100 TB the cost is entirely in the legs, which
 * is where it belongs — and the production dense leg is the persisted
 * IVF+PQ index ([[hybridBm25AnnTopK]]), whose per-probe work is
 * ~nProbe/nCentroids of the corpus, not a full scan.
 */
object Retrieval {

  /**
   * The most rows a search operator collects to the driver to plan
   * itself: the probe vocabulary of both BM25 operators
   * ([[CorpusStats.bm25TopK]], [[LexIndex.bm25TopKIndexed]]) or the
   * probe batch of the ANN search ([[AnnIndex.ivfPqTopKBucketed]]).
   * Within it, the collected set becomes a plan literal (an `InSet`
   * vocabulary gate, a bucket-pruning probed-cell list); above it, each
   * operator runs its collect-free plan, so the choice follows the
   * observed input, not a caller flag. The registry's probe
   * vocabularies (q127, q139, q140) are 31 terms at sf0.1 and 309 at
   * sf1, its ANN probe batches 20 and 191 rows; 1024 keeps every
   * registry scale on the collected plans while keeping the driver side
   * small — at most (bound + 1) rows per input partition reach the
   * driver, and a 1024-term `InSet` is a few KB of plan.
   */
  private[operators] val ProbeBound = 1024

  /**
   * `df`'s rows when it holds at most `bound`, else None — in ONE
   * Spark job: each partition forwards at most `bound + 1` rows, so a
   * too-big input is recognized without shipping all of it. (A
   * `limit(n).collect()` scans partitions incrementally and can add
   * jobs.)
   */
  private[operators] def collectWithin(df: DataFrame,
                                       bound: Int): Option[Array[Row]] = {
    val cap = bound + 1
    val rows = df.mapPartitions((it: Iterator[Row]) => it.take(cap))(
      Encoders.row(df.schema)).collect()
    if (rows.length > bound) None else Some(rows)
  }

  /**
   * Reciprocal-rank fusion of ranked runs. Each run must expose columns
   * `q_id` (castable to bigint), `doc_id` (castable to bigint) and
   * `rank` (1-based int). A candidate's fused score is
   * Σ_runs floor(1e9 / (k0 + rank)) — the textbook 1/(k0+rank) RRF
   * weight scaled to an exact BIGINT (micro-weight discipline of
   * q119/q125/q127), so fused scores sum order-free and replay exactly
   * in any engine; ties break to the smaller doc_id.
   *
   * Contract: each run is one ranked list per query — at most one row
   * per (q_id, doc_id). A malformed run that repeats a pair contributes
   * BOTH weights to the sum (the aggregate cannot tell a duplicate from
   * a second run's honest vote); callers with untrusted runs should
   * pre-collapse with `max(c)`/`min(rank)` per (q_id, doc_id). The
   * operator does not pay a per-run dedup shuffle on the hot path to
   * defend against input that violates its contract.
   *
   * Output: q_id, rank (1..k over the fused order), doc_id, rrf_u.
   *
   * Plan: union of the runs' candidate rows → hash-agg SUM on
   * (q_id, doc_id) → mergeable bounded top-k ([[graft.plans.TopKByScore]])
   * per q_id. Both shuffles carry at most Σ_runs k_run rows per probe.
   */
  def rrfFuse(runs: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse: need at least one run")
    require(k >= 1, s"k must be positive, got $k")
    require(k0 >= 0, s"k0 must be non-negative, got $k0")
    val contribs = runs.map { r =>
      r.select(col("q_id").cast("long").as("q_id"),
        col("doc_id").cast("long").as("doc_id"),
        // floor(1e9/(k0+rank)) is exact: numerator and divisor are
        // integers well under 2^53, the double quotient can only sit
        // ON an integer when the division is exact, so floor of the
        // nearest-double quotient equals the true integral quotient
        floor(lit(1000000000.0) / (col("rank").cast("double") + lit(k0)))
          .as("c_u"))
    }
    val fused = contribs.reduce(_ union _)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c_u")).as("rrf_u"))
    // max rrf_u = runs·ceil(1e9/(k0+1)) ≪ 2^53, so the double round-trip
    // through the top-k aggregate is exact
    fused.groupBy(col("q_id"))
      .agg(graft.plans.Kernels.topK(col("rrf_u").cast("double"),
        col("doc_id"), lit(k)).as("__topk"))
      .select(col("q_id"), posexplode(col("__topk")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").cast("long").as("rrf_u"))
  }

  /**
   * Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
   * 1998 — public) of a per-query candidate list: greedily select `k`
   * candidates maximizing `rel_u·relW − penW·max_{s∈selected} sim_u(d,s)`
   * — relevance traded against redundancy with what is already picked,
   * the diversification step a retrieval-augmented pipeline runs after
   * fusion so near-duplicate passages don't crowd out coverage.
   *
   * `candidates` must be unique per (q_id, doc_id) with integral
   * `rel_u`; rows whose doc_id has no row in `vecs` are dropped (inner
   * join — a candidate without an embedding cannot be diversified
   * against), and so are rows with a null q_id. Output: q_id, rank
   * (1..k, selection order), doc_id, mmr_u (the score AT selection;
   * rank 1's is `rel_u·relW`). Queries with fewer than `k` candidates
   * yield that many rows.
   *
   * Exact-replay discipline — every score is an exact BIGINT, so the
   * greedy order replays deterministically in any engine:
   *  - the cosine is `dot(a,b) / (sqrt(dot(a,a))·sqrt(dot(b,b)))`, each
   *    dot [[graft.plans.DotProduct]]'s sequential fold (index order
   *    over the shorter length, a pair with a null element skipped),
   *    and 0.0 when either vector is null or the denominator is not
   *    positive — a zero-norm vector is penalty-neutral;
   *  - `sim_u = floor(1e6·cosine)`; the running max-similarity-to-
   *    selected starts EMPTY, not at zero, so a negative cosine stays a
   *    diversity bonus;
   *  - the score is `rel_u·relW − sim_u·penW` (`rel_u·relW` while
   *    nothing is selected), in overflow-checked arithmetic, so an
   *    overflow fails the query instead of wrapping;
   *  - the argmax is score descending, then the smaller doc_id; a null
   *    `rel_u` scores null and ranks below every non-null score.
   *
   * Plan: ONE pass — the candidates join their vectors, group by q_id,
   * and each query's whole k-step selection runs inside one task in JVM
   * code, so the re-rank is one shuffle with no driver round trip per
   * step and nothing persisted. A task holds one query's candidate list
   * at a time, so memory is candidate-list-proportional (≤ |candidates|
   * rows per probe), never corpus-proportional.
   */
  def mmrRerank(candidates: DataFrame, vecs: DataFrame, idCol: String,
                vecCol: String, k: Int, relW: Long = 1L,
                penW: Long = 33L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(relW >= 0 && penW >= 0,
      s"weights must be non-negative, got relW=$relW penW=$penW")
    val out = StructType(Seq(StructField("q_id", LongType),
      StructField("rank", IntegerType), StructField("doc_id", LongType),
      StructField("mmr_u", LongType)))
    candidates
      .select(col("q_id").cast("long").as("q_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rel_u").cast("long").as("rel_u"))
      .filter(col("q_id").isNotNull)
      .join(vecs.select(col(idCol).cast("long").as("doc_id"),
        col(vecCol).cast("array<double>").as("__v")), "doc_id")
      .select(col("q_id"), col("doc_id"), col("rel_u"), col("__v"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroups((q: Long, rows: Iterator[Row]) =>
        mmrSelect(q, rows.toArray, k, relW, penW))(Encoders.row(out))
  }

  /** One query's greedy selection over its (q_id, doc_id, rel_u, __v)
    * rows, by the rules of [[mmrRerank]]. */
  private def mmrSelect(q: Long, cands: Array[Row], k: Int, relW: Long,
                        penW: Long): Seq[Row] = {
    val n = cands.length
    val doc = cands.map(_.getLong(1))
    val rel = cands.map(r => if (r.isNullAt(2)) None else Some(r.getLong(2)))
    val vec = cands.map(r =>
      if (r.isNullAt(3)) null else r.getSeq[java.lang.Double](3).toArray)
    val norm = vec.map(v => if (v == null) 0.0 else math.sqrt(dot(v, v)))
    // running max similarity to the selected set; None = empty set
    val sim = Array.fill[Option[Long]](n)(None)
    val picked = new Array[Boolean](n)
    // argmax order: score (a null score below every other), then the
    // smaller doc_id
    val order = Ordering.Tuple2(Ordering[Option[Long]], Ordering[Long].reverse)
    val sel = Seq.newBuilder[Row]
    for (t <- 1 to math.min(k, n)) {
      val (best, score) = (0 until n).filterNot(picked).map { i =>
        val pen = sim(i).fold(0L)(Math.multiplyExact(_, penW))
        i -> rel(i).map(r => Math.subtractExact(Math.multiplyExact(r, relW), pen))
      }.maxBy { case (i, s) => (s, doc(i)) }(order)
      picked(best) = true
      sel += Row(q, t, doc(best), score.map(Long.box).orNull)
      for (i <- 0 until n if !picked(i)) {
        val den = norm(i) * norm(best)
        val cos =
          if (vec(i) == null || vec(best) == null || !(den > 0.0)) 0.0
          else dot(vec(i), vec(best)) / den
        val s = math.floor(cos * 1000000.0).toLong
        sim(i) = Some(sim(i).fold(s)(math.max(_, s)))
      }
    }
    sel.result()
  }

  /** [[graft.plans.DotProduct]]'s fold on boxed elements. */
  private def dot(a: Array[java.lang.Double],
                  b: Array[java.lang.Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a(i) != null && b(i) != null)
        s += a(i).doubleValue * b(i).doubleValue
      i += 1
    }
    s
  }

  /**
   * The standard two-leg hybrid: integer-exact Okapi BM25 over the text
   * corpus fused with exact cosine top-k over the embedding corpus,
   * both legs cut at `kPerLeg`, fused list cut at `k`. Probes must
   * carry the same id in both spaces (doc text and doc embedding).
   * Self-match contract (both legs): a probe whose id also exists in
   * the corpus never retrieves itself — the dense leg excludes it by
   * id inside [[Similarity.cosineTopK]] and the lexical leg filters
   * `q_id = doc_id` pairs here, so RRF fuses two legs with one
   * contract instead of the lexical leg ranking the probe itself at
   * rank 1 (r16 left the legs asymmetric; with disjoint probe/corpus
   * ids — the oracled q130/q131 shape — the filter matches no row).
   *
   * This wrapper's dense leg is an exact full-corpus scan per probe
   * batch — right for a one-shot decontamination pass; for repeated
   * retrieval against a standing corpus, use [[hybridBm25AnnTopK]],
   * which probes the persisted IVF+PQ index instead.
   */
  def hybridBm25CosineTopK(
      docs: DataFrame, docIdCol: String, textCol: String,
      embs: DataFrame, embIdCol: String, vecCol: String,
      probeDocs: DataFrame, probeEmbs: DataFrame,
      kPerLeg: Int, k: Int, k0: Int = 60): DataFrame = {
    val lex = CorpusStats.bm25TopK(docs, docIdCol, textCol,
        probeDocs, docIdCol, textCol, kPerLeg)
      .filter(col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"), col("rank"))
    val den = Similarity.cosineTopK(embs, probeEmbs, embIdCol, vecCol, kPerLeg)
      .select(col("query_id").as("q_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, den), k, k0)
  }

  /**
   * The production hybrid: the lexical BM25 leg fused with a dense leg
   * that searches the PERSISTED IVF+PQ index
   * ([[AnnIndex.ivfPqTopKBucketed]], built once by
   * [[AnnIndex.writeAnnIndex]] under `base`) instead of brute-force
   * scanning the embedding corpus. Per-probe dense work drops from
   * |corpus| exact cosines to ~(nProbe/nCentroids)·|corpus| ADC table
   * lookups over m-byte codes against a bucket-pruned scan — the shape
   * that survives repeated retrieval at 100 TB, at the price of ANN
   * recall (bounded below vs the exact hybrid in RetrievalSpec; the
   * index build parameters, not this wrapper, set that trade).
   *
   * `probeDocs` must carry `docIdCol`+`textCol`, `probeEmbs` the same
   * ids under `embIdCol` plus `vecCol` vectors of the index's
   * dimension. Self-match contract matches [[hybridBm25CosineTopK]]:
   * the index search drops `neighbor_id = query_id` pairs, the lexical
   * leg filters `q_id = doc_id`. Output: q_id, rank (1..k), doc_id,
   * rrf_u — identical schema to the exact wrapper, so the two swap
   * freely. Each leg picks its own plan from the probe batch it
   * observes ([[ProbeBound]]).
   */
  def hybridBm25AnnTopK(
      spark: SparkSession,
      docs: DataFrame, docIdCol: String, textCol: String,
      probeDocs: DataFrame, probeEmbs: DataFrame,
      embIdCol: String, vecCol: String, base: String,
      kPerLeg: Int, k: Int, k0: Int = 60, nProbe: Int = 4): DataFrame = {
    val lex = CorpusStats.bm25TopK(docs, docIdCol, textCol,
        probeDocs, docIdCol, textCol, kPerLeg)
      .filter(col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"), col("rank"))
    val den = AnnIndex.ivfPqTopKBucketed(spark, probeEmbs, embIdCol,
        vecCol, kPerLeg, base, nProbe)
      .select(col("query_id").as("q_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, den), k, k0)
  }

  /**
   * The FULLY-standing hybrid (r18): both legs answer from persisted
   * state — the lexical leg from the [[LexIndex]] postings table
   * (`lexBase`), the dense leg from the [[AnnIndex]] IVF+PQ index
   * (`annBase`) — so a probe batch touches NO corpus-sized input at
   * all: per-batch work is probe-vocabulary-proportional postings reads
   * plus bucket-pruned ADC lookups. This is the steady state of a
   * standing retrieval service at 100 TB; [[hybridBm25AnnTopK]] (which
   * still re-explodes the corpus for its lexical leg each call) remains
   * the one-shot/decontamination shape where no lexical index exists
   * yet.
   *
   * Result parity: with `lexBase` built over exactly `docs` and
   * `annBase` over the corpus embeddings, the output is bit-identical
   * to [[hybridBm25AnnTopK]] over those corpora (LexIndexSpec) — the
   * lexical leg is bit-identical by [[LexIndex.bm25TopKIndexed]]'s
   * contract and the dense leg is the same index search. Self-match
   * contract and output schema (q_id, rank, doc_id, rrf_u) are
   * unchanged, so all three hybrids swap freely.
   */
  def hybridStandingTopK(
      spark: SparkSession,
      probeDocs: DataFrame, docIdCol: String, textCol: String,
      probeEmbs: DataFrame, embIdCol: String, vecCol: String,
      lexBase: String, annBase: String,
      kPerLeg: Int, k: Int, k0: Int = 60, nProbe: Int = 4): DataFrame = {
    val lex = LexIndex.bm25TopKIndexed(spark, probeDocs, docIdCol,
        textCol, lexBase, kPerLeg)
      .filter(col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"), col("rank"))
    val den = AnnIndex.ivfPqTopKBucketed(spark, probeEmbs, embIdCol,
        vecCol, kPerLeg, annBase, nProbe)
      .select(col("query_id").as("q_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, den), k, k0)
  }
}
