package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Release the persisted blocks behind an eagerly local-checkpointed
    * DataFrame (its analyzed plan is one LogicalRDD leaf). Only call
    * once NOTHING will read the frame again: a local checkpoint has no
    * lineage, so unpersisted blocks are unrecoverable by design. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Cosine with the zero-norm convention of [[ProductQuant.cosArr]]:
    * a degenerate (all-zero) vector scores 0.0 against anything. The
    * norms gate the DIVISION itself — under ANSI mode (Spark 4's
    * default) 0/0 is a runtime error, so an after-the-fact `nanvl`
    * never gets to run; the `when` keeps the divisor provably
    * non-zero. Same sequential-fold dot product as
    * [[Similarity.cosine]], so the non-degenerate path is
    * bit-identical. */
  private def guardedCosine(a: Column, b: Column): Column = {
    val den = Similarity.l2Norm(a) * Similarity.l2Norm(b)
    when(den > lit(0.0), Similarity.dot(a, b) / den).otherwise(lit(0.0))
  }

  /**
   * Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
   * 1998 — public) of a per-query candidate list: greedily select `k`
   * candidates maximizing `rel_u·relW − penW·max_{s∈selected} sim_u(d,s)`
   * — relevance traded against redundancy with what is already picked,
   * the diversification step a retrieval-augmented pipeline runs after
   * fusion so near-duplicate passages don't crowd out coverage.
   *
   * Exact-replay discipline: `rel_u` is an integer relevance (e.g.
   * [[rrfFuse]]'s `rrf_u`), the similarity penalty is the cosine
   * quantized to integer micro-units — `floor(1e6·cosine)`, where the
   * cosine double is bit-identical across engines (sequential-fold dot
   * product, q40's proven parity) — so every MMR score is an exact
   * BIGINT and the greedy argmax (ties to the smaller doc_id) replays
   * deterministically anywhere. A zero-norm embedding's cosine is
   * defined as 0.0 ([[guardedCosine]] — the convention of
   * [[ProductQuant.cosArr]]), so a degenerate vector is penalty-neutral
   * instead of erroring under ANSI mode (or NaN-poisoning the greedy
   * order with ANSI off); external SQL replaying the penalty must
   * apply the same convention if its corpus can hold zero vectors.
   *
   * `candidates` must be unique per (q_id, doc_id) with integral
   * `rel_u`; rows whose doc_id has no row in `vecs` are dropped (inner
   * join — a candidate without an embedding cannot be diversified
   * against). Output: q_id, rank (1..k, selection order), doc_id,
   * mmr_u (the score AT selection; rank 1's is `rel_u·relW`). Queries
   * with fewer than `k` candidates yield that many rows.
   *
   * Plan: the greedy loop unrolls at plan-build time (k is small by
   * contract), carrying ONE state table of all candidates — unselected
   * rows hold the running `sim_u = max similarity-to-selected` (null =
   * empty set), selected rows ride along frozen with their selection
   * `rank`/`mmr_u` —
   * `max_{s∈S∪{p}} sim(d,s) = greatest(max_{s∈S} sim(d,s), sim(d,p))`,
   * so each step joins the state to the ONE newly picked row per q_id
   * (the argmax struct carries the winner's vector out of the
   * aggregate — no self-join to recover it) and computes |remaining|
   * cosines, not |remaining|·|selected|. Every side is candidate-list-
   * proportional (≤ |probes|·|candidates| rows), never corpus-
   * proportional. Each step's state is an EAGER local checkpoint, not
   * a cache pin: a pin short-circuits execution but leaves the logical
   * tree intact, and a growing self-referencing tree blows up ANALYSIS
   * (the first formulation referenced the selection 3× per step —
   * ~3^k copies of the upstream retrieval tree, measured 36 s of
   * driver-side analysis at sf0.1 before any task ran).
   * `localCheckpoint(eager=true)` rewrites the step to a LogicalRDD,
   * so analysis stays O(step) — and because the selected rows live IN
   * the state, step t's checkpoint fully supersedes step t−1's, whose
   * blocks are released immediately (r16 kept per-step pick frames
   * alive for a final union, so no intermediate checkpoint was ever
   * safe to free; executor storage grew by the whole state chain per
   * call). Peak pinned storage is now ≤ 2 state snapshots regardless
   * of k or call count. (Local checkpoints do not survive executor
   * loss; for a multi-hour cluster backfill, write the candidate list
   * to a table first and re-rank from that scan.)
   */
  def mmrRerank(candidates: DataFrame, vecs: DataFrame, idCol: String,
                vecCol: String, k: Int, relW: Long = 1L,
                penW: Long = 33L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(relW >= 0 && penW >= 0,
      s"weights must be non-negative, got relW=$relW penW=$penW")
    // state: every candidate, its vector, the running max-similarity-
    // to-selected (`sim_u`, null = empty set — `greatest` skips nulls,
    // so the first fold takes the raw value even when it is negative;
    // a zero init would wrongly clamp negative-cosine "bonuses"), and
    // the selection slot (`rank`/`mmr_u`, null = not yet picked)
    var state = candidates
      .select(col("q_id").cast("long").as("q_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rel_u").cast("long").as("rel_u"))
      .join(vecs.select(col(idCol).cast("long").as("doc_id"),
        col(vecCol).cast("array<double>").as("__v")), "doc_id")
      .withColumn("sim_u", lit(null).cast("long"))
      .withColumn("rank", lit(null).cast("int"))
      .withColumn("mmr_u", lit(null).cast("long"))
      // r20 (§2.4 — establish the partitioning once): hash the state on
      // q_id BEFORE the first checkpoint. LogicalRDD preserves the
      // physical partitioning across (local)checkpoints, so every
      // step's per-q_id argmax aggregate AND its join-back to the state
      // are co-partitioned and plan ZERO exchanges — previously each of
      // the k steps paid two (aggregate + join), over a candidate-list-
      // sized state where the exchanges were pure fixed overhead. No N
      // is pinned: AQE sizes (and locally coalesces) the one shuffle.
      .repartition(col("q_id"))
      .localCheckpoint(true)
    def mmr = col("rel_u") * lit(relW) -
      coalesce(col("sim_u") * lit(penW), lit(0L))
    for (t <- 1 to k) {
      // per-q_id argmax over the UNSELECTED rows as an integer-
      // lexicographic struct max — (score desc, doc_id asc) exactly
      // like the topK kernel; `max` ignores the nulls the `when`
      // assigns to already-selected rows, and a query whose candidates
      // are all selected yields a null struct (filtered from the pick
      // side, so the left join leaves its state untouched)
      val pv = state.groupBy(col("q_id"))
        .agg(max(when(col("rank").isNull,
          struct(mmr.as("m"), (col("doc_id") * lit(-1L)).as("nd"),
            col("doc_id").as("doc_id"), col("__v").as("__pv")))).as("__p"))
        .filter(col("__p").isNotNull)
        .select(col("q_id"), col("__p.doc_id").as("__pid"),
          col("__p.m").as("__pm"), col("__p.__pv").as("__pv"))
      val prev = state
      state = state.join(pv, Seq("q_id"), "left")
        .select(col("q_id"), col("doc_id"), col("rel_u"), col("__v"),
          when(col("rank").isNotNull || col("__pid").isNull ||
              col("doc_id") === col("__pid"), col("sim_u"))
            .otherwise(greatest(col("sim_u"),
              floor(guardedCosine(col("__v"), col("__pv"))
                * lit(1000000.0)))).as("sim_u"),
          when(col("doc_id") === col("__pid") && col("rank").isNull,
            lit(t)).otherwise(col("rank")).cast("int").as("rank"),
          when(col("doc_id") === col("__pid") && col("mmr_u").isNull,
            col("__pm")).otherwise(col("mmr_u")).as("mmr_u"))
        .localCheckpoint(true)
      releaseCheckpoint(prev)
    }
    // the returned frame reads the LAST state checkpoint directly — one
    // bounded candidate-list-sized snapshot that ContextCleaner frees
    // when the caller drops the frame. (An eager output checkpoint
    // would free it immediately but costs one more per-call job — on
    // the 50-probe bench shape the k+2nd job is ~10% of the whole
    // re-rank; the superseded-chain release above is where the real
    // storage was.)
    state.filter(col("rank").isNotNull)
      .select(col("q_id"), col("rank"), col("doc_id"), col("mmr_u"))
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
