package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity.dot

/**
 * Product quantization for embedding columns (Jégou, Douze, Schmid,
 * "Product quantization for nearest neighbor search", TPAMI 2011 — the
 * memory half of the billion-scale IVF+PQ recipe):
 *
 *  - the vector dimension is split into `m` subspaces; each subspace
 *    gets its own `k`-centroid codebook (k ≤ 256 → one byte per code);
 *  - a vector is stored as `m` small codes — at m=8 that is 8 bytes
 *    instead of dim·4, the difference between an embedding corpus that
 *    fits executor memory at 100 TB and one that does not (int8
 *    quantization in [[Similarity.quantizeInt8]] is the 4× step; PQ is
 *    the 32×+ step);
 *  - queries search WITHOUT decompressing: an m×k table of per-subspace
 *    distances is computed once per query, and a corpus row's distance
 *    is `m` table lookups (asymmetric distance computation, ADC).
 *
 * Scale shape mirrors [[Similarity.ivfTopK]]: codebooks are a driver-fit
 * model artifact over a bounded deterministic sample; encoding is a
 * per-row codegen'd argmax expression (zero shuffle, one corpus pass);
 * ADC search is corpus ⨯ broadcast(query tables) with the mergeable
 * `graft_topk` aggregate, so the shuffle carries k·|Q| rows, never the
 * corpus. Compose with IVF cells to cut the scanned fraction too.
 */
object ProductQuant {

  /** Fitted model: `codebooks(j)(c)` is centroid `c` of subspace `j`;
    * `dim` must be divisible by `m` (pad upstream if not). */
  final case class PqModel(dim: Int, m: Int, k: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim: Int = dim / m
  }

  /** Fit per-subspace codebooks with plain L2 Lloyd over a bounded,
    * hash-ordered (deterministic) driver sample — same model-artifact
    * class as [[Similarity.fitCentroids]], same O(sample²·k) init
    * bound. Empty cells keep their previous centroid. */
  def fit(corpus: DataFrame, vecCol: String, dim: Int, m: Int,
          k: Int = 16, sampleSize: Int = 2048, iters: Int = 8,
          idCol: Option[String] = None): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(k >= 2 && k <= 256, s"need 2 <= k <= 256 codes, got $k")
    val subDim = dim / m
    // deterministic hash-ordered sample; hashing a scalar id is far
    // cheaper than JSON-serializing every vector — pass idCol when the
    // corpus has one
    val orderKey = idCol.map(c => xxhash64(col(c)))
      .getOrElse(xxhash64(to_json(struct(col(vecCol)))))
    val sample: Array[Array[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("v"), orderKey.as("__h"))
      .filter(size(col("v")) === dim)
      .orderBy(col("__h"))
      .limit(sampleSize)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot fit PQ on an empty corpus")

    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map(_.slice(j * subDim, (j + 1) * subDim))
      // farthest-point init (deterministic; spread regardless of order)
      val init = scala.collection.mutable.ArrayBuffer(sub.head)
      while (init.length < math.min(k, sub.length)) {
        var best: Array[Double] = null
        var bestMinD = -1.0
        sub.foreach { v =>
          var minD = Double.MaxValue
          init.foreach(c => minD = math.min(minD, sqDist(v, c)))
          if (minD > bestMinD + 1e-12) { bestMinD = minD; best = v }
        }
        if (best == null) init += init.head else init += best
      }
      var cents = init.toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(cents.length)(new Array[Double](subDim))
        val counts = new Array[Int](cents.length)
        sub.foreach { v =>
          var bi = 0; var bd = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            val d = sqDist(v, cents(c))
            if (d < bd) { bd = d; bi = c }
            c += 1
          }
          var i = 0
          while (i < subDim) { sums(bi)(i) += v(i); i += 1 }
          counts(bi) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
    PqModel(dim, m, k, codebooks)
  }

  /** Per-row PQ encoding: for each subspace, argmin over the codebook
    * of the squared L2 distance — ranked via `x·c − |c|²/2` (the
    * `|x|²` term is constant within a subspace), ties to the smaller
    * code. Returns an array<int> of `m` codes.
    *
    * Implemented by the compact [[graft.plans.PqEncodeCodes]] kernel:
    * the unrolled greatest-over-structs formulation ([[encodeUnrolled]],
    * kept as the reference semantics this is spec-tested against)
    * generated >10k lines of Java at m=16·k=16 and broke whole-stage
    * codegen — janino re-paid a multi-second failed compile on every
    * execution of the plan. */
  def encode(vec: Column, model: PqModel): Column = {
    graft.plans.Kernels.pqEncode(vec.cast("array<double>"),
      typedLit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq))
  }

  /** The unrolled expression-tree formulation of [[encode]] — the
    * reference semantics the codegen kernel is asserted bit-identical
    * to (PqParitySpec). Do not use on the hot path: at production
    * m·k the generated code exceeds janino's limits. */
  private[graft] def encodeUnrolled(vec: Column, model: PqModel): Column = {
    val v = vec.cast("array<double>")
    val codes = (0 until model.m).map { j =>
      val sub = slice(v, j * model.subDim + 1, model.subDim)
      val best = greatest(model.codebooks(j).zipWithIndex.map { case (c, ci) =>
        val score = dot(sub, typedLit(c.toSeq)) - lit(c.map(x => x * x).sum / 2)
        struct(score.as("s"), lit(-ci).as("nc"))
      }.toIndexedSeq: _*)
      (-best.getField("nc")).cast("int")
    }
    array(codes: _*)
  }

  /** Codebook table rows (subspace, code, centroid) — the persisted
    * model layout AND the driver-oracle dump share this flattening, so
    * the two schemas cannot drift apart. */
  def codebookRows(model: PqModel): Seq[(Int, Int, Seq[Double])] =
    for { j <- 0 until model.m; c <- model.codebooks(j).indices }
      yield (j, c, model.codebooks(j)(c).toSeq)

  /** Per-query ADC distance tables: `tables(j)(c)` is the squared L2
    * distance between the query's j-th subvector and codebook centroid
    * `c` — the sequential-fold accumulation order is part of the
    * contract (the driver oracle replays it bit-exactly in SQL). */
  private[graft] def distTables(qv: Array[Double],
                                    model: PqModel): Seq[Seq[Double]] =
    (0 until model.m).map { j =>
      val sub = qv.slice(j * model.subDim, (j + 1) * model.subDim)
      model.codebooks(j).toSeq.map { c =>
        var s = 0.0; var i = 0
        while (i < sub.length) { val d = sub(i) - c(i); s += d * d; i += 1 }
        s
      }
    }

  /** [[distTables]] as a COLUMN over the query-vector column — the
    * DF-native twin for query batches too large to collect. Each cell
    * is a sequential `aggregate` fold over the subspace (acc + (x−y)²
    * element by element), the exact addition order of the driver loop,
    * so both paths produce bit-identical tables (asserted in
    * AnnIndexSpec). Expression size is model-bounded (m·k cells), never
    * query- or corpus-bounded. */
  private[operators] def distTablesCol(v: Column, model: PqModel): Column =
    array((0 until model.m).map { j =>
      val sub = slice(v, j * model.subDim + 1, model.subDim)
      array(model.codebooks(j).toIndexedSeq.map { c =>
        aggregate(zip_with(sub, typedLit(c.toSeq),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d)
      }: _*)
    }: _*)

  /** The `m`-lookup ADC distance of a `codes` row against the
    * broadcast `tables` column — a fixed left-to-right addition chain,
    * never reassociated (oracle replay depends on it). Implemented by
    * the [[graft.plans.PqAdcDist]] loop kernel; [[adcDistUnrolled]]
    * keeps the element_at-chain reference semantics it is spec-tested
    * against. */
  private[graft] def adcDist(model: PqModel): Column =
    graft.plans.Kernels.adcDist(col("tables"), col("codes"))

  private[graft] def adcDistUnrolled(model: PqModel): Column =
    (0 until model.m)
      .map(j => element_at(element_at(col("tables"), j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)

  /** Collapse (query_id, neighbor_id, neg_dist) to per-query nearest-k
    * via the mergeable `graft_topk` aggregate; ties to the smaller id. */
  private[operators] def pqTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.Kernels.topK(col("neg_dist"), col("neighbor_id"),
        lit(k)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), (-col("col.score")).as("sq_dist"))

  /**
   * ADC top-k: score every encoded corpus row against every query via
   * per-query distance tables. The corpus side carries ONLY (id, codes)
   * — `m` ints instead of `dim` doubles — and each row costs `m`
   * element_at lookups. Queries are a bounded broadcast-class set
   * (collected once to build the tables, like IVF's centroid read).
   * Output: (query_id, rank, neighbor_id, sq_dist), nearest first.
   */
  def adcTopK(encoded: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, model: PqModel): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val tables: Seq[(Long, Seq[Seq[Double]])] = qRows.toSeq.map {
      case (qid, qv) => qid -> distTables(qv, model)
    }
    val tblDf = tables.toDF("query_id", "tables")
    val scored = encoded
      .select(col(idCol).cast("long").as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(tblDf))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-adcDist(model)).as("neg_dist"))
    pqTopK(scored, k)
  }

  /**
   * IVF + PQ — the canonical billion-scale composition (the FAISS
   * `IVFx,PQy` index family): coarse Voronoi cells bound WHICH rows are
   * scored (~nProbe/nCentroids of the corpus) while PQ codes bound the
   * BYTES each scored row costs (m codes vs dim doubles). One corpus
   * pass assigns cell + codes together; the probe join prunes on the
   * cell id BEFORE any distance work.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, model: PqModel,
                nCentroids: Int = 16, nProbe: Int = 4,
                centroidIters: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(nCentroids >= 2, s"need >= 2 centroids, got $nCentroids")
    val cents = Similarity.fitCentroids(corpus, idCol, vecCol,
      nCentroids, centroidIters)
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    // ONE corpus pass: cell assignment + PQ encoding side by side —
    // the same pass the persisted index stores
    val assigned = AnnIndex.encodeCorpus(corpus, idCol, vecCol,
      cents.toSeq, model)
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // probes + ADC tables are both tiny driver-side model derivations
    val probeRows: Seq[(Long, Long, Seq[Seq[Double]])] = qRows.toSeq.flatMap {
      case (qid, qv) =>
        val tables = distTables(qv, model)
        cents.sortBy { case (cid, v) => (-cosArr(qv, v), cid) }
          .take(nProbe).map { case (cid, _) => (qid, cid, tables) }
    }
    val probes = probeRows.toDF("query_id", "centroid_id", "tables")
    val scored = assigned.join(broadcast(probes), "centroid_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-adcDist(model)).as("neg_dist"))
    pqTopK(scored, k)
  }

  /** Driver-side cosine with the interleaved single-pass accumulation
    * the probe-selection oracle mirrors (`s / sqrt(na·nb)` — ONE sqrt
    * of the product, not a product of sqrts). */
  private[operators] def cosArr(a: Array[Double], b: Seq[Double]): Double = {
    var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else s / math.sqrt(na * nb)
  }
}
