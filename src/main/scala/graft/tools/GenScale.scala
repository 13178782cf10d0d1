package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-fixture generator for the scale rehearsals (VERDICT r9 task 1;
 * extended round 11 to arbitrary replica counts for a third scale
 * point).
 *
 * Produces an N× replica-union of the driver's sf0.1 tables at
 * `testdata_sf1/` (or any outDir) INSIDE the repo (the driver's
 * /root/testdata is read-only). Replica k of a row gets every key/id
 * column offset by k·10⁸ — all keys in the source are < 10⁸ and both
 * sides of every FK are offset identically, so join cardinalities
 * scale exactly N×.
 *
 * Content perturbation is chosen so the DATA DISTRIBUTION scales
 * honestly — naive row duplication would turn every document into an
 * N-way exact-duplicate cluster and quadratically inflate the
 * near-dup candidate space, measuring a data artifact instead of the
 * plan:
 *  - documents.text: per-replica alphabet permutation — an affine map
 *    i → a·i + b (mod 26) over [a-z] and [A-Z] (a coprime to 26, so a
 *    bijection) and a shift over [0-9]. Length-preserving, so n_chars
 *    stays valid and bytes scale exactly N×; word shapes and
 *    within-replica duplicate structure are identical to the
 *    original; across replicas letter vocabularies are pairwise
 *    distinct (no two replicas share an (a, b)), so the dup/near-dup
 *    structure is N ~independent copies of sf0.1's. For k < 26 the
 *    map degenerates to a = 1 (a caesar rotation by k), reproducing
 *    the committed sf1 fixtures bit-for-bit.
 *  - embeddings.embedding: an orthogonal transform per replica —
 *    rotate the vector by k mod 64 dimensions, then for k ≥ 64 negate
 *    the dimensions selected by bit (k/64 − 1) of the position index.
 *    Both factors are exact in floating point (a permutation reorders
 *    the summands of every inner product; ±1 scaling is lossless), so
 *    norms, pairwise similarities, and cluster structure are
 *    preserved within a replica to the same fidelity as the original
 *    rotation-only scheme; distinct k give distinct (rotation, flip)
 *    pairs, so replicas land in pairwise-distinct orientations. For
 *    k < 64 the flip arm is inactive and the transform is the
 *    committed sf1/sf4 rotation, bit-for-bit.
 * Everything else (prices, dates, flags) is copied verbatim: N×
 * density in the same value ranges, which is what a grown corpus
 * looks like.
 *
 * Usage: GenScale [srcDir] [outDir] [replicas]
 *   sf1:  GenScale /root/testdata/sf0.1 testdata_sf1 10
 *   sf4:  GenScale /root/testdata/sf0.1 testdata_sf4 40
 *   sf16: GenScale /root/testdata/sf0.1 testdata_sf16 160
 */
object GenScale {
  private val Stride = 100000000L // > every source key; FK-consistent offset

  // multiplicative units mod 26: each defines a bijection on the alphabet
  private val Units26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Affine permutation of `alphabet` for replica k: position i maps to
    * alphabet[(a·i + b) mod len] with a = Units26(k / 26), b = k % 26.
    * Requires len ∈ {26} for the affine arm; shorter alphabets (digits)
    * use the pure shift. */
  private[tools] def perm(alphabet: String, k: Int): String = {
    val len = alphabet.length
    if (len == 26) {
      val a = Units26((k / 26) % Units26.length)
      val b = k % 26
      (0 until len).map(i => alphabet((a * i + b) % len)).mkString
    } else alphabet.drop(k % len) + alphabet.take(k % len)
  }

  /** Replica k's orthogonal embedding transform, as (rotation, flip
    * pattern): rotate by `rot` dimensions, then negate positions j
    * (0-based, post-rotation) whose bit (`flip` − 1) is set; flip = 0
    * means no negation. Distinct k give distinct pairs (a signed
    * permutation matrix is determined by its permutation and its
    * diagonal), so no two replicas share an orientation. */
  private[tools] def rotFlip(k: Int): (Int, Int) = (k % 64, k / 64)

  /** Pure-Scala model of the embedding transform (the SQL in `main`
    * mirrors this); exercised by GenScaleSpec for orthogonality and
    * pairwise distinctness. */
  private[tools] def applyEmbed(v: Vector[Double], k: Int): Vector[Double] = {
    val (rot, flip) = rotFlip(k)
    val rotated = v.drop(rot) ++ v.take(rot)
    if (flip == 0) rotated
    else rotated.zipWithIndex.map { case (x, j) =>
      if (((j >> (flip - 1)) & 1) == 1) -x else x
    }
  }

  /** Union of `replicas` copies of `df`, each with its key columns
    * offset and an optional per-replica content transform applied. */
  private def replicate(df: DataFrame, keyCols: Seq[String], replicas: Int,
                        perturb: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until replicas).map { k =>
      val keyed = keyCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(k * Stride))
      }
      perturb(keyed, k)
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "testdata_sf1"
    val Replicas = if (args.length > 2) args(2).toInt else 10
    // the letter permutations allow 12·26 distinct (a, b) pairs, the
    // embedding transforms 64 rotations × 7 flip patterns — the letter
    // arm binds first
    require(Replicas >= 1 && Replicas <= 312,
      s"replicas must be in [1, 312], got $Replicas")
    val spark = SparkSession.builder()
      .master(s"local[${graft.runner.Main.envCpus(8)}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
      System.err.println(s"[genscale] wrote $t")
    }

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    val from = lower + upper + digits

    // part-file counts scale with the replica count so per-partition
    // bytes stay roughly constant across generated SFs
    val pScale = math.max(1, Replicas / 10)

    write(replicate(read("documents"), Seq("doc_id"), Replicas, { (d, k) =>
      if (k == 0) d
      else {
        val to = perm(lower, k) + perm(upper, k) + perm(digits, k)
        d.withColumn("text", translate(col("text"), from, to))
      }
    }), "documents", 16 * pScale)

    write(replicate(read("embeddings"), Seq("vec_id"), Replicas, { (d, k) =>
      val (rot, flip) = rotFlip(k)
      if (k == 0) d
      else {
        val rotated =
          if (rot == 0) "embedding"
          else s"concat(slice(embedding, ${rot + 1}, size(embedding) - $rot), " +
            s"slice(embedding, 1, $rot))"
        val flipped =
          if (flip == 0) rotated
          else s"transform($rotated, (x, j) -> " +
            s"IF(shiftright(j, ${flip - 1}) % 2 = 1, -x, x))"
        d.withColumn("embedding", expr(flipped))
      }
    }), "embeddings", 8 * pScale)

    val id = (d: DataFrame, _: Int) => d
    write(replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"), Replicas, id),
      "lineitem", 32 * pScale)
    write(replicate(read("orders"),
      Seq("o_orderkey", "o_custkey"), Replicas, id), "orders", 16 * pScale)
    write(replicate(read("customer"), Seq("c_custkey"), Replicas, id),
      "customer", 4 * pScale)
    write(replicate(read("supplier"), Seq("s_suppkey"), Replicas, id),
      "supplier", 2 * pScale)
    write(replicate(read("part"), Seq("p_partkey"), Replicas, id),
      "part", 4 * pScale)
    write(replicate(read("events"),
      Seq("event_id", "user_id"), Replicas, id), "events", 8 * pScale)
    // tiny dims: FKs (c_nationkey etc.) are NOT offset, so keep the dims
    // as-is — every replica shares the same 25 nations / 5 regions
    write(read("nation"), "nation", 1)
    write(read("region"), "region", 1)

    spark.stop()
  }
}
