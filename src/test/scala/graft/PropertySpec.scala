package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Scd
import graft.ops.layout

/**
 * Property-style tests: randomized inputs (scalacheck generators with a
 * FIXED seed, so failures reproduce) against invariants that must hold
 * for every input, not just the hand-picked examples in the unit specs.
 */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("zorder2 round-trips: de-interleaving recovers (x, y) for random points") {
    import spark.implicits._
    val pts = sample(Gen.listOfN(500,
      Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))), 7L)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        layout.zorder2(col("x"), col("y")).as("z"))
      .collect()
    got.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // reference de-interleave: even bits → x, odd bits → y
      val rx = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val ry = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert((rx, ry) === (x, y), s"z=$z did not round-trip")
    }
  }

  test("zorder2 is monotone on each axis when the other is fixed") {
    import spark.implicits._
    val xs = sample(Gen.listOfN(200, Gen.chooseNum(0L, 65534L)), 11L)
    val rows = xs.map(x => (x, x + 1, 12345L)).toDF("a", "b", "fixed")
      .select(layout.zorder2(col("a"), col("fixed")).as("za"),
        layout.zorder2(col("b"), col("fixed")).as("zb"),
        layout.zorder2(col("fixed"), col("a")).as("wa"),
        layout.zorder2(col("fixed"), col("b")).as("wb"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "x-axis order not preserved")
      assert(r.getLong(2) < r.getLong(3), "y-axis order not preserved")
    }
  }

  test("scd2 invariants hold on a randomized change log") {
    import spark.implicits._
    // ~400 changes over 12 keys with 3 attribute values → plenty of
    // repeats (compression) and interleavings; timestamps strictly
    // increase with the sequence so interval ordering is unambiguous
    val changes = sample(Gen.listOfN(400,
      Gen.zip(Gen.chooseNum(0L, 11L), Gen.oneOf("A", "B", "C"))), 13L)
      .zipWithIndex
      .map { case ((u, a), i) =>
        (u, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"),
          i.toLong, a)
      }
    val out = Scd.scd2(changes.toDF("user_id", "ts", "seq", "status"),
        Seq("user_id"), "ts", Seq("seq"), Seq("status"))
      .orderBy("user_id", "valid_from", "valid_to")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getInt(4)))
      .groupBy(_._1)

    assert(out.nonEmpty)
    out.foreach { case (user, rows) =>
      // exactly one open (current) interval per key, and it is the last
      assert(rows.count(_._4.isEmpty) === 1, s"user $user open intervals")
      assert(rows.last._4.isEmpty && rows.last._5 === 1)
      assert(rows.init.forall(_._5 === 0))
      // intervals chain with no gaps or overlaps
      rows.sliding(2).foreach {
        case Array(prev, next) =>
          assert(prev._4.contains(next._3),
            s"user $user: ${prev._4} does not chain to ${next._3}")
          // consecutive versions must actually differ (compression)
          assert(prev._2 !== next._2,
            s"user $user kept a repeated version ${prev._2}")
        case _ => ()
      }
    }
  }

  test("slidingChunks matches the in-memory reference on random docs") {
    import spark.implicits._
    import graft.operators.CorpusStats
    // random docs of 0..40 tokens, random (chunk, stride) with
    // stride ≤ chunk (overlap) and stride > chunk (gaps) alike
    val docs = sample(Gen.listOfN(60,
      Gen.chooseNum(0, 40).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")))), 17L)
      .zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    for ((chunk, stride) <- Seq((5, 3), (4, 4), (3, 5), (1, 1))) {
      val got = CorpusStats.slidingChunks(
          docs.toDF("doc_id", "text"), "doc_id", "text", chunk, stride)
        .collect()
        .map(r => ((r.getLong(0), r.getInt(1)), (r.getString(2), r.getInt(3))))
        .toMap
      val want = docs.flatMap { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        if (toks.isEmpty) Seq.empty
        else (0 to (toks.length - 1) / stride).map { c =>
          val slice = toks.slice(c * stride, c * stride + chunk)
          ((id, c), (slice.mkString(" "), slice.length))
        }
      }.toMap
      assert(got === want, s"chunk=$chunk stride=$stride")
    }
  }

  test("jaccardPairs ≡ brute-force all-pairs on random corpora: the " +
      "prefix filter loses no pair at any threshold") {
    import spark.implicits._
    import graft.operators.Dedup
    // a SMALL vocabulary forces heavy shingle sharing, which is exactly
    // what stresses the prefix filter's completeness bound
    // (|d| - ceil(t|d|) + 1, with the 1e-9 rounding guard): a doc pair
    // may overlap ONLY outside one side's prefix and must still be found
    val vocab = Seq("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
    val docs = sample(Gen.listOfN(40,
      Gen.chooseNum(0, 18).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))),
      23L).zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val n = 3
    def shingleSet(text: String): Set[String] = {
      val toks = text.split(" ")
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    for (t <- Seq(0.25, 0.3, 0.5, 0.75, 0.9)) {
      val got = Dedup.jaccardPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", n, t)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3))))
        .toMap
      val sets = docs.map { case (id, text) => id -> shingleSet(text) }
        .filter(_._2.nonEmpty)
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        common = (sa & sb).size if common > 0
        j = common.toDouble / (sa.size + sb.size - common) if j >= t
      } yield ((a, b), (common.toLong, j))).toMap
      assert(got === want, s"threshold=$t")
    }
  }

  test("qualityBins: bins are in range and monotone in score per stratum") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val rows = sample(Gen.listOfN(300,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0, 50))), 19L)
      .zipWithIndex.map { case ((src, score), i) => (i.toLong, src, score) }
    val got = CorpusStats.qualityBins(rows.toDF("id", "src", "score"),
        "src", col("score"), "id", nBins = 7)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3)))
    assert(got.forall { case (_, _, b) => b >= 1 && b <= 7 })
    got.groupBy(_._1).foreach { case (src, g) =>
      // within a stratum, bins never decrease as the score increases
      val byScore = g.sortBy(_._2)
      byScore.sliding(2).foreach {
        case Array(lo, hi) =>
          assert(lo._3 <= hi._3, s"$src: bin order violated at $lo → $hi")
        case _ => ()
      }
      // near-equal bin sizes (ntile contract: differ by at most 1)
      val sizes = g.groupBy(_._3).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"$src: skewed bins $sizes")
    }
  }

  test("Cron.next on random expressions: strictly later, matching, and " +
      "first within the scan horizon") {
    import graft.runner.Cron
    import java.time.LocalDateTime
    def field(max: Int, seed: Long): String =
      sample(Gen.oneOf(
        Gen.const("*"),
        Gen.chooseNum(0, max).map(_.toString),
        Gen.zip(Gen.chooseNum(0, max / 2), Gen.chooseNum(1, max / 3 + 1))
          .map { case (a, s) => s"$a-${a + max / 2}/$s" },
        Gen.listOfN(3, Gen.chooseNum(0, max)).map(_.distinct.mkString(","))
      ), seed)
    val base = LocalDateTime.of(2026, 3, 14, 9, 26, 53, 123456789)
    for (s <- 1L to 40L) {
      // time-restricted, date-free exprs: the next fire is within 24h,
      // so a brute-force per-second scan can confirm FIRSTNESS
      val expr = s"${field(59, s)} ${field(59, s + 100)} ${field(23, s + 200)} * * *"
      val cron = Cron.parse(expr)
      val from = base.plusSeconds(s * 7919)
      val n = cron.next(from)
      assert(n.isAfter(from), s"$expr: $n !after $from")
      assert(cron.matches(n), s"$expr: next does not match itself")
      // nothing earlier matches (scan at second granularity)
      var t = from.truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
        .plusSeconds(1)
      var steps = 0
      while (t.isBefore(n) && steps < 90000) {
        assert(!cron.matches(t), s"$expr: $t matches before next=$n")
        t = t.plusSeconds(1); steps += 1
      }
      assert(steps < 90000, s"$expr: next=$n more than a day out")
    }
  }

  test("WindowHashes ≡ declarative chain on random arrays with holes") {
    import spark.implicits._
    val tokGen = Gen.oneOf(Gen.const(null: String), Gen.const(""),
      Gen.alphaStr.map(_.take(5)), Gen.const("a b")) // even sep-bearing toks
    val arrays = sample(Gen.listOfN(120,
      Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, tokGen))), 23L)
    val df = arrays.map(Tuple1(_)).toDF("t")
    for (n <- Seq(1, 2, 5)) {
      val kernel = df.select(
          call_function("graft_window_hashes", col("t"), lit(n)).as("h"))
        .collect().map(_.getSeq[Long](0)).toSeq
      val decl = df.select(transform(filter(
          graft.operators.TextAnalysis.ngrams(col("t"), n),
          x => x.isNotNull), g => xxhash64(g)).as("h"))
        .collect().map(_.getSeq[Long](0)).toSeq
      assert(kernel === decl, s"n=$n")
    }
  }
}
