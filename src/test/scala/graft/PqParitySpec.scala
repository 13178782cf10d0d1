package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.ProductQuant

/**
 * The compact PQ codegen kernels ([[graft.plans.PqEncodeCodes]],
 * [[graft.plans.PqAdcDist]]) replace unrolled expression trees that
 * broke whole-stage codegen at production m·k. The q113/q114/q122
 * oracles replay their arithmetic bit-exactly in SQL, so the kernels
 * must be BIT-IDENTICAL to the unrolled formulations — including the
 * argmax tie rule, the half-norm constant fold, the left-to-right ADC
 * accumulation, and the null/short-vector edge semantics.
 */
class PqParitySpec extends SparkSpec {

  private def emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def interpreted[T](f: => T): T =
    withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)

  test("graft_pq_encode ≡ unrolled greatest-chain, bit-exact on the corpus") {
    val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 16, k = 16,
      idCol = Some("vec_id"))
    val both = emb.select(col("vec_id"),
        ProductQuant.encode(col("embedding"), model).as("kernel"),
        ProductQuant.encodeUnrolled(col("embedding"), model).as("unrolled"))
      .orderBy("vec_id").collect()
    assert(both.length === 500)
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"vec_id=${r.get(0)}")
    }
  }

  test("graft_pq_encode edge rows: null / empty / short / null-element") {
    import spark.implicits._
    val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 8, k = 4,
      idCol = Some("vec_id"))
    val edge = Seq[(Long, Option[Seq[Option[Double]]])](
      (1L, None),                                  // null vector
      (2L, Some(Seq.empty)),                       // empty
      (3L, Some(Seq.fill(10)(Some(0.25)))),        // shorter than dim
      (4L, Some(Seq(Some(1.0), None, Some(-0.5)))), // null element
      (5L, Some(Seq.fill(64)(Some(-0.0))))         // signed zero
    ).toDF("id", "v").select(col("id"),
      col("v").cast("array<double>").as("v"))
    val rows = edge.select(col("id"),
        ProductQuant.encode(col("v"), model).as("kernel"),
        ProductQuant.encodeUnrolled(col("v"), model).as("unrolled"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1), s"kernel null at id=${r.get(0)}")
      assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"id=${r.get(0)}")
    }
    // null vector = all-zero code word, the greatest-chain's tie result
    assert(rows.head.getSeq[Int](1) === Seq.fill(8)(0))
  }

  test("graft_adc_dist ≡ unrolled element_at chain, bit-exact") {
    val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 16, k = 16,
      idCol = Some("vec_id"))
    val encoded = emb.select(col("vec_id").as("neighbor_id"),
      ProductQuant.encode(col("embedding"), model).as("codes"))
    val queries = emb.filter(col("vec_id") < 8)
    import spark.implicits._
    val qRows = queries
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val tblDf = qRows.toSeq.map { case (qid, qv) =>
      qid -> ProductQuant.distTables(qv, model)
    }.toDF("query_id", "tables")
    val scored = encoded.crossJoin(broadcast(tblDf))
    val rows = scored.select(col("query_id"), col("neighbor_id"),
        ProductQuant.adcDist(model).as("kernel"),
        ProductQuant.adcDistUnrolled(model).as("unrolled"))
      .collect()
    assert(rows.length === 500 * 8)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        s"q=${r.get(0)} n=${r.get(1)}")
    }
  }

  test("both kernels: codegen ≡ interpreted, bit-exact") {
    val model = ProductQuant.fit(emb, "embedding", dim = 64, m = 16, k = 16,
      idCol = Some("vec_id"))
    def encodeRun() = emb.select(col("vec_id"),
        ProductQuant.encode(col("embedding"), model).as("codes"))
      .orderBy("vec_id").collect().map(_.getSeq[Int](1)).toSeq
    assert(encodeRun() === interpreted(encodeRun()))
    def adcRun() = ProductQuant.adcTopK(
        emb.select(col("vec_id"),
          ProductQuant.encode(col("embedding"), model).as("codes")),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5, model)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq
    assert(adcRun() === interpreted(adcRun()))
  }

  test("adc null propagation matches the element_at chain") {
    // hand-built: one null code element, one null table cell
    val rows = spark.sql(
      """SELECT * FROM VALUES
         (1L, array(array(1.0D, 2.0D), array(3.0D, 4.0D)), array(0, 1)),
         (2L, array(array(1.0D, 2.0D), array(3.0D, 4.0D)), array(CAST(NULL AS INT), 1)),
         (3L, array(array(CAST(NULL AS DOUBLE), 2.0D), array(3.0D, 4.0D)), array(0, 1))
         AS t(id, tables, codes)""")
    val out = rows.select(col("id"),
        call_function("graft_adc_dist", col("tables"), col("codes")).as("d"))
      .orderBy("id").collect()
    assert(out(0).getDouble(1) === 5.0) // 1.0 + 4.0
    assert(out(1).isNullAt(1))
    assert(out(2).isNullAt(1))
  }
}
