package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Engine extension point: registers graft's native Catalyst expressions
 * so they resolve by name in any DataFrame/SQL context.
 *
 * Installed at session build time —
 * `SparkSession.builder().withExtensions(new GraftExtensions)` — by
 * `core.Sessions.local`, `Bench` and `Verify`. Library operators do not
 * need it: they build their kernels as Columns (`plans.Kernels`), which
 * carry the expression itself and resolve on any session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"), DotProduct.info,
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_intersect_count"),
      SortedIntersectCount.info,
      (children: Seq[Expression]) =>
        SortedIntersectCount(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_topk"), TopKByScore.info,
      (children: Seq[Expression]) =>
        TopKByScore(children.head, children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      SortedShingleHashes.info,
      (children: Seq[Expression]) =>
        SortedShingleHashes(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_nfc"), NfcNormalize.info,
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_window_hashes"),
      WindowHashes.info,
      (children: Seq[Expression]) =>
        WindowHashes(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_kmv"), KmvSketch.info,
      (children: Seq[Expression]) =>
        KmvSketch(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_pq_encode"),
      PqEncodeCodes.info,
      (children: Seq[Expression]) =>
        PqEncodeCodes(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_adc_dist"),
      PqAdcDist.info,
      (children: Seq[Expression]) =>
        PqAdcDist(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      MinHashSigs.info,
      (children: Seq[Expression]) =>
        MinHashSigs(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_lsh_bucket"),
      LshBucket.info,
      (children: Seq[Expression]) =>
        LshBucket(children.head, children(1), children(2))))
    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      SimHash64.info,
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_quantize_int8"),
      QuantizeInt8.info,
      (children: Seq[Expression]) => QuantizeInt8(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_tokens"),
      Tokens.info,
      (children: Seq[Expression]) => Tokens(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_md5h60"),
      Md5Hash60.info,
      (children: Seq[Expression]) => Md5Hash60(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_window_grams"),
      WindowGrams.info,
      (children: Seq[Expression]) =>
        WindowGrams(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_eq_count"),
      EqCount.info,
      (children: Seq[Expression]) => EqCount(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_count_in"),
      CountIn.info,
      (children: Seq[Expression]) => CountIn(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_bpe_encode"),
      BpeEncodeIds.info,
      (children: Seq[Expression]) =>
        BpeEncodeIds(children.head, children(1))))
    ext.injectFunction((FunctionIdentifier("graft_bpe_decode"),
      BpeDecodeIds.info,
      (children: Seq[Expression]) =>
        BpeDecodeIds(children.head, children(1))))
  }
}
