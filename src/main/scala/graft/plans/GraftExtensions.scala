package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{GramCodes3, Jaccard3, Jaccard5W, MinHashFast,
  MinHashK, MinHashSignature, PayloadSigExpr, QDot, QuantizeEmbedding,
  SimHash16, SortedIntersectCount, SortedIntersectCountStr, SrpBuckets,
  TokenNgrams, Winnow}

/** SparkSessionExtensions entry point: registers every graft custom
  * expression as a SQL function, so e.g.
  *   spark.sql("SELECT minhash_signature(text) FROM docs")
  * works when the session is built with
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def litInt(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  private def descriptor(name: String, clazz: Class[_])(
      builder: PartialFunction[Seq[Expression], Expression]): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (args: Seq[Expression]) =>
      builder.applyOrElse(args, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(s"wrong argument count for $name")))

  private[plans] val descriptors: Seq[Descriptor] = Seq(
    descriptor("minhash_signature", classOf[MinHashSignature]) {
      case Seq(text)        => MinHashSignature(text)
      case Seq(text, bands) => MinHashSignature(text, litInt(bands))
    },
    descriptor("minhash_k", classOf[MinHashK]) {
      case Seq(text, k) => MinHashK(text, litInt(k))
    },
    descriptor("simhash16", classOf[SimHash16]) {
      case Seq(text) => SimHash16(text)
    },
    descriptor("jaccard3", classOf[Jaccard3]) {
      case Seq(a, b) => Jaccard3(a, b)
    },
    descriptor("payload_sig", classOf[PayloadSigExpr]) {
      case Seq(text) => PayloadSigExpr(text)
    },
    descriptor("winnow", classOf[Winnow]) {
      case Seq(text)       => Winnow(text)
      case Seq(text, k, w) => Winnow(text, litInt(k), litInt(w))
    },
    descriptor("minhash_fast", classOf[MinHashFast]) {
      case Seq(text, k) => MinHashFast(text, litInt(k))
    },
    descriptor("srp_buckets", classOf[SrpBuckets]) {
      case Seq(qv, firstPlane, bands, rowsPerBand) =>
        SrpBuckets(qv, litInt(firstPlane), litInt(bands), litInt(rowsPerBand))
    },
    descriptor("quantize_embedding", classOf[QuantizeEmbedding]) {
      case Seq(v) => QuantizeEmbedding(v)
    },
    descriptor("qdot", classOf[QDot]) {
      case Seq(a, b) => QDot(a, b)
    },
    descriptor("token_ngrams", classOf[TokenNgrams]) {
      case Seq(text, k) => TokenNgrams(text, litInt(k))
    },
    descriptor("gram_codes3", classOf[GramCodes3]) {
      case Seq(text) => GramCodes3(text)
    },
    descriptor("sorted_intersect_count", classOf[SortedIntersectCount]) {
      case Seq(a, b) => SortedIntersectCount(a, b)
    },
    descriptor("sorted_intersect_count_str", classOf[SortedIntersectCountStr]) {
      case Seq(a, b) => SortedIntersectCountStr(a, b)
    },
    descriptor("jaccard5w", classOf[Jaccard5W]) {
      case Seq(a, b) => Jaccard5W(a, b)
    })
}
