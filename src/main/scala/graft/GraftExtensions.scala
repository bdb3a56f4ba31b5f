package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{CosineSimilarity, HammingDistance, NfcNormalize}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions in the SQL function registry so they are usable
  * from `spark.sql` text exactly like built-ins (including inside the
  * dashboard-SQL surface), and injects the two optimizer rules
  * ([[graft.plans.PushTimestampConversionBounds]],
  * [[graft.plans.LevenshteinLengthBound]]).
  *
  * Activate with [[GraftSession.local]] (which installs it through
  * the builder's `withExtensions`) or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.function("cosine_similarity",
        classOf[CosineSimilarity], "cosine_similarity(arrayA, arrayB)", 2) {
      c => CosineSimilarity(c.head, c(1))
    })
    ext.injectFunction(GraftExtensions.function("hamming_distance",
        classOf[HammingDistance], "hamming_distance(strA, strB)", 2) {
      c => HammingDistance(c.head, c(1))
    })
    ext.injectFunction(GraftExtensions.function("nfc_normalize",
        classOf[NfcNormalize], "nfc_normalize(str)", 1) {
      c => NfcNormalize(c.head)
    })
    ext.injectOptimizerRule(_ => graft.plans.PushTimestampConversionBounds)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinLengthBound)
  }
}

object GraftExtensions {

  private def function(name: String, cls: Class[_], usage: String,
      arity: Int)(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$usage takes $arity argument${if (arity == 1) "" else "s"}")
        build(children)
      })
}
