package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{CompressExpressions, MatchExpressions, MathExpressions, MediaExpressions, TextExpressions, VectorExpressions}

/** Engine extensions, installed with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (done by
  * [[GraftSession]]): registers the codegen'd SQL functions so
  * `spark.sql("SELECT dot_product(a, b) ...")` and the Column API both
  * resolve them (SURVEY §7: SparkSessionExtensions is the sanctioned
  * registration point — no private Spark APIs).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(VectorExpressions.dotProductFunction)
    e.injectFunction(VectorExpressions.nearestCellsFunction)
    e.injectFunction(VectorExpressions.nearestCellIdsFunction)
    e.injectFunction(VectorExpressions.nearestCentroidL2Function)
    e.injectFunction(TextExpressions.nfcNormalizeFunction)
    e.injectFunction(TextExpressions.wordTokensFunction)
    e.injectFunction(TextExpressions.wordShinglesFunction)
    e.injectFunction(TextExpressions.minhashSignatureFunction)
    e.injectFunction(TextExpressions.fixMojibakeFunction)
    e.injectFunction(CompressExpressions.deflatedSizeFunction)
    e.injectFunction(MediaExpressions.aHash64Function)
    e.injectFunction(MediaExpressions.byteHistFunction)
    e.injectFunction(MatchExpressions.multiMatchCountsFunction)
    e.injectFunction(MathExpressions.ieeeLnFunction)
  }
}
