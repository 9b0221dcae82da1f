package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.FoldLocalAggregate

/** The engine's one session hook: the optimizer rule
  * [[graft.plans.FoldLocalAggregate]] and the SQL functions over the
  * custom Catalyst expressions, so `spark.sql("SELECT graft_simhash64(...)")`
  * works alongside the Column API.
  *
  * Spark builds every session's extensions from each
  * `SparkSessionExtensionsProvider` that `java.util.ServiceLoader` finds,
  * and `META-INF/services` names this class, so every session built
  * with graft on the classpath carries both from its first query, with
  * no setup call and no `spark.sql.extensions` setting (which would
  * apply the provider a second time). `spark.newSession()` shares its
  * parent's extensions.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPreCBORule(_ => FoldLocalAggregate)
    def evalInt(x: Expression): Int = x.eval().asInstanceOf[Number].intValue()
    def evalString(x: Expression): String = x.eval().asInstanceOf[UTF8String].toString
    def fn[E <: Expression: ClassTag](name: String, usage: String)(build: Seq[Expression] => E): Unit =
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classTag[E].runtimeClass.getName, null, name, usage,
          "", "", "", "", "", "", "scala_udf"),
        build))
    fn("graft_simhash64", "64-bit simhash of a token array")(
      exprs => SimHash64(exprs.head))
    fn("graft_tokens", "single-pass whitespace tokenization")(
      exprs => WhitespaceTokens(exprs.head))
    fn("graft_bpeish_tokens", "letter/digit/punct pre-tokenization")(
      exprs => BpeishTokens(exprs.head))
    fn("graft_word_shingles", "n-token shingles of a token array")(
      exprs => WordShingles(exprs.head, evalInt(exprs(1))))
    fn("graft_cosine", "tight-loop cosine similarity of two float/double arrays")(
      exprs => CosineSimExpr(exprs.head, exprs(1)))
    fn("graft_minhash_sig", "row-local k-hash MinHash signature of a shingle array")(
      exprs => MinhashSignature(exprs.head, evalInt(exprs(1))))
    fn("graft_repetition", "one-pass Gopher repetition stats of a token array")(
      exprs => RepetitionStats(exprs.head, evalInt(exprs(1))))
    fn("graft_gopher_stats", "single-sweep Gopher rule counts of a document")(
      exprs => GopherStats(exprs.head, evalString(exprs(1))))
    fn("graft_c4_stats", "single-sweep C4 line cleaning of a document")(
      exprs => C4Stats(exprs.head, evalString(exprs(1)), evalInt(exprs(2))))
    fn("graft_nfc_normalize", "Unicode NFC composition (codegen'd scalar)")(
      exprs => NfcNormalize(exprs.head))
  }
}
