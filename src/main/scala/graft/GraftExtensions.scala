package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{DotProduct, MinHashSig, ShingleHashes, SimHash64}

/** Catalyst-level SQL surface for the native kernels, wired through the
  * public extension point:
  *
  * {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions ... }}}
  *
  * injects `graft_dot`, `graft_minhash_sig`, `graft_simhash64` and
  * `graft_shingle_hashes` into every session's function registry, so
  * plain-SQL / JDBC / thrift users run the same whole-stage-codegen
  * expressions the DataFrame API uses — not UDF shims. It also injects
  * the [[Barrier]] planning strategy (which [[Barrier.of]] otherwise
  * installs on first use). (The scalar model
  * library needs no injection: it compiles to built-in functions; the
  * solver-backed models register as session UDFs via
  * [[graft.api.SqlFunctions.register]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_dot",
      "graft_dot(a, b) - dot product of two array<double> vectors") {
      case Seq(a, b) => DotProduct(a, b)
    })
    ext.injectFunction(fn("graft_minhash_sig",
      "graft_minhash_sig(tokens, k, shingleSize) - k-family MinHash signature over word shingles") {
      case Seq(tokens, k, n) =>
        MinHashSig(tokens, intLit("graft_minhash_sig", "k", k),
          intLit("graft_minhash_sig", "shingleSize", n))
    })
    ext.injectFunction(fn("graft_simhash64",
      "graft_simhash64(tokens) - 60-bit SimHash of a token array") {
      case Seq(tokens) => SimHash64(tokens)
    })
    ext.injectFunction(fn("graft_shingle_hashes",
      "graft_shingle_hashes(tokens, shingleSize) - sorted distinct shingle hash set") {
      case Seq(tokens, n) =>
        ShingleHashes(tokens, intLit("graft_shingle_hashes", "shingleSize", n))
    })
    ext.injectPlannerStrategy(_ => Barrier.Planning)
  }
}

object GraftExtensions {

  private def fn(name: String, usage: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      args => build.applyOrElse(args, (bad: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: wrong argument count ${bad.size}; usage: $usage")))

  /** Hyper-parameters (k, shingleSize) shape the expression itself, so
    * they must be compile-time constants — reject non-foldable args with
    * the function's name instead of a ClassCastException mid-plan. */
  private def intLit(fnName: String, arg: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fnName: $arg must be a literal integer, got ${e.sql}")
    e.eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(
        s"$fnName: $arg must be a literal integer, got $other")
    }
  }
}
