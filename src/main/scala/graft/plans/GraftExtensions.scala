package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType

/** SQL registration of graft's native kernels, so pure-SQL users
  * (spark.sql, thrift/connect clients, notebook SQL cells) reach the same
  * codegen'd expressions the Column API uses:
  *
  *   graft_vec_dot(a, b)        — fused dot product (VectorKernels)
  *   graft_simhash64(hashes)    — 64-bit SimHash of token hashes
  *   graft_minhashes(hashes, k) — k MinHashes (k must be a literal)
  *   graft_md5_lower64(s)       — portable md5 lower-64 hash
  *
  * Two wiring paths:
  *   - at session build: `.withExtensions(new GraftExtensions)` or
  *     `--conf spark.sql.extensions=graft.plans.GraftExtensions` — how a
  *     1000-executor deployment picks these up with no driver code;
  *   - on a running session: `GraftExtensions.register(spark)` (the
  *     extensions path only applies at build time).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // scale guards (each no-ops unless its session conf flag is set)
    ext.injectOptimizerRule(s => GuardCartesian(s))
    // HOF dot-product → native kernel
    ext.injectOptimizerRule(_ => KernelFusion)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot", "graft_vec_dot(a, b) - fused double dot product of two float/double arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_vec_dot takes (array, array)")
        graft.functions.VecDot(args(0), args(1))
      }),
    (
      FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(hashes) - 64-bit simhash of an array<bigint>"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash64 takes (array<bigint>)")
        graft.functions.SimHash64(args(0))
      }),
    (
      FunctionIdentifier("graft_minhashes"),
      info("graft_minhashes", "graft_minhashes(hashes, k) - k minhashes of an array<bigint>; k literal"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhashes takes (array<bigint>, k)")
        val k = args(1) match {
          case Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_minhashes k must be an integer literal, got $other")
        }
        graft.functions.MinHashes(args(0), k)
      }),
    (
      FunctionIdentifier("graft_md5_lower64"),
      info("graft_md5_lower64", "graft_md5_lower64(s) - signed lower 64 bits of md5(s)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_md5_lower64 takes (string)")
        graft.functions.Md5Lower64(args(0))
      }),
    (
      FunctionIdentifier("graft_token_count"),
      info("graft_token_count", "graft_token_count(s) - one-pass count of [a-z0-9]+ runs in lower(s)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_token_count takes (string)")
        graft.functions.TokenCount(args(0))
      }),
    (
      FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - Unicode NFC normalization (ASCII fast path)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfc takes (string)")
        graft.functions.NfcNormalize(args(0))
      }),
    (
      FunctionIdentifier("graft_edit_within"),
      info("graft_edit_within",
        "graft_edit_within(a, b, k) - banded levenshtein(a,b) <= k; k literal"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_edit_within takes (string, string, k)")
        val k = args(2) match {
          case Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"graft_edit_within k must be an integer literal, got $other")
        }
        graft.functions.EditWithin(args(0), args(1), k)
      }))

  /** Register every kernel on an already-running session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, i, b) =>
      ColumnBridge.registerFunction(spark, id, i, b)
    }
}
