package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expressions for the dedup hash kernels.
  *
  * The builtin-function formulations (`transform` + `xxhash64` per
  * permutation, 64 `aggregate` bit-folds) are semantically right but
  * allocate an intermediate array per pass and re-walk the input k (or 64)
  * times through interpreted lambda plumbing. At corpus scale the kernels
  * are the inner loop of MinHash/SimHash dedup (SURVEY §2 LLM-pipeline
  * extensions; reference near-dup design per columnflow has no analog —
  * this is the training-data-pipeline surface), so they are worth a tight
  * single-pass implementation: one custom `Expression` each, with
  * `doGenCode` emitting a static call that stays inside whole-stage
  * codegen. Hash values are bit-identical to the builtin chain (same
  * XXH64, same seed composition), so plans are interchangeable FOR
  * NON-EMPTY inputs: on an empty array `MinHashes` returns null (no
  * shingles → no signature) where the builtin `array_min`-of-`transform`
  * chain returns an array of k nulls. Callers filter empty shingle sets
  * before hashing (as `Dedup.minhashLshRun` does).
  */
object HashKernels {

  /** seed_i = xxhash64(lit(i)) with Spark's default seed 42 — identical to
    * the builtin `xxhash64(lit(i), h)` fold, which hashes the int literal
    * first and uses the result as the seed for the long. */
  def bandSeeds(k: Int): Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  /** All k minhashes in ONE pass over the base-hash array.
    * Returns null for an empty input (no shingles → no signature). */
  def minhashes(bh: ArrayData, seeds: Array[Long]): ArrayData = {
    val n = bh.numElements()
    if (n == 0) return null
    val k = seeds.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = bh.getLong(j)
      var i = 0
      while (i < k) {
        val v = XXH64.hashLong(h, seeds(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash from per-token hashes in one pass: per-bit majority
    * vote, bit set iff 2*ones >= n (ties set the bit — matches the
    * aggregate-fold formulation, including all-ones for an empty array). */
  def simhash64(th: ArrayData): Long = {
    val n = th.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      var h = th.getLong(j)
      var b = 0
      while (b < 64) {
        counts(b) += (h & 1L).toInt
        h >>>= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2L * counts(b) >= n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  private val md5digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Lower 64 bits of the md5 digest of a string as a SIGNED long — the
    * engine-portable 64-bit hash (bit pattern identical to reading hex
    * digits 17..32 of the digest). Direct byte access; the builtin chain
    * (`conv(substring(md5(c), 17, 16), 16, 10)` + decimal re-signing,
    * `Seeds.portableHash64`) produces the same value through a hex-string
    * and decimal detour — `HashKernelsSpec` asserts equality. */
  def md5Lower64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md5digest.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var acc = 0L
    var i = 8
    while (i < 16) { acc = (acc << 8) | (bytes(i) & 0xffL); i += 1 }
    acc
  }

  /** Column wrapper: portable md5 lower-64 hash of a string. */
  def md5Lower64Col(c: Column): Column =
    ColumnBridge.column(Md5Lower64(ColumnBridge.expression(c)))

  /** Shared analysis-time input check: both kernels require array<bigint>. */
  private[functions] def requireLongArray(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires an input of type array<bigint>, got ${other.catalogString}")
    }

  /** Column wrapper: k minhashes of a pre-hashed shingle array. */
  def minhashesCol(baseHashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashes(ColumnBridge.expression(baseHashes), k))

  /** Column wrapper: 64-bit simhash of a token-hash array. */
  def simhash64Col(tokenHashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokenHashes)))
}

/** `array<long>` base hashes → `array<long>` of k minhashes (one pass). */
case class MinHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "k must be positive")

  // analysis-time check: a wrong input type fails with a readable message
  // instead of a ClassCastException inside generated code
  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.requireLongArray(prettyName, child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty input → null signature
  override def prettyName: String = "graft_minhashes"

  @transient private lazy val seeds: Array[Long] = HashKernels.bandSeeds(k)

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhashes(input.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.HashKernels.minhashes($c, $seedsRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashes =
    copy(child = newChild)
}

/** `string` → signed lower-64 bits of its md5 digest (portable hash). */
case class Md5Lower64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_lower64"

  override def nullSafeEval(input: Any): Any =
    HashKernels.md5Lower64(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.md5Lower64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Lower64 =
    copy(child = newChild)
}

/** `array<long>` token hashes → 64-bit SimHash signature (one pass). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    HashKernels.requireLongArray(prettyName, child)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
