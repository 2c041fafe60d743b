package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property coverage of the native hash kernels (pure JVM — the kernels'
  * eval helpers take ArrayData directly) and the dense solver. */
object KernelProperties extends Properties("HashKernels") {

  private val longs: Gen[List[Long]] = Gen.nonEmptyListOf(Gen.long).map(_.take(64))
  private def arr(xs: List[Long]) = new GenericArrayData(xs.toArray)

  property("simhash of a single token is that token's hash (majority of one)") =
    forAll(Gen.long) { h => HashKernels.simhash64(arr(List(h))) == h }

  property("simhash is order-invariant (bit counts commute)") =
    forAll(longs) { xs =>
      HashKernels.simhash64(arr(xs)) == HashKernels.simhash64(arr(xs.reverse))
    }

  property("duplicating every token preserves the simhash (majority unchanged)") =
    forAll(longs) { xs =>
      HashKernels.simhash64(arr(xs ++ xs)) == HashKernels.simhash64(arr(xs))
    }

  property("minhashes are order-invariant and componentwise monotone under union") =
    forAll(longs, longs) { (xs, ys) =>
      val seeds = HashKernels.bandSeeds(16)
      val mhX = HashKernels.minhashes(arr(xs), seeds).toLongArray
      val shuffled = HashKernels.minhashes(arr(xs.reverse), seeds).toLongArray
      val mhXY = HashKernels.minhashes(arr(xs ++ ys), seeds).toLongArray
      mhX.sameElements(shuffled) && mhXY.zip(mhX).forall { case (u, x) => u <= x }
    }

  property("md5Lower64 matches MessageDigest bytes 8..15 big-endian") =
    forAll(Gen.asciiPrintableStr) { s =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      val expected = (8 until 16).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
      HashKernels.md5Lower64(org.apache.spark.unsafe.types.UTF8String.fromString(s)) == expected
    }
}

/** The text kernels against a plain-JVM reference: `java.util.regex` over
  * the string Spark's `lower()` produces. */
object TextKernelProperties extends Properties("TextKernels") {
  import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  private val text: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "  ", "\t", "\n", ".", ", ", "!?", "-"),
    2 -> Gen.oneOf("the", "and", "of", "It", "A"),
    1 -> Gen.oneOf("\u00e9", "\u00c9", "\u00df", "\u03b8", "\u8a9e", "\u212A", "\u0130",
      "\u0301", "\ud83d\ude00"))).map(_.mkString)

  private def refTokens(s: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(CollationAwareUTF8String.toLowerCase(UTF8String.fromString(s)).toString).toSeq

  property("shingles(s, n) are the n-token windows of the regex tokens, space-joined") =
    forAll(text, Gen.choose(1, 4)) { (s, n) =>
      val got = TextKernels.shingles(UTF8String.fromString(s), n)
        .toObjectArray(StringType).map(_.toString).toSeq
      got == refTokens(s).sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
    }

  property("tokenCount is the number of regex tokens") =
    forAll(text) { s => TextKernels.tokenCount(UTF8String.fromString(s)) == refTokens(s).size }

  property("qualityScore is null without tokens, else the formula bit for bit") =
    forAll(text) { s =>
      val t = refTokens(s)
      val n = t.size.toDouble
      val expected =
        if (t.isEmpty) null
        else java.lang.Double.valueOf(0.5 * math.min(1.0, n / 100.0) + 0.3 * (t.distinct.size / n) +
          0.2 * (t.count(graft.functions.Text.EnglishStopwords.contains) / n))
      TextKernels.qualityScore(UTF8String.fromString(s)) == expected
    }
}

object SolveProperties extends Properties("Trainer.solve") {

  // diagonally dominant systems are well-conditioned and never singular
  private val system: Gen[(Array[Array[Double]], Array[Double])] = for {
    n <- Gen.chooseNum(1, 6)
    entries <- Gen.listOfN(n * n, Gen.chooseNum(-5.0, 5.0))
    b <- Gen.listOfN(n, Gen.chooseNum(-100.0, 100.0))
  } yield {
    val a = Array.tabulate(n, n)((i, j) => entries(i * n + j))
    for (i <- 0 until n) a(i)(i) = 10.0 * n + math.abs(a(i)(i))
    (a, b.toArray)
  }

  property("solutions satisfy the system to near machine precision") =
    forAll(system) { case (a, b) =>
      val x = graft.ml.Trainer.solve(a, b)
      a.indices.forall { i =>
        val got = a(i).zip(x).map { case (c, v) => c * v }.sum
        math.abs(got - b(i)) < 1e-8 * math.max(1.0, math.abs(b(i)))
      }
    }

  property("row permutation does not change the solution") =
    forAll(system) { case (a, b) =>
      val n = b.length
      val perm = (n - 1) to 0 by -1
      val ap = perm.map(a(_)).toArray
      val bp = perm.map(b(_)).toArray
      val x = graft.ml.Trainer.solve(a, b)
      val xp = graft.ml.Trainer.solve(ap, bp)
      x.zip(xp).forall { case (u, v) => math.abs(u - v) < 1e-8 * math.max(1.0, math.abs(u)) }
    }
}
