package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** 64-bit xxHash (XXH64, public-domain algorithm) over UTF-8 bytes — the
  * shared primitive for the sketch expressions below. */
object HashUtil {
  private val P1 = -7046029288634856825L // 0x9E3779B185EBCA87
  private val P2 = -4417276706812531889L // 0xC2B2AE3D27D4EB4F
  private val P3 = 1609587929392839161L
  private val P4 = -8796714831421723037L // 0x85EBCA77C2B2AE63
  private val P5 = 2870177450012600261L

  def xxhash64(data: Array[Byte], seed: Long): Long = {
    val len = data.length
    var i = 0
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2; var v3 = seed; var v4 = seed - P1
        while (i + 32 <= len) {
          v1 = java.lang.Long.rotateLeft(v1 + readLong(data, i) * P2, 31) * P1
          v2 = java.lang.Long.rotateLeft(v2 + readLong(data, i + 8) * P2, 31) * P1
          v3 = java.lang.Long.rotateLeft(v3 + readLong(data, i + 16) * P2, 31) * P1
          v4 = java.lang.Long.rotateLeft(v4 + readLong(data, i + 24) * P2, 31) * P1
          i += 32
        }
        var acc = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
          java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
        acc = (acc ^ java.lang.Long.rotateLeft(v1 * P2, 31) * P1) * P1 + P4
        acc = (acc ^ java.lang.Long.rotateLeft(v2 * P2, 31) * P1) * P1 + P4
        acc = (acc ^ java.lang.Long.rotateLeft(v3 * P2, 31) * P1) * P1 + P4
        acc = (acc ^ java.lang.Long.rotateLeft(v4 * P2, 31) * P1) * P1 + P4
        acc
      } else seed + P5
    h += len
    while (i + 8 <= len) {
      h = java.lang.Long.rotateLeft(h ^ (java.lang.Long.rotateLeft(readLong(data, i) * P2, 31) * P1), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= len) {
      h = java.lang.Long.rotateLeft(h ^ ((readInt(data, i) & 0xffffffffL) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      h = java.lang.Long.rotateLeft(h ^ ((data(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  private def readLong(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) | ((b(i + 5) & 0xffL) << 40) |
      ((b(i + 6) & 0xffL) << 48) | ((b(i + 7) & 0xffL) << 56)

  private def readInt(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** splitmix64 finalizer — derives the i-th pairwise-independent hash from a
    * base hash (Broder-style MinHash permutations without re-hashing). */
  def mix(h: Long, i: Long): Long = {
    var z = h ^ (i * -7046029254386353131L)
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  /** MinHash signature of a hash multiset: slot k is the min over `hashes`
    * of `mix(h, k)`. A min over a multiset equals the min over its distinct
    * set, so the raw shingle hashes and their deduplicated set give the same
    * signature. Plain loops over primitives (no closure, no boxing): it runs
    * once per row in the near-dup stage. */
  def minHashSig(hashes: Array[Long], numHashes: Int): Array[Long] = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var k = 0
      while (k < numHashes) {
        val v = mix(h, k)
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    sig
  }
}

/** MinHash signature of a shingle-hash set: `minhash_sig(shingle_hashes,
  * k) → array<long>` over the `array<bigint>` that [[ShingleHashExpr]]
  * returns. The hashes are used as they are (no re-hash); the k permutation
  * values derive via splitmix64 mixing ([[HashUtil.minHashSig]]). Null
  * elements are skipped. For any text,
  * `minhash_sig(shingle_hashes(t, n), k) == minhash_with_shingles(t, k, n).sig`.
  */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val hashes = new Array[Long](arr.numElements())
    var n = 0
    var i = 0
    while (i < hashes.length) {
      if (!arr.isNullAt(i)) { hashes(n) = arr.getLong(i); n += 1 }
      i += 1
    }
    new GenericArrayData(HashUtil.minHashSig(
      if (n == hashes.length) hashes else java.util.Arrays.copyOf(hashes, n), numHashes))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {
  def apply(shingleHashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(shingleHashes), numHashes))
}

/** Shared tokenizer for the fused text sketches: lowercase + whitespace
  * split — the Scala mirror of `TextAnalysis.normalized` + split(' ').
  *
  * Whitespace class is pinned to RE2's `\s` = {space, \t, \n, \f, \r} so the
  * ORACLE-GATED consumers (ShingleHashExpr → d_ngram_jaccard/d_cc_*) split
  * identically to the DuckDB side's `regexp_replace(..., '\s+', ...)`.
  * `Character.isWhitespace` would additionally split on U+1680/U+2000-200A
  * and silently diverge from the gate on multilingual text. */
object SketchTokens {
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  def tokenize(text: String): Array[String] = {
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = lower.length
    while (i < n) {
      while (i < n && isWs(lower.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(lower.charAt(i))) i += 1
      if (i > start) out += lower.substring(start, i)
    }
    out.toArray
  }

  /** Hashes of word n-gram shingles (multiset is fine for MinHash — the min
    * over duplicates is unchanged); short texts yield one whole-text shingle,
    * mirroring `TextAnalysis.wordShingles`. */
  def shingleHashes(tokens: Array[String], ngram: Int): Array[Long] = {
    if (tokens.length <= ngram) {
      Array(HashUtil.xxhash64(tokens.mkString(" ").getBytes("UTF-8"), 0L))
    } else {
      val m = tokens.length - ngram + 1
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < ngram) { if (j > 0) sb.append(' '); sb.append(tokens(i + j)); j += 1 }
        out(i) = HashUtil.xxhash64(sb.toString.getBytes("UTF-8"), 0L)
        i += 1
      }
      out
    }
  }
}

/** Fused text→distinct-shingle-hash set: `shingle_hashes(text, n)` →
  * sorted `array<long>` of the distinct XXH64 hashes of the word n-gram
  * shingles (tokenize + shingle + hash + dedup in ONE eval). Mirrors
  * `TextAnalysis.wordShingles` semantics: texts with ≤ n tokens yield one
  * whole-text shingle.
  *
  * This is the scale form of the inverted-index dedup input: downstream
  * joins/aggregates key on 8-byte longs instead of ~25-char strings (a
  * string-keyed shuffle of the shingle universe was the dominant cost of
  * `ngramJaccardPairs` at sf0.1 — measured ~10x this), and set
  * intersections for exact Jaccard run on sorted longs. XXH64 collisions
  * (~|shingles|²/2⁶⁴) are negligible against the 6-decimal Jaccard compare.
  */
case class ShingleHashExpr(child: Expression, ngram: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = SketchTokens.shingleHashes(
      SketchTokens.tokenize(input.toString), ngram)
    java.util.Arrays.sort(hashes)
    // in-place dedup of the sorted array
    var w = 0
    var i = 0
    while (i < hashes.length) {
      if (w == 0 || hashes(i) != hashes(w - 1)) { hashes(w) = hashes(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == hashes.length) hashes else java.util.Arrays.copyOf(hashes, w))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashExpr =
    copy(child = newChild)
}

object ShingleHashExpr {
  def apply(text: Column, ngram: Int): Column =
    ColumnBridge.column(ShingleHashExpr(ColumnBridge.expression(text), ngram))
}

/** Fused text→(MinHash signature, shingle hashes) in ONE pass: the LSH
  * banding needs the signature and the candidate verify needs the shingle
  * hashes, and both derive from the SAME tokenize+shingle+hash sweep — two
  * separate expressions would redo that sweep per row on every corpus pass
  * (it dominates the stage). The mix loop rides along, so any consumer of
  * either field pays exactly one sweep. */
case class MinHashWithShinglesExpr(child: Expression, numHashes: Int, ngram: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "minhash_with_shingles"

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = SketchTokens.shingleHashes(
      SketchTokens.tokenize(input.toString), ngram)
    InternalRow(
      new GenericArrayData(HashUtil.minHashSig(hashes, numHashes)), new GenericArrayData(hashes))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashWithShinglesExpr =
    copy(child = newChild)
}

object MinHashWithShinglesExpr {
  def apply(text: Column, numHashes: Int, ngram: Int): Column =
    ColumnBridge.column(MinHashWithShinglesExpr(ColumnBridge.expression(text), numHashes, ngram))
}

/** Fused text→SimHash64: `simhash_text(text) → long`, tokenize + hash +
  * per-bit majority vote over the token hashes in ONE eval with 64 counters
  * (the HOF form scanned the token array once per bit, interpreted). */
case class SimHashTextExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_text"

  override protected def nullSafeEval(input: Any): Any = {
    val tokens = SketchTokens.tokenize(input.toString)
    val counts = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val h = HashUtil.xxhash64(tokens(i).getBytes("UTF-8"), 0L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashTextExpr =
    copy(child = newChild)
}

object SimHashTextExpr {
  def apply(text: Column): Column =
    ColumnBridge.column(SimHashTextExpr(ColumnBridge.expression(text)))
}

/** Fused random-hyperplane signature: `rhp_multi_sig(embedding, bits) →
  * array<long>`, one sign bit per hyperplane (1..1024), packed LSB-first
  * into 64-bit words. One splitmix64 mix per (dimension, word) yields 64
  * pseudo-random ±1 weights at once (bit p of the mix is the weight of
  * plane p of that word), so the whole signature costs dims × words mixes
  * plus dims × bits adds in a single pass, in place of bits HOF scans with
  * a hash call per element. Word 0 seeds with the FNV-64 offset basis and
  * words 1+ advance the seed by the golden gamma. For bits <= 64 the lone word is the packed-long
  * signature ([[Similarity.rhpSignature]], SQL `graft_rhp_sig`).
  *
  * Wide signatures exist for LSH banding: band keys need
  * ~log2(corpus/target-bucket) bits to keep RANDOM collisions from filling
  * buckets — 16-bit keys need 256 hyperplanes at 16 bands. */
case class RhpMultiSigExpr(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(bits >= 1 && bits <= 1024, "rhp_multi_sig supports 1..1024 hyperplanes")
  private val words = (bits + 63) / 64
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rhp_multi_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val proj = new Array[Double](bits)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = arr.getFloat(i).toDouble
        var w = 0
        while (w < words) {
          val ww = HashUtil.mix(-3750763034362895579L + w * -7046029254386353131L, i)
          val base = w * 64
          val hi = math.min(64, bits - base)
          var p = 0
          while (p < hi) {
            if (((ww >>> p) & 1L) == 1L) proj(base + p) += x else proj(base + p) -= x
            p += 1
          }
          w += 1
        }
      }
      i += 1
    }
    val sig = new Array[Long](words)
    var p = 0
    while (p < bits) { if (proj(p) >= 0) sig(p >> 6) |= (1L << (p & 63)); p += 1 }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): RhpMultiSigExpr =
    copy(child = newChild)
}

object RhpMultiSigExpr {
  def apply(embedding: Column, bits: Int): Column =
    ColumnBridge.column(RhpMultiSigExpr(ColumnBridge.expression(embedding), bits))
}

/** Nearest-centroids assignment for IVF ANN: `nearest_centroids(embedding)
  * → array<int>` of the `nProbe` centroid indices ranked by cosine (ties by
  * index). The centroid matrix (small: nLists × dims) ships inside the
  * expression; norms are precomputed once at construction. One fused pass:
  * nLists dot products per row, no HOF materialization, no join against a
  * centroid table. Cosine ranking makes assignment scale-invariant
  * (spherical-k-means style), matching the cosine rerank metric.
  */
case class NearestCentroidsExpr(child: Expression, centroids: Array[Array[Float]], nProbe: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes = Seq(ArrayType(FloatType))
  require(centroids.nonEmpty && nProbe >= 1 && nProbe <= centroids.length)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val centroidNorms: Array[Double] =
    centroids.map { c =>
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
      math.max(math.sqrt(acc), 1e-12)
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = centroids.length
    val cos = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = centroids(c)
      val m = math.min(n, cent.length)
      var dot = 0.0
      var i = 0
      while (i < m) {
        if (!arr.isNullAt(i)) dot += arr.getFloat(i).toDouble * cent(i).toDouble
        i += 1
      }
      cos(c) = dot / centroidNorms(c) // row norm constant across centroids: rank-invariant
      c += 1
    }
    // partial selection of the nProbe best (k is small; simple selection)
    val picked = new Array[Any](nProbe)
    val used = new Array[Boolean](k)
    var p = 0
    while (p < nProbe) {
      var best = -1
      var bestV = Double.NegativeInfinity
      var j = 0
      while (j < k) {
        if (!used(j) && cos(j) > bestV) { best = j; bestV = cos(j) }
        j += 1
      }
      if (best < 0) {
        // all remaining scores NaN (e.g. a NaN embedding component): assign
        // deterministically by index rather than failing the task
        var j2 = 0
        while (best < 0 && j2 < k) { if (!used(j2)) best = j2; j2 += 1 }
      }
      used(best) = true
      picked(p) = best
      p += 1
    }
    new GenericArrayData(picked)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsExpr =
    copy(child = newChild)
}

object NearestCentroidsExpr {
  def apply(embedding: Column, centroids: Array[Array[Float]], nProbe: Int): Column =
    ColumnBridge.column(NearestCentroidsExpr(ColumnBridge.expression(embedding), centroids, nProbe))
}

/** Fused L2 norm of a float-array embedding: `l2_norm(embedding) → double` —
  * one pass, no HOF materialization. Computed ONCE per row before any band
  * join (norms per candidate PAIR was the other half of VERDICT r01 #9). */
case class L2NormExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { val x = arr.getFloat(i).toDouble; acc += x * x }
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  override protected def withNewChildInternal(newChild: Expression): L2NormExpr =
    copy(child = newChild)
}

object L2NormExpr {
  def apply(embedding: Column): Column =
    ColumnBridge.column(L2NormExpr(ColumnBridge.expression(embedding)))
}

/** Fused bucket-pair synthesis: `bucket_pairs(ids, cap)` over a band
  * bucket's member array emits the candidate-edge array the LSH/inverted-
  * index aggregations explode — exhaustive `(least, greatest)`-ordered
  * member pairs for buckets within `cap`, min-member-hub star edges past it
  * (the hot-band guard; see `Dedup.minHashNearDuplicates`). Replaces the
  * nested `transform`/`slice`/`flatten` HOF chain: higher-order functions
  * evaluate their lambdas INTERPRETED per element (they never enter
  * whole-stage codegen), so a k-member bucket paid ~k²/2 interpreted lambda
  * dispatches plus a slice copy per member — measured as the largest single
  * slice of `d_cc_components`' candidate phase at sf0.1. One tight loop
  * emits the identical array (same pair order, same hub semantics, same
  * (a, b) field order), generically over any orderable element type — ids
  * (long/string) and the SimHash (doc_id, sig) member structs both ride it;
  * ordering is Spark's own interpreted ordering, so `least`/`greatest`/
  * `array_min` parity is exact. */
case class BucketPairsExpr(child: Expression, cap: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes = Seq(ArrayType)
  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val ord: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(elemType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", elemType, nullable = false),
    StructField("b", elemType, nullable = false))), containsNull = false)
  override def prettyName: String = "bucket_pairs"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val elems = new Array[Any](n)
    var i = 0
    while (i < n) { elems(i) = arr.get(i, elemType); i += 1 }
    if (n <= cap) {
      val out = new Array[Any](if (n < 2) 0 else n * (n - 1) / 2)
      var k = 0
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val x = elems(i); val y = elems(j)
          out(k) = if (ord.lteq(x, y)) InternalRow(x, y) else InternalRow(y, x)
          k += 1; j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    } else {
      var hub = elems(0)
      i = 1
      while (i < n) { if (ord.lt(elems(i), hub)) hub = elems(i); i += 1 }
      val out = Array.newBuilder[Any]
      out.sizeHint(n - 1)
      i = 0
      while (i < n) {
        if (ord.compare(elems(i), hub) != 0) out += InternalRow(hub, elems(i))
        i += 1
      }
      new GenericArrayData(out.result())
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BucketPairsExpr =
    copy(child = newChild)
}

object BucketPairsExpr {
  def apply(ids: Column, cap: Int): Column =
    ColumnBridge.column(BucketPairsExpr(ColumnBridge.expression(ids), cap))
}
