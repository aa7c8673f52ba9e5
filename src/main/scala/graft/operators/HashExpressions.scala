package graft.operators

import java.security.MessageDigest

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{FusedBinary, FusedUnary}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the dedup layer (SURVEY §2.11,
  * §4.3): a k-permutation MinHash signature and a 60-bit SimHash, both
  * single-pass over the input token/shingle array — one expression
  * evaluation per row instead of k codegen'd `transform` lambdas.
  *
  * Determinism contract: every constant below (seed, permutation
  * parameters, prime, bit width) is fixed; signatures are reproducible
  * across sessions and cluster sizes.
  */
object HashParams {
  /** Mersenne prime 2^31-1: universal-hash modulus. */
  val P: Long = 2147483647L
  val K: Int = 128
  val Seed: Int = 0xfeed

  // Coefficient tables, extensible to ANY signature width (the auto
  // band law sizes k from the corpus, e.g. 37×4=148 > the fixed 128):
  // the first K pairs reproduce the original fixed-table draw order
  // (all a's, then all b's, from Random(7)); indices ≥ K continue the
  // same stream as (a, b) pairs — so widening never changes a lower
  // index, and every signature is deterministic regardless of which
  // widths were requested first. a ∈ [1, 2^30): a*h < 2^62 — no Long
  // overflow for 32-bit h.
  private var a = Array.emptyLongArray
  private var b = Array.emptyLongArray

  /** The (a, b) tables, grown to at least `k` entries. Callers must
    * not mutate. Synchronized: tasks race on first use of a width.
    */
  def ab(k: Int): (Array[Long], Array[Long]) = synchronized {
    if (a.length < k) {
      val n = math.max(k, K)
      val rnd = new scala.util.Random(7)
      val na = new Array[Long](n)
      val nb = new Array[Long](n)
      var j = 0
      while (j < K) { na(j) = 1L + rnd.nextInt((1 << 30) - 1); j += 1 }
      j = 0
      while (j < K) { nb(j) = rnd.nextInt(Int.MaxValue).toLong; j += 1 }
      j = K
      while (j < n) {
        na(j) = 1L + rnd.nextInt((1 << 30) - 1)
        nb(j) = rnd.nextInt(Int.MaxValue).toLong
        j += 1
      }
      a = na
      b = nb
    }
    (a, b)
  }
}

/** MinHash signature of a distinct-string array: for each of k universal
  * hash permutations h_i(x) = (a_i*x + b_i) mod P over the 32-bit base
  * hash of each element, the minimum across the array.
  * Empty arrays yield the all-MaxValue signature (can never collide with
  * a real band — P < MaxValue).
  */
case class MinHashSignature(child: Expression, k: Int = HashParams.K)
    extends UnaryExpression with FusedUnary {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  // one synchronized table lookup per expression instance per JVM,
  // not one per row — 32 executor threads share the hot loop
  @transient private lazy val coeffs = HashParams.ab(k)

  override def nullSafeEval(input: Any): Any = {
    import HashParams._
    val (ca, cb) = coeffs
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val bytes = arr.getUTF8String(i).getBytes
      val h = MurmurHash3.bytesHash(bytes, Seed).toLong & 0xffffffffL
      var j = 0
      while (j < k) {
        val v = (ca(j) * h + cb(j)) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** 60-bit SimHash over a distinct-token array, weight 1 per token.
  *
  * The per-token base hash is the integer value of the first 15 hex
  * chars of md5(token) — chosen (rather than xxhash/murmur) because
  * DuckDB has md5() too, which makes the whole SimHash replicable in
  * oracle SQL via nibble arithmetic. Bit b of the result is 1 iff the
  * sum over tokens of (2*bit_b(md5_60(token)) - 1) is >= 0.
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with FusedUnary {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](60)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      md.reset()
      val digest = md.digest(arr.getUTF8String(i).getBytes)
      // value of hexdigest[:15] == big-endian nibbles 0..14
      var h = 0L
      var nib = 0
      while (nib < 15) {
        val b = digest(nib / 2)
        val v = if (nib % 2 == 0) (b >> 4) & 0xf else b & 0xf
        h = h * 16 + v
        nib += 1
      }
      var bit = 0
      while (bit < 60) {
        votes(bit) += (if (((h >> bit) & 1L) == 1L) 1 else -1)
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 60) {
      if (votes(bit) >= 0) out |= (1L << bit)
      bit += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Winnowing document fingerprint (MOSS-style): k-gram rolling hashes
  * over the character stream, minimum per sliding window of w, distinct
  * selected hashes sorted ascending. Robust to local edits — two
  * documents share fingerprint entries iff they share k-char substrings
  * chosen by identical (deterministic) winnowing.
  */
case class WinnowFingerprint(child: Expression, k: Int = 8, w: Int = 4)
    extends UnaryExpression with FusedUnary {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  // 31-bit modulus: char*pow < 2^17 * 2^31 = 2^48 and h*Base < 2^40 —
  // no Long overflow anywhere, so the rolling removal cancels exactly
  // and equal k-grams hash equal at any position.
  private val Base = 257L
  private val Mod = 2147483647L

  override def nullSafeEval(input: Any): Any = {
    // Locale.ROOT: default-locale lowercasing diverges from the SQL
    // oracle's LOWER on e.g. tr_TR JVMs ('I' → 'ı')
    val s = input.toString.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ")
    if (s.length < k) return new GenericArrayData(Array.empty[Long])
    // rolling polynomial hash of every k-gram
    val nGrams = s.length - k + 1
    val hashes = new Array[Long](nGrams)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow = pow * Base % Mod; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (h * Base + s.charAt(i)) % Mod; i += 1 }
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - s.charAt(i - 1) * pow % Mod + Mod) % Mod
      h = (h * Base + s.charAt(i + k - 1)) % Mod
      hashes(i) = h
      i += 1
    }
    // winnow: min of each window of w (rightmost min on ties)
    val selected = scala.collection.mutable.SortedSet.empty[Long]
    var start = 0
    while (start + w <= nGrams) {
      var min = Long.MaxValue
      var j = start
      while (j < start + w) {
        if (hashes(j) <= min) min = hashes(j)
        j += 1
      }
      selected += min
      start += 1
    }
    if (selected.isEmpty) selected += hashes.min
    new GenericArrayData(selected.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Distinct word n-gram shingles of lowercased text, single pass.
  *
  * Semantically identical to the functions-composition
  * `array_distinct(transform(sequence(...), i => concat_ws(" ",
  * element_at(tokens, ...))))` but O(len) instead of O(tokens²):
  * Catalyst cannot common-subexpression-eliminate the token array
  * inside lambda bodies, so the composed form re-splits the text for
  * every element access (observed 20× slowdown on the dedup bench).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with FusedUnary {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.toLowerCase.split("\\s+")
      .filter(_.nonEmpty)
    val out = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Random-hyperplane LSH band keys for an embedding vector (SURVEY
  * §2.11 scale path for embedding near-dup): `bands` keys, each the
  * sign-bit pattern of `bitsPerBand` seeded Gaussian hyperplane
  * projections (Charikar SimHash-for-vectors). Two vectors at angle θ
  * agree on one hyperplane bit with probability 1-θ/π, so a pair with
  * cosine ≥ t shares ≥1 band key with probability
  * 1-(1-p^r)^b, p = 1-arccos(t)/π — with the (96,12) defaults a
  * c=0.9165 pair is missed with probability ~8e-9.
  *
  * Determinism: hyperplanes are drawn from java.util.Random(seed ^ dim)
  * Gaussians, so signatures are reproducible across sessions, cluster
  * sizes and row orders.
  */
case class HyperplaneBands(
    child: Expression, bands: Int, bitsPerBand: Int, seed: Int)
    extends UnaryExpression with FusedUnary {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  // hyperplanes depend on the (runtime) vector dimension; cache per dim
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  private def planes(d: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(d, dim => {
      val rnd = new java.util.Random(seed.toLong ^ (dim.toLong << 32))
      Array.fill(bands * bitsPerBand)(Array.fill(dim)(rnd.nextGaussian()))
    })

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val isFloat = child.dataType.asInstanceOf[ArrayType]
      .elementType == FloatType
    val d = a.numElements()
    val v = new Array[Double](d)
    var i = 0
    while (i < d) {
      v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val ps = planes(d)
    val out = new Array[Long](bands)
    var b = 0
    var p = 0
    while (b < bands) {
      var key = 0L
      var r = 0
      while (r < bitsPerBand) {
        val plane = ps(p); p += 1
        var dot = 0.0
        i = 0
        while (i < d) { dot += v(i) * plane(i); i += 1 }
        key = (key << 1) | (if (dot >= 0) 1L else 0L)
        r += 1
      }
      out(b) = key
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Top-n nearest centroids of an embedding vector, as a plan-shipped
  * constant centroid matrix (IVF cell assignment, SURVEY §2.11):
  * scores = dot(v, c_i)/‖c_i‖ (orders identically to cosine for a
  * fixed row — positive 1/‖v‖ scale), ties to the lower centroid id.
  * A single fused expression: cell assignment is a NARROW MAP over
  * the corpus — no broadcast join, no per-row window, no shuffle —
  * and the inner loop is a tight double array scan (the higher-order
  * transform/array_sort formulation of the same thing evaluates
  * interpreted per element and ran 3× slower).
  */
case class NearestCentroids(child: Expression, ids: Seq[Long],
    vecs: Seq[Seq[Double]], n: Int)
    extends UnaryExpression with FusedUnary {

  require(ids.length == vecs.length && ids.nonEmpty && n >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val cents: Array[Array[Double]] =
    vecs.map(_.toArray).toArray
  @transient private lazy val invNorms: Array[Double] =
    cents.map { c =>
      val s = c.map(x => x * x).sum
      if (s > 0) 1.0 / math.sqrt(s) else 0.0
    }
  @transient private lazy val idArr: Array[Long] = ids.toArray

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val isFloat = child.dataType.asInstanceOf[ArrayType]
      .elementType == FloatType
    val d = a.numElements()
    val v = new Array[Double](d)
    var i = 0
    while (i < d) {
      v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val m = cents.length
    val scores = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cv = cents(c)
      val lim = math.min(d, cv.length)
      var dot = 0.0
      i = 0
      while (i < lim) { dot += v(i) * cv(i); i += 1 }
      scores(c) = dot * invNorms(c)
      c += 1
    }
    // partial selection of the top-k (k is tiny: 1..nprobe)
    val k = math.min(n, m)
    val taken = new Array[Boolean](m)
    val out = new Array[Long](k)
    var r = 0
    while (r < k) {
      var best = -1
      c = 0
      while (c < m) {
        if (!taken(c) && (best < 0 || scores(c) > scores(best) ||
          (scores(c) == scores(best) && idArr(c) < idArr(best)))) best = c
        c += 1
      }
      taken(best) = true
      out(r) = idArr(best)
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Two-level (coarse-quantized) nearest-centroid search: the flat
  * [[NearestCentroids]] scan is n·K work per corpus — quadratic when
  * the cell count K grows with the corpus (the SemDedup occupancy law
  * sets K ∝ n/target; the flat argmax measured 2.36× CPU for 2× data
  * in the xd11 leg of `graft.tools.ScaleStress`). Here the K fine
  * centroids are grouped under ~√K coarse cells; a vector scores the √K coarse centroids, descends
  * into the `wCoarse` best groups, and scans only their fine members —
  * O(√K·w·load) per row instead of O(K). Same narrow-map shape: the
  * whole two-level table ships as a plan constant (K×dim doubles — a
  * few MB at worst), no join, no shuffle.
  *
  * Scoring and tie-breaks are identical to [[NearestCentroids]]
  * (dot(v,c)/‖c‖, ties to the lower id) at both levels, so with
  * `wCoarse` ≥ the coarse-cell count the result is EXACTLY the flat
  * scan (the spec's equivalence gate). With small `wCoarse` the
  * assignment is approximate in the usual IVF sense: the true nearest
  * fine centroid can hide in an unprobed coarse group.
  *
  * Output: the `n` nearest fine-centroid ids (n = 1 for plain
  * assignment; n = p for multi-probe candidate generation).
  */
case class TwoLevelNearestCentroids(child: Expression,
    coarseVecs: Seq[Seq[Double]], fineIds: Seq[Seq[Long]],
    fineVecs: Seq[Seq[Seq[Double]]], wCoarse: Int, n: Int)
    extends UnaryExpression with FusedUnary {

  require(coarseVecs.nonEmpty &&
    coarseVecs.length == fineIds.length &&
    fineIds.length == fineVecs.length &&
    fineIds.zip(fineVecs).forall(p => p._1.length == p._2.length) &&
    wCoarse >= 1 && n >= 1,
    "two_level_nearest_centroids: ragged coarse/fine tables")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "two_level_nearest_centroids"

  @transient private lazy val coarse: Array[Array[Double]] =
    coarseVecs.map(_.toArray).toArray
  @transient private lazy val coarseInv: Array[Double] =
    coarse.map { c =>
      val s = c.map(x => x * x).sum
      if (s > 0) 1.0 / math.sqrt(s) else 0.0
    }
  @transient private lazy val fid: Array[Array[Long]] =
    fineIds.map(_.toArray).toArray
  @transient private lazy val fv: Array[Array[Array[Double]]] =
    fineVecs.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val finv: Array[Array[Double]] =
    fv.map(_.map { c =>
      val s = c.map(x => x * x).sum
      if (s > 0) 1.0 / math.sqrt(s) else 0.0
    })
  @transient private lazy val nFine: Int = fid.map(_.length).sum

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val isFloat = child.dataType.asInstanceOf[ArrayType]
      .elementType == FloatType
    val d = a.numElements()
    val v = new Array[Double](d)
    var i = 0
    while (i < d) {
      v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    // level 1: score the coarse centroids, take the wCoarse best
    // (ties to the lower coarse index — stable but semantically
    // irrelevant: coarse cells only gate which fine groups are read)
    val nc = coarse.length
    val cScores = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val cv = coarse(c)
      val lim = math.min(d, cv.length)
      var dot = 0.0
      i = 0
      while (i < lim) { dot += v(i) * cv(i); i += 1 }
      cScores(c) = dot * coarseInv(c)
      c += 1
    }
    val w = math.min(wCoarse, nc)
    val cTaken = new Array[Boolean](nc)
    val probeGroups = new Array[Int](w)
    var r = 0
    while (r < w) {
      var best = -1
      c = 0
      while (c < nc) {
        if (!cTaken(c) && (best < 0 || cScores(c) > cScores(best)))
          best = c
        c += 1
      }
      cTaken(best) = true
      probeGroups(r) = best
      r += 1
    }
    // level 2: flat top-n over the fine members of the probed groups,
    // identical scoring + tie rule to NearestCentroids
    val k = math.min(n, nFine)
    val outId = new Array[Long](k)
    val outScore = new Array[Double](k)
    var filled = 0
    var g = 0
    while (g < w) {
      val gi = probeGroups(g)
      val ids = fid(gi); val vecs = fv(gi); val inv = finv(gi)
      var f = 0
      while (f < ids.length) {
        val cv = vecs(f)
        val lim = math.min(d, cv.length)
        var dot = 0.0
        i = 0
        while (i < lim) { dot += v(i) * cv(i); i += 1 }
        val score = dot * inv(f)
        val id = ids(f)
        // insertion into the running top-k (k is tiny: 1..probe)
        var pos = filled
        while (pos > 0 && (outScore(pos - 1) < score ||
          (outScore(pos - 1) == score && outId(pos - 1) > id))) pos -= 1
        if (pos < k) {
          val stop = math.min(filled, k - 1)
          var m = stop
          while (m > pos) {
            outId(m) = outId(m - 1); outScore(m) = outScore(m - 1)
            m -= 1
          }
          outId(pos) = id; outScore(pos) = score
          if (filled < k) filled += 1
        }
        f += 1
      }
      g += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(outId, filled))
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Dot product of two float/double arrays with strict left-to-right
  * double accumulation — the exact IEEE sequence of
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (and of DuckDB's
  * list_inner_product over the same values), but a single tight loop
  * instead of per-element lambda dispatch.
  */
/** Rolling 62-bit keys of every `l`-codepoint gram of the RAW text
  * (no normalization — exact substring dedup operates on text as-is):
  * element `i` (0-based) is the combined hash of `substring(text,
  * i+1, l)`, so array positions line up 1-based with SQL `substr`.
  * Two independent rolling hashes (31-bit Mersenne-prime moduli,
  * different bases) are packed as `h1 << 31 | h2`; equal grams always
  * collide, unequal grams collide with ~2^-62 probability — and the
  * consumer ([[Dedup.substringDedup]]) re-verifies candidate groups
  * on the actual gram text, so a collision can never corrupt the
  * result, only cost a few extra verified rows.
  *
  * Codepoint-indexed (not UTF-16 chars) so positions agree with
  * Spark/DuckDB `substr` semantics on non-BMP text.
  */
case class GramKeys(child: Expression, l: Int)
    extends UnaryExpression with FusedUnary {

  require(l >= 2 && l <= 65536, s"gram_keys: bad window $l")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_keys"

  // h2*B2 < 2^31·2^20 = 2^51, +codepoint(2^21) — no Long overflow;
  // the rolling removal term cp·pow < 2^21·2^31 = 2^52 likewise
  private val B1 = 257L
  private val M1 = 2147483647L
  private val B2 = 1000003L
  private val M2 = 2147483629L

  override def nullSafeEval(input: Any): Any = {
    val cps = input.toString.codePoints().toArray
    if (cps.length < l) return new GenericArrayData(Array.empty[Long])
    val n = cps.length - l + 1
    val out = new Array[Long](n)
    var pow1 = 1L; var pow2 = 1L
    var i = 0
    while (i < l - 1) { pow1 = pow1 * B1 % M1; pow2 = pow2 * B2 % M2; i += 1 }
    var h1 = 0L; var h2 = 0L
    i = 0
    while (i < l) {
      val c = cps(i)
      h1 = (h1 * B1 + c) % M1
      h2 = (h2 * B2 + c) % M2
      i += 1
    }
    out(0) = (h1 << 31) | h2
    i = 1
    while (i < n) {
      val rm = cps(i - 1); val ad = cps(i + l - 1)
      h1 = ((h1 - rm * pow1 % M1 + M1) % M1 * B1 + ad) % M1
      h2 = ((h2 - rm * pow2 % M2 + M2) % M2 * B2 + ad) % M2
      out(i) = (h1 << 31) | h2
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Content-defined chunking (the FastCDC/LBFS family — Muthitacharoen
  * et al. SOSP'01; Xia et al. ATC'16): split text at positions where a
  * rolling hash of the trailing window hits a magic pattern, so chunk
  * boundaries are a function of CONTENT, not offsets — insert a byte at
  * the front of a file and fixed-size blocks all shift (0% dedup), CDC
  * boundaries re-synchronize at the next cut and everything downstream
  * still dedups. The storage/dataset-curation block-dedup primitive.
  *
  * Definition (all arithmetic replayed by the xd15 oracle):
  *  - gear table: `G[b]` = the 44-bit integer of the first 11 md5 hex
  *    digits of the DECIMAL STRING of b, b = codepoint & 255 (the xk3
  *    md5-derivation house style — engine-independent);
  *  - hash at 1-based codepoint position i (window W=16):
  *    `h_i = Σ_{j=0..15} G[b_{i-j}]·2^j  mod 2^48`
  *    (computed here as the O(1) rolling update
  *    `h ← 2h + G_i − G_{i−16}·2^16` in wrapping Long arithmetic —
  *    identical mod 2^48 because 2^48 | 2^64);
  *  - position i is a cut iff i ≥ 16 and the top 6 of the 48 bits are
  *    zero (`h_i >> 42 == 0`, P = 1/64 → expected chunk ≈ 64 cps);
  *    the final position is always a cut.
  *
  * Output: array of (pos, chunk) structs, pos = 0-based chunk start;
  * concatenating the chunks in order reproduces the input exactly.
  * No min/max chunk bound: a min bound suppresses cuts depending on
  * the previous cut (sequential state the relational oracle can't
  * replay), and the declared corpus has no pathological runs; at 100TB
  * a max-size split at fixed multiples of the last cut would bound the
  * tail deterministically.
  *
  * Codepoint-indexed so positions agree with Spark/DuckDB `substr`.
  */
case class CdcChunks(child: Expression)
    extends UnaryExpression with FusedUnary {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val G = CdcChunks.Gear
    val Mask48 = (1L << 48) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    // cut positions in codepoint space; charIdx tracks the UTF-16
    // offset of each codepoint so substring extraction stays O(1)
    var h = 0L
    var prevCutCp = 0
    var prevCutCh = 0
    var chIdx = 0
    var i = 0
    while (i < n) {
      val g = G(cps(i) & 255)
      h = (h << 1) + g
      if (i >= 16) h -= G(cps(i - 16) & 255) << 16
      val cp1 = i + 1 // 1-based position
      chIdx += Character.charCount(cps(i))
      if ((cp1 >= 16 && ((h & Mask48) >>> 42) == 0) || cp1 == n) {
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](prevCutCp,
            org.apache.spark.unsafe.types.UTF8String
              .fromString(s.substring(prevCutCh, chIdx))))
        prevCutCp = cp1
        prevCutCh = chIdx
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object CdcChunks {
  /** G[b], b=0..255: 44 bits from md5(b.toString) — see class doc. */
  private[operators] val Gear: Array[Long] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until 256).map { b =>
      md.reset()
      val hex = md.digest(b.toString.getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 11), 16)
    }.toArray
  }
}

case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with FusedBinary {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def elem(a: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"dot_product: unsupported element type $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val at = left.dataType.asInstanceOf[ArrayType].elementType
    val bt = right.dataType.asInstanceOf[ArrayType].elementType
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elem(a, at, i) * elem(b, bt, i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Product-quantization building blocks (xs6): `books` is the m ×
  * ncodes × subdim codeword table, shipped as a plan constant (m·
  * ncodes·subdim doubles — KBs). All three expressions accumulate
  * IEEE doubles in FIXED index order (position within subspace, then
  * subspace), so the DuckDB oracle's pivoted CASE-SUM chains compute
  * bit-identical values — the xs3/xt10 exactness discipline.
  */
object PqShared {
  def toArrays(books: Seq[Seq[Seq[Double]]]): Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray

  /** In-order squared L2 between v[off, off+len) and w. */
  def ssd(v: Array[Double], off: Int, w: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < w.length) {
      val d = (if (off + i < v.length) v(off + i) else 0.0) - w(i)
      acc += d * d
      i += 1
    }
    acc
  }

  def readVec(input: Any, isFloat: Boolean): Array[Double] = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    v
  }
}

/** PQ encoding: per subspace j, the index of the codeword minimizing
  * in-order squared L2 to the subvector (strict `<` scan ascending —
  * ties to the smaller code, matching ROW_NUMBER ORDER BY d2, code).
  * Output: array<int> of m codes. A narrow map — the 64×-compression
  * step that makes billion-vector ANN RAM-resident.
  */
case class PqEncode(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with FusedUnary {
  require(books.nonEmpty && books.forall(_.nonEmpty),
    "pq_encode: empty codebook")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  @transient private lazy val bk = PqShared.toArrays(books)

  override def nullSafeEval(input: Any): Any = {
    val isFloat = child.dataType.asInstanceOf[ArrayType]
      .elementType == FloatType
    val v = PqShared.readVec(input, isFloat)
    val m = bk.length
    val out = new Array[Int](m)
    var j = 0
    var off = 0
    while (j < m) {
      val words = bk(j)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < words.length) {
        val d = PqShared.ssd(v, off, words(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      off += words(0).length
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Per-query ADC lookup table: lut[j][c] = in-order squared L2 between
  * the query's subspace-j subvector and codeword c. Computed ONCE per
  * query row (queries are few and broadcast); pair scoring then costs
  * m lookups + adds instead of a dim-length dot — the PQ asymmetric-
  * distance trick.
  */
case class PqLut(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with FusedUnary {
  require(books.nonEmpty && books.forall(_.nonEmpty),
    "pq_lut: empty codebook")

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false),
      containsNull = false)
  override def prettyName: String = "pq_lut"

  @transient private lazy val bk = PqShared.toArrays(books)

  override def nullSafeEval(input: Any): Any = {
    val isFloat = child.dataType.asInstanceOf[ArrayType]
      .elementType == FloatType
    val v = PqShared.readVec(input, isFloat)
    val m = bk.length
    val rows = new Array[ArrayData](m)
    var j = 0
    var off = 0
    while (j < m) {
      val words = bk(j)
      val d = new Array[Double](words.length)
      var c = 0
      while (c < words.length) {
        d(c) = PqShared.ssd(v, off, words(c))
        c += 1
      }
      rows(j) = new GenericArrayData(d)
      off += words(0).length
      j += 1
    }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** ADC score of one (query, code) pair: Σ_j lut[j][codes[j]], summed
  * in ascending subspace order (fixed IEEE sequence == the oracle's
  * pivoted CASE-SUM chain).
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with FusedBinary {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override def nullable: Boolean = true

  override def nullSafeEval(lut: Any, codes: Any): Any = {
    val l = lut.asInstanceOf[ArrayData]
    val c = codes.asInstanceOf[ArrayData]
    val m = math.min(l.numElements(), c.numElements())
    var acc = 0.0
    var j = 0
    while (j < m) {
      val row = l.getArray(j)
      acc += row.getDouble(c.getInt(j))
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Johnson–Lindenstrauss random projection of an embedding to `k`
  * output dimensions (the d→k reduction that feeds cheaper downstream
  * similarity ops: xd6 hyperplane blocking, xd11 clustering, xs6 PQ).
  * Achlioptas ±1 sign matrix: s(i,j) = +1 iff the first hex nibble of
  * md5("i_j") is even — reproducible from the (i, j) indices alone, so
  * the DuckDB oracle regenerates the identical matrix with its own
  * MD5() and no matrix ever ships anywhere. out[j] =
  * (Σ_i dec12(s(i,j)·v[i])) / √k with the Σ an EXACT decimal sum
  * (order-free — the xt11 add-order discipline, here applied so the
  * oracle's hash-partitioned SUM over the same decimals is
  * bit-identical); dec12 reproduces Spark's double→DECIMAL(28,12)
  * cast (BigDecimal.valueOf, HALF_UP).
  *
  * Scale shape: a narrow per-row map, zero shuffle, one expression
  * call per row; the sign matrix is computed once per (d, k) and
  * cached per executor.
  */
case class RandomProjection(child: Expression, k: Int)
    extends UnaryExpression with FusedUnary {
  require(k > 0, "random_projection: k must be positive")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "random_projection"

  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Int]]]()

  /** signs(i)(j) for a d-dim input — lazily built per dimension. */
  private def signs(d: Int): Array[Array[Int]] =
    signCache.computeIfAbsent(d, dim => {
      val md = MessageDigest.getInstance("MD5")
      Array.tabulate(dim, k) { (i, j) =>
        md.reset()
        val h = md.digest(s"${i}_$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0x1) == 0) 1 else -1
      }
    })

  // Divide (not multiply-by-reciprocal): x/√k is the op the oracle
  // writes, and x·(1/√k) differs by an ulp for non-square k.
  private val sqrtK = math.sqrt(k.toDouble)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val et = child.dataType.asInstanceOf[ArrayType].elementType
    val d = a.numElements()
    val s = signs(d)
    // Two exactness-preserving fast paths over the naive per-(i,j)
    // BigDecimal loop (measured 331 cpu-s for 20k×64→16 — the
    // string-building BigDecimal.valueOf dominated):
    //  1. HALF_UP rounds away from zero symmetrically, so
    //     dec12(-x) == -dec12(x): quantize each INPUT element once
    //     (d conversions, not d·k).
    //  2. A scale-12 decimal whose unscaled value fits a Long sums in
    //     long arithmetic (decimal addition of equal scales IS
    //     unscaled-integer addition); reconstructing the final value
    //     via BigDecimal.valueOf(sum, 12) is the identical decimal.
    //     Math.addExact guards the sum; any overflow (|x| ≳ 9e6 or
    //     astronomic dims) falls back to the BigDecimal loop.
    val q = new Array[java.math.BigDecimal](d)
    val u = new Array[Long](d)
    var fits = true
    var i = 0
    while (i < d) {
      val x = et match {
        case FloatType => a.getFloat(i).toDouble
        case DoubleType => a.getDouble(i)
        case other => throw new IllegalArgumentException(
          s"random_projection: unsupported element type $other")
      }
      // Spark's Cast(double -> DecimalType(28,12)) semantics:
      // canonical-string BigDecimal, then HALF_UP to scale 12.
      val dec = java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP)
      q(i) = dec
      if (fits && dec.precision - dec.scale <= 6) u(i) = dec.unscaledValue
        .longValueExact() // scale 12, ≤18 digits: always fits
      else fits = false
      i += 1
    }
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      if (fits) {
        var acc = 0L
        var ok = true
        i = 0
        while (ok && i < d) {
          try acc = Math.addExact(acc, if (s(i)(j) > 0) u(i) else -u(i))
          catch { case _: ArithmeticException => ok = false }
          i += 1
        }
        if (ok) out(j) = java.math.BigDecimal.valueOf(acc, 12)
          .doubleValue() / sqrtK
        else out(j) = slowDim(q, s, j)
      } else out(j) = slowDim(q, s, j)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Exact-BigDecimal fallback for one output dim (overflow path). */
  private def slowDim(q: Array[java.math.BigDecimal],
      s: Array[Array[Int]], j: Int): Double = {
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < q.length) {
      acc = acc.add(if (s(i)(j) > 0) q(i) else q(i).negate())
      i += 1
    }
    acc.doubleValue() / sqrtK
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Column wrappers for the expressions above. */
/** Unicode NFC normalization (canonical composition) as a fused
  * string expression — the one piece of the CCNet-style dedup-key
  * normalization chain ([[Dedup.ccnetNormalize]]) Spark has no builtin
  * for. é as U+00E9 and as e+U+0301 hash differently through every
  * dedup key; NFC makes them one string, exactly like DuckDB's
  * `nfc_normalize` (the oracle's side of the contract).
  * `Normalizer.isNormalized` short-circuits the (overwhelmingly
  * common) already-NFC case without allocating.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with FusedUnary {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s,
        java.text.Normalizer.Form.NFC)) input
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** All character n-grams of a string, in order, one array element per
  * position (NOT deduplicated — the multiset feeds count models).
  * Single pass with one code-point offset scan, replacing the
  * `transform(sequence(...), i -> substring(...))` formulation whose
  * per-element lambda dispatch + re-slicing measured ~5× slower on the
  * xt23 trigram stream. Positions count CODE POINTS — exactly the
  * builtin `substring` semantics this replaces, and DuckDB's SUBSTR —
  * so surrogate-pair text grams identically in all three forms.
  * Strings shorter than n yield an empty array.
  */
case class CharGrams(child: Expression, n: Int)
    extends UnaryExpression with FusedUnary {
  require(n >= 1, "char_grams: n >= 1")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_grams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_grams expects string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    // code-point start offsets (UTF-16 indices)
    val cp = s.codePointCount(0, s.length)
    if (cp < n) return new GenericArrayData(Array.empty[AnyRef])
    val off = new Array[Int](cp + 1)
    var i = 0; var k = 0
    while (i < s.length) {
      off(k) = i; k += 1
      i += Character.charCount(s.codePointAt(i))
    }
    off(cp) = s.length
    val out = new Array[AnyRef](cp - n + 1)
    var g = 0
    while (g <= cp - n) {
      out(g) = org.apache.spark.unsafe.types.UTF8String
        .fromString(s.substring(off(g), off(g + n)))
      g += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object HashFns {
  private def e(c: Column): Expression = Bridge.expression(c)
  def nfcNormalize(c: Column): Column =
    Bridge.column(NfcNormalize(e(c)))
  def charGrams(c: Column, n: Int): Column =
    Bridge.column(CharGrams(e(c), n))
  def minhashSignature(c: Column, k: Int = HashParams.K): Column =
    Bridge.column(MinHashSignature(e(c), k))
  def simhash60(c: Column): Column = Bridge.column(SimHash60(e(c)))
  def winnowFingerprint(c: Column, k: Int = 8, w: Int = 4): Column =
    Bridge.column(WinnowFingerprint(e(c), k, w))
  def wordShingles(c: Column, n: Int): Column =
    Bridge.column(WordShingles(e(c), n))
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(e(a), e(b)))
  def gramKeys(c: Column, l: Int): Column =
    Bridge.column(GramKeys(e(c), l))
  def cdcChunks(c: Column): Column =
    Bridge.column(CdcChunks(e(c)))
  def pqEncode(c: Column, books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqEncode(e(c), books))
  def pqLut(c: Column, books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqLut(e(c), books))
  def pqAdc(lut: Column, codes: Column): Column =
    Bridge.column(PqAdc(e(lut), e(codes)))
  def randomProjection(c: Column, k: Int): Column =
    Bridge.column(RandomProjection(e(c), k))
  def hyperplaneBands(
      c: Column, bands: Int = 96, bitsPerBand: Int = 12,
      seed: Int = 0x5eed): Column =
    Bridge.column(HyperplaneBands(e(c), bands, bitsPerBand, seed))
  def nearestCentroids(c: Column, ids: Seq[Long],
      vecs: Seq[Seq[Double]], n: Int): Column =
    Bridge.column(NearestCentroids(e(c), ids, vecs, n))
  def twoLevelNearestCentroids(c: Column, coarseVecs: Seq[Seq[Double]],
      fineIds: Seq[Seq[Long]], fineVecs: Seq[Seq[Seq[Double]]],
      wCoarse: Int, n: Int): Column =
    Bridge.column(TwoLevelNearestCentroids(e(c), coarseVecs, fineIds,
      fineVecs, wCoarse, n))
}
