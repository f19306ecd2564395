package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels — SURVEY.md §4 "custom work".
  *
  * Each kernel is a plain static method on an object below
  * (`PolyHash.hash`, `LshBuckets.buckets`, ...). It replaces a
  * formulation whose higher-order lambdas (`aggregate`, `transform`,
  * `zip_with`) evaluate interpreted, outside whole-stage codegen, or an
  * explode ⋈ rollup that materialized rows per element — measured at
  * sf0.1 these dominated the bench (dedup_embedding 26s, dedup_ngram
  * 12s). Each kernel computes the exact same values (same fold order,
  * same modulus), so the DuckDB oracles are unchanged; ExpressionsSpec
  * checks each one against the spelling it replaced.
  *
  * [[GraftFunctions]] makes a kernel a column with Spark's own
  * `objects.StaticInvoke` (the mechanism `UrlEncode` uses to call
  * `UrlCodec.encode`): whole-stage codegen emits the plain
  * `Kernel.method(args)` call, the interpreted path calls the same
  * method reflectively, and a null argument gives null without calling
  * the kernel. Plans print the call as
  * `static_invoke(graft.plans.PolyHash.hash(text#31))`.
  */

/** Polynomial rolling hash over a string's code points:
  * fold(acc*31 + codepoint) mod 1e9+7 — identical to the DuckDB
  * list_reduce over unicode(string_split(text,'')) for ALL text:
  * DuckDB's unicode() yields code points, so the Spark side iterates
  * code points too (not UTF-16 units) or emoji/CJK-extension chars
  * would diverge. */
object PolyHash {
  final val P: Long = 1000000007L

  def hash(s: UTF8String): Long = fold(0L, s)

  /** Continues the fold from `acc0` over `s`'s code points, so a hash
    * of joined words can run word by word without the joined string. */
  def fold(acc0: Long, s: UTF8String): Long = {
    val str = s.toString
    var acc = acc0
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }
}

/** A string's code points: Spark's length/substring/ascii positions,
  * DuckDB's unicode() values. */
private[plans] object CodePoints {
  def of(s: UTF8String): Array[Int] = {
    val str = s.toString
    val n = str.length
    val cps = new Array[Int](str.codePointCount(0, n))
    var i = 0
    var k = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    cps
  }
}

/** Left-to-right dot product of two double arrays (same accumulation
  * order as aggregate(zip_with(...)) and the oracle's list_reduce). */
object DotProduct {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}

/** Distinct n-gram shingles of a token array, first-occurrence order —
  * the native form of
  * array_distinct(transform(sequence(...), i -> concat_ws(' ', ...)))
  * whose lambdas evaluate interpreted (outside codegen) in the dedup
  * staging path. Yields fewer than n tokens -> empty array, matching
  * the CASE guard of the column formulation; values are identical
  * (same join separator, same first-occurrence distinct), so the
  * DuckDB oracles are unchanged. */
object Shingles {
  private val SEP = UTF8String.fromString(" ")

  def shingle(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(SEP, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** One-pass character-entropy statistics of a string: the native form
  * of size(split(text,'')) / size(array_distinct(split(text,''))) /
  * aggregate(array_sort(split(text,'')), run-length c*log2(c) fold)
  * whose lambdas evaluate interpreted (outside codegen) and whose
  * split materialized three single-code-point-string arrays per row.
  * Values are identical: code points in sorted (UTF8-byte == code
  * point) order, per-run term run*log2(run) with the same
  * StrictMath.log(x)/StrictMath.log(2) double arithmetic as Spark's LOG2, and the
  * same left-to-right accumulation from 0.0, and the empty string
  * keeps split('', '') = [''] semantics (n_chars = n_distinct = 1,
  * s = 1*log2(1) = 0). Output: struct(n_chars, n_distinct, s). */
object TextEntropyStats {
  // Spark's LOG2 is StrictMath.log(x) / StrictMath.log(2) — Math.log
  // differs by an ulp on some inputs, which the equality spec catches
  private val LN2 = java.lang.StrictMath.log(2.0)

  def stats(s: UTF8String): InternalRow = {
    if (s.numBytes == 0) // split('', '') = [''] — one empty element, entropy 0
      return new GenericInternalRow(Array[Any](1L, 1L, 0.0))
    val cps = CodePoints.of(s)
    val k = cps.length
    java.util.Arrays.sort(cps)
    var acc = 0.0
    var run = 1.0
    var distinct = 1L
    var j = 1
    while (j < k) {
      if (cps(j) == cps(j - 1)) run += 1.0
      else {
        acc += run * (java.lang.StrictMath.log(run) / LN2)
        run = 1.0
        distinct += 1L
      }
      j += 1
    }
    acc += run * (java.lang.StrictMath.log(run) / LN2)
    new GenericInternalRow(Array[Any](k.toLong, distinct, acc))
  }
}

/** Polynomial hashes of a token array's sliding n-grams, native: one
  * long per window position, hash = [[PolyHash]] of
  * concat_ws(' ', slice(t, i+1, n)) — the exact values of the
  * transform/concat_ws/poly_hash spelling (n = 8 for the
  * substring-dedup gram stream, n = 2 for the DSIR bigram features),
  * without the interpreted `transform` lambda or the concatenated
  * string per window. The fold runs straight over each word's code
  * points with the ' ' separator folded in between; a space can never
  * fuse surrogates across the boundary, so the per-word iteration
  * equals iterating the concatenation. Fewer than n tokens -> empty
  * array, matching the CASE guard of the column formulation. */
object NgramHashes {
  def hashes(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var acc = PolyHash.hash(toks.getUTF8String(i))
      var j = 1
      while (j < n) {
        acc = (acc * 31L + 32L) % PolyHash.P // the ' ' separator
        acc = PolyHash.fold(acc, toks.getUTF8String(i + j))
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Perceptual-hash signature of the media-surrogate text, native: the
  * 60-pixel grid sample (code point at 1-based position
  * 1 + (i*(n-1)) div 59 — Spark's substring/ascii are code-point
  * based), the integer grid mean, the 60-long threshold bit vector
  * and the four 15-bit little-endian band values, in one compiled
  * pass. Replaces three interpreted `transform`/`aggregate` lambdas
  * per doc plus the banding fold (values identical:
  * same sample positions, same div-mean, same power-of-two packing —
  * spec-checked against the column spelling). Empty text -> null
  * (callers filter length >= 1 first, as before). */
object PhashSig {
  final val Pix = 60
  final val BandBits = 15

  def sig(s: UTF8String): InternalRow = {
    if (s.numBytes == 0) return null
    val cps = CodePoints.of(s)
    val n = cps.length.toLong // length(text) = numChars
    val parr = new Array[Long](Pix)
    var sum = 0L
    var i = 0
    while (i < Pix) {
      parr(i) = cps(((i * (n - 1)) / (Pix - 1)).toInt).toLong
      sum += parr(i)
      i += 1
    }
    val avg = sum / Pix
    val bits = new Array[Long](Pix)
    i = 0
    while (i < Pix) {
      bits(i) = if (parr(i) > avg) 1L else 0L
      i += 1
    }
    val bands = new Array[Long](Pix / BandBits)
    var b = 0
    while (b < bands.length) {
      var v = 0L
      var j = 0
      while (j < BandBits) {
        v += bits(b * BandBits + j) * (1L << j)
        j += 1
      }
      bands(b) = v
      b += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(bits), new GenericArrayData(bands)))
  }
}

/** Element-wise Hamming distance of two equal-length long arrays —
  * the native form of aggregate(zip_with(a, b, (x,y) -> IF(x<>y,1,0)),
  * 0, +) used by the pHash candidate verify. */
object ArrayHamming {
  def dist(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.getLong(i) != b.getLong(i)) acc += 1L
      i += 1
    }
    acc
  }
}

/** floor(v * 2^20) quantization of a double array — the repo's
  * oracle-portable coordinate convention, native (replaces the
  * interpreted per-element transform lambda). [[quantize]] is the one
  * scalar form, shared by the LSH and projection kernels. */
object Quantize20 {
  def quantize(x: Double): Long = math.floor(x * 1048576.0).toLong

  def q(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = quantize(a.getDouble(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Mean-centered upper-triangle products of a quantized vector
  * against the broadcast per-dimension means: c = q - m elementwise,
  * emit (i, j, c_i * c_j) for every 0 <= i <= j < d — the native form
  * of the zip_with + posexplode + per-i transform/element_at chain
  * that generated feat_pca_scatter's scatter terms interpreted. Same
  * exact BIGINT products; the downstream explode + groupBy sum is
  * order-free. */
object TriangleProducts {
  def products(q: ArrayData, m: ArrayData): ArrayData = {
    val d = math.min(q.numElements(), m.numElements())
    val c = new Array[Long](d)
    var i = 0
    while (i < d) {
      c(i) = q.getLong(i) - m.getLong(i)
      i += 1
    }
    val out = new Array[Any](d * (d + 1) / 2)
    var k = 0
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        out(k) = new GenericInternalRow(Array[Any](i.toLong, j.toLong, c(i) * c(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** One node2vec step's biased draw, native: given the CURRENT node's
  * sorted adjacency, the PREVIOUS node's sorted adjacency, the
  * previous node and the walk's LCG residue rbase, classify each
  * candidate (return=1 / common=2 / forward=4), draw index
  * sel = #(prefix sums <= floorMod(rbase, tot)) and return
  * adjacency[sel] — the exact arithmetic of the explode + groupBy +
  * sort_array + interpreted-`aggregate` spelling it replaces (same
  * sorted-dst order, same weights, same non-negative residue as the
  * join spelling's pmod draw), without materializing one row per
  * candidate edge or shuffling them back into per-walk groups.
  * Membership probes use binary search on the sorted previous
  * adjacency (O(deg log deg) per row, compiled) — the r12 rejection
  * of the one-row draw was the INTERPRETED lambda's boxed
  * O(deg_cur x deg_prev) scan, not the row shape. Hub caveat stays:
  * a single extreme-degree node is one row's loop; hub-heavy graphs
  * should salt or keep the exploded join spelling. */
object Node2vecDraw {
  final val ReturnW = 1L
  final val CommonW = 2L
  final val ForwardW = 4L

  private def contains(sorted: ArrayData, n: Int, v: Long): Boolean = {
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = sorted.getLong(mid)
      if (x == v) return true
      else if (x < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def draw(cur: ArrayData, prevNbrs: ArrayData, prev: Long,
      rbase: Long): Long = {
    val n = cur.numElements()
    val pn = prevNbrs.numElements()
    val w = new Array[Long](n)
    var tot = 0L
    var i = 0
    while (i < n) {
      val dst = cur.getLong(i)
      val wi =
        if (dst == prev) ReturnW
        else if (contains(prevNbrs, pn, dst)) CommonW
        else ForwardW
      w(i) = wi
      tot += wi
      i += 1
    }
    // the non-negative residue, as the join spelling's pmod draw: a
    // negative rbase lands on the cumulative line like any other
    val r = Math.floorMod(rbase, tot)
    var cum = 0L
    var sel = 0
    i = 0
    while (i < n) {
      cum += w(i)
      if (cum <= r) sel += 1
      i += 1
    }
    cur.getLong(sel) // r in [0, tot), so sel < n
  }
}

/** All hyperplane-LSH bucket ids of one embedding in one compiled
  * pass: for each table t, bucket_t = Σ_j (sj(t,j) >= 0 ? 2^j : 0)
  * with sj(t,j) = Σ_i qv_i · w(t,j,i), qv_i = floor(x_i · 2^20) and
  * w the {-1,0,1} LCG weights of [[graft.functions.Similarity]]'s
  * planeWeightsFor — the exact arithmetic of the former
  * posexplode ⋈ weight-relation ⋈ two-level-rollup spelling, which
  * materialized |V|·64·planes·tables joined rows (~30M at sf0.1)
  * to compute |V|·tables numbers. A 96-literal-column respelling was
  * measured 2x WORSE in r10 (giant expression tree defeats codegen);
  * this is ONE static call per row, inside whole-stage codegen.
  *
  * Null semantics replay the join spelling exactly: null/EMPTY array
  * -> null result (posexplode then yields no rows — the vector is
  * absent, as the explode side made it), so the column is nullable
  * even over a non-null input; null ELEMENTS are skipped by
  * the sum; an all-null non-empty array yields per-table NULL buckets
  * (sj = sum of empty group = null there). Elements beyond i = 63
  * are ignored (the weight relation only carries i < 64). */
object LshBuckets {
  /** Null return = "no rows" for the consuming posexplode. */
  def buckets(arr: ArrayData, tables: Int, planes: Int): ArrayData = {
    val m = arr.numElements()
    if (m == 0) return null
    val n = math.min(m, 64)
    val qv = new Array[Long](n)
    val has = new Array[Boolean](n)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        qv(i) = Quantize20.quantize(arr.getDouble(i))
        has(i) = true
        any = true
      }
      i += 1
    }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      if (any) {
        var bucket = 0L
        var j = 0
        while (j < planes) {
          var sj = 0L
          var k = 0
          while (k < n) {
            if (has(k)) {
              val w = ((1103515245L * ((t.toLong * planes + j) * 64L +
                k + 1L) + 12345L) % 2147483647L) % 3L - 1L
              sj += qv(k) * w
            }
            k += 1
          }
          if (sj >= 0) bucket |= 1L << j
          j += 1
        }
        out(t) = bucket
      } // else: all-null elements -> NULL bucket per table
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Achlioptas ±1 JL projection of one double array to k dims in one
  * compiled pass: p_j = Σ_{d=1..n} x_d · sign(d, j), sign(d, j) =
  * ((d·131 + j·31 + 7) · 2654435761) % 1000000007 % 2 == 0 ? 1 : −1
  * (d 1-based) — the exact per-column `transform(sequence, aggregate)`
  * arithmetic of sim_random_projection, SAME ascending-d IEEE fold
  * order per output dim (the DuckDB mirror's order). The higher-order
  * spelling ran k·n interpreted lambda evaluations per row. Null
  * handling: any null ELEMENT poisons every fold (array of k nulls —
  * the aggregate's null propagation); a null ARRAY returns null where
  * the column spelling produced an array of k nulls — divergent only
  * for null embeddings, which the corpus excludes and the consumers
  * null-propagate identically anyway. */
object RpProject {
  def project(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        return new GenericArrayData(new Array[Any](k)) // poisoned folds: k nulls
      i += 1
    }
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      var acc = 0.0
      var d = 1
      while (d <= n) {
        val s = ((d.toLong * 131L + j.toLong * 31L + 7L) * 2654435761L) %
          1000000007L % 2L
        val w = if (s == 0L) 1.0 else -1.0
        acc += arr.getDouble(d - 1) * w
        d += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Integer random projection of one embedding to k BIGINT sums in one
  * compiled pass: p_j = Σ_{i=0..n−1} qv_i · sign(i, j) with
  * qv_i = floor(x_i · 2^20) and sign(i, j) = (i·(2j+3) + 97j+31)
  * % 1000000007 % 2 == 1 ? 1 : −1 — the exact arithmetic of
  * feat_project's 8 per-column `aggregate` lambdas (i 0-based).
  * Null semantics as [[RpProject]]. */
object FeatProject {
  def project(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        return new GenericArrayData(new Array[Any](k)) // poisoned folds: k nulls
      i += 1
    }
    val qv = new Array[Long](n)
    i = 0
    while (i < n) {
      qv(i) = Quantize20.quantize(arr.getDouble(i))
      i += 1
    }
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      var acc = 0L
      i = 0
      while (i < n) {
        val s = (i.toLong * (2L * j + 3L) + (97L * j + 31L)) %
          1000000007L % 2L
        acc += qv(i) * (if (s == 1L) 1L else -1L)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Column-level entry points + SQL registration. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
  import org.apache.spark.sql.functions.{array, coalesce, lit}
  import org.apache.spark.sql.graftbridge.Bridge

  private val Doubles = ArrayType(DoubleType)
  private val Longs = ArrayType(LongType)
  private val LongsNonNull = ArrayType(LongType, containsNull = false)

  /** The one way a kernel becomes a column: a `StaticInvoke` of
    * `kernel.method(args)`. Each argument is paired with the type the
    * kernel reads it as, and the analyzer casts an argument of another
    * type to it (float arrays widen losslessly to double, a number
    * becomes its string) — for DataFrame and SQL callers alike. A null
    * argument gives null without calling the kernel; `returnNullable`
    * is set only for the kernels that return null themselves, so every
    * other column is nullable exactly when an argument is. */
  private def invoke(kernel: AnyRef, method: String, dataType: DataType,
      returnNullable: Boolean = false)(args: (Column, DataType)*)
      : Column =
    Bridge.toColumn(StaticInvoke(kernel.getClass, dataType, method,
      args.map(a => Bridge.toExpr(a._1)), args.map(_._2),
      returnNullable = returnNullable))

  def poly_hash(c: Column): Column =
    invoke(PolyHash, "hash", LongType)(c -> StringType)

  def text_entropy_stats(c: Column): Column =
    invoke(TextEntropyStats, "stats", StructType(Seq(
      StructField("n_chars", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("s", DoubleType, nullable = false))))(c -> StringType)

  def ngram_hashes(c: Column, n: Int): Column = {
    require(n >= 1)
    invoke(NgramHashes, "hashes", LongsNonNull)(
      c -> ArrayType(StringType), lit(n) -> IntegerType)
  }

  def phash_sig(c: Column): Column =
    invoke(PhashSig, "sig", StructType(Seq(
      StructField("bits", LongsNonNull, nullable = false),
      StructField("bands", LongsNonNull, nullable = false))),
      returnNullable = true)(c -> StringType)

  def quantize20(c: Column): Column =
    invoke(Quantize20, "q", LongsNonNull)(c -> Doubles)

  def triangle_products(q: Column, m: Column): Column =
    invoke(TriangleProducts, "products", ArrayType(StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("p", LongType, nullable = false))), containsNull = false))(
      q -> Longs, m -> Longs)

  def array_hamming(a: Column, b: Column): Column =
    invoke(ArrayHamming, "dist", LongType)(a -> Longs, b -> Longs)

  def n2v_draw(nbrsCur: Column, nbrsPrev: Column, prev: Column,
      rbase: Column): Column =
    invoke(Node2vecDraw, "draw", LongType)(nbrsCur -> Longs,
      nbrsPrev -> Longs, prev -> LongType, rbase -> LongType)

  /** Distinct n-gram shingles of a token-array column. Coalesced to
    * an empty array on null input — the contract of the CASE-guarded
    * column formulation this replaces (the bare kernel call would
    * return NULL for a null doc). */
  def shingles(c: Column, n: Int = 3): Column = {
    require(n >= 1)
    coalesce(
      invoke(Shingles, "shingle", ArrayType(StringType, containsNull = false))(
        c -> ArrayType(StringType), lit(n) -> IntegerType),
      array())
  }

  def rp_project(c: Column, k: Int): Column = {
    require(k >= 1)
    invoke(RpProject, "project", Doubles)(c -> Doubles, lit(k) -> IntegerType)
  }

  def feat_project(c: Column, k: Int): Column = {
    require(k >= 1)
    invoke(FeatProject, "project", Longs)(c -> Doubles, lit(k) -> IntegerType)
  }

  def lsh_buckets(c: Column, tables: Int, planes: Int): Column = {
    require(tables >= 1 && planes >= 1 && planes <= 62)
    invoke(LshBuckets, "buckets", Longs, returnNullable = true)(
      c -> Doubles, lit(tables) -> IntegerType, lit(planes) -> IntegerType)
  }

  def dot(a: Column, b: Column): Column =
    invoke(DotProduct, "dot", DoubleType)(a -> Doubles, b -> Doubles)

  /** Register as SQL functions in a session: scalar graft_poly_hash(s)
    * / graft_dot(a, b) / graft_shingles(toks[, n]), built by the
    * column functions above so SQL and DataFrame calls are the same
    * expression, and aggregate graft_minhash(h, k) /
    * graft_simhash64(h, cnt) — the analyzer wraps raw
    * AggregateFunctions returned from the registry itself. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotent per session: re-registering emits a "replaced a
    // previously registered function" warning per function per call
    // site (Verify/Bench invoke many queries in one session), so
    // skip when the full set is already present
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(
          "graft_shingles"))) return
    def fn(name: String)(build: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    def scalar(name: String)(f: Seq[Column] => Column): Unit =
      fn(name)(exprs => Bridge.toExpr(spark, f(exprs.map(Bridge.toColumn))))
    def intArg(e: Expression): Int = e match {
      case Literal(k: Int, _) => k
      case other => other.eval().toString.toInt // foldable literal
    }
    scalar("graft_poly_hash")(c => poly_hash(c(0)))
    scalar("graft_dot")(c => dot(c(0), c(1)))
    fn("graft_minhash")(exprs => MinHashAgg(exprs(0), intArg(exprs(1))))
    fn("graft_simhash64")(exprs => SimHash64Agg(exprs(0), exprs(1)))
    fn("graft_shingles")(exprs => Bridge.toExpr(spark, shingles(
      Bridge.toColumn(exprs(0)), exprs.lift(1).fold(3)(intArg))))
  }
}
