package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector / hashing hot paths
  * (SURVEY.md §7: custom-Expression tier). The equivalent
  * `transform`/`aggregate` higher-order-function pipelines evaluate a
  * lambda per array element outside whole-stage codegen; these
  * replace them with a single tight JVM loop per row — identical
  * numeric semantics (same accumulation order), ~10-50x faster on the
  * similarity/dedup benchmarks.
  */
object VectorExpressions {

  private def elemDouble(arr: ArrayData, et: DataType, i: Int): Double =
    et match {
      case FloatType  => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case IntegerType => arr.getInt(i).toDouble
      case LongType   => arr.getLong(i).toDouble
      case other => sys.error(s"unsupported element type: $other")
    }

  /** java accessor snippet reading element i of `arr` as double */
  private def elemJava(arr: String, et: DataType, i: String): String =
    et match {
      case FloatType   => s"(double) $arr.getFloat($i)"
      case DoubleType  => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType    => s"(double) $arr.getLong($i)"
      case other => sys.error(s"unsupported element type: $other")
    }

  /** dot(a, b): Σ a_i * b_i, accumulated left-to-right in double —
    * bit-identical to aggregate(zip_with(a, b, _*_), 0.0, _+_).
    * Participates in whole-stage codegen (doGenCode emits the loop
    * inline); array elements must be non-null (dense vectors). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def elemType(e: Expression) =
      e.dataType.asInstanceOf[ArrayType].elementType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val xt = elemType(left); val yt = elemType(right)
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += elemDouble(x, xt, i) * elemDouble(y, yt, i)
        i += 1
      }
      s
    }
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (${elemJava(a, elemType(left), i)}) *
         |        (${elemJava(b, elemType(right), i)});
         |}
         |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** cosine(a, b) = dot / (||a|| * ||b||), 0.0 when either norm is 0 —
    * same formula shape as VectorFunctions.cosine; codegen'd like
    * DotProduct. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def elemType(e: Expression) =
      e.dataType.asInstanceOf[ArrayType].elementType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val xt = elemType(left); val yt = elemType(right)
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = elemDouble(x, xt, i); val yv = elemDouble(y, yt, i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn == 0.0) 0.0 else dot / nn
    }
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv"); val nn = ctx.freshName("nn")
        s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${elemJava(a, elemType(left), i)};
         |  double $yv = ${elemJava(b, elemType(right), i)};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $nn = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($nn == 0.0) ? 0.0 : ($dot / $nn);
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Within-cluster near-dup verification for SemDedup: over one
    * cluster's collected members, an array of
    * struct(id, v, centroid_cosine), emit every member pair with
    * DISTINCT ids whose cosine is >= `minCosine`, as
    * struct(id_a, id_b, cosine, cent_cos_a, cent_cos_b) with
    * id_a < id_b (least/greatest under the id type's interpreted
    * ordering, so any orderable id type works) and the cent_cos
    * fields following their ids.
    *
    * VALUE CONTRACT: the cosine is [[CosineSimilarity]]'s arithmetic
    * bit for bit — dot, then both squared norms, accumulated in index
    * order over the common length, sqrt(na)·sqrt(nb), 0.0 on a zero
    * norm. Each member's squared norm is accumulated ONCE, in the same
    * order, and reused for every pair of equal-length vectors (the
    * common case); unequal lengths re-accumulate over the common
    * prefix. The threshold compares as SQL `>=` does (NaN is largest).
    * Members with a null id or a null vector never pair (the id join
    * and the null-intolerant cosine of the join-back pipeline dropped
    * them too). Copies of one id inside a cluster pair with every
    * other id once per copy — the multiplicity the join-back gave.
    *
    * Cost: n_c²/2 dot products of one cluster inside one task; only
    * verified pairs leave it. Memory: the members' vectors, densified
    * to doubles (n_c × dim × 8 B). */
  case class ClusterPairs(child: Expression, minCosine: Double)
      extends UnaryExpression {
    @transient private lazy val memberType: StructType =
      child.dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType]
    @transient private lazy val idType: DataType =
      memberType.fields(0).dataType
    @transient private lazy val vecElemType: DataType =
      memberType.fields(1).dataType.asInstanceOf[ArrayType].elementType
    @transient private lazy val idOrdering: Ordering[Any] =
      org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(idType)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("cosine", DoubleType, nullable = false),
      StructField("cent_cos_a", DoubleType),
      StructField("cent_cos_b", DoubleType))), containsNull = false)

    private def cosineOf(x: Array[Double], sx: Double,
                         y: Array[Double], sy: Double): Double = {
      val n = math.min(x.length, y.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += x(i) * y(i); i += 1 }
      val na = if (x.length == n) sx else sumSq(x, n)
      val nb = if (y.length == n) sy else sumSq(y, n)
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn == 0.0) 0.0 else dot / nn
    }

    private def sumSq(x: Array[Double], n: Int): Double = {
      var s = 0.0
      var i = 0
      while (i < n) { s += x(i) * x(i); i += 1 }
      s
    }

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val et = vecElemType
      val ids = new Array[Any](n)
      val vecs = new Array[Array[Double]](n)
      val sq = new Array[Double](n)
      val cc = new Array[Any](n)
      var k = 0
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val mem = arr.getStruct(i, 3)
          if (!mem.isNullAt(0) && !mem.isNullAt(1)) {
            val va = mem.getArray(1)
            val v = new Array[Double](va.numElements())
            var t = 0
            while (t < v.length) { v(t) = elemDouble(va, et, t); t += 1 }
            ids(k) = InternalRow.copyValue(mem.get(0, idType))
            vecs(k) = v
            sq(k) = sumSq(v, v.length)
            cc(k) = if (mem.isNullAt(2)) null else mem.getDouble(2)
            k += 1
          }
        }
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var a = 0
      while (a < k) {
        var b = a + 1
        while (b < k) {
          val ord = idOrdering.compare(ids(a), ids(b))
          if (ord != 0) {
            val c = cosineOf(vecs(a), sq(a), vecs(b), sq(b))
            if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                .compareDoubles(c, minCosine) >= 0) {
              val (lo, hi) = if (ord < 0) (a, b) else (b, a)
              out += new GenericInternalRow(
                Array[Any](ids(lo), ids(hi), c, cc(lo), cc(hi)))
            }
          }
          b += 1
        }
        a += 1
      }
      new GenericArrayData(out.toArray[Any])
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("clusterPairs", this,
        classOf[ClusterPairs].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  /** 64-bit SimHash over an array<string> of tokens: one pass, per
    * token one xxhash64 (seed 42, same as functions.xxhash64) and 64
    * bit votes. doGenCode keeps the operator inside whole-stage
    * codegen (children evaluated codegen'd; the kernel itself is one
    * virtual call into `compute` — the loop is already tight JVM
    * code, so emitting it as raw Java would buy nothing). */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    def compute(arr: ArrayData): Long = {
      val n = arr.numElements()
      val votes = new Array[Int](64)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          val h = XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** [[SimHash64]] with the PORTABLE md5-derived 60-bit token hash —
    * the q45 fingerprint discipline applied to simhash: h(token) =
    * first 15 hex chars of md5 as a 60-bit integer (exactly Spark's
    * `conv(substring(md5(t),1,15),16,10)` and DuckDB's
    * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), sign-vote over
    * bits 0..59, ties vote 0. Every step is integer-exact and
    * replayable in standard SQL, which is what puts the simhash
    * family's arithmetic under a full DuckDB oracle (q142) where the
    * xxhash64 production default can only be rows-only (q48).
    * MessageDigest is not thread-safe → one per thread. */
  case class SimHashMd5(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    @transient private lazy val md =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }
    def compute(arr: ArrayData): Long = {
      val n = arr.numElements()
      val votes = new Array[Int](60)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val d = md.get()
          d.reset()
          val digest = d.digest(arr.getUTF8String(i).getBytes)
          // first 15 hex chars = bytes 0..6 + the HIGH nibble of
          // byte 7, read big-endian → a 60-bit value
          var h = 0L
          var j = 0
          while (j < 7) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
          h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
          var b = 0
          while (b < 60) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 60) {
        if (votes(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhashMd5", this,
        classOf[SimHashMd5].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** k MinHash values over an array<string> of shingles: one pass per
    * row; h(s) = xxhash64(s) mod p with p = 2^31 − 1 (identical to the
    * column-math formulation in TextFunctions — domain == modulus, so
    * each (a_i*h + b_i) mod p is a true permutation of Z_p),
    * sig_i = min (a_i*h + b_i) mod p. */
  /** An empty shingle array yields the sentinel signature
    * (Long.MaxValue in every slot — no real minimum observed), NOT
    * null: the expression's nullability stays child-derived, so
    * returning expression-level null for a non-null input would
    * violate the nullability contract the optimizer relies on.
    * Callers that want empties excluded filter size(sh) > 0 upstream
    * (the Dedup operators do). */
  case class MinHashSignature(child: Expression, coeffs: Seq[(Long, Long)],
                              prime: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val as: Array[Long] = coeffs.map(_._1).toArray
    private val bs: Array[Long] = coeffs.map(_._2).toArray
    // base-hash domain == modulus: (a*h+b) mod prime is then a true
    // permutation of [0, prime) for a != 0 (see TextFunctions scaladoc)
    private val domain = prime
    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val k = as.length
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          val raw = XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          val h = java.lang.Math.floorMod(raw, domain)
          var j = 0
          while (j < k) {
            val hv = java.lang.Math.floorMod(as(j) * h + bs(j), prime)
            if (hv < mins(j)) mins(j) = hv
            j += 1
          }
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhash", this,
        classOf[MinHashSignature].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Multi-table hyperplane-LSH codes for a dense numeric vector:
    * `nTables` independent tables of `bitsPerTable` random Gaussian
    * hyperplanes each (deterministic from `seed`). Returns
    * array<long> of length nTables; slot t packs that table's sign
    * bits with the table id mixed into the high bits, so
    * posexplode(codes) yields ready-to-join (table, bucket) keys.
    *
    * Sign invariance: codes(c * v) == codes(v) for any c > 0 — the
    * projection scales exactly, so positive scalings of a vector land
    * in the same bucket in every table (used by the embedding-dedup
    * oracle). One pass over nTables*bitsPerTable*dim multiply-adds;
    * stays inside whole-stage codegen via the compute-reference
    * pattern. */
  case class HyperplaneCodes(child: Expression, nTables: Int,
                             bitsPerTable: Int, dim: Int, seed: Long)
      extends UnaryExpression {
    require(nTables >= 1 && nTables <= 256,
      "nTables must be in [1, 256] (table id is the 8 high bits of the " +
        "packed code; more tables would wrap mod 2^64 and alias buckets)")
    require(bitsPerTable >= 1 && bitsPerTable <= 56,
      "bitsPerTable must be in [1, 56] (table id lives in the high bits)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val planes: Array[Double] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(nTables * bitsPerTable * dim)(rnd.nextGaussian())
    }
    @transient private lazy val elemType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType
    def compute(arr: ArrayData): ArrayData = {
      val p = planes
      val et = elemType
      val n = math.min(dim, arr.numElements())
      val codes = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var code = 0L
        var b = 0
        while (b < bitsPerTable) {
          val off = (t * bitsPerTable + b) * dim
          var s = 0.0
          var j = 0
          while (j < n) {
            s += elemDouble(arr, et, j) * p(off + j)
            j += 1
          }
          if (s >= 0.0) code |= (1L << b)
          b += 1
        }
        codes(t) = code | (t.toLong << 56)
        t += 1
      }
      new GenericArrayData(codes)
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hyperplanes", this,
        classOf[HyperplaneCodes].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Product-quantization encode: split a dense `m*dsub`-dim vector
    * into `m` subspaces and emit, per subspace, the index of the
    * nearest codebook centroid by squared L2 (strict `<` keeps the
    * LOWEST index on exact ties — the argmin the SQL oracle replays
    * with `row_number ... ORDER BY d2, cidx`). `centroids` is the
    * flattened codebook laid out `[(sub*ksub)+cidx]*dsub + j`, fit
    * once on a bounded sample and baked into the expression — the
    * codebook rides the closure to every task like a broadcast, and
    * the per-row work (m*ksub*dsub multiply-adds) stays inside
    * whole-stage codegen via the compute-reference pattern.
    *
    * `packed=false` → array<int> of length m (SQL-replayable form);
    * `packed=true` → m-byte binary (requires ksub <= 256) — the form
    * a 100 TB corpus actually stores: a 256-dim float32 embedding
    * (1 KiB) compresses to m=32 bytes, a 32x scan-volume cut for the
    * ADC search path. */
  case class PqEncode(child: Expression, m: Int, dsub: Int, ksub: Int,
                      centroids: Array[Double], packed: Boolean)
      extends UnaryExpression {
    require(m >= 1 && dsub >= 1 && ksub >= 1, "m, dsub, ksub must be >= 1")
    require(centroids.length == m * ksub * dsub,
      s"codebook length ${centroids.length} != m*ksub*dsub (${m * ksub * dsub})")
    require(!packed || ksub <= 256, "packed codes require ksub <= 256")
    override def dataType: DataType =
      if (packed) BinaryType else ArrayType(IntegerType, containsNull = false)
    @transient private lazy val elemType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType
    def codeOf(arr: ArrayData, s: Int): Int = {
      val et = elemType
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (s * ksub + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val diff = elemDouble(arr, et, s * dsub + j) - centroids(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    def compute(arr: ArrayData): Any = {
      require(arr.numElements() >= m * dsub,
        s"vector has ${arr.numElements()} dims, need ${m * dsub}")
      if (packed) {
        val out = new Array[Byte](m)
        var s = 0
        while (s < m) { out(s) = codeOf(arr, s).toByte; s += 1 }
        out
      } else {
        val out = new Array[Int](m)
        var s = 0
        while (s < m) { out(s) = codeOf(arr, s); s += 1 }
        new GenericArrayData(out)
      }
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqEncode", this,
        classOf[PqEncode].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Asymmetric distance computation (ADC) for PQ search: squared L2
    * between a RAW query vector and a corpus row's QUANTIZED form —
    * Σ_s ||q_sub(s) − centroid[codes(s)]||², accumulated subspace by
    * subspace, element by element, in index order (the oracle replays
    * the same order with nested list lambdas). `codes` accepts both
    * encode forms (array<int> or packed binary).
    *
    * Per-row cost is m*dsub multiply-adds — the same arithmetic as an
    * exact distance, which is deliberate: per-query distance-table
    * (LUT) caching would need per-query state inside codegen, and the
    * 100 TB win of PQ is the 32-64x scan-volume cut from reading
    * codes instead of vectors (IO-bound at corpus scale), which this
    * form fully keeps. */
  case class PqAdc(left: Expression, right: Expression, m: Int, dsub: Int,
                   ksub: Int, centroids: Array[Double])
      extends BinaryExpression {
    require(centroids.length == m * ksub * dsub,
      s"codebook length ${centroids.length} != m*ksub*dsub (${m * ksub * dsub})")
    override def dataType: DataType = DoubleType
    @transient private lazy val qElemType: DataType =
      left.dataType.asInstanceOf[ArrayType].elementType
    def compute(q: Any, codesRaw: Any): Double = {
      val qa = q.asInstanceOf[ArrayData]
      val et = qElemType
      // unsafe array reads perform NO bounds checks — a short vector
      // or a codes column from a different model would read garbage
      // memory and return silently wrong distances; fail loud instead
      // (elements must additionally be non-null / dense, the same
      // contract as DotProduct)
      require(qa.numElements() >= m * dsub,
        s"query vector has ${qa.numElements()} dims, need ${m * dsub}")
      val codes: Int => Int = codesRaw match {
        case b: Array[Byte] =>
          require(b.length >= m, s"codes have ${b.length} bytes, need $m")
          s => b(s) & 0xff
        case a: ArrayData =>
          require(a.numElements() >= m,
            s"codes have ${a.numElements()} entries, need $m")
          s => a.getInt(s)
      }
      var total = 0.0
      var s = 0
      while (s < m) {
        val c = codes(s)
        require(c >= 0 && c < ksub,
          s"code $c at subspace $s out of range [0, $ksub) — codes " +
            "were encoded under a different model")
        val base = (s * ksub + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val diff = elemDouble(qa, et, s * dsub + j) - centroids(base + j)
          d += diff * diff
          j += 1
        }
        total += d
        s += 1
      }
      total
    }
    override def nullSafeEval(q: Any, codes: Any): Any = compute(q, codes)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
      nullSafeCodeGen(ctx, ev, (q, c) =>
        s"${ev.value} = $ref.compute($q, $c);")
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression) = copy(left = l, right = r)
  }

  // ---- Column wrappers ---------------------------------------------------
  // Spark 4 Columns wrap ColumnNodes, not Expressions; the graftbridge
  // shim re-exports the classic-mode conversions.

  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def clusterPairs(members: Column, minCosine: Double): Column =
    column(ClusterPairs(expression(members), minCosine))
  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def simhashMd5(tokens: Column): Column = column(SimHashMd5(expression(tokens)))
  def minhashSignature(shingles: Column, coeffs: Seq[(Long, Long)],
                       prime: Long): Column =
    column(MinHashSignature(expression(shingles), coeffs, prime))
  def hyperplaneCodes(vec: Column, nTables: Int, bitsPerTable: Int,
                      dim: Int, seed: Long): Column =
    column(HyperplaneCodes(expression(vec), nTables, bitsPerTable, dim, seed))
  def pqEncode(vec: Column, m: Int, dsub: Int, ksub: Int,
               centroids: Array[Double], packed: Boolean): Column =
    column(PqEncode(expression(vec), m, dsub, ksub, centroids, packed))
  def pqAdc(query: Column, codes: Column, m: Int, dsub: Int, ksub: Int,
            centroids: Array[Double]): Column =
    column(PqAdc(expression(query), expression(codes), m, dsub, ksub,
      centroids))
}
