// Hosted under org.apache.spark.sql for the same reason as
// VectorExpressions: the ExpectsInputTypes contract and the
// Column<->Expression bridge are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-sensitive rolling hash over a token array: the chained-xxhash64
  * fold `acc_i = xxhash64(acc_{i-1}, token_i)` (acc_0 = 0) as ONE codegen'd
  * expression. The `aggregate` higher-order formulation computes the same
  * values but evaluates its lambda interpreted per element with boxing —
  * this keeps the whole corpus fingerprint scan inside WholeStageCodegen.
  * Bit-identical to `aggregate(tokens, 0L, (acc, t) => xxhash64(acc, t))`:
  * each step is hashLong(acc, 42) then hashUnsafeBytes(token, that). */
case class RollingXxHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_xxhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = XxHash64Function.hash(acc, LongType, 42L)
      // mirror xxhash64's null handling: a null element leaves the token
      // step out but the accumulator step still applies
      if (!arr.isNullAt(i)) {
        acc = XxHash64Function.hash(arr.getUTF8String(i), StringType, acc)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      s"""
         |int $n = $a.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc = $xxh.hashLong($acc, 42L);
         |  if (!$a.isNullAt($i)) {
         |    UTF8String $t = $a.getUTF8String($i);
         |    $acc = $xxh.hashUnsafeBytes($t.getBaseObject(), $t.getBaseOffset(),
         |      $t.numBytes(), $acc);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingXxHash64 =
    copy(newChild)
}

/** Word n-gram shingles of a token array as ONE codegen'd projection:
  * out[i] = tokens[i..i+n-1] joined by a single space, for
  * i in [0, len-n]. Shorter-than-n docs yield an empty array.
  *
  * Replaces the window formulation (posexplode → lead(i) over
  * (id, pos)) used when only built-ins were allowed: that route
  * hash-shuffles and sorts EVERY shingle row just to see the next n-1
  * tokens, while this is a per-row loop — at corpus scale the minhash
  * signature aggregation then partial-combines map-side and the shuffle
  * carries k longs per doc instead of every shingle. (The `transform` +
  * `slice` HOF route computes the same values but interpreted.)
  * Null tokens are skipped inside a shingle, matching concat_ws. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(n >= 2, "use the token array directly for n <= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val count = math.max(0, arr.numElements() - n + 1)
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](count)
    var i = 0
    while (i < count) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(i + j)) parts(j) = arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toIndexedSeq)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sepRef = ctx.addReferenceObj("shingleSep",
        org.apache.spark.unsafe.types.UTF8String.fromString(" "),
        "UTF8String")
      val count = ctx.freshName("count")
      val out = ctx.freshName("out")
      val parts = ctx.freshName("parts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |int $count = $a.numElements() - ${n - 1};
         |if ($count < 0) $count = 0;
         |UTF8String[] $out = new UTF8String[$count];
         |for (int $i = 0; $i < $count; $i++) {
         |  UTF8String[] $parts = new UTF8String[$n];
         |  for (int $j = 0; $j < $n; $j++) {
         |    $parts[$j] = $a.isNullAt($i + $j) ? null : $a.getUTF8String($i + $j);
         |  }
         |  $out[$i] = UTF8String.concatWs($sepRef, $parts);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** The SET of a document's word n-gram hashes as one sorted, distinct
  * array<bigint>: element values are exactly `xxhash64(shingle)` over
  * the [[WordShingles]] strings (n = 1: over the tokens themselves, a
  * null token hashing like `xxhash64(null)`, i.e. to the seed 42).
  * Each n-gram's space-joined UTF-8 bytes are assembled in one reused
  * buffer and hashed in place, so no shingle string is ever allocated;
  * sorting lets the MinHash verify intersect two sets with one
  * two-pointer merge ([[SortedLongIntersect]]). Shorter-than-n docs
  * yield an empty array. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  def doEval(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    val count = if (n == 1) len else math.max(0, len - n + 1)
    val out = new Array[Long](count)
    var buf = new Array[Byte](64)
    var i = 0
    while (i < count) {
      // concat_ws(" ", tokens[i, i+n)) byte for byte: nulls are skipped
      // along with their separator
      var pos = 0
      var first = true
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(i + j)) {
          val t = arr.getUTF8String(i + j)
          val need = pos + t.numBytes() + 1
          if (need > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          if (!first) { buf(pos) = ' '; pos += 1 }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += t.numBytes()
          first = false
        }
        j += 1
      }
      out(i) =
        if (n == 1 && first) 42L
        else XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    var k = 0
    i = 0
    while (i < count) {
      if (k == 0 || out(i) != out(k - 1)) { out(k) = out(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (k == count) out else java.util.Arrays.copyOf(out, k))
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashesExpr", this,
      classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.doEval($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** MinHash signature of a shingle-hash array in one loop: element `seed`
  * (0 ≤ seed < k) is the minimum over the array of
  * `hashLong(h, hashInt(seed, 42))` — exactly Spark's
  * `xxhash64(lit(seed: Int), h: Long)` chain, so the signature is
  * bit-identical to the k × `min(xxhash64(seed, sh))` aggregate over the
  * same hashes (a null element hashes like the aggregate's null `sh`:
  * to `hashInt(seed, 42)`). Duplicates never change a minimum, so a set
  * and a multiset of the same hashes give the same signature. An empty
  * array has no minima and yields NULL, as a document with no shingles
  * forms no aggregate group. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(k >= 1, s"signature length must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  @transient private lazy val seedHashes: Array[Long] =
    Array.tabulate(k)(s => XXH64.hashInt(s, 42L))

  def doEval(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val seeds = seedHashes
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val isNull = hs.isNullAt(i)
      val h = if (isNull) 0L else hs.getLong(i)
      var s = 0
      while (s < k) {
        val v = if (isNull) seeds(s) else XXH64.hashLong(h, seeds(s))
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSigExpr", this,
      classOf[MinHashSig].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, a => s"""
       |org.apache.spark.sql.catalyst.util.ArrayData $r = $ref.doEval($a);
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $r; }
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Fixed-size token windows with a stride — the context-length chunking a
  * training corpus needs ([[WordShingles]] with stride and a partial tail
  * chunk; a document shorter than `size` yields one chunk). Chunk i
  * covers tokens [i·stride, i·stride + size); the last chunk may be
  * short; overlap = size − stride. A window is emitted only if it
  * contributes at least one token beyond the previous window's coverage
  * (a fully-overlapped tail would duplicate training data), so the chunk
  * count is ⌈max(1, n − size + stride)/stride⌉. Same scan-side
  * per-row-loop rationale as WordShingles — the explode emits finished
  * chunks with no exchange and no interpreted HOF lambdas. */
case class TokenChunks(child: Expression, size: Int, stride: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(size >= 1 && stride >= 1 && stride <= size,
    s"need 1 <= stride <= size, got size=$size stride=$stride")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_chunks"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val count =
      if (n == 0) 0 else (math.max(0, n - size + stride - 1) / stride) + 1
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](count)
    var i = 0
    while (i < count) {
      val start = i * stride
      val len = math.min(size, n - start)
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](len)
      var j = 0
      while (j < len) {
        if (!arr.isNullAt(start + j)) parts(j) = arr.getUTF8String(start + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toIndexedSeq)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val sepRef = ctx.addReferenceObj("chunkSep",
        org.apache.spark.unsafe.types.UTF8String.fromString(" "),
        "UTF8String")
      val n = ctx.freshName("n")
      val count = ctx.freshName("count")
      val out = ctx.freshName("out")
      val parts = ctx.freshName("parts")
      val start = ctx.freshName("start")
      val len = ctx.freshName("len")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |int $n = $a.numElements();
         |int $count = $n == 0 ? 0
         |  : ((java.lang.Math.max(0, $n - $size + $stride - 1) / $stride) + 1);
         |UTF8String[] $out = new UTF8String[$count];
         |for (int $i = 0; $i < $count; $i++) {
         |  int $start = $i * $stride;
         |  int $len = java.lang.Math.min($size, $n - $start);
         |  UTF8String[] $parts = new UTF8String[$len];
         |  for (int $j = 0; $j < $len; $j++) {
         |    $parts[$j] = $a.isNullAt($start + $j)
         |      ? null : $a.getUTF8String($start + $j);
         |  }
         |  $out[$i] = UTF8String.concatWs($sepRef, $parts);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenChunks =
    copy(child = newChild)
}

/** Language ID over raw text in ONE pass: tokenize by the exact `\s`
  * separator class `split` uses, look each token up in a static
  * word→(lang, bit) table, and count DISTINCT profile words per language
  * as a popcount over per-language bitmasks. Identical semantics to the
  * composed form (`size(array_intersect(array_distinct(split(text)),
  * profile))` per language, argmax with alphabetical tie-break, 'und'
  * when every score is 0) — but no token array, no distinct pass, no 5
  * intersect scans: one linear walk per row.
  *
  * `profiles` must be (lang → words) sorted by lang; ties break toward
  * the first (alphabetically smallest) language, matching the composed
  * CASE chain. */
case class LanguageIdExpr(child: Expression,
    profiles: Seq[(String, Seq[String])])
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(profiles.map(_._1) == profiles.map(_._1).sorted,
    "profiles must be sorted by language for the deterministic tie-break")
  // The per-language hit set is an Int bitmask indexed by word position
  // and the packed hit is (langIdx << 8 | wordIdx): beyond these bounds
  // Java's mod-32 shift would silently alias distinct words into the
  // same bit and the packing would corrupt the language index — fail
  // construction instead of scoring wrong.
  require(profiles.forall(_._2.size <= 32),
    "language profiles are limited to 32 words (Int bitmask scoring)")
  require(profiles.size <= (1 << 23),
    "at most 2^23 language profiles (packed lang<<8 hit encoding)")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_language_id"

  @transient private lazy val langsUtf8 =
    profiles.map(p => org.apache.spark.unsafe.types.UTF8String.fromString(p._1)).toArray
  @transient private lazy val und =
    org.apache.spark.unsafe.types.UTF8String.fromString("und")
  // token -> packed (langIdx << 8 | wordIdx) hits; a word may appear in
  // several languages' profiles (e.g. "la" in es and fr)
  @transient private lazy val lookup: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, java.util.ArrayList[Integer]]()
    profiles.zipWithIndex.foreach { case ((_, words), li) =>
      words.zipWithIndex.foreach { case (w, wi) =>
        m.computeIfAbsent(w, _ => new java.util.ArrayList[Integer]())
          .add(Integer.valueOf((li << 8) | wi))
      }
    }
    val out = new java.util.HashMap[String, Array[Int]]()
    m.forEach((k, v) => out.put(k, v.toArray(new Array[Integer](0)).map(_.intValue())))
    out
  }

  /** `\s` in an un-flagged Java regex is exactly [ \t\n\x0B\f\r]. */
  private def isSep(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  def doEval(input: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val s = input.toString
    val masks = new Array[Int](profiles.length)
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isSep(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isSep(s.charAt(i))) i += 1
      if (i > start) {
        val hits = lookup.get(s.substring(start, i))
        if (hits != null) {
          var h = 0
          while (h < hits.length) {
            masks(hits(h) >> 8) |= 1 << (hits(h) & 0xFF)
            h += 1
          }
        }
      }
    }
    var best = 0
    var bi = -1
    var li = 0
    while (li < masks.length) {
      val score = Integer.bitCount(masks(li))
      if (score > best) { best = score; bi = li }
      li += 1
    }
    if (best == 0) und else langsUtf8(bi)
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The scan loop lives in this (JIT-compiled) class; codegen just calls
    // it — keeps the projection inside WholeStageCodegen without inlining
    // a giant method into the generated source.
    val ref = ctx.addReferenceObj("langIdExpr", this,
      classOf[LanguageIdExpr].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.doEval($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): LanguageIdExpr =
    copy(child = newChild)
}

/** Token statistics over raw text in ONE pass:
  * struct(n_tokens, n_uniq, n_stop) with EXACTLY the semantics of the
  * composed forms —
  *  - n_tokens = size(split(text, "\\s+"))  (Java limit=-1 semantics:
  *    leading AND trailing separator runs contribute empty fields, and
  *    empty text is one empty field),
  *  - n_uniq  = size(array_distinct(split(...))) (the empty field counts),
  *  - n_stop  = occurrences of tokens equal to a stopword (the
  *    regexp_count boundary formulation; empty fields never match).
  * One walk, one small hash set — no token array, no distinct pass, no
  * regex scan. */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
  override def prettyName: String = "graft_token_stats"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  private def isSep(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  def doEval(input: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    val len = s.length
    val seen = new java.util.HashSet[String]()
    var n = 0
    var stop = 0
    var idx = 0
    var done = false
    while (!done) {
      val start = idx
      while (idx < len && !isSep(s.charAt(idx))) idx += 1
      val tok = s.substring(start, idx)
      n += 1
      seen.add(tok)
      if (stopSet.contains(tok)) stop += 1
      if (idx >= len) done = true
      else {
        while (idx < len && isSep(s.charAt(idx))) idx += 1
        if (idx >= len) { n += 1; seen.add(""); done = true }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, seen.size(), stop))
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenStatsExpr", this,
      classOf[TokenStats].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.doEval($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** Column-level API for the text expressions. */
/** Raw-DEFLATE compressed length of a string's UTF-8 bytes as ONE
  * codegen'd expression — the compression-ratio quality signal
  * (see [[graft.util.Deflate]] for the determinism contract). The
  * compressor call dominates, so codegen's win here is staying inside
  * the surrounding WholeStageCodegen span (no row materialization
  * boundary), not the loop body itself. */
case class DeflateLength(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_deflate_length"

  override def nullSafeEval(input: Any): Any =
    graft.util.Deflate.length(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.util.Deflate.length($s.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): DeflateLength =
    copy(newChild)
}

/** Compression ratio in ppm: `deflate_len · 10^6 div utf8_len`, NULL
  * for empty text — deflate and the exact integer division fused into
  * one expression so the ratio needs no post-hoc DIV plumbing and both
  * longs stay exact (Java long division of non-negatives IS floor). */
case class CompressionRatioPpm(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_compression_ratio_ppm"

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    if (b.length == 0) null
    else Long.box(graft.util.Deflate.length(b) * 1000000L / b.length)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val b = ctx.freshName("b")
      s"""
         |byte[] $b = $s.getBytes();
         |if ($b.length == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.util.Deflate.length($b) * 1000000L / $b.length;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CompressionRatioPpm =
    copy(newChild)
}

/** Shared single-pass machinery for the repetition quality signals
  * (public algorithm: Gopher's repetition filters — Rae et al. 2021,
  * "Scaling Language Models: Methods, Analysis & Insights from
  * Training Gopher", appendix A1.1: duplicate line/paragraph
  * fractions, top n-gram character fraction, duplicated n-gram
  * character fraction). All ratios are exported as ppm LONGS
  * (`numerator * 10^6 / denominator`, Java floor division of
  * non-negatives) so cross-engine comparison is bit-exact — the same
  * integer-export discipline as [[CompressionRatioPpm]].
  *
  * Character counts are Unicode CODE POINTS (matching both Spark's and
  * DuckDB's `length`), tokens are maximal runs of non-`\s` chars with
  * empties dropped, where `\s` is JAVA's un-flagged class
  * `[ \t\n\x0B\f\r]` — matching Spark's `split(text, '\\s+')`, and
  * matching RE2/DuckDB `regexp_split_to_array(text,'\s+')` on every
  * character EXCEPT U+000B (vertical tab), which RE2's `\s` omits. A
  * corpus containing U+000B tokenizes differently under a DuckDB
  * oracle; pre-normalize it or spell the oracle's class explicitly
  * (`[ \t\n\x0B\f\r]+`, the discipline
  * [[graft.functions.TextFunctions]]' `ws` constant uses). Segment
  * splits are literal, left-to-right, non-overlapping (matching DuckDB
  * `string_split`). */
private[graft] object RepetitionOps {

  def codePoints(s: String): Long = s.codePointCount(0, s.length).toLong

  private def isSep(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** whitespace tokens, empties dropped */
  def tokenize(s: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isSep(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isSep(s.charAt(i))) i += 1
      if (i > start) out.add(s.substring(start, i))
    }
    out.toArray(new Array[String](out.size()))
  }

  /** literal non-overlapping left-to-right split, empties dropped */
  def segments(s: String, sep: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    var from = 0
    var done = false
    while (!done) {
      val at = s.indexOf(sep, from)
      val end = if (at < 0) s.length else at
      if (end > from) out.add(s.substring(from, end))
      if (at < 0) done = true else from = at + sep.length
    }
    out.toArray(new Array[String](out.size()))
  }

  /** (dupSegments, totalSegments, dupChars, totalChars): occurrences
    * BEYOND the first of each distinct segment count as duplicates,
    * char-weighted by code points. */
  def dupSegmentCounts(s: String, sep: String): Array[Long] = {
    val segs = segments(s, sep)
    val seen = new java.util.HashMap[String, Integer]()
    var dupN = 0L; var dupCh = 0L; var totCh = 0L
    var i = 0
    while (i < segs.length) {
      val seg = segs(i)
      val ch = codePoints(seg)
      totCh += ch
      val prev = seen.merge(seg, 1, (a, b) => Int.box(a + b))
      if (prev > 1) { dupN += 1L; dupCh += ch }
      i += 1
    }
    Array(dupN, segs.length.toLong, dupCh, totCh)
  }

  /** per-position n-gram strings (single-space joined), length
    * max(0, tokens - n + 1) */
  def grams(tokens: Array[String], n: Int): Array[String] = {
    val count = math.max(0, tokens.length - n + 1)
    val out = new Array[String](count)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def totalTokenChars(tokens: Array[String]): Long = {
    var t = 0L; var i = 0
    while (i < tokens.length) { t += codePoints(tokens(i)); i += 1 }
    t
  }

  def countMap(gs: Array[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < gs.length) { m.merge(gs(i), 1, (a, b) => Int.box(a + b)); i += 1 }
    m
  }

  /** Top-n-gram char share in ppm over a pre-tokenized doc — the ONE
    * implementation both [[TopNgramCharPpm]] and the fused
    * [[GopherRepetitionStats]] evaluate, so fused == individual holds
    * by construction, not by parallel maintenance. null = no tokens;
    * 0 = tokens but fewer than n. */
  def topNgramPpm(tokens: Array[String], totCh: Long, n: Int): java.lang.Long = {
    if (tokens.isEmpty) return null
    val gs = grams(tokens, n)
    if (gs.isEmpty) return Long.box(0L)
    val m = countMap(gs)
    var bestC = 0L; var bestCh = 0L
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.toLong
      // gram chars minus the n-1 joining spaces = token chars
      val ch = codePoints(e.getKey) - (n - 1).toLong
      if (c > bestC || (c == bestC && ch > bestCh)) { bestC = c; bestCh = ch }
    }
    // covered <= n * totCh and totCh <= Int.MaxValue, so the product
    // stays far below Long overflow
    Long.box(bestC * bestCh * 1000000L / totCh)
  }

  /** Duplicated-n-gram char coverage in ppm over a pre-tokenized doc
    * (each position counted once) — shared by [[DupNgramCharPpm]] and
    * [[GopherRepetitionStats]]. null = no tokens; 0 = fewer than n. */
  def dupNgramPpm(tokens: Array[String], totCh: Long, n: Int): java.lang.Long = {
    if (tokens.isEmpty) return null
    val gs = grams(tokens, n)
    if (gs.isEmpty) return Long.box(0L)
    val m = countMap(gs)
    val covered = new Array[Boolean](tokens.length)
    var i = 0
    while (i < gs.length) {
      if (m.get(gs(i)) >= 2) {
        var j = i
        while (j < i + n) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var covCh = 0L
    i = 0
    while (i < tokens.length) {
      if (covered(i)) covCh += codePoints(tokens(i))
      i += 1
    }
    Long.box(covCh * 1000000L / totCh)
  }
}

/** Duplicate-segment fractions in ppm as ONE codegen'd struct —
  * instantiate with `sep = "\n"` for Gopher's duplicate-line signal
  * and `sep = "\n\n"` for the paragraph variant. `dup_ppm` counts
  * occurrences beyond the first of each distinct segment over total
  * segments; `dup_char_ppm` weights the same by code points. NULL
  * fields when the text has no segments. Scan-side projection —
  * embarrassingly parallel, nothing shuffles. */
case class DupSegmentStatsPpm(child: Expression, sep: String)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(sep.nonEmpty, "separator must be non-empty")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("dup_ppm", LongType, nullable = true),
    StructField("dup_char_ppm", LongType, nullable = true)))
  override def prettyName: String = "graft_dup_segment_stats_ppm"

  def doEval(input: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val c = RepetitionOps.dupSegmentCounts(input.toString, sep)
    // totChars > 0 whenever totSegments > 0 (empty segments are dropped)
    val out: Array[Any] =
      if (c(1) == 0L) Array(null, null)
      else Array(Long.box(c(0) * 1000000L / c(1)),
        Long.box(c(2) * 1000000L / c(3)))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dupSegExpr", this,
      classOf[DupSegmentStatsPpm].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.doEval($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): DupSegmentStatsPpm =
    copy(child = newChild)
}

/** Fraction of token characters covered by the MOST FREQUENT word
  * n-gram, in ppm: `count(best) * tokenChars(best) * 10^6 /
  * totalTokenChars`, where ties on count break toward the larger
  * char sum — a rule whose OUTPUT is engine-independent (grams tied
  * on both count and char sum yield the same ppm whichever is
  * picked), unlike lexicographic tie-breaks, which diverge between
  * Java UTF-16 and UTF-8 byte collation. NULL when the text has no
  * tokens; 0 when it has tokens but fewer than n. */
case class TopNgramCharPpm(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(n >= 2, "n >= 2 (n = 1 is the duplicate-token fraction)")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_top_ngram_char_ppm"

  def doEval(input: org.apache.spark.unsafe.types.UTF8String): Any = {
    val tokens = RepetitionOps.tokenize(input.toString)
    RepetitionOps.topNgramPpm(
      tokens, RepetitionOps.totalTokenChars(tokens), n)
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topNgramExpr", this,
      classOf[TopNgramCharPpm].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, s => s"""
       |Object $r = $ref.doEval($s);
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = ((Long) $r).longValue(); }
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): TopNgramCharPpm =
    copy(child = newChild)
}

/** Fraction of token characters lying inside ANY word n-gram that
  * occurs at least twice, in ppm. Each token position is counted at
  * most once however many duplicated grams cover it (Gopher's
  * "fraction of characters in duplicated n-grams"). NULL when the
  * text has no tokens; 0 when it has tokens but fewer than n. */
case class DupNgramCharPpm(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  require(n >= 2, "n >= 2 (n = 1 is the duplicate-token char fraction)")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dup_ngram_char_ppm"

  def doEval(input: org.apache.spark.unsafe.types.UTF8String): Any = {
    val tokens = RepetitionOps.tokenize(input.toString)
    RepetitionOps.dupNgramPpm(
      tokens, RepetitionOps.totalTokenChars(tokens), n)
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dupNgramExpr", this,
      classOf[DupNgramCharPpm].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, s => s"""
       |Object $r = $ref.doEval($s);
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = ((Long) $r).longValue(); }
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DupNgramCharPpm =
    copy(child = newChild)
}

/** ALL thirteen Gopher repetition signals (Rae et al. 2021, Table A1)
  * in ONE pass: duplicate line/paragraph count+char fractions,
  * top-{2,3,4}-gram char share, duplicated-{5..10}-gram char
  * coverage — as one struct of ppm longs. Field-for-field equal to
  * the standalone [[DupSegmentStatsPpm]]/[[TopNgramCharPpm]]/
  * [[DupNgramCharPpm]] expressions by construction (same
  * [[RepetitionOps]] entry points), but tokenizes and scans the text
  * ONCE instead of thirteen times — the shape the full repetition
  * gate wants on a 100 TB crawl, where the gate is a scan-side
  * map-only projection and the string work dominates. NULL fields
  * follow the standalone rules (no segments / no tokens). */
case class GopherRepetitionStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(
    Seq(
      StructField("dup_line_ppm", LongType, nullable = true),
      StructField("dup_line_char_ppm", LongType, nullable = true),
      StructField("dup_para_ppm", LongType, nullable = true),
      StructField("dup_para_char_ppm", LongType, nullable = true),
      StructField("top2_ppm", LongType, nullable = true),
      StructField("top3_ppm", LongType, nullable = true),
      StructField("top4_ppm", LongType, nullable = true)) ++
      (5 to 10).map(n => StructField(s"dup${n}_ppm", LongType, nullable = true)))
  override def prettyName: String = "graft_gopher_repetition_stats"

  def doEval(input: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    val out = new Array[Any](13)
    var f = 0
    Seq("\n", "\n\n").foreach { sep =>
      val c = RepetitionOps.dupSegmentCounts(s, sep)
      if (c(1) == 0L) { out(f) = null; out(f + 1) = null }
      else {
        out(f) = Long.box(c(0) * 1000000L / c(1))
        out(f + 1) = Long.box(c(2) * 1000000L / c(3))
      }
      f += 2
    }
    val tokens = RepetitionOps.tokenize(s)
    val totCh = RepetitionOps.totalTokenChars(tokens)
    (2 to 4).foreach { n =>
      out(f) = RepetitionOps.topNgramPpm(tokens, totCh, n); f += 1
    }
    (5 to 10).foreach { n =>
      out(f) = RepetitionOps.dupNgramPpm(tokens, totCh, n); f += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherRepExpr", this,
      classOf[GopherRepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.doEval($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherRepetitionStats =
    copy(child = newChild)
}

/** Shared machinery for the NON-repetition Gopher quality signals
  * (Rae et al. 2021 appendix A1.1, first paragraph: word-count and
  * mean-word-length bounds, symbol-to-word ratio, bullet / ellipsis
  * line fractions, alphabetic-word fraction, required-word rule).
  * Same portability contract as [[RepetitionOps]]: tokens are
  * whitespace runs with empties dropped, chars are code points,
  * ratios export as ppm longs, and every primitive (literal
  * substring counting, prefix/suffix tests, ASCII-letter containment)
  * has an exact DuckDB replay. */
private[graft] object QualityOps {

  /** Gopher's required English words ("at least two of ..."). */
  val Required: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** Bullet prefixes for the bullet-line fraction. One-char prefixes
    * chosen so `starts_with` in DuckDB and `startsWith` in Java agree
    * code point for code point. */
  val Bullets: Array[String] = Array("•", "‣", "▪", "-", "*")

  def countChar(s: String, c: Char): Long = {
    var n = 0L; var i = 0
    while (i < s.length) { if (s.charAt(i) == c) n += 1; i += 1 }
    n
  }

  /** left-to-right non-overlapping occurrences — the same count
    * DuckDB's `(length(t) - length(replace(t, sub, ''))) / len(sub)`
    * computes. */
  def countSubstr(s: String, sub: String): Long = {
    var n = 0L; var from = 0
    var at = s.indexOf(sub, from)
    while (at >= 0) { n += 1; from = at + sub.length; at = s.indexOf(sub, from) }
    n
  }

  def hasAsciiAlpha(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) return true
      i += 1
    }
    false
  }
}

/** ALL seven non-repetition Gopher quality signals (Rae et al. 2021
  * appendix A1.1) in ONE single-pass struct of exact integers:
  *
  *  - `n_words`            whitespace token count
  *  - `word_len_ppm`       mean word length × 10^6 (token code points
  *                         over token count)
  *  - `symbol_ppm`         symbol-to-word ratio × 10^6; symbols are
  *                         `#`, literal `...` (non-overlapping), and
  *                         `…`, counted over the RAW text
  *  - `alpha_word_ppm`     fraction of words containing an ASCII
  *                         letter × 10^6
  *  - `bullet_line_ppm`    fraction of lines starting with a bullet
  *                         (`•`, `‣`, `▪`, `-`, `*`) × 10^6
  *  - `ellipsis_line_ppm`  fraction of lines ending with `...`/`…` × 10^6
  *  - `required_hits`      DISTINCT members of {the be to of and that
  *                         have with} present (case-insensitive)
  *
  * Lines follow [[RepetitionOps.segments]] (literal `\n` split,
  * empties dropped). `word_len_ppm`/`symbol_ppm`/`alpha_word_ppm`
  * are NULL when the text has no tokens; the line fractions are NULL
  * when it has no lines. Scan-side map-only projection — nothing
  * shuffles, the gate over a 100 TB crawl is embarrassingly
  * parallel. */
case class GopherQualityStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("word_len_ppm", LongType, nullable = true),
    StructField("symbol_ppm", LongType, nullable = true),
    StructField("alpha_word_ppm", LongType, nullable = true),
    StructField("bullet_line_ppm", LongType, nullable = true),
    StructField("ellipsis_line_ppm", LongType, nullable = true),
    StructField("required_hits", LongType, nullable = false)))
  override def prettyName: String = "graft_gopher_quality_stats"

  def doEval(input: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    val tokens = RepetitionOps.tokenize(s)
    val nw = tokens.length.toLong
    var tch = 0L
    var alpha = 0L
    val hits = new java.util.HashSet[String]()
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      tch += RepetitionOps.codePoints(t)
      if (QualityOps.hasAsciiAlpha(t)) alpha += 1
      val lw = t.toLowerCase(java.util.Locale.ROOT)
      var r = 0
      while (r < QualityOps.Required.length) {
        if (lw == QualityOps.Required(r)) hits.add(lw)
        r += 1
      }
      i += 1
    }
    val sym = QualityOps.countChar(s, '#') +
      QualityOps.countSubstr(s, "...") + QualityOps.countChar(s, '…')
    val lines = RepetitionOps.segments(s, "\n")
    val nl = lines.length.toLong
    var bul = 0L
    var ell = 0L
    i = 0
    while (i < lines.length) {
      val l = lines(i)
      var b = 0
      var isBul = false
      while (b < QualityOps.Bullets.length && !isBul) {
        if (l.startsWith(QualityOps.Bullets(b))) isBul = true
        b += 1
      }
      if (isBul) bul += 1
      if (l.endsWith("...") || l.endsWith("…")) ell += 1
      i += 1
    }
    def ppm(num: Long, den: Long): Any =
      if (den == 0L) null else Long.box(num * 1000000L / den)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nw, ppm(tch, nw), ppm(sym, nw), ppm(alpha, nw),
        ppm(bul, nl), ppm(ell, nl), hits.size().toLong))
  }

  override def nullSafeEval(input: Any): Any =
    doEval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherQualExpr", this,
      classOf[GopherQualityStats].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.doEval($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherQualityStats =
    copy(child = newChild)
}

object TextExpressionFunctions {
  def gopherQualityStats(text: Column): Column =
    ExpressionUtils.column(GopherQualityStats(
      ExpressionUtils.expression(text)))

  def dupSegmentStatsPpm(text: Column, sep: String): Column =
    ExpressionUtils.column(DupSegmentStatsPpm(
      ExpressionUtils.expression(text), sep))

  def gopherRepetitionStats(text: Column): Column =
    ExpressionUtils.column(GopherRepetitionStats(
      ExpressionUtils.expression(text)))

  def topNgramCharPpm(text: Column, n: Int): Column =
    ExpressionUtils.column(TopNgramCharPpm(
      ExpressionUtils.expression(text), n))

  def dupNgramCharPpm(text: Column, n: Int): Column =
    ExpressionUtils.column(DupNgramCharPpm(
      ExpressionUtils.expression(text), n))

  def deflateLength(text: Column): Column =
    ExpressionUtils.column(DeflateLength(ExpressionUtils.expression(text)))

  def compressionRatioPpm(text: Column): Column =
    ExpressionUtils.column(CompressionRatioPpm(ExpressionUtils.expression(text)))

  def rollingXxHash64(tokens: Column): Column =
    ExpressionUtils.column(RollingXxHash64(ExpressionUtils.expression(tokens)))

  /** Codegen'd Bloom-filter membership test over a LONG column — Spark's
    * own `BloomFilterMightContain` (the runtime-filter expression), fed a
    * pre-built serialized filter as a literal (exactly how
    * InjectRuntimeFilter pushes its filters; the 1% fpp bitset for 1M
    * keys is ~1.2 MB of plan literal). No UDF: the membership probe
    * stays inside WholeStageCodegen at the scan. */
  def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bloomBytes, org.apache.spark.sql.types.BinaryType),
        ExpressionUtils.expression(value)))

  def wordShingles(tokens: Column, n: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(tokens), n))

  def shingleHashes(tokens: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(tokens), n))

  def minHashSig(hashes: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(hashes), k))

  def tokenChunks(tokens: Column, size: Int, stride: Int): Column =
    ExpressionUtils.column(TokenChunks(
      ExpressionUtils.expression(tokens), size, stride))

  def languageId(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    ExpressionUtils.column(LanguageIdExpr(
      ExpressionUtils.expression(text), profiles))

  def tokenStats(text: Column, stopwords: Seq[String]): Column =
    ExpressionUtils.column(TokenStats(
      ExpressionUtils.expression(text), stopwords))
}
