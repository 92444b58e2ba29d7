package graft.functions

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * MinHash signature as a single compiled pass: normalize → tokenize → word
 * shingles → md5 base hash per shingle → `numHashes` affine rehashes
 * ((a*x + b) mod 2^31-1) → per-function minimum.
 *
 * Semantically identical to the composed-Column construction in
 * [[HashFunctions.minhashSignature]] (and to the DuckDB oracle SQL that
 * replays the same formula), but ~50x faster: Spark's higher-order array
 * functions (`transform`, `array_min`) are CodegenFallback and evaluate an
 * interpreted expression tree per array element, while this expression runs
 * one tight JVM loop per row with a single reused MD5 digest. The per-row
 * work IS the hash loop, so losing whole-stage codegen on the projection
 * costs nothing.
 *
 * Reference for the sketch itself: Broder 1997 (syntactic clustering);
 * the reference toolkit has no minhash — this is part of the
 * training-data-pipeline extension surface (SURVEY.md §2 extended ops).
 */
case class MinhashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires STRING input, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      MinhashSignature.compute(
        input.asInstanceOf[UTF8String], numHashes, shingleSize))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSignature {

  val FnName = "minhash_sig"

  /** 2^31 - 1; see [[HashFunctions.MinhashPrime]]. */
  private val P = 2147483647L

  private val PunctRe = Pattern.compile("\\p{Punct}")
  private val WsRe = Pattern.compile("\\s+")

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Exactly `lower(trim(regexp_replace(regexp_replace(c,"[\\p{Punct}]"," "),"\\s+"," ")))`
    * — [[TextFunctions.searchStr]] — including Spark's UTF8String lowercase
    * and Spark's space-only `trim` (Java String.trim strips every char
    * <= 0x20, which would diverge from the composed form on control chars). */
  private def normalize(text: UTF8String): String = {
    val noPunct = PunctRe.matcher(text.toString).replaceAll(" ")
    val collapsed = trimSpaces(WsRe.matcher(noPunct).replaceAll(" "))
    UTF8String.fromString(collapsed).toLowerCase.toString
  }

  /** Spark `trim`: strip ' ' (0x20) only (same rule as TextStats). */
  private def trimSpaces(s: String): String = {
    var from = 0
    var until = s.length
    while (from < until && s.charAt(from) == ' ') from += 1
    while (until > from && s.charAt(until - 1) == ' ') until -= 1
    s.substring(from, until)
  }

  /** First 15 md5 hex chars as a long — `conv(substring(md5(s),1,15),16,10)`
    * = the top 60 bits of the digest (16 nibbles of the first 8 bytes, minus
    * the last nibble). */
  private def h60(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var b64 = 0L
    var i = 0
    while (i < 8) { b64 = (b64 << 8) | (d(i) & 0xffL); i += 1 }
    b64 >>> 4
  }

  def compute(text: UTF8String, numHashes: Int, shingleSize: Int): Array[Long] = {
    val md = digest.get()
    // split(norm, "\\s+") with Spark's limit=-1: "" yields [""], so an empty
    // doc still contributes the md5("") shingle — same as the composed path.
    val toks = WsRe.split(normalize(text), -1)
    val nShingles = math.max(toks.length - shingleSize, 0) + 1
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val seen = new java.util.HashSet[String](nShingles * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      val end = math.min(i + shingleSize, toks.length)
      var t = i
      while (t < end) {
        if (t > i) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      val shingle = sb.toString
      // dedup only skips redundant hashing: min is idempotent over dups
      if (seen.add(shingle)) {
        val bm = h60(md, shingle) % P
        var j = 0
        while (j < numHashes) {
          val v = (bm * (j + 1) + j) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  /** Register `minhash_sig(text, numHashes, shingleSize)` (args 2-3 must be
    * integer literals) in the session's function registry. */
  def register(spark: SparkSession): Unit =
    Registry.registerOnce(spark, FnName, classOf[MinhashSignature],
      exprs => MinhashSignature(
        exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()))

  /** Column API ([[register]] first). */
  def signature(text: Column, numHashes: Int, shingleSize: Int = 3): Column =
    call_function(FnName, text, lit(numHashes), lit(shingleSize))
}

/**
 * Distinct word shingles as one compiled pass — the materialized-set sibling
 * of [[MinhashSignature]] for consumers that need the actual shingles
 * (exact jaccard verification), not the sketch. Semantically identical to
 * [[HashFunctions.shingles]] (array_distinct keeps first-occurrence order),
 * but one tight loop per row instead of the interpreted
 * `transform`/`slice`/`concat_ws` chain — the HOF form measured 6.4 s for
 * 5k docs at sf0.1 where this runs in well under a second.
 */
case class WordShingles(child: Expression, shingleSize: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires STRING input, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      WordShingles.compute(input.asInstanceOf[UTF8String], shingleSize)
        .map(UTF8String.fromString))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {

  val FnName = "word_shingles"

  private val PunctRe = Pattern.compile("\\p{Punct}")
  private val WsRe = Pattern.compile("\\s+")

  private def normalize(text: UTF8String): String = {
    val noPunct = PunctRe.matcher(text.toString).replaceAll(" ")
    val collapsed = WsRe.matcher(noPunct).replaceAll(" ").trim
    UTF8String.fromString(collapsed).toLowerCase.toString
  }

  def compute(text: UTF8String, shingleSize: Int): Array[String] = {
    val toks = WsRe.split(normalize(text), -1)
    val nShingles = math.max(toks.length - shingleSize, 0) + 1
    val out = new java.util.LinkedHashSet[String](nShingles * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      val end = math.min(i + shingleSize, toks.length)
      var t = i
      while (t < end) {
        if (t > i) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out.toArray(new Array[String](out.size))
  }

  def register(spark: SparkSession): Unit =
    Registry.registerOnce(spark, FnName, classOf[WordShingles],
      exprs => WordShingles(
        exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()))

  /** Column API ([[register]] first). */
  def shingles(text: Column, shingleSize: Int = 3): Column =
    call_function(FnName, text, lit(shingleSize))
}

/**
 * All-occurrence word n-grams as one compiled pass — the counting sibling of
 * [[WordShingles]] (which dedups, set semantics) for frequency passes where
 * every occurrence counts: corpus vocabulary statistics, heavy hitters.
 * Matches the interpreted `transform`/`slice`/`concat_ws` construction
 * exactly, including yielding NO grams when the document has fewer than `n`
 * tokens (the sketch expression instead emits one short shingle there).
 */
case class WordGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"word_grams requires STRING input, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      WordGrams.compute(input.asInstanceOf[UTF8String], n)
        .map(UTF8String.fromString))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGrams {

  val FnName = "word_grams"

  private val PunctRe = Pattern.compile("\\p{Punct}")
  private val WsRe = Pattern.compile("\\s+")

  private def normalize(text: UTF8String): String = {
    val noPunct = PunctRe.matcher(text.toString).replaceAll(" ")
    val collapsed = WsRe.matcher(noPunct).replaceAll(" ").trim
    UTF8String.fromString(collapsed).toLowerCase.toString
  }

  def compute(text: UTF8String, n: Int): Array[String] = {
    val toks = WsRe.split(normalize(text), -1)
    if (toks.length < n) return Array.empty
    val nGrams = toks.length - n + 1
    val out = new Array[String](nGrams)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nGrams) {
      sb.setLength(0)
      var t = i
      while (t < i + n) {
        if (t > i) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def register(spark: SparkSession): Unit =
    Registry.registerOnce(spark, FnName, classOf[WordGrams],
      exprs => WordGrams(
        exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()))

  /** Column API ([[register]] first). */
  def grams(text: Column, n: Int): Column =
    call_function(FnName, text, lit(n))
}
