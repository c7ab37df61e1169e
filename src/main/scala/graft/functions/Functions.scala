package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level function API + SQL registration for graft's extensions.
  *
  * Everything here is deterministic and engine-portable: `hash64` is
  * defined over md5 (identical in any engine) rather than an internal
  * hash, so dedup signatures / LSH bucket assignments are reproducible
  * across the Spark implementation and external oracles.
  */
object Functions {

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.graftbridge.Bridge
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  /** The SQL-callable names of the custom Catalyst expressions. */
  private val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "field" -> (exprs => FieldIndex(exprs)),
    "cosine_sim" -> (exprs => CosineSim(exprs(0), exprs(1))),
    "dot_product" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "md5_hash64" -> (exprs => Md5Hash64(exprs.head)),
    "md5_hash64_full" -> (exprs => Md5Hash64Full(exprs.head)),
    "word_shingles" -> { exprs =>
      require(exprs(1).foldable, "word_shingles(text, n): n must be a literal")
      WordShingles(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue())
    },
    "misra_gries" -> { exprs =>
      require(exprs(1).foldable, "misra_gries(col, k): k must be a literal")
      MisraGries(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()
    },
    "kll_sketch" -> { exprs =>
      require(exprs(2).foldable, "kll_sketch(col, weight, k): k must be a literal")
      KllSketch(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()
    },
    // Spark's runtime-filter bloom expressions, surfaced as SQL
    // functions: the engine only injects them via InjectRuntimeFilter;
    // registering them lets a pipeline build the semi-join pre-filter
    // EXPLICITLY (build a bloom over the dim keys, drop non-candidate
    // fact rows before the shuffle, verify exactly after).
    "bloom_agg" -> { exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression()
    },
    "bloom_might_contain" -> (exprs =>
      new org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))))

  /** Once per JVM: sessions created afterwards clone the builtin registry. */
  private lazy val builtinsRegistered: Unit =
    sqlFunctions.foreach { case (name, b) => Bridge.registerBuiltinFunction(name, b) }

  /** Register the SQL-callable names: in the builtin registry once per
    * JVM, and in `spark`'s own registry where a name is absent, so a
    * repeated call on one session registers nothing. */
  def registerAll(spark: SparkSession): Unit = {
    builtinsRegistered
    sqlFunctions.foreach { case (name, b) => Bridge.registerSessionFunctionIfAbsent(spark, name, b) }
  }

  /** Misra–Gries heavy-hitters sketch aggregate (see [[MisraGries]]). */
  def misraGries(c: Column, k: Int): Column =
    column(MisraGries(expression(c), k).toAggregateExpression())

  /** KLL-style mergeable quantile sketch aggregate (see [[KllSketch]]).
    * `w` is a positive BIGINT weight — `lit(1L)` for raw streams;
    * a sketch's own (v, w) items re-ingest as an exact merge. */
  def kllSketch(c: Column, w: Column, k: Int): Column =
    column(KllSketch(expression(c), expression(w), k).toAggregateExpression())

  /** Hive `field(v, v1, v2, ...)` as a Column (see [[FieldIndex]]). */
  def field(cols: Column*): Column = column(FieldIndex(cols.map(expression)))

  /** Cosine similarity of two numeric-array columns, in double. */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  /** Inner product of two numeric-array columns, in double. */
  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Exact squared L2 distance of two BIGINT-array columns, as BIGINT
    * (codegen'd single loop — see [[L2Dist2]] for the overflow contract). */
  def l2Dist2(a: Column, b: Column): Column =
    column(L2Dist2(expression(a), expression(b)))

  /** 2-D Hilbert-curve index of two normalized BIGINT keys (each in
    * [0, 2^bits)) — see [[HilbertKey2]]. */
  def hilbertKey2(a: Column, b: Column, bits: Int): Column =
    column(HilbertKey2(expression(a), expression(b), bits))

  /** Deterministic 60-bit non-negative hash of a string: first 15 hex chars
    * of md5, as a BIGINT. Portable across engines (md5 is standard), which
    * makes MinHash/SimHash signatures oracle-checkable. Evaluated by the
    * allocation-free [[Md5Hash64]] expression. */
  def hash64(c: Column): Column = column(Md5Hash64(expression(c)))

  /** Full-width 64-bit (signed) variant: first 8 md5 digest bytes
    * big-endian. For signature math that wants all 64 bits (64-bit
    * SimHash's chunk-key space). */
  def hash64Full(c: Column): Column = column(Md5Hash64Full(expression(c)))

  /** Seeded variant: hash64(seed || ':' || c). */
  def hash64(c: Column, seed: Int): Column =
    hash64(concat(lit(s"$seed:"), c))

  /** Driver-side JVM twin of [[hash64]] — same value for the same string.
    * Used to derive deterministic constants (LSH hyperplanes, MinHash
    * universal-hash coefficients) that are inlined as literals into both
    * the Spark plan and the oracle SQL. */
  def md5Hash64Jvm(s: String): Long = {
    val hex = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
      .substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Whitespace tokenization: split on single spaces after trim. */
  def tokens(c: Column): Column = split(trim(c), " ")

  /** Distinct word shingles of size n (space-joined), from a token array.
    * Empty array when the doc has fewer than n tokens. (Composed built-in
    * form; prefer [[wordShingles]] on hot paths — HOF lambdas run
    * interpreted.) */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(
          transform(
            sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** Single-pass equivalent of `shingles(tokens(text), n)` (see
    * [[WordShingles]]). */
  def wordShingles(text: Column, n: Int): Column =
    column(WordShingles(expression(text), n))

  /** Ordered, duplicates-preserved window variant: element i is the
    * n-token window starting at token position i (0-based), so
    * `posexplode` yields (position, gram) — see [[WordShingles]]
    * `distinct = false`. */
  def wordShingleSeq(text: Column, n: Int): Column =
    column(WordShingles(expression(text), n, distinct = false))

  /** Single-pass token-repetition stats array (see [[TokenRepetition]]). */
  def tokenRepetition(text: Column): Column =
    column(TokenRepetition(expression(text)))

  /** Jaccard similarity of two array columns treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val uni = size(array_union(da, db)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }
}
