package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Similarity / near-duplicate primitives: shingling, MinHash, SimHash,
  * fixed-point embedding cosine (BASELINE.json north-star ops;
  * reference analog: scoring-similarity cosine Model.java:40-170).
  *
  * Embedding math uses the fixed-point trick (quantize each float to a
  * long at 1e6, do exact integer dot products, convert to double once at
  * the end) so results are order-independent and engine-exact — see
  * Queries.scala oracle-safety rules.
  */
object Similarity {

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}

  /** Shingling as a codegen'd StaticInvoke (the Psl pattern), NOT a
    * higher-order-function composition. The HOF form
    * (`transform(sequence(...), i => ...)`) has no codegen: Spark
    * evaluates it interpreted, and every `element_at(t, i)` inside the
    * lambda RE-EVALUATES the `split` — O(words²) string splits per doc.
    * Profiled on sf0.1: the interpreted form spent 100+ CPU-seconds in
    * `StringSplit.nullSafeEval` under `ArrayTransform.eval` with all GC
    * threads pegged (allocation churn), and query times swung 10→280 s
    * run-to-run. The scalar walks the UTF8String once, byte-exact with
    * the column semantics it replaces (split keeps empty tokens,
    * substring is character-based, dedup keeps first occurrence). */
  private def shingleCall(fn: String, text: Column, k: Int): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ShingleOps"),
      ArrayType(StringType, containsNull = false), fn,
      Seq(ColumnBridge.expression(text), Literal(k)),
      Seq(StringType, IntegerType)))

  /** Character n-gram set of a string, as an array column (deduped).
    * Guarded for strings shorter than n. */
  def charShingles(text: Column, n: Int): Column =
    shingleCall("charShingles", text, n)

  /** Word w-shingles from a whitespace-tokenized string (deduped). */
  def wordShingles(text: Column, w: Int): Column =
    shingleCall("wordShingles", text, w)

  /** Word n-grams keeping duplicates and order — the codegen'd scalar
    * twin of `posexplode + lead(w, j).over(per-doc window) + concat_ws`
    * (identical gram multiset per document, none of that form's
    * Exchange + Sort + WindowExec over every token). Empty below n
    * tokens. Used by the bigram-LM family and DSIR featurization. */
  def wordGramsAll(text: Column, n: Int): Column =
    shingleCall("wordGramsAll", text, n)

  /** Deduped word n-grams, empty below n tokens — the decontamination
    * gram unit (see QueriesPipeline.wordGrams8). */
  def wordGramsDistinct(text: Column, n: Int): Column =
    shingleCall("wordGramsDistinct", text, n)

  /** Whole MinHash profile of a shingle-array column in one codegen'd
    * scalar (see ProfileOps.minhashProfile): struct(hbs array<long>,
    * n long, ms array<long>) ≡ collect_list(minhashBase) + count +
    * the h minhashAgg minima, with no per-shingle shuffle. Null when
    * the shingle array is null/empty (explode-drop semantics). */
  def minhashProfile(shingles: Column, h: Int): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ProfileOps"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("hbs",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("ms",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false))),
      "minhashProfile",
      Seq(ColumnBridge.expression(shingles), Literal(h)),
      Seq(ArrayType(StringType, containsNull = false), IntegerType)))

  private def longArrayShingleCall(fn: String, text: Column, k: Int)
      : Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ShingleOps"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false),
      fn, Seq(ColumnBridge.expression(text), Literal(k)),
      Seq(StringType, IntegerType)))

  /** md5Long of every overlapping w-word window, position order,
    * duplicates kept (see ShingleOps.spanHashes) — posexplode of it
    * reproduces the explode(sequence)+slice+concat_ws+md5Long window
    * pipeline without copying the token array into every row. Empty
    * below w tokens. */
  def spanHashes(text: Column, w: Int): Column =
    longArrayShingleCall("spanHashes", text, w)

  /** Distinct [[spanHashes]] (first-occurrence order) — per-doc dedup
    * ≡ a global distinct over (doc_id, h). */
  def spanHashesDistinct(text: Column, w: Int): Column =
    longArrayShingleCall("spanHashesDistinct", text, w)

  /** md5Long of every non-overlapping k-word chunk, trailing short
    * chunk included (see ShingleOps.lineHashes) — the line_dedup /
    * soft_dedup line splitter as one scalar. */
  def lineHashes(text: Column, k: Int): Column =
    longArrayShingleCall("lineHashes", text, k)

  /** Ascending sort of a long-array column (see ProfileOps.sortedLongs)
    * — applied once per document so [[interCountSorted]] can merge. */
  def sortedLongs(a: Column): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ProfileOps"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false),
      "sortedLongs", Seq(ColumnBridge.expression(a)),
      Seq(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))

  /** `size(array_intersect(a, b))` of two ascending-sorted long arrays
    * as one allocation-free merge (see ProfileOps.interCountSorted). */
  def interCountSorted(a: Column, b: Column): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ProfileOps"),
      org.apache.spark.sql.types.LongType, "interCountSorted",
      Seq(ColumnBridge.expression(a), ColumnBridge.expression(b)),
      Seq(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      returnNullable = false))

  /** Count of non-empty space-separated tokens (the BM25 document
    * length dl) — the codegen twin of explode(split) + length ≥ 1 +
    * count per doc, with no explode pass and no per-doc shuffle. Null
    * text gives null (explode-drop semantics via `.where(_ > 0)`). */
  def nonEmptyTokens(text: Column): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ShingleOps"),
      org.apache.spark.sql.types.LongType, "nonEmptyTokens",
      Seq(ColumnBridge.expression(text)), Seq(StringType)))

  /** Element-wise difference of two pre-quantized long arrays — the
    * codegen twin of `zip_with(a, b, (x, y) => x - y)` (interpreted). */
  def residQ(a: Column, b: Column): Column =
    vecCall("residQ", ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false),
      org.apache.spark.sql.types.LongType, a, b)

  /** Distinct winnowing-selected md5Long minima per document (see
    * ShingleOps.winnowMins) — array<long>, empty below `win` grams. */
  def winnowMins(text: Column, n: Int, win: Int): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ShingleOps"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false),
      "winnowMins",
      Seq(ColumnBridge.expression(text), Literal(n), Literal(win)),
      Seq(StringType, IntegerType, IntegerType)))

  /** 60-bit SimHash of the ≥minChars-char tokens of a text column in
    * one codegen'd scalar (see ShingleOps.simhash60) — replaces the
    * per-token explode + shuffle + 60-vote aggregate. Null when no
    * token qualifies (the groupBy-drop row set). */
  def simhash60(text: Column, minChars: Int): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ShingleOps"),
      org.apache.spark.sql.types.LongType, "simhash60",
      Seq(ColumnBridge.expression(text), Literal(minChars)),
      Seq(StringType, IntegerType)))

  /** Hashed-bag-of-words featurization of a text column in one
    * codegen'd scalar (see ShingleOps.centroidFeat): struct(y,
    * pairs array<struct<f,x>>) — replaces the centroid trainer's
    * per-token explode + hash-aggregate + bias-row union. */
  def centroidFeat(text: Column, nf: Int, gate: Int): Column = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.ShingleOps"),
      StructType(Seq(
        StructField("y", LongType, nullable = false),
        StructField("pairs", ArrayType(StructType(Seq(
          StructField("f", LongType, nullable = false),
          StructField("x", LongType, nullable = false))),
          containsNull = false), nullable = false))),
      "centroidFeat",
      Seq(ColumnBridge.expression(text), Literal(nf), Literal(gate)),
      Seq(StringType, IntegerType, IntegerType),
      // the scalar handles null text ITSELF (bias-only row, y = −1 —
      // the legacy union side's contribution); propagateNull would
      // null the whole struct and drop the doc
      propagateNull = false))
  }

  /** MinHash family: ONE md5 per shingle, then affine rehashes
    * h_i(x) = (a_i·(md5(x) mod P) + b_i) mod P over a 30-bit prime —
    * 12× fewer md5 evaluations than a per-seed md5 family, and the
    * arithmetic is exactly reproducible in the DuckDB oracle. a_i·hb
    * stays < 2^37 so BIGINT math never overflows on either engine. */
  val MinhashP = 1073741789L // largest prime < 2^30

  def minhashA(i: Int): Long = 2L * i + 3
  def minhashB(i: Int): Long = 97L * i + 11

  /** Per-shingle base hash (compute once, before the min-aggs). */
  def minhashBase(shingle: Column): Column =
    Hashing.md5Long(shingle) % MinhashP

  /** MinHash aggregate for family member `i` over the base-hash column. */
  def minhashAgg(base: Column, i: Int): Column =
    min((base * minhashA(i) + minhashB(i)) % MinhashP)

  /** NOTE on a rejected design: computing the whole signature with
    * higher-order array functions (transform + aggregate) avoids the
    * per-shingle shuffle entirely, but Spark evaluates HOF lambdas
    * interpreted — outside whole-stage codegen — and measured 2x slower
    * end-to-end than the explode + min-agg plan, whose min-aggregates
    * are map-side combined (the shuffle moves one pre-aggregated row
    * per doc per partition). Keep the codegen path. */

  /** DuckDB twin of minhashBase/minhashAgg (hb = base-hash SQL expr). */
  def sqlMinhashAgg(hb: String, i: Int): String =
    s"MIN((${minhashA(i)} * $hb + ${minhashB(i)}) % $MinhashP)"

  /** Fixed-point quantization of a float/double to long at 10^6. */
  def fxq(c: Column): Column = round(c * 1e6, 0).cast("long")

  /** Vector math as codegen'd StaticInvokes into [[VecOps]] — the
    * aggregate/zip_with/transform HOF forms these replace are
    * interpreted (same pathology as shingleCall, linear not quadratic,
    * but still off-codegen allocation churn per pair in the knn scans). */
  private def vecCall(fn: String, ret: org.apache.spark.sql.types.DataType,
      elem: org.apache.spark.sql.types.DataType, args: Column*): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.VecOps"), ret, fn,
      args.map(ColumnBridge.expression),
      args.map(_ => ArrayType(elem)), returnNullable = false))

  import org.apache.spark.sql.types.{FloatType, LongType}

  /** Exact integer dot product of two float-array columns (quantized). */
  def dotFx(a: Column, b: Column): Column =
    vecCall("dotFx", LongType, FloatType, a, b)

  /** Exact integer squared norm of a float-array column (quantized). */
  def normSqFx(a: Column): Column =
    vecCall("normSqFx", LongType, FloatType, a)

  /** Pre-quantized long array — compute once per vector, not per pair. */
  def quantized(a: Column): Column =
    vecCall("quantize", ArrayType(LongType, containsNull = false),
      FloatType, a)

  /** Dot product of two pre-quantized long arrays. */
  def dotQ(a: Column, b: Column): Column =
    vecCall("dotQ", LongType, LongType, a, b)

  /** Squared norm of a pre-quantized long array. */
  def normSqQ(a: Column): Column =
    vecCall("normSqQ", LongType, LongType, a)

  /** Cosine similarity from the exact integer pieces — one double
    * expression, identical on both engines. */
  def cosineFx(dot: Column, normSqA: Column, normSqB: Column): Column =
    dot.cast("double") /
      (sqrt(normSqA.cast("double")) * sqrt(normSqB.cast("double")))
}
